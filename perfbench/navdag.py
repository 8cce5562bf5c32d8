"""The ETF NAV DAG both NAV workloads run, and its batch reference.

The DAG is the one in ``examples/etf_pipeline.py`` (keyed-latest price
and composition state, weighted NAV per ETF, NULL while a component is
unpriced), fed by a single ``ticks`` source so the same DAG runs under
``ReplayDriver`` and ``StreamingDagDriver``. The NAV rows also carry
``hwm``, the highest tick ``seq`` the row reflects, which is how a
reader of the served table sees which ticks are visible.
"""

from __future__ import annotations

import math

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from beavers_spark.dag import Dag
from beavers_spark.operators import last_by_keys

from gen import TICK_SCHEMA_DDL

NAV_SCHEMA = "etf string, nav double, hwm long"


class Upsert:
    """Keyed-latest state: the newest row per key by ``seq``."""

    def __init__(self, keys: list[str], tracer) -> None:
        self.keys = keys
        self.table = None
        self._tracer = tracer

    def __call__(self, batch):
        with self._tracer.span("dag.node_fn"):
            with self._tracer.span("operators.plan"):
                merged = batch if self.table is None else self.table.unionByName(batch)
                latest = last_by_keys(merged, self.keys, ["seq"])
            self.table = latest.localCheckpoint()
            return self.table


def build_nav_dag(spark, tracer) -> Dag:
    """ticks -> (prices, compositions) -> keyed state -> NAV sink."""

    def node(fn):
        def run(*args):
            with tracer.span("dag.node_fn"):
                with tracer.span("operators.plan"):
                    return fn(*args)

        return run

    def prices(ticks):
        return ticks.filter(F.col("kind") == "p").select("seq", "ticker", "price")

    def comps(ticks):
        return ticks.filter(F.col("kind") == "c").select("seq", "etf", "ticker", "weight")

    def nav(price_state, comp_state):
        px = price_state.select("ticker", "price", F.col("seq").alias("pseq"))
        joined = comp_state.join(px, "ticker", "left")
        return joined.groupBy("etf").agg(
            F.when(F.count("price") < F.count("weight"), F.lit(None).cast("double"))
            .otherwise(F.sum(F.col("price") * F.col("weight")) / F.sum("weight"))
            .alias("nav"),
            F.max(F.greatest("seq", F.coalesce("pseq", F.lit(0)))).alias("hwm"),
        )

    dag = Dag(spark)
    ticks = dag.source_table(TICK_SCHEMA_DDL, "ticks")
    price_rows = dag.table_stream(node(prices), "seq long, ticker string, price double").map(ticks)
    comp_rows = dag.table_stream(
        node(comps), "seq long, etf string, ticker string, weight double"
    ).map(ticks)
    price_state = dag.state(Upsert(["ticker"], tracer)).map(price_rows)
    comp_state = dag.state(Upsert(["etf", "ticker"], tracer)).map(comp_rows)
    navs = dag.stream(node(nav), empty_factory=None).map(price_state, comp_state)
    dag.sink("navs", navs)
    return dag


def reference_navs(tick_path: str, max_seq: int) -> dict[str, tuple]:
    """Batch NAVs over every tick with ``seq <= max_seq``: etf -> (nav, hwm)."""
    rows = pq.read_table(tick_path).to_pylist()
    price: dict[str, tuple[int, float]] = {}
    weight: dict[tuple[str, str], tuple[int, float]] = {}
    for r in rows:
        if r["seq"] > max_seq:
            break
        if r["kind"] == "p":
            price[r["ticker"]] = (r["seq"], r["price"])
        else:
            weight[(r["etf"], r["ticker"])] = (r["seq"], r["weight"])
    out: dict[str, tuple] = {}
    by_etf: dict[str, list] = {}
    for (etf, ticker), (seq, w) in weight.items():
        by_etf.setdefault(etf, []).append((ticker, seq, w))
    for etf, comps in by_etf.items():
        hwm = max(max(seq, price.get(t, (0, 0.0))[0]) for t, seq, _ in comps)
        if any(t not in price for t, _, _ in comps):
            out[etf] = (None, hwm)
            continue
        num = sum(price[t][1] * w for t, _, w in comps)
        out[etf] = (num / sum(w for _, _, w in comps), hwm)
    return out


def same_navs(got: dict[str, tuple], want: dict[str, tuple]) -> bool:
    """Equal ETF sets, equal ``hwm`` and NAVs equal to 1e-9 relative."""
    if got.keys() != want.keys():
        return False
    for etf, (nav, hwm) in want.items():
        g_nav, g_hwm = got[etf]
        if g_hwm != hwm or (nav is None) != (g_nav is None):
            return False
        if nav is not None and not math.isclose(g_nav, nav, rel_tol=1e-9):
            return False
    return True


def navs_of(rows) -> dict[str, tuple]:
    return {r["etf"]: (r["nav"], r["hwm"]) for r in rows}
