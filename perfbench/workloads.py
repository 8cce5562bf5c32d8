"""The benchmark workloads.

Each takes a :class:`run.Ctx` and returns the result object the run
prints: ``correct``, ``attempted``, ``failed`` and ``metrics``, where
the metrics are the end-to-end set without tracing and the per-layer set
with it (names and units from BENCHMARK.json).

The end-to-end cost of the timed phase is process CPU (the Python
driver and the Spark JVM) per input item, not wall time: on a shared
host, CPU steal stretches wall time by up to half for minutes at a
time, while the CPU a process is charged leaves stolen time out. Wall
rate and latency are still reported, as ``trace.*`` metrics of the
traced run and on stderr.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
import urllib.request

import pandas as pd

import gen
import navdag
import spans

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
T0 = pd.Timestamp(gen.T0_US, unit="us", tz="UTC")


# -- shared helpers ---------------------------------------------------------


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def log_ops(kind: str, seconds: list[float]) -> None:
    """Print each timed operation's seconds to stderr, for diagnosis."""
    print(f"perfbench: {kind} (s):", [round(t, 3) for t in seconds], file=sys.stderr)


def result(
    ctx, correct: bool, attempted: int, failed: int,
    setup_s: float, items: int, wall: dict, layer: dict,
) -> dict:
    """The printed result: every end-to-end metric untraced, every
    per-layer metric traced (0 for a layer the workload leaves idle).
    ``items`` are the input items of the timed phase; ``wall`` holds
    its wall-clock ``items_per_s`` and ``latency_p50_ms``."""
    with open(_BENCH) as fh:
        spec = json.load(fh)["per_layer" if ctx.trace else "end_to_end"]
    cpu_s = layer["proc.python_cpu_s"] + layer["proc.jvm_cpu_s"]
    print(
        f"perfbench: wall: {wall['items_per_s']:.1f} items/s, "
        f"p50 latency {wall['latency_p50_ms']:.0f} ms",
        file=sys.stderr,
    )
    e2e = {"setup_s": setup_s, "cpu_ms_per_item": cpu_s * 1000.0 / max(items, 1)}
    layer.update({f"trace.{k}": v for k, v in wall.items()})
    layer["trace.cpu_ms_per_item"] = e2e["cpu_ms_per_item"]
    values = layer if ctx.trace else e2e
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in spec
        },
    }


class Measure:
    """Process CPU, wall clock and (traced) Spark ledger of the
    measured phase."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.proc = spans.ProcStats(ctx.spark.sparkContext)
        self.mark = ctx.tracer.mark()
        self.cpu0 = self.proc.cpu()
        self.gc_jit0 = self.proc.jvm_gc_jit_s()
        self.ms0 = time.time() * 1000.0
        self.t0 = time.perf_counter()

    def stop(self, ops: int) -> dict:
        """Per-layer counters common to every workload."""
        wall = time.perf_counter() - self.t0
        ms1 = time.time() * 1000.0
        py, jvm = self.proc.cpu()
        gc, jit = self.proc.jvm_gc_jit_s()
        out = {
            "proc.python_cpu_s": py - self.cpu0[0],
            "proc.jvm_cpu_s": jvm - self.cpu0[1],
            "proc.jvm_gc_s": gc - self.gc_jit0[0],
            "proc.jvm_jit_s": jit - self.gc_jit0[1],
            "proc.peak_rss_mb": self.proc.peak_rss_mb(),
        }
        print(
            "perfbench: cpu (s): "
            + ", ".join(f"{k[5:]} {v:.2f}" for k, v in out.items() if k.endswith("_s"))
            + f", wall {wall:.2f}, ops {ops}",
            file=sys.stderr,
        )
        if not self.ctx.trace:
            return out
        jobs, stages = spans.read_ledger(self.ctx.spark.sparkContext)
        jobs = [
            j for j in jobs
            if j.get("jobGroup") != "setup"
            and j.get("submissionTime") is not None
            and self.ms0 <= j["submissionTime"] <= ms1
        ]
        tot = spans.ledger_totals(jobs, stages)
        out.update({f"spark.{k}": v for k, v in tot.items()})
        out["spark.jobs_per_op"] = tot["jobs"] / max(ops, 1)
        out["spark.busy_fraction"] = tot["executor_run_s"] / (wall * self.ctx.cores)
        for layer in ("dag", "node_fn", "replay", "live", "serving", "kernel", "other"):
            out[f"spark.jobs.{layer}"] = 0
        for j in jobs:
            out[f"spark.jobs.{_job_layer(j.get('jobGroup'))}"] += 1
        totals = self.ctx.tracer.totals(self.mark)
        out["trace.spans"] = sum(t["count"] for t in totals.values())
        out["trace.overhead_s"] = self.ctx.tracer.overhead_s(self.mark)
        out["trace.ops"] = ops
        self.totals = totals
        return out


def _job_layer(group: str | None) -> str:
    if group in ("dag.node_fn", "operators.plan"):
        return "node_fn"
    if group == "dag.execute":
        return "dag"
    if group and group.startswith("replay."):
        return "replay"
    if group == "serving.update":
        return "serving"
    if group == "live.foreach_batch":
        return "live"
    if group == "kernel.call":
        return "kernel"
    return "other"


def _span_s(totals: dict, name: str, key: str = "total_s") -> float:
    return totals.get(name, {}).get(key, 0.0)


def _dag_layer(totals: dict) -> dict:
    return {
        "dag.execute_s": _span_s(totals, "dag.execute"),
        "dag.node_fn_s": _span_s(totals, "dag.node_fn"),
        "dag.self_s": _span_s(totals, "dag.execute", "self_s"),
        "operators.plan_s": _span_s(totals, "operators.plan"),
    }


def _traced_dag(dag, tracer):
    if tracer.on:
        dag.execute = tracer.wrap("dag.execute", dag.execute)
    return dag


# -- replay_nav -------------------------------------------------------------

#: active seconds (= replay cycles) of generated ticks; more than a run uses
REPLAY_SECONDS = 1500
#: cycles the traced run executes, so its counters repeat exactly
TRACE_CYCLES = 10
#: cycles each set-up runs: the initial snapshot
PRIME_CYCLES = 1
#: untimed cycles after set-up, so JIT compilation has mostly settled
WARM_CYCLES = 3


class _TracedSource:
    """A DataSource whose calls are spans."""

    def __init__(self, source, tracer) -> None:
        self._source = source
        self._tracer = tracer

    def get_next(self):
        with self._tracer.span("replay.get_next"):
            return self._source.get_next()

    def read_to(self, timestamp):
        with self._tracer.span("replay.read_to"):
            return self._source.read_to(timestamp)


class _NavSink:
    """DataSink that publishes each cycle's NAVs driver-side as Arrow."""

    def __init__(self, tracer) -> None:
        self.last = None
        self._tracer = tracer

    def append(self, timestamp, data) -> None:
        with self._tracer.span("replay.sink_append"):
            self.last = data.toArrow()

    def close(self) -> None:
        pass


def _replay_driver(spark, tracer, tick_path: str, sink, frequency="1s"):
    from beavers_spark.streaming.replay import (
        ReplayContext,
        ReplayDriver,
        SparkSliceSource,
    )

    dag = _traced_dag(navdag.build_nav_dag(spark, tracer), tracer)
    source = SparkSliceSource(spark, tick_path, "ts")
    if tracer.on:
        source = _TracedSource(source, tracer)
    context = ReplayContext(
        start=T0 + pd.Timedelta("1s"),
        end=T0 + pd.Timedelta(days=30),
        frequency=pd.Timedelta(frequency),
    )
    return ReplayDriver(dag, context, {"ticks": source}, {"navs": sink})


def replay_nav(ctx) -> dict:
    ticks = ctx.path("ticks.parquet")
    ends = gen.write_ticks(ticks, ctx.seed, REPLAY_SECONDS)
    if ctx.trace:
        live_inputs = _live_inputs(ctx)

    def build(i):
        sink = _NavSink(ctx.tracer)
        driver = _replay_driver(ctx.spark, ctx.tracer, ticks, sink)
        while driver.dag.get_cycle_id() < PRIME_CYCLES:
            driver.run_cycle()
        return driver, sink

    setup_s, (driver, sink) = ctx.setups(build)
    while driver.dag.get_cycle_id() < PRIME_CYCLES + WARM_CYCLES:
        driver.run_cycle()
    driver.dag.flush_metrics()
    first = driver.dag.get_cycle_id()
    tracer = ctx.tracer
    m = Measure(ctx)
    lat: list[float] = []
    skipped = failed = 0
    deadline = m.t0 + ctx.seconds
    while not driver.is_done():
        if (len(lat) >= TRACE_CYCLES) if ctx.trace else (time.perf_counter() >= deadline):
            break
        before = driver.dag.get_cycle_id()
        t0 = time.perf_counter()
        try:
            with tracer.span("replay.cycle", op=before + 1):
                driver.run_cycle()
        except Exception:  # noqa: BLE001 - a failed cycle ends the run
            traceback.print_exc()
            failed += 1
            break
        dt = time.perf_counter() - t0
        if driver.dag.get_cycle_id() > before:
            lat.append(dt)
        else:
            skipped += 1
    elapsed = time.perf_counter() - m.t0
    log_ops("cycles", lat)
    cycles = len(lat)
    layer = m.stop(cycles)
    replayed = ends[first + cycles - 1]
    events = replayed - ends[first - 1]
    correct = (
        not failed
        and cycles > 0
        and navdag.same_navs(
            navdag.navs_of(sink.last.to_pylist()),
            navdag.reference_navs(ticks, replayed),
        )
    )
    wall = {"items_per_s": events / elapsed, "latency_p50_ms": pct(lat, 50) * 1000}
    attempted = cycles + failed
    if ctx.trace:
        totals = m.totals
        dm = driver.dag.flush_metrics()
        layer.update(_dag_layer(totals))
        layer.update(
            {
                "dag.cycles": dm.cycles,
                "dag.updated_nodes": dm.updated_nodes,
                "dag.notifications": dm.notifications,
                "replay.get_next_s": _span_s(totals, "replay.get_next"),
                "replay.read_to_s": _span_s(totals, "replay.read_to"),
                "replay.sink_append_s": _span_s(totals, "replay.sink_append"),
                "replay.self_s": _span_s(totals, "replay.cycle", "self_s"),
                "replay.cycles_executed": cycles,
                "replay.cycles_skipped": skipped,
            }
        )
        live_ok, landed, late = _live_phase(ctx, *live_inputs, layer)
        correct = correct and live_ok
        attempted, failed = attempted + landed, failed + late
    return result(ctx, correct, attempted, failed, setup_s, events, wall, layer)


# -- wave_dedup -------------------------------------------------------------

#: fewest waves per run, and the live-wave count at which the kernel
#: compacts: compaction fires once, in the third wave. The 3 waves take
#: longer than a 10 s run; a longer ``--seconds`` adds waves until it has
#: passed (the traced run never does)
DEDUP_WAVES = 3
COMPACT_EVERY = 3
#: seconds a wave takes at least, to size the generated corpus
MIN_WAVE_S = 3.5
#: small untimed waves: each set-up runs the first on a fresh kernel; the
#: last set-up's kernel then takes the rest, so the probe of stored state
#: and a compaction have run once before timing starts
WARM_WAVES = COMPACT_EVERY
WARM_WAVE_SIZE = 50


def _tree_stats(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for root in paths:
        for dirpath, _, names in os.walk(root):
            for name in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _pair_set(df) -> set:
    return {
        (r.doc1, r.doc2, r.est_jaccard, r.jaccard)
        for r in df.select("doc1", "doc2", "est_jaccard", "jaccard").collect()
    }


def wave_dedup(ctx) -> dict:
    from beavers_spark.functions.dedup import minhash_lsh_pairs
    from beavers_spark.streaming import IncrementalNearDedup

    n_waves = max(DEDUP_WAVES, math.ceil(ctx.seconds / MIN_WAVE_S))
    waves = gen.write_doc_waves(ctx.path("docs"), ctx.seed, n_waves)
    warm = gen.write_doc_waves(
        ctx.path("warm"), ctx.seed, WARM_WAVES, size=WARM_WAVE_SIZE, stream=3
    )

    def kernel(name: str):
        return IncrementalNearDedup(
            ctx.path(name, "state"), ctx.path(name, "pairs"), "text", "doc_id",
            compact_every_waves=COMPACT_EVERY,
        )

    def build(i):
        k = kernel(f"setup{i}")
        k(ctx.spark.read.parquet(warm[0]), 0)
        return k

    setup_s, k = ctx.setups(build)
    for w, path in enumerate(warm[1:], start=1):
        k(ctx.spark.read.parquet(path), w)
    dedup = kernel("run")
    spark, tracer = ctx.spark, ctx.tracer
    m = Measure(ctx)
    lat: list[float] = []
    compact_wave_s = 0.0
    failed = 0
    deadline = m.t0 + ctx.seconds
    for w, path in enumerate(waves):
        if w >= DEDUP_WAVES and (ctx.trace or time.perf_counter() >= deadline):
            break
        batch = spark.read.parquet(path)
        before = dedup.auto_compactions
        t0 = time.perf_counter()
        try:
            with tracer.span("kernel.call", op=w):
                dedup(batch, w)
        except Exception:  # noqa: BLE001 - a failed wave ends the run
            traceback.print_exc()
            failed += 1
            break
        lat.append(time.perf_counter() - t0)
        if dedup.auto_compactions > before:
            compact_wave_s = lat[-1]
    elapsed = time.perf_counter() - m.t0
    log_ops("waves", lat)
    layer = m.stop(len(lat))
    docs = len(lat) * gen.DOCS["wave_size"]
    correct = False
    if not failed:
        got = _pair_set(dedup.read_pairs(spark))
        want = _pair_set(
            minhash_lsh_pairs(
                spark.read.parquet(*waves[: len(lat)]), "text", "doc_id",
                n=dedup.n, threshold=dedup.threshold,
            )
        )
        correct = bool(want) and got == want
    wall = {"items_per_s": docs / elapsed, "latency_p50_ms": pct(lat, 50) * 1000}
    if ctx.trace:
        files, size = _tree_stats([dedup.state_path, dedup.pairs_path, dedup.anchors_path])
        live_waves = sum(1 for n in os.listdir(dedup.state_path) if n.startswith("w="))
        layer["kernel.call_s"] = _span_s(m.totals, "kernel.call")
        for name, seconds in dedup.phase_seconds.items():
            layer[f"kernel.phase.{name}_s"] = seconds
        layer.update(
            {
                "state.files": files,
                "state.bytes": size,
                "state.live_waves": live_waves,
                "state.auto_compactions": dedup.auto_compactions,
                "state.compact_wave_s": compact_wave_s,
            }
        )
    return result(ctx, correct, len(lat) + failed, failed, setup_s, docs, wall, layer)


# -- live phase of the traced replay_nav run -------------------------------

#: landing rate of tick files, files per second: about half the
#: one-file-per-trigger rate the live DAG sustains on a 4-core host, so
#: each file gets a trigger of its own
LIVE_RATE = 0.4
#: active seconds of ticks per landed file, and files landed after the
#: warm-up ones
SECONDS_PER_FILE = 5
LIVE_FILES = 4
POLL_S = 0.02
#: files landed before the timed phase, so JIT compilation has mostly settled
WARM_FILES = 1
#: a file landed later than this after its due time is a failed landing,
#: and a run with one is invalid: the host, not the engine, fell behind
MAX_LATE_S = 0.5 / LIVE_RATE
DRAIN_S = 60.0
#: how long to wait for the last progress events after the drain
PROGRESS_WAIT_S = 10.0


def _get_rows(url: str) -> list[dict]:
    with urllib.request.urlopen(url, timeout=5) as resp:
        return json.loads(resp.read())["rows"]


class _Poller(threading.Thread):
    """Reads the served NAV table over HTTP every ``POLL_S`` and notes
    when each file's last tick first becomes visible (``hwm``)."""

    def __init__(self, url: str, last_seq: list[int]) -> None:
        super().__init__(daemon=True)
        self.url = url
        self.last_seq = last_seq
        self.visible_at: list[float] = []
        self.get_s: list[float] = []
        self.failed = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            t0 = time.perf_counter()
            try:
                rows = _get_rows(self.url)
            except (OSError, ValueError, KeyError):
                self.failed += 1
            else:
                now = time.perf_counter()
                self.get_s.append(now - t0)
                hwm = max((r["hwm"] for r in rows if r["hwm"] is not None), default=0)
                while (
                    len(self.visible_at) < len(self.last_seq)
                    and hwm >= self.last_seq[len(self.visible_at)]
                ):
                    self.visible_at.append(now)
            self.stop_event.wait(POLL_S)


class _Rig:
    """One live set-up: watched directory, DAG, server and query."""

    def __init__(self, ctx, name: str, first_file: str, first_seq: int) -> None:
        from beavers_spark.operators.view import TableView
        from beavers_spark.serving import ViewServer
        from beavers_spark.streaming import ProgressCollector, StreamingDagDriver

        spark, tracer = ctx.spark, ctx.tracer
        self.watch = ctx.path(name, "in")
        self.staging = ctx.path(name, "staging")
        os.makedirs(self.watch)
        os.makedirs(self.staging)
        self.dag = _traced_dag(navdag.build_nav_dag(spark, tracer), tracer)
        self.server = ViewServer().start()
        self.server.register(
            "navs", TableView(index_columns=["etf"], order_by=["hwm"], sort=[("etf", "asc")])
        )
        self.driver = StreamingDagDriver(
            self.dag, "ticks",
            sink_handler=tracer.wrap("serving.update", self.server.handle_sink),
            event_time_column="ts",
        )
        self.collector = ProgressCollector()
        spark.streams.addListener(self.collector)
        self.batch_s: list[float] = []
        self.batch_ids: list[int] = []

        def foreach_batch(df, batch_id):
            t0 = time.perf_counter()
            with tracer.span("live.foreach_batch", op=batch_id):
                self.driver(df, batch_id)
            self.batch_s.append(time.perf_counter() - t0)
            self.batch_ids.append(batch_id)

        self.query = (
            spark.readStream.schema(gen.TICK_SCHEMA_DDL)
            .parquet(self.watch)
            .writeStream.foreachBatch(foreach_batch)
            .option("checkpointLocation", ctx.path(name, "ckpt"))
            .start()
        )
        self.url = f"{self.server.url}/table/navs"
        # warm-up: the initial file must be visible before input starts
        self.land(first_file)
        deadline = time.perf_counter() + DRAIN_S
        while time.perf_counter() < deadline:
            try:
                rows = _get_rows(self.url)
            except (OSError, ValueError, KeyError):
                rows = []
            if any(r["hwm"] is not None and r["hwm"] >= first_seq for r in rows):
                break
            time.sleep(POLL_S)
        else:
            raise RuntimeError("live warm-up file never became visible")

    def land(self, path: str) -> None:
        """Copy ``path`` to staging, then rename it into the watched
        directory (an atomic appearance)."""
        name = os.path.basename(path)
        tmp = os.path.join(self.staging, name)
        shutil.copyfile(path, tmp)
        os.replace(tmp, os.path.join(self.watch, name))

    def timed_progress(self, first: int) -> list[dict]:
        """Progress of the batches from the ``first``-th on, waiting a
        little for listener events still in flight."""
        ids = set(self.batch_ids[first:])
        deadline = time.perf_counter() + PROGRESS_WAIT_S
        while True:
            got = [p for p in self.collector.progress if p["batch_id"] in ids]
            if len(got) >= len(ids) or time.perf_counter() >= deadline:
                return got
            time.sleep(POLL_S)

    def close(self, spark) -> None:
        self.query.stop()
        spark.streams.removeListener(self.collector)
        self.server.stop()


def _live_inputs(ctx) -> tuple[str, list[int], list[str]]:
    """The live phase's ticks (the start of the replayed stream), their
    file bounds, and the files: file 0 is the initial snapshot (second
    0), then ``SECONDS_PER_FILE`` active seconds per file; ``bounds[k]``
    is the last seq of file ``k``."""
    ticks = ctx.path("live-ticks.parquet")
    ends = gen.write_ticks(ticks, ctx.seed, (WARM_FILES + LIVE_FILES) * SECONDS_PER_FILE + 1)
    bounds = ends[::SECONDS_PER_FILE]
    return ticks, bounds, gen.split_ticks(ticks, ctx.path("files"), bounds)


def _live_phase(ctx, ticks: str, bounds: list[int], files: list[str], layer: dict):
    """The NAV DAG live under StreamingDagDriver, NAVs served by
    ViewServer and polled over HTTP; adds the live, serving and
    open-loop health metrics to ``layer`` and returns (served table
    equals a replay of the same ticks, files landed, files landed late)."""
    rig = _Rig(ctx, "live", files[0], bounds[0])
    # pre-stage the landed files so landing is a bare rename
    staged = []
    for path in files[1:]:
        tmp = os.path.join(rig.staging, os.path.basename(path))
        shutil.copyfile(path, tmp)
        staged.append(tmp)
    poller = _Poller(rig.url, bounds[1:])
    poller.start()
    t_start = time.perf_counter()
    due: list[float] = []
    late: list[float] = []
    for k, tmp in enumerate(staged):
        if k == WARM_FILES:
            # time from when the warm-up files are visible
            while len(poller.visible_at) < WARM_FILES and time.perf_counter() < t_start + DRAIN_S:
                time.sleep(POLL_S)
            warm_batches = len(rig.batch_s)
            m = Measure(ctx)
        t_due = t_start + (k + 1) / LIVE_RATE
        pause = t_due - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
        os.replace(tmp, os.path.join(rig.watch, os.path.basename(tmp)))
        late.append(time.perf_counter() - t_due)
        due.append(t_due)
    backlog_end = len(staged) - len(poller.visible_at)
    deadline = time.perf_counter() + DRAIN_S
    while len(poller.visible_at) < len(staged) and time.perf_counter() < deadline:
        time.sleep(POLL_S)
    poller.stop_event.set()
    poller.join(timeout=10)
    batches = rig.batch_s[warm_batches:]
    live = m.stop(len(batches))
    served = navdag.navs_of(_get_rows(rig.url))
    progress = rig.timed_progress(warm_batches)
    rig.close(ctx.spark)

    fresh = [v - d for v, d in zip(poller.visible_at, due)][WARM_FILES:]
    log_ops("freshness", fresh)
    # live/replay parity: the same DAG replayed over the same ticks
    sink = _NavSink(ctx.quiet)
    replay = _replay_driver(ctx.spark, ctx.quiet, ticks, sink, frequency="1D")
    replay.run()
    replayed = navdag.navs_of(sink.last.to_pylist())
    late_max = max(late[WARM_FILES:], default=0.0)
    late_files = sum(1 for t in late[WARM_FILES:] if t > MAX_LATE_S)
    if late_files:
        print(f"perfbench: invalid live phase, {late_files} files landed late "
              f"(worst {late_max * 1000:.0f} ms)", file=sys.stderr)
    # output gates only; a late generator shows as failed landings
    correct = (
        len(fresh) == LIVE_FILES
        and navdag.same_navs(served, replayed)
        and navdag.same_navs(served, navdag.reference_navs(ticks, bounds[-1]))
    )
    trigger_s = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress) / 1000

    def dur(key: str) -> float:
        return pct([p["duration_ms"].get(key, 0) for p in progress], 50)

    totals = m.totals
    layer.update(
        {
            "spark.jobs.live": live["spark.jobs.live"],
            "spark.jobs.serving": live["spark.jobs.serving"],
            "live.foreach_batch_s": _span_s(totals, "live.foreach_batch"),
            "live.batches": len(batches),
            "live.files_per_batch": LIVE_FILES / max(len(batches), 1),
            "live.backlog_files_end": backlog_end,
            "live.trigger_p50_ms": pct(batches, 50) * 1000,
            # ticks per second of trigger time: the rate the engine could
            # sustain, which the fixed landing rate does not cap
            "live.ticks_per_trigger_s": sum(p["num_input_rows"] for p in progress)
            / max(trigger_s, 1e-9),
            "live.freshness_p50_ms": pct(fresh, 50) * 1000,
            "live.get_batch_ms": dur("getBatch"),
            "live.query_planning_ms": dur("queryPlanning"),
            "live.add_batch_ms": dur("addBatch"),
            "live.wal_commit_ms": dur("walCommit"),
            "live.commit_offsets_ms": dur("commitOffsets"),
            "serving.update_s": _span_s(totals, "serving.update"),
            "serving.updates": _span_s(totals, "serving.update", "count"),
            "serving.gets": len(poller.get_s),
            "serving.get_ms_p50": pct(poller.get_s, 50) * 1000,
            "serving.get_failed": poller.failed,
            "gen.late_ms_max": late_max * 1000,
            "gen.files_landed": LIVE_FILES,
            "gen.rows_landed": bounds[-1] - bounds[WARM_FILES],
        }
    )
    return correct, LIVE_FILES, late_files


WORKLOADS = {"replay_nav": replay_nav, "wave_dedup": wave_dedup}
#: extra JVM options per workload. The NAV DAG's cycles are almost all
#: driver-side planning of new queries over Spark's large code base, which
#: C2 is still compiling minutes into a run: that background compilation
#: cost CPU per tick that grew with how slowly the host ran. C1 alone
#: settles within the warm-up and left wall time per cycle unchanged.
#: wave_dedup's executor work needs C2 (C1 alone ran its waves ~50% slower).
JVM_OPTIONS = {"replay_nav": "-XX:TieredStopAtLevel=1"}
