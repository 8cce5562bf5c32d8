"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``seed`` and is written to parquet
before any timing starts; the library only ever sees these files.

``python3 perfbench/gen.py --self-test`` checks that one seed gives
byte-identical files twice and that another seed gives different ones.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("kind", pa.string()),
        ("etf", pa.string()),
        ("ticker", pa.string()),
        ("price", pa.float64()),
        ("weight", pa.float64()),
    ]
)
TICK_SCHEMA_DDL = (
    "seq long, ts timestamp, kind string, etf string, ticker string, "
    "price double, weight double"
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

#: traffic properties of the tick stream (replay_nav and its live phase); these
#: are chosen values, not measured traffic (perfbench/README.md gives the
#: reason for each)
TICKS = {
    "etfs": 8,
    "tickers": 150,
    "extra_components_per_etf": 10,
    "zipf_s": 1.2,  # ticker popularity ~ 1 / rank**s
    "ticks_per_cycle": 25,  # price ticks per active second
    "comp_update_p": 0.05,  # composition updates per active second
    # new listings: components held from second 0 but unpriced until a
    # first price this many active seconds later (NAV NULL meanwhile)
    "listings": 2,
    "listing_delay_s": (3, 30),
    # clock steps between active seconds: 1 s, a short skip, or a warp
    "step_p": (0.85, 0.12, 0.03),
    "short_skip_s": (2, 5),
    "warp_s": (10, 600),
}
#: traffic properties of the document corpus (wave_dedup); chosen
#: values, as for TICKS
DOCS = {
    "wave_size": 1000,
    "vocab": 5000,
    "zipf_s": 1.0,
    "tokens": (30, 80),
    "dup_rate": 0.10,  # share of documents that copy an earlier one
    "cross_wave_share": 0.6,  # share of copies taken from earlier waves
    "mutate_p": 0.08,  # per-token replacement rate of a copy
}
T0_US = 1_704_188_400_000_000  # 2024-01-02T09:40:00Z


def _zipf_sampler(n: int, s: float, rng: np.random.Generator):
    """Draws of ``k`` indices with P(i) ~ 1 / rank(i)**s, ranks shuffled."""
    p = 1.0 / np.arange(1, n + 1) ** s
    cdf = np.cumsum(p[rng.permutation(n)])
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), n - 1)

    return draw


def write_ticks(path: str, seed: int, active_seconds: int) -> list[int]:
    """Write ``active_seconds`` cycles of ETF ticks to one parquet file.

    Second 0 holds every composition row and a price for every ticker
    except a few new listings, which get their first price a few active
    seconds later; each later active second holds a fixed number of
    price ticks over Zipf-skewed tickers and, rarely, a composition
    update. Tick times of second
    ``s`` lie in ``(s, s + 1]`` so one active second is one replay cycle
    at a 1 s frequency; steps between active seconds warp the clock.
    Returns the last ``seq`` of each active second, in order."""
    c = TICKS
    rng = np.random.default_rng([seed, 1])
    tickers = [f"T{i:03d}" for i in range(c["tickers"])]
    etfs = [f"E{i}" for i in range(c["etfs"])]
    members = {e: set() for e in etfs}
    for i, t in enumerate(tickers):
        members[etfs[i % len(etfs)]].add(t)
    for e in etfs:
        for i in rng.choice(len(tickers), c["extra_components_per_etf"], replace=False):
            members[e].add(tickers[i])
    pop = _zipf_sampler(len(tickers), c["zipf_s"], rng)
    price = np.round(rng.uniform(10.0, 500.0, len(tickers)), 4)
    lo_delay, hi_delay = c["listing_delay_s"]
    #: active second -> new listings that get their first price then
    listed_at: dict[int, list[str]] = {}
    for i in range(c["listings"]):
        members[etfs[int(rng.integers(len(etfs)))]].add(f"L{i}")
        listed_at.setdefault(int(rng.integers(lo_delay, hi_delay + 1)), []).append(f"L{i}")

    cols: dict[str, list] = {k: [] for k in TICK_SCHEMA.names}

    def emit(ts, kind, etf, ticker, px, w):
        cols["ts"].append(ts)
        cols["kind"].append(kind)
        cols["etf"].append(etf)
        cols["ticker"].append(ticker)
        cols["price"].append(px)
        cols["weight"].append(w)

    def offsets(n: int) -> np.ndarray:
        return np.sort(rng.integers(1, 1_000_001, n))

    second = 0
    ends = []
    comp = [(e, t) for e in etfs for t in sorted(members[e])]
    off = offsets(len(comp) + len(tickers))
    k = 0
    for e, t in comp:
        emit(T0_US + int(off[k]), "c", e, t, None, round(float(rng.uniform(0.5, 3.0)), 4))
        k += 1
    for i, t in enumerate(tickers):
        emit(T0_US + int(off[k]), "p", None, t, float(price[i]), None)
        k += 1
    ends.append(k)
    lo_skip, hi_skip = c["short_skip_s"]
    lo_warp, hi_warp = c["warp_s"]
    for active in range(1, active_seconds):
        step = rng.choice(3, p=c["step_p"])
        second += (
            1 if step == 0
            else int(rng.integers(lo_skip, hi_skip + 1)) if step == 1
            else int(rng.integers(lo_warp, hi_warp + 1))
        )
        base = T0_US + second * 1_000_000
        n = c["ticks_per_cycle"]
        upd = rng.random() < c["comp_update_p"]
        listed = listed_at.get(active, [])
        off = offsets(n + upd + len(listed))
        picks = pop(n)
        moves = np.exp(rng.normal(0.0, 0.002, n))
        for j in range(n):
            i = picks[j]
            price[i] = round(float(price[i] * moves[j]), 4)
            emit(base + int(off[j]), "p", None, tickers[i], float(price[i]), None)
        if upd:
            e = etfs[int(rng.integers(len(etfs)))]
            t = tickers[int(rng.integers(len(tickers)))]
            emit(base + int(off[n]), "c", e, t, None, round(float(rng.uniform(0.1, 3.0)), 4))
        for j, t in enumerate(listed):
            px = round(float(rng.uniform(10.0, 500.0)), 4)
            emit(base + int(off[n + upd + j]), "p", None, t, px, None)
        k += n + upd + len(listed)
        ends.append(k)
    cols["seq"] = list(range(1, k + 1))
    pq.write_table(
        pa.table(cols, schema=TICK_SCHEMA), path, row_group_size=4096
    )
    return ends


def split_ticks(path: str, out_dir: str, bounds: list[int]) -> list[str]:
    """Cut a tick file into the live workload's landing units: file ``i``
    holds the ticks after ``bounds[i - 1]`` up to ``bounds[i]``."""
    table = pq.read_table(path)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    start = 0
    for i, end in enumerate(bounds):
        p = os.path.join(out_dir, f"ticks-{i:05d}.parquet")
        pq.write_table(table.slice(start, end - start), p)
        paths.append(p)
        start = end
    return paths


def write_doc_waves(
    out_dir: str, seed: int, waves: int, size: int = DOCS["wave_size"], stream: int = 2
) -> list[str]:
    """Write ``waves`` parquet files of ``size`` documents; ``stream``
    selects an independent random stream of the same seed.

    Fresh documents are Zipf-distributed token strings; a ``dup_rate``
    share copies an earlier document (from an earlier wave with
    probability ``cross_wave_share``, else from the same wave) and
    replaces a ``mutate_p`` share of its tokens."""
    c = DOCS
    rng = np.random.default_rng([seed, stream])
    vocab = np.array([f"w{i}" for i in range(c["vocab"])])
    pop = _zipf_sampler(c["vocab"], c["zipf_s"], rng)
    lo, hi = c["tokens"]
    texts: list[list[str]] = []
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for w in range(waves):
        first = len(texts)
        for _ in range(size):
            if texts and rng.random() < c["dup_rate"]:
                if first and rng.random() < c["cross_wave_share"]:
                    src = texts[int(rng.integers(first))]
                elif len(texts) > first:
                    src = texts[int(rng.integers(first, len(texts)))]
                else:
                    src = texts[int(rng.integers(len(texts)))]
                hit = rng.random(len(src)) < c["mutate_p"]
                repl = vocab[pop(len(src))]
                texts.append([r if h else t for t, r, h in zip(src, repl, hit)])
            else:
                n = int(rng.integers(lo, hi + 1))
                texts.append(list(vocab[pop(n)]))
        ids = np.arange(first, len(texts), dtype=np.int64)
        p = os.path.join(out_dir, f"wave-{w:03d}.parquet")
        pq.write_table(
            pa.table(
                {"doc_id": ids, "text": [" ".join(t) for t in texts[first:]]},
                schema=DOC_SCHEMA,
            ),
            p,
        )
        paths.append(p)
    return paths


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(dirpath, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate_all(root: str, seed: int) -> None:
    os.makedirs(root)
    ends = write_ticks(os.path.join(root, "ticks.parquet"), seed, 200)
    split_ticks(os.path.join(root, "ticks.parquet"), os.path.join(root, "files"), ends[:20:5])
    write_doc_waves(os.path.join(root, "docs"), seed, 3)


def self_test(work: str) -> bool:
    """Same seed -> byte-identical inputs; another seed -> different."""
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        root = os.path.join(work, f"gen-{i}")
        _generate_all(root, seed)
        digests.append(_digest(root))
    return digests[0] == digests[1] != digests[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-test", action="store_true", required=True)
    ap.parse_args()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.join(here, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(here, ".perfbench")) as work:
        ok = self_test(work)
    print("gen self-test:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
