"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload replay_nav --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and the Spark ledger on and prints the
per-layer metrics (see perfbench/README.md). Run from the repository
root; all scratch files go under ``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: set-ups per run; setup_s is the median of their CPU seconds
SETUPS = 3
CORES = 4


class Ctx:
    """What a workload needs: its seed and budget, a scratch directory,
    the Spark session and the tracer."""

    def __init__(
        self, seed: int, seconds: float, trace: bool, work: str, jvm_options: str = ""
    ) -> None:
        from spans import Tracer

        self.seed = seed
        self.jvm_options = jvm_options
        self.seconds = seconds
        self.cores = CORES
        self.trace = trace
        self.work = work
        self.spark = None
        self._proc = None
        self.tracer = Tracer(on=trace)
        #: a tracer that is always off, for warm-up DAGs
        self.quiet = Tracer(on=False)

    def conf(self) -> dict:
        return {
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(CORES),
            "spark.default.parallelism": str(CORES),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp {self.jvm_options}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.retainedJobs": "200000",
            "spark.ui.retainedStages": "200000",
            "spark.ui.showConsoleProgress": "false",
        }

    def new_session(self):
        """Stop the current session (if any) and start a fresh one."""
        from beavers_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", self.conf())
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", "setup")
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM
        (which outlives a stopped session)."""
        if self.spark is None:
            ru = resource.getrusage(resource.RUSAGE_SELF)
            return ru.ru_utime + ru.ru_stime
        if self._proc is None:
            from spans import ProcStats

            self._proc = ProcStats(self.spark.sparkContext)
        return sum(self._proc.cpu())

    def setups(self, build):
        """Run ``build(i)`` after a fresh session ``SETUPS`` times, each
        measured from session start; return (median CPU seconds, last
        build). CPU, like ``cpu_ms_per_item`` and for the same reason:
        wall time moves with the host's CPU steal."""
        walls, cpus = [], []
        state = None
        for i in range(SETUPS):
            t0, c0 = time.perf_counter(), self.cpu_s()
            self.new_session()
            state = build(i)
            walls.append(time.perf_counter() - t0)
            cpus.append(self.cpu_s() - c0)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        print(
            "perfbench: set-ups (s): wall", [round(t, 2) for t in walls],
            "cpu", [round(t, 2) for t in cpus], file=sys.stderr,
        )
        return statistics.median(cpus), state

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: the
    gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None


def main() -> int:
    ap = argparse.ArgumentParser(description="beavers_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "beavers_spark", "dag.py")):
        print("perfbench: run from a beavers_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable to spark.local.dir; set it so an
    # inherited value cannot send shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    ctx = Ctx(
        args.seed, args.seconds, bool(args.trace), work,
        workloads.JVM_OPTIONS.get(args.workload, ""),
    )
    started = time.perf_counter()
    try:
        result = workloads.WORKLOADS[args.workload](ctx)
        if ctx.trace:
            ctx.tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            )
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.perf_counter() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
