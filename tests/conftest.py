from __future__ import annotations

import itertools
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    from beavers_spark.session import get_spark

    spark = get_spark("beavers_spark_tests", extra_conf={
        "spark.sql.shuffle.partitions": "4",
    })
    yield spark


@pytest.fixture()
def new_york_tz(monkeypatch):
    """Run the test with the Python process's local zone set to
    America/New_York (UTC-5 in winter); the JVM keeps its own zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns ``(result, jobs)``: one ``(name, stages_run)`` pair per Spark
    job it ran, in job-id order. ``name`` is "<action> at <call site>";
    ``stages_run`` leaves out stages skipped because their shuffle
    output already existed."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def run(fn):
        group = f"spark_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        jsc.listenerBus().waitUntilEmpty()  # the status store lags the bus
        jobs = [
            jsc.statusStore().job(i)
            for i in sorted(sc.statusTracker().getJobIdsForGroup(group))
        ]
        return result, [(j.name(), j.numCompletedStages()) for j in jobs]

    return run
