"""Driver cost of store reads and commits.

On a 12-commit store (10 ticks x 16 sensors each), prints for a key
range, an 8-key point get and a small commit the median milliseconds
of the build and of the build plus ``collect``, and over both the py4j
round trips, eagerly analysed Datasets (one per DataFrame op) and
Spark jobs, over ``--repeat`` runs. A small read served on the driver
runs inside its build, so its build alone is not its cost. A commit
is timed whole (``begin -> add_dataframe -> commit``, including
``manifest.commit``), written on the driver as built and, as
``commit_spark``, forced onto Spark's writer (a byte cap of 0).

    PYTHONPATH=. python tools/build_cost.py [--repeat 5]
"""

from __future__ import annotations

import argparse
import shutil
import statistics
import tempfile
import time

import py4j.clientserver
from pyspark.sql.classic.dataframe import DataFrame

from matdb_spark import Database, Dimension, Schema, Value, get_spark, scan

COUNTS = {"py4j": 0, "datasets": 0}


def _count(cls, name: str, key: str, again=lambda *a: False) -> None:
    """Count calls of ``cls.name`` under ``key``, except repeats (``again``)."""
    orig = getattr(cls, name)

    def wrapped(*a, **kw):
        COUNTS[key] += not again(*a)
        return orig(*a, **kw)

    setattr(cls, name, wrapped)


def _run(spark, build, finish) -> tuple[float, float, int, int, int]:
    """(build ms, build + ``finish`` ms, py4j round trips, Datasets,
    Spark jobs) of one ``finish(build())``."""
    sc, group = spark.sparkContext, f"build_cost-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    before, t0 = dict(COUNTS), time.perf_counter()
    out = build()
    t1 = time.perf_counter()
    finish(out)
    t2 = time.perf_counter()
    rt, ds = COUNTS["py4j"] - before["py4j"], COUNTS["datasets"] - before["datasets"]
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return (t1 - t0) * 1e3, (t2 - t0) * 1e3, rt, ds, jobs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repeat", type=int, default=5)
    repeat = ap.parse_args().repeat
    spark, tmp = get_spark(cpus=2), tempfile.mkdtemp(prefix="build_cost_")
    db = Database.create(spark, f"{tmp}/db", Schema([Dimension("t", 4096), Dimension("s", 4)], [Value("v")]))

    def commit(i=12):
        with db.begin() as t:
            t.add_dataframe(spark.range(160).selectExpr(f"{i * 10} + id % 10 AS t", "id div 10 AS s", "id AS v"))
            t.commit()

    try:
        for i in range(12):
            commit(i)
        keys = [(i * 10 + i % 10, (5 * i) % 16) for i in (0, 1, 3, 4, 6, 8, 9, 11)]
        _count(py4j.clientserver.ClientServerConnection, "send_command", "py4j")
        # PySpark's DataFrame.__new__ runs __init__, then Python runs it again
        _count(DataFrame, "__init__", "datasets", lambda df, *a: "_jdf" in vars(df))
        collect = lambda df: df.collect()  # noqa: E731

        def commit_spark():
            cap, scan._SINGLE_TASK_MAX_BYTES = scan._SINGLE_TASK_MAX_BYTES, 0
            try:
                commit()
            finally:
                scan._SINGLE_TASK_MAX_BYTES = cap

        ops = {
            "query_range": (lambda: db.begin().query_range({"t": (15, 34), "s": (4, 7)}), collect),
            "query_points": (lambda: db.begin().query_points(keys), collect),
            "commit": (commit, lambda _: None),
            "commit_spark": (commit_spark, lambda _: None),
        }
        print(f"{'op':<14}{'build_ms':>10}{'total_ms':>10}{'py4j':>8}{'datasets':>10}{'jobs':>6}")
        for name, (build, finish) in ops.items():
            runs = [_run(spark, build, finish) for _ in range(repeat + 1)][1:]  # the first warms up
            b, t, rt, ds, jobs = (statistics.median(r[i] for r in runs) for i in range(5))
            print(f"{name:<14}{b:>10.1f}{t:>10.1f}{rt:>8.0f}{ds:>10.0f}{jobs:>6.0f}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
