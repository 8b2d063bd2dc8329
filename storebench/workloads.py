"""The workloads and the operation runner they share.

Every workload is one closed-loop client: it issues its next operation
only after the previous one returned and was checked. Each run builds
its store once, warms up untimed, then times a fixed number of
operations of each kind. That number comes from ``seconds`` and a
nominal rate, never from how fast the operations are, so two
runs with the same ``seconds`` time the same operations on stores of the
same size.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import nullcontext

from pyspark.sql import Observation, functions as F

import datagen
from datagen import Model, USER_ROW_BYTES, slab_df, wave_df
from summary import p50, ratio
from tracing import SparkProbe, Tracer, self_times

#: each timed kind gets at least this many samples, however short the run
MIN_SAMPLES = 11

#: timed steps per second of ``seconds``: about what a 4-vCPU box
#: manages, so a run times roughly ``seconds``
STEPS_PER_SECOND = 0.75

#: ``warmup`` is sized to the JIT of a fresh JVM: its compile time falls
#: from about 2.5 s per step early on to about 0.7 s after some 25
#: steps, and the step latency falls with it (see README.md).
#: ``compact_txns`` stays below the commits every run makes
#: (1 build + ``warmup`` + ``MIN_SAMPLES``)
INGEST = {
    "sensors": 256,
    "ticks": 256,
    "read_sensors": 32,
    "warmup": 15,
    "compact_txns": 12,
}
LOOKUP = {
    "commits": 12,
    "sensors": 256,
    "ticks": 128,
    "range_ticks": 256,
    "range_sensors": 16,
    "points": 8,
    "warmup": 12,
}


def timed_steps(seconds: float) -> int:
    """Timed steps (one operation of each kind) in a run of ``seconds``."""
    return max(MIN_SAMPLES, round(seconds * STEPS_PER_SECOND))


def sensor_start(rng: random.Random, sensors: int, width: int) -> int:
    """First sensor of a ``width``-wide read that lies inside one sensor
    chunk, so every read touches the same number of chunks."""
    chunk = rng.randrange(0, sensors // datagen.SENSOR_CHUNK) * datagen.SENSOR_CHUNK
    return chunk + rng.randrange(0, datagen.SENSOR_CHUNK - width + 1)


def store_bytes(path: str) -> int:
    """Bytes on disk under the store's data and ``_commits`` dirs."""
    total = 0
    for sub in ("data", "_commits"):
        for root, _dirs, files in os.walk(os.path.join(path, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Bench:
    """Runs, times and checks operations for one workload run."""

    def __init__(self, spark, root: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.rng = random.Random(seed)
        self.tracer = Tracer() if trace else None
        self.probe = SparkProbe(spark) if trace else None
        #: kind -> latencies (s) of timed, untraced operations
        self.samples: dict[str, list[float]] = defaultdict(list)
        #: kind -> latencies (s) of timed, traced operations
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        #: kind -> user rows moved by timed operations
        self.rows: Counter = Counter()
        self.attempted = 0
        self.failed = 0
        #: one record per traced operation (Spark counts, files, rows)
        self.records: list[dict] = []
        #: data files added by each plain commit (traced run)
        self.commit_files: list[int] = []
        #: seconds spent building the store, and the end of set-up
        self.build_s = 0.0
        self.setup_end = 0.0
        self.bytes_per_user_byte = 0.0
        self._ops = 0
        self._per_kind: Counter = Counter()

    # ---- running ------------------------------------------------------
    def op(self, kind, fn, check=None, timed=True, rows=0, snapshot_files=0):
        """Run ``fn() -> (result, df)``, time it, then ``check(result)``.

        A raised exception or a failed check counts against the run and
        is reported on stderr; it never aborts the run. In the traced
        run, every other timed operation of a kind is traced, so the
        untraced ones measure what tracing costs."""
        self._ops += 1
        op_id = self._ops
        nth = self._per_kind[kind]
        self._per_kind[kind] += 1
        traced = self.tracer is not None and timed and nth % 2 == 0
        self.attempted += 1
        ok, dt, result, df = False, 0.0, None, None
        if traced:
            self.probe.start(op_id)
        try:
            with self.tracer.op(op_id, kind) if traced else nullcontext():
                t0 = time.perf_counter()
                result, df = fn()
                dt = time.perf_counter() - t0
            ok = check is None or bool(check(result))
            if not ok:
                print(f"storebench: {kind} op {op_id} returned a wrong result", file=sys.stderr)
        except Exception:
            print(f"storebench: {kind} op {op_id} raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
        elif timed:
            (self.traced_samples if traced else self.samples)[kind].append(dt)
            self.rows[kind] += rows
        if traced:
            rec = self.probe.finish(op_id)
            rec.update(op=op_id, kind=kind, ok=ok, seconds=dt, rows=rows)
            if df is not None and ok:
                rec["input_files"] = len(df.inputFiles())
                rec["snapshot_files"] = snapshot_files
            self.records.append(rec)
        return ok, result

    def warm_then_time(self, step, warmup: int) -> None:
        """``warmup`` untimed steps, then the fixed number of timed ones.
        Set-up ends, and ``setup_end`` is taken, at the first timed step."""
        for _ in range(warmup):
            step(False)
        self.setup_end = time.perf_counter()
        for _ in range(timed_steps(self.seconds)):
            step(True)

    # ---- operations -----------------------------------------------------
    def create(self, path: str):
        from matdb_spark.database import Database

        return Database.create(self.spark, path, datagen.schema())

    def commit(self, db, df, kind: str, timed: bool, rows: int) -> bool:
        """``begin -> add_dataframe -> commit`` of one DataFrame."""

        def fn():
            with db.begin() as tx:
                tx.add_dataframe(df)
                tx.commit()
            return None, None

        before = db.stats()["data_files"] if self.tracer else 0
        ok, _ = self.op(kind, fn, timed=timed, rows=rows)
        if self.tracer and ok:
            self.commit_files.append(db.stats()["data_files"] - before)
        return ok

    def snapshot_files(self, db) -> int:
        """Data files in the current snapshot (traced run only)."""
        return db.stats()["data_files"] if self.tracer else 0

    def measure_space(self, path: str, model) -> None:
        self.bytes_per_user_byte = store_bytes(path) / (model.rows() * USER_ROW_BYTES)

    def observed_scan(self, kind, make_df, expect, timed, snapshot_files=0) -> bool:
        """Write ``make_df()`` to a noop sink; check its row count and
        value sum, observed while the rows stream past."""
        obs = Observation(f"chk{self._ops + 1}")

        def fn():
            df = make_df()
            df.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
            ).write.format("noop").mode("overwrite").save()
            return obs, df

        def check(o):
            got = o.get
            return (got["n"], got["v"] or 0) == expect

        ok, _ = self.op(kind, fn, check, timed, expect[0], snapshot_files)
        return ok

    def range_read(self, db, kind, model, t_lo, t_hi, s_lo, s_hi, timed, snapshot_files=0):
        bounds = {"time": (t_lo, t_hi), "sensor": (s_lo, s_hi)}
        expect = model.range_summary(t_lo, t_hi, s_lo, s_hi)
        return self.observed_scan(
            kind, lambda: db.begin().query_range(bounds), expect, timed, snapshot_files
        )

    def compact(self, db, max_txns: int | None = None) -> bool:
        """``compact() + vacuum()`` as one timed operation: all visible
        transactions, or the oldest ``max_txns``."""
        folded = max_txns or len(db.begin().visible_txns)

        def fn():
            return (db.compact(max_txns=max_txns), db.vacuum()), None

        def check(r):
            txn, removed = r
            return txn is not None and len(removed) == folded

        ok, _ = self.op("compact", fn, check)
        return ok

    def verify_totals(self, db, model) -> bool:
        """Untimed: the whole snapshot's row count and value sum."""
        expect = model.summary()

        def fn():
            row = db.sql("SELECT count(*) AS n, sum(value) AS v FROM matdb").collect()[0]
            return (row["n"], row["v"] or 0), None

        ok, _ = self.op("verify", fn, lambda got: got == expect, timed=False)
        return ok


# ---- workloads -------------------------------------------------------------
def ingest(b: Bench) -> dict:
    """Commit slabs, each upserting 10% of the previous one; read the
    newest slab back after every commit."""
    S, T, RS = INGEST["sensors"], INGEST["ticks"], INGEST["read_sensors"]
    path = os.path.join(b.root, "ingest")
    t_build = time.perf_counter()
    db = b.create(path)
    model = Model(b.seed)
    model.add_slab(0, T, 0, S)
    b.commit(db, slab_df(b.spark, 0, T, 0, S, b.seed), "build_commit", False, T * S)
    b.build_s = time.perf_counter() - t_build

    def step(timed: bool) -> None:
        prev = model.slabs[-1]
        t0 = prev.t0 + T
        upserts = sum(
            datagen.rewritten(t, s, b.seed, 1)
            for t in range(prev.t0, t0)
            for s in range(S)
        )
        df = slab_df(b.spark, t0, T, 0, S, b.seed).unionByName(
            wave_df(b.spark, prev.t0, T, 0, S, b.seed, 1)
        )
        if b.commit(db, df, "commit", timed, T * S + upserts):
            model.add_slab(t0, T, 0, S)
            prev.waves.append(1)
        s0 = sensor_start(b.rng, S, RS)
        files = b.snapshot_files(db)
        b.range_read(db, "fresh_read", model, t0, t0 + T - 1, s0, s0 + RS - 1, timed, files)

    b.warm_then_time(step, INGEST["warmup"])
    b.measure_space(path, model)
    if b.tracer:
        b.compact(db, INGEST["compact_txns"])
    b.verify_totals(db, model)
    return {"op": "commit", "read": "fresh_read", "rows": "ingest"}


def lookup(b: Bench) -> dict:
    """Seeded key-range reads and point gets over a many-commit store."""
    C, S, T = LOOKUP["commits"], LOOKUP["sensors"], LOOKUP["ticks"]
    RT, RS, NP = LOOKUP["range_ticks"], LOOKUP["range_sensors"], LOOKUP["points"]
    path = os.path.join(b.root, "lookup")
    t_build = time.perf_counter()
    db = b.create(path)
    model = Model(b.seed)
    for i in range(C):
        model.add_slab(i * T, T, 0, S)
        b.commit(db, slab_df(b.spark, i * T, T, 0, S, b.seed), "build_commit", False, T * S)
    b.build_s = time.perf_counter() - t_build
    b.measure_space(path, model)
    files = b.snapshot_files(db)

    # seeds move where an operation lands, not how much it touches: a
    # range starts mid-slab, so it always covers parts of the same
    # number of slabs, and a point get's keys lie in distinct slabs
    def range_op(timed: bool) -> None:
        t = b.rng.randrange(0, C - RT // T) * T + T // 2
        s = sensor_start(b.rng, S, RS)
        b.range_read(db, "range", model, t, t + RT - 1, s, s + RS - 1, timed, files)

    def point_op(timed: bool) -> None:
        keys = {
            (i * T + b.rng.randrange(0, T), b.rng.randrange(0, S))
            for i in b.rng.sample(range(C), NP)
        }
        expect = {(t, s, model.value(t, s)) for t, s in keys}

        def fn():
            df = db.begin().query_points(sorted(keys))
            return {(r["time"], r["sensor"], r["value"]) for r in df.collect()}, df

        b.op("point", fn, lambda got: got == expect, timed, len(keys), files)

    def step(timed: bool) -> None:
        range_op(timed)
        point_op(timed)

    b.warm_then_time(step, LOOKUP["warmup"])
    if b.tracer:
        b.compact(db)
    b.verify_totals(db, model)
    return {"op": "range", "read": "point", "rows": "lookup"}


WORKLOADS = {"ingest": ingest, "lookup": lookup}


# ---- metrics ---------------------------------------------------------------
def end_to_end(b: Bench, shape: dict, process_start: float) -> dict:
    """The end-to-end metrics: name -> (value, unit, notes). The notes
    give each timing's sample count and the workload-specific name of
    the metric."""
    op_kind, read_kind = shape["op"], shape["read"]
    op, read = b.samples[op_kind], b.samples[read_kind]
    if op_kind == "commit":
        thr = b.rows["commit"] / sum(op)
    else:
        thr = (b.rows["range"] + b.rows["point"]) / (sum(op) + sum(read))
    ms = 1000.0
    return {
        "setup_s": (b.setup_end - process_start, "s", {}),
        "op_p50_ms": (p50(op) * ms, "ms", {"n": len(op), "is": f"{op_kind}_p50_ms"}),
        "read_p50_ms": (p50(read) * ms, "ms", {"n": len(read), "is": f"{read_kind}_p50_ms"}),
        "rows_per_s": (thr, "rows/s", {"is": f"{shape['rows']}_rows_per_s"}),
        "bytes_per_user_byte": (b.bytes_per_user_byte, "ratio", {}),
    }


def per_layer(b: Bench, shape: dict) -> dict:
    """The per-layer metrics of the traced run, over its traced timed
    operations (files per commit also counts set-up commits)."""
    tr = b.tracer
    ops = {r["op"]: r for r in b.records}
    selfs = self_times(tr.spans)
    dur: dict[str, list[float]] = defaultdict(list)
    self_dur: dict[str, list[float]] = defaultdict(list)
    #: op id -> seconds spent building its query DataFrames
    query_build: Counter = Counter()
    for i, sp in enumerate(tr.spans):
        if sp.op not in ops:
            continue
        dur[sp.name].append(sp.end - sp.start)
        self_dur[sp.name].append(selfs[i])
        if sp.name == "transaction.query_build":
            query_build[sp.op] += sp.end - sp.start
    counts: Counter = Counter()
    for op_id in ops:
        counts.update(tr.counts.get(op_id, {}))
    reads = [
        r for r in b.records if r["op"] in query_build and r["kind"] != "compact" and r["ok"]
    ]
    result_rows = sum(r["rows"] for r in reads)
    n_ops = len(ops)
    ms = 1000.0

    def p50_ms(xs):
        return p50(xs) * ms if xs else 0.0

    traced, untraced = b.traced_samples, b.samples
    kind = shape["op"]
    overhead = (
        100.0 * (p50(traced[kind]) / p50(untraced[kind]) - 1.0)
        if traced[kind] and untraced[kind]
        else 0.0
    )
    return {
        "database.begin_ms": (p50_ms(dur["database.begin"]), "ms"),
        "database.compact_ms": (p50_ms(dur["database.compact"]), "ms"),
        "database.vacuum_ms": (p50_ms(dur["database.vacuum"]), "ms"),
        "transaction.add_dataframe_ms": (p50_ms(self_dur["transaction.add_dataframe"]), "ms"),
        "transaction.commit_ms": (p50_ms(self_dur["transaction.commit"]), "ms"),
        "transaction.query_build_ms": (p50_ms(dur["transaction.query_build"]), "ms"),
        "transaction.files_per_commit": (
            ratio(sum(b.commit_files), len(b.commit_files)),
            "count",
        ),
        "manifest.publish_ms": (p50_ms(dur["manifest.publish"]), "ms"),
        "manifest.checkpoint_ms": (p50_ms(dur["manifest.checkpoint"]), "ms"),
        "manifest.listings_per_op": (ratio(counts["manifest.listings"], n_ops), "count"),
        "manifest.json_reads_per_op": (ratio(counts["manifest.json_reads"], n_ops), "count"),
        "manifest.cache_hit_ratio": (
            ratio(counts["manifest.cache_hits"], counts["manifest.cached_reads"]),
            "ratio",
        ),
        "stats.segment_info_ms": (p50_ms(dur["stats.segment_info"]), "ms"),
        # no bounded scan ran: nothing was pruned
        "stats.txn_keep_ratio": (
            ratio(counts["stats.txn_kept"], counts["stats.txn_checks"], empty=1.0),
            "ratio",
        ),
        "scan.plan_ms": (p50_ms(dur["scan.plan"]), "ms"),
        "scan.exec_ms": (
            p50_ms([r["seconds"] - query_build[r["op"]] for r in reads]),
            "ms",
        ),
        "scan.files_read_ratio": (
            ratio(
                sum(r.get("input_files", 0) for r in reads),
                sum(r.get("snapshot_files", 0) for r in reads),
            ),
            "ratio",
        ),
        "scan.rows_examined_per_row": (
            ratio(sum(r["scan_rows"] for r in reads), result_rows),
            "ratio",
        ),
        "scan.shuffle_bytes_per_row": (
            ratio(sum(r["shuffle_bytes"] for r in reads), result_rows),
            "B/row",
        ),
        "spark.jobs_per_op": (ratio(sum(r["jobs"] for r in b.records), n_ops), "count"),
        "spark.tasks_per_op": (ratio(sum(r["tasks"] for r in b.records), n_ops), "count"),
        "trace.overhead_pct": (overhead, "%"),
    }
