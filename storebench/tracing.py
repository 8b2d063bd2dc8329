"""Spans and counts for the traced run.

The tracer wraps public functions of the store modules from outside:
it replaces module and class attributes with recording wrappers while
installed and restores them on ``uninstall``. A wrapper records only
while an operation is being traced, so set-up, checks and untraced
operations pay one attribute test per call.

``SparkProbe`` adds Spark's own view of one operation: jobs and tasks
through a job group and ``statusTracker()``, and file-scan rows and
shuffle bytes from the SQL metrics of the executions the operation ran.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: (module, attribute path, span name): calls recorded as spans
SPANNED = [
    ("matdb_spark.database", "Database.begin", "database.begin"),
    ("matdb_spark.database", "Database.compact", "database.compact"),
    ("matdb_spark.database", "Database.vacuum", "database.vacuum"),
    ("matdb_spark.database", "Database.sql", "database.sql"),
    ("matdb_spark.transaction", "Transaction.add_dataframe", "transaction.add_dataframe"),
    ("matdb_spark.transaction", "Transaction.commit", "transaction.commit"),
    ("matdb_spark.transaction", "Transaction.query", "transaction.query_build"),
    ("matdb_spark.transaction", "Transaction.query_range", "transaction.query_build"),
    ("matdb_spark.transaction", "Transaction.query_points", "transaction.query_build"),
    ("matdb_spark.manifest", "publish", "manifest.publish"),
    ("matdb_spark.manifest", "maybe_checkpoint", "manifest.checkpoint"),
    ("matdb_spark.stats", "collect_segment_info", "stats.segment_info"),
    # transaction.py binds scan_dataframe by name at import; database.py
    # imports it from matdb_spark.scan at call time
    ("matdb_spark.scan", "scan_dataframe", "scan.plan"),
    ("matdb_spark.transaction", "scan_dataframe", "scan.plan"),
]

#: (module, attribute, counter name): calls only counted
COUNTED = [
    ("matdb_spark.manifest", "committed_txn_ids", "manifest.listings"),
    ("matdb_spark.manifest", "read_manifest", "manifest.json_reads"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op: int


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        covered = 0.0
        run_start = run_end = None
        for s, e in sorted(children[i]):
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if run_end is None or s > run_end:
                if run_end is not None:
                    covered += run_end - run_start
                run_start, run_end = s, e
            else:
                run_end = max(run_end, e)
        if run_end is not None:
            covered += run_end - run_start
        out.append((sp.end - sp.start) - covered)
    return out


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for name in outer:
        owner = getattr(owner, name)
    return owner, attr


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self._stack: list[int] = []
        self._op: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ---- recording ----------------------------------------------------
    @contextmanager
    def op(self, op_id: int, kind: str):
        """Trace one operation: its calls become spans under a root span
        named ``op.<kind>``."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    # ---- wrapping -----------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _spanned(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._op is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _counted(self, fn, name: str, truthy: str | None = None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self._op is not None:
                c = self.counts[self._op]
                c[name] += 1
                if truthy and out:
                    c[truthy] += 1
            return out

        return wrapper

    def _cached_reads(self, cached):
        """Count ``read_manifest_cached`` calls and the LRU hits among
        them; keep the cache-control attributes callers use."""

        @functools.wraps(cached)
        def wrapper(*args, **kwargs):
            if self._op is None:
                return cached(*args, **kwargs)
            hits = cached.cache_info().hits
            out = cached(*args, **kwargs)
            c = self.counts[self._op]
            c["manifest.cached_reads"] += 1
            if cached.cache_info().hits > hits:
                c["manifest.cache_hits"] += 1
            return out

        wrapper.cache_clear = cached.cache_clear
        wrapper.cache_info = cached.cache_info
        return wrapper

    def install(self) -> None:
        for module, path, name in SPANNED:
            owner, attr = _resolve(module, path)
            self._patch(owner, attr, self._spanned(getattr(owner, attr), name))
        for module, path, name in COUNTED:
            owner, attr = _resolve(module, path)
            self._patch(owner, attr, self._counted(getattr(owner, attr), name))
        owner, attr = _resolve("matdb_spark.stats", "txn_intersects")
        self._patch(
            owner,
            attr,
            self._counted(getattr(owner, attr), "stats.txn_checks", "stats.txn_kept"),
        )
        owner, attr = _resolve("matdb_spark.manifest", "read_manifest_cached")
        self._patch(owner, attr, self._cached_reads(getattr(owner, attr)))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_sql_metric(text: str) -> float:
    """Number from a formatted SQL metric: ``'16,384'``, ``'38.8 KiB'``
    or the two-line ``'total (min, med, max ...)\\n170.1 KiB (...)'``."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    num = float(head[0].replace(",", ""))
    return num * _SIZE_UNITS[head[1]] if len(head) > 1 else num


class SparkProbe:
    """Spark-side counts of one operation (traced run only)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen = 0

    @staticmethod
    def _group(op_id: int) -> str:
        return f"storebench-op-{op_id}"

    def start(self, op_id: int) -> None:
        self._bus.waitUntilEmpty()
        self._seen = self._store.executionsCount()
        self._sc.setJobGroup(self._group(op_id), f"storebench op {op_id}")

    def finish(self, op_id: int) -> dict:
        """Jobs, completed tasks, file-scan output rows and shuffle bytes
        written by everything that ran since ``start``."""
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group(op_id))
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        scan_rows = shuffle_bytes = 0.0
        total = self._store.executionsCount()
        if total > self._seen:
            execs = self._conv.asJava(
                self._store.executionsList(self._seen, total - self._seen)
            )
            for ex in execs:
                eid = ex.executionId()
                values = self._conv.asJava(self._store.executionMetrics(eid))
                for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
                    scan = node.name().startswith("Scan parquet")
                    for m in self._conv.asJava(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if v is None:
                            continue
                        if scan and m.name() == "number of output rows":
                            scan_rows += parse_sql_metric(v)
                        elif m.name() == "shuffle bytes written":
                            shuffle_bytes += parse_sql_metric(v)
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "scan_rows": scan_rows,
            "shuffle_bytes": shuffle_bytes,
        }
