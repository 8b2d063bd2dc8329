"""DataSource V2 surface: the ``matdb`` format, read AND write.

The last step from "library over Spark" to "Spark-native engine"
(round-5 verdict item 4): the MVCC store as a first-class Spark
source/sink, so any Spark user — SQL, DataFrame, other languages
through the session catalog — reaches a matdb store with one call:

    from matdb_spark.sources.dsv2 import register_matdb_source
    register_matdb_source(spark)
    df = spark.read.format("matdb").load("/path/to/db")          # snapshot
    df = spark.read.format("matdb").option("as_of", 3).load(p)   # time travel
    df.write.format("matdb").mode("append").save(p)              # one txn
    df.write.format("matdb").mode("overwrite").save(p)           # supersede
    s.writeStream.format("matdb").option(                        # exactly-once
        "checkpointLocation", ck).start(p)                       # per-batch txn
    spark.readStream.format("matdb").option(                     # CDC stream
        "feed", "changes").load(p)                               # source

Composition: the CDC source feeding the matdb sink replicates a store
end-to-end through the format alone — exactly-once (checkpointed
cursors on the read side, (stream_source, batch_id) manifest stamps
on the write side), deletes included (tombstones ride as
all-null-value rows, which IS the engine's delete).

Built on the Spark 4 Python Data Source API. The DRIVER side plans
with the library scan's own rule (scan.py ``plan_txns``) over one
``manifest.Snapshot``: manifest-resolved file lists (no listing job),
tier-0 txn-stats pruning, chunk pruning from pushed-down dimension
filters, and version-rank overrides for minor compactions. The EXECUTOR side is
one Arrow pipeline per CHUNK: every version of a key lives in the
same chunk by construction (chunk = f(key), schema.rs:28-38's routing
invariant), so newest-(txn, seq)-wins resolution is chunk-local and
the source needs NO shuffle at all — Spark receives already-resolved
snapshot rows as Arrow record batches.

Both readers, the snapshot and the change feed, read a chunk's files
with the library's file reader (``scan._read_files``, which also
serves small reads on the driver) and resolve them with
``scan.resolve_arrow`` — the library scan's rule, kept beside its
``max_by`` plan in scan.py — so the paths cannot drift. Keys
compare as Spark's grouping compares them: NaN equals NaN, −0.0
equals 0.0 and reads back as 0.0, and every other key type compares
by value.

Both sinks, the batch and the stream writer, write the Arrow batches
Spark hands a task with the library's one segment writer
(``scan.write_segment_files``, which also writes small library
commits on the driver): cast to the staging schema, routed by
``scan._arrow_chunks`` (``scan._chunked``'s floor arithmetic), split
by chunk with one sort, key-sorted per file. pyarrow leaves NaN out of
a float column's min/max, and stats that hide NaN would prune NaN keys
away, so a file writes no min/max for a float column holding NaN.
Both commit through
``manifest.commit``, the library's own commit routine: the manifest
lists exactly the files the successful tasks reported, with txn stats
read from their footers by the library's rule (a txn holding a NaN
float key thus gets no stats for that dim), and ``evolve`` columns join ``schema.json``
under the schema lock just before the publish.

Semantics and bounds, stated plainly:
- Committed state only (a snapshot of the store as of the horizon) —
  read-your-own-writes overlays are a Transaction concept and stay on
  the library path (transaction.py query()).
- Row-level resolution only (the default query() mode, which supports
  tombstone deletes); ``cell_merge`` stays on the library path.
- Rows are emitted in key order WITHIN a chunk; Spark scans give no
  cross-partition order (add .orderBy for the O1 global contract).
- Pushed filters are used for PRUNING only (manifest tier-0 + chunk
  directories) and are all returned to Spark for re-application —
  value-column filters must not run before version resolution, and
  double-applying dim filters is free correctness.
- A store with no chunked dimension degrades to one input partition
  (resolution must then be global); the library path is preferred
  there. Compacted stores (manifest ``unique_keys``) skip resolution
  and parallelize per FILE instead of per chunk.

Scale: partitions = chunks, the same granularity the write side sizes
to "one healthy parquet partition" (SCALE.md §12) — 100 TB stores
carry tens of thousands of chunks, saturating any executor fleet; the
per-task state is one chunk's rows, which is exactly the bound the
chunk_size knob already enforces for the JVM path.

Reference parity: this is the reference's one-call query surface
(transaction.rs:67 query() → scan.rs merge scan) exposed the way a
Spark user expects to reach a table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema

from matdb_spark import manifest
from matdb_spark.schema import _TYPE_MAP, SCHEMA_FILENAME, TXN_COL, Schema, with_values
from matdb_spark.stats import spark_order
from matdb_spark.scan import (
    _chunk_ranges,
    _has_value,
    _read_files,
    _select_manifest_files,
    plan_txns,
    resolve_arrow,
    write_segment_files,
)


def _truthy(v) -> bool:
    return str(v).strip().lower() in ("true", "1", "yes")


def _matdb_type_of(dt) -> str:
    """Spark DataType → the engine's type name (the inverse of
    schema._TYPE_MAP), for additive write-side evolution."""
    try:
        return {t: name for name, t in _TYPE_MAP.items()}[dt]
    except KeyError:
        raise ValueError(f"cannot evolve store with a column of Spark type {dt}")


def _check_write_schema(db_path: str, schema, evolve: bool) -> list:
    """Write-side schema contract — VALIDATION ONLY. Strict by
    default: DataFrame columns must equal the store's. With
    ``.option("evolve", "true")`` (the mergeSchema idiom), EXTRA
    DataFrame columns are returned as pending ``(name, matdb_type)``
    additions; nothing is persisted here. The writer's commit
    (``manifest.commit``'s ``new_values``) applies them under the
    schema lock with the transaction, so an aborted write never
    permanently evolves the store — the Delta mergeSchema contract.
    Missing store columns are an error either way — a write may not
    silently drop data the store's schema promises."""
    sch = Schema.load(os.path.join(db_path, SCHEMA_FILENAME))
    expected = set(sch.column_names)
    got = set(schema.fieldNames())
    if got == expected:
        return []
    missing = expected - got
    extra = got - expected
    if evolve and not missing and extra:
        # type-check now (fail at planning, before any task runs);
        # the save happens at commit under the schema lock
        return [
            (f.name, _matdb_type_of(f.dataType))
            for f in schema.fields
            if f.name in extra
        ]
    raise ValueError(
        f"matdb write schema mismatch: store columns "
        f"{sorted(expected)}, DataFrame columns {sorted(got)}"
        + (
            " — pass .option('evolve', 'true') to add the new value"
            " column(s) to the store"
            if not missing and extra
            else ""
        )
    )


@dataclass
class ChunkPartition(InputPartition):
    """One scan task: the (path, effective_txn) pairs of a single chunk
    — or of a single file when the store is provably duplicate-free."""

    files: list = field(default_factory=list)  # [(abs_path, effective_txn)]
    dedup_free: bool = False


def _txn_files(snap: manifest.Snapshot, t: int) -> list[str]:
    """Data files of committed txn ``t``, relative to its txn dir: the
    manifest's list, or a walk of the dir when it recorded none (legacy
    or capped manifest)."""
    fl = snap.files(t)
    if fl is not None:
        return fl
    tdir = manifest.txn_data_dir(snap.db_path, t)
    return [
        os.path.relpath(os.path.join(r, f), tdir)
        for r, _, fs in os.walk(tdir)
        for f in fs
        if f.endswith(".parquet")
    ]


def _chunk_partitions(files: list[tuple[str, int]]) -> list[ChunkPartition]:
    """One resolving partition per chunk: every version of a key lives
    in the key's chunk directory, so each group resolves on its own."""
    groups: dict[tuple, list] = {}
    for path, eff in files:
        key = tuple(
            sorted(p for p in path.split(os.sep) if p.startswith("__chunk_") and "=" in p)
        )
        groups.setdefault(key, []).append((path, eff))
    return [ChunkPartition(files=g) for g in groups.values()] or [ChunkPartition()]


def register_matdb_source(spark) -> None:
    """Register the ``matdb`` format with a session (idempotent).
    Python-source filter pushdown ships behind a conf flag in Spark 4
    and a reader that implements pushFilters REQUIRES it on — enable
    it with the registration.

    Child-session caveat (Spark 4.1, pinned by tests/
    test_catalog_persist.py::test_child_session_python_source_
    limitation_pinned): once an ANCESTOR session has registered this
    name, a ``spark.newSession()`` child can neither see the
    registration (reads fail DATA_SOURCE_NOT_FOUND) nor re-register
    it — the first attempt silently no-ops and an explicit retry
    raises DATA_SOURCE_ALREADY_EXISTS. That error is swallowed here
    so ancestor-owned sessions keep working; consumers needing a
    genuinely fresh session must use a fresh PROCESS (the catalog
    sidecar's returning-user flow)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(MatdbDataSource)
    except Exception as e:  # AnalysisException, py4j-wrapped
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise


class MatdbDataSource(DataSource):
    """``format("matdb")``: options are ``path`` (the database
    directory; also the ``load(path)`` positional) and optional
    ``as_of`` (txn id — the time-travel horizon, database.py begin)."""

    @classmethod
    def name(cls) -> str:
        return "matdb"

    def _db_path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError(
                "matdb source requires a database path: "
                "spark.read.format('matdb').load('/path/to/db'). "
                "Note a catalog table (CREATE TABLE ... USING matdb) "
                "cannot work yet: Spark 4.1's Python Data Source API "
                "does not forward table OPTIONS/LOCATION to the reader "
                "(probed: reader-time options arrive empty) — use the "
                "DDL shim instead: matdb_spark.ddl.sql(spark, \"CREATE "
                "TABLE ... USING matdb LOCATION '...' TBLPROPERTIES "
                "('chunks'='dim=size,...')\"), or register a view: "
                "matdb_spark.catalog.register_store(spark, name, p)"
            )
        # the session catalog hands CREATE TABLE ... USING matdb
        # locations over as file: URIs; the manifest layer is plain-os
        if p.startswith("file:"):
            from urllib.parse import urlparse

            parsed = urlparse(p)
            p = parsed.path or p[len("file:"):]
        return os.path.abspath(p)

    def schema(self):
        sch = Schema.load(os.path.join(self._db_path(), SCHEMA_FILENAME))
        if self.options.get("feed") == "changes":
            return _feed_schema(sch)
        return sch.spark_schema()

    def reader(self, schema) -> "MatdbSnapshotReader":
        if self.options.get("feed") == "changes":
            raise ValueError(
                "the matdb change feed is a STREAMING source — use "
                "spark.readStream.format('matdb').option('feed', "
                "'changes'); for a bounded window use the library's "
                "Database.changes(since, until)"
            )
        as_of = self.options.get("as_of")
        return MatdbSnapshotReader(
            self._db_path(), int(as_of) if as_of is not None else None
        )

    def streamReader(self, schema) -> "MatdbChangesStreamReader":
        if self.options.get("feed") != "changes":
            raise ValueError(
                "matdb streaming read requires .option('feed', 'changes') "
                "(the CDC source); the snapshot is a batch read"
            )
        since = self.options.get("since")
        return MatdbChangesStreamReader(
            self._db_path(), int(since) if since is not None else None
        )

    def writer(self, schema, overwrite: bool) -> "MatdbBatchWriter":
        db_path = self._db_path()
        pending = _check_write_schema(
            db_path, schema, evolve=_truthy(self.options.get("evolve"))
        )
        return MatdbBatchWriter(db_path, overwrite, pending_evolution=pending)

    def streamWriter(self, schema, overwrite: bool) -> "MatdbStreamWriter":
        if overwrite:
            raise ValueError(
                "matdb streaming sink supports append output mode only"
            )
        db_path = self._db_path()
        pending = _check_write_schema(
            db_path, schema, evolve=_truthy(self.options.get("evolve"))
        )
        return MatdbStreamWriter(
            db_path,
            self.options.get("source") or "matdb-dsv2-stream",
            pending_evolution=pending,
        )


class MatdbSnapshotReader(DataSourceReader):
    def __init__(self, db_path: str, as_of: int | None):
        self.db_path = db_path
        self.as_of = as_of
        self.schema_obj = Schema.load(os.path.join(db_path, SCHEMA_FILENAME))
        self.bounds: dict[str, tuple] = {}

    # ---- filter pushdown (pruning only) ------------------------------
    def pushFilters(self, filters):
        """Fold dimension-range filters into ``bounds`` for the same
        driver-side pruning the library path applies (tier-0 manifest
        stats + chunk directories), then hand EVERY filter back to
        Spark: dim filters are merely re-checked (free), and value
        filters MUST run after version resolution — pre-resolution
        value filtering would change which version wins."""
        dims = {d.name: d for d in self.schema_obj.dimensions}

        def tighten(name: str, lo=None, hi=None) -> None:
            clo, chi = self.bounds.get(name, (None, None))
            if lo is not None:
                clo = lo if clo is None else max(clo, lo, key=spark_order)
            if hi is not None:
                chi = hi if chi is None else min(chi, hi, key=spark_order)
            self.bounds[name] = (clo, chi)

        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col not in dims:
                continue
            integral = dims[col].type in ("long", "int")
            if isinstance(f, EqualTo):
                tighten(col, f.value, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                tighten(col, lo=f.value)
            elif isinstance(f, LessThanOrEqual):
                tighten(col, hi=f.value)
            elif isinstance(f, GreaterThan) and integral:
                tighten(col, lo=f.value + 1)
            elif isinstance(f, LessThan) and integral:
                tighten(col, hi=f.value - 1)
            elif isinstance(f, In) and f.value:
                try:
                    tighten(
                        col,
                        lo=min(f.value, key=spark_order),
                        hi=max(f.value, key=spark_order),
                    )
                except TypeError:
                    pass
        return filters  # Spark re-applies everything (see docstring)

    # ---- driver-side planning ----------------------------------------
    def partitions(self):
        snap, _ = manifest.resolve_as_of(self.db_path, self.as_of)
        kept, dedup_free, rank = plan_txns(snap, [self.bounds] if self.bounds else [])
        cranges = _chunk_ranges(self.schema_obj, self.bounds)
        files = [  # (abs path, effective txn)
            (os.path.join(manifest.txn_data_dir(self.db_path, t), rel), rank.get(t, t))
            for t in kept
            for rel in _select_manifest_files(_txn_files(snap, t), cranges)
        ]
        if dedup_free and files:
            # no resolution needed: maximum parallelism, one task/file
            return [ChunkPartition(files=[fe], dedup_free=True) for fe in files]
        return _chunk_partitions(files)

    # ---- executor-side read ------------------------------------------
    def read(self, partition: ChunkPartition):
        """One chunk's snapshot rows: its files resolved by
        ``scan.resolve_arrow`` (newest (txn, seq) per key, all-null
        rows dropped), in key order, as Arrow batches."""
        sch = self.schema_obj
        versioned = not partition.dedup_free
        t = resolve_arrow(_read_files(partition.files, sch, versioned), sch.dim_names, versioned)
        yield from t.select(sch.column_names).cast(to_arrow_schema(sch.spark_schema())).to_batches()


# ------------------------------------------------------------- writer
@dataclass
class _Written(WriterCommitMessage):
    """Per-task result: the files this attempt wrote, relative to the
    txn data dir — or to ``base`` when staged (stream writer)."""

    files: list
    base: str | None = None


class MatdbBatchWriter(DataSourceArrowWriter):
    """``df.write.format("matdb").mode("append"|"overwrite").save(db)``
    — one atomic MVCC transaction per save.

    The txn id is reserved on the DRIVER (O_CREAT|O_EXCL — the same
    claim the library's allocate_txn_id makes, so a concurrent library
    writer can never collide with a DSv2 writer). Each task writes the
    Arrow batches Spark hands it (``scan.write_segment_files``) as parquet
    under ``data/txn=<t>/seg=0/__chunk_*/`` with uuid file names —
    chunk routing, within-file key sort, canonical column types, and
    the shared write sequence all as transaction.py's _write_segment
    lays them down; Arrow carries timestamps as instants, so no worker
    time zone enters. ``commit`` publishes ONE manifest whose file
    list comes from the successful task attempts' commit messages —
    a speculative or retried task's orphan files are never listed,
    hence never visible (the manifest-resolved read path ignores them;
    a later compaction's vacuum removes the directory wholesale) — and
    whose stats come from those files' footers (``manifest.commit``).
    ``abort`` discards the staged directory and the reservation.

    ``mode("overwrite")`` publishes with ``replaces`` = every txn
    committed when the writer was created — the table atomically
    becomes exactly the written rows, using the same supersede
    mechanism compaction uses (readers switch atomically; history
    remains time-travelable until vacuum).

    Duplicate keys WITHIN one save share the single write sequence and
    resolve arbitrarily — the add_dataframe single-call contract
    (transaction.py:111). Null dimension values raise loudly: a null
    key cannot be chunk-routed and the engine's key contract is
    non-null dims."""

    def __init__(self, db_path: str, overwrite: bool, pending_evolution: list | None = None):
        self.db_path = db_path
        # pending evolved columns are part of the write's schema view
        # so tasks lay files down with them (extra parquet columns stay
        # invisible until schema.json has them); schema.json grows them
        # only in commit() — an aborted write evolves nothing
        self.pending_evolution = pending_evolution or []
        self.schema_obj = with_values(
            Schema.load(os.path.join(db_path, SCHEMA_FILENAME)), self.pending_evolution
        )
        self.txn_id = manifest.reserve_txn_id(db_path, start=1)
        self.replaces = manifest.committed_txn_ids(db_path) if overwrite else None

    def write(self, iterator):
        tdir = manifest.txn_data_dir(self.db_path, self.txn_id)
        return _Written(write_segment_files(iterator, self.schema_obj, tdir))

    def commit(self, messages):
        files = [f for m in messages for f in m.files]
        manifest.commit(
            self.db_path, self.txn_id, self.schema_obj, files, 1,
            replaces=self.replaces, new_values=self.pending_evolution,
        )

    def abort(self, messages):
        # discard_txn_data refuses once a manifest exists for the txn
        # (abort after a successful publish must not delete live data)
        manifest.discard_txn_data(self.db_path, self.txn_id)
        manifest.release_txn_reservation(self.db_path, self.txn_id)


#: staging area for the stream writer's task outputs; swept by
#: manifest.recover() with the same staleness grace as txn debris
STREAM_STAGING_DIR = "_stream_staging"


class MatdbStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("matdb").option("checkpointLocation",
    ...).start(db)`` — one MVCC transaction per micro-batch,
    exactly-once end-to-end.

    Tasks don't know the batch's txn id (the Python stream-writer API
    creates one writer for the query's lifetime), so they STAGE their
    chunk-routed parquet (``scan.write_segment_files``, as the batch sink)
    under ``data/_stream_staging/<task-uuid>/`` and the driver's
    per-batch ``commit`` reserves a txn id, MOVES the staged files into
    ``data/txn=<t>/`` (same-FS renames; on an object store these are
    copies, still safe — visibility comes only from the manifest), and
    publishes stamped with ``(stream_source, batch_id)``. A replayed
    batch (crash between manifest publish and checkpoint advance) is
    recognized by the library sink's own ``BatchReplayGuard``
    (streaming/ingest.py — stamps survive compaction via the carried
    ``stream_batch_ids``) and commits nothing. Crash
    debris in the staging area is invisible to every reader and swept
    by ``recover()`` once stale.

    ``option("source", name)`` identifies the logical stream in
    manifests; set it when more than one stream writes the same store.
    For compaction scheduling under standing ingest, the library sink
    (streaming/ingest.stream_into_database) remains the full-featured
    path — this surface is the format-string form of the same
    protocol."""

    def __init__(self, db_path: str, source: str, pending_evolution: list | None = None):
        from matdb_spark.streaming.ingest import BatchReplayGuard

        self.db_path = db_path
        self.pending_evolution = pending_evolution or []
        self.schema_obj = with_values(
            Schema.load(os.path.join(db_path, SCHEMA_FILENAME)), self.pending_evolution
        )
        self.source = source
        self._guard = BatchReplayGuard(db_path, source, "matdb stream sink")

    def write(self, iterator):
        import uuid

        base = os.path.join(
            manifest.data_dir(self.db_path), STREAM_STAGING_DIR, uuid.uuid4().hex
        )
        return _Written(write_segment_files(iterator, self.schema_obj, base), base)

    def _staging_roots(self, messages):
        return {m.base for m in messages if m is not None and m.base}

    def commit(self, messages, batchId):
        import shutil as _sh

        if self._guard.already_committed(int(batchId)):
            for root in self._staging_roots(messages):
                _sh.rmtree(root, ignore_errors=True)
            return  # replayed batch: already committed, a no-op
        txn = manifest.reserve_txn_id(self.db_path, start=1)
        tdir = manifest.txn_data_dir(self.db_path, txn)
        rels = []
        for m in messages:
            for rel in m.files:
                dst = os.path.join(tdir, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(m.base, rel), dst)
                rels.append(rel)
        # evolution commits with the first non-replayed batch (a crash
        # between it and publish leaves an additive all-null column;
        # the replayed batch re-runs it idempotently)
        manifest.commit(
            self.db_path, txn, self.schema_obj, rels, 1,
            extra={"stream_source": self.source, "batch_id": int(batchId)},
            new_values=self.pending_evolution,
        )
        self.pending_evolution = []
        self._guard.record(int(batchId))
        for root in self._staging_roots(messages):
            _sh.rmtree(root, ignore_errors=True)

    def abort(self, messages, batchId):
        import shutil as _sh

        for root in self._staging_roots(messages):
            _sh.rmtree(root, ignore_errors=True)


# ------------------------------------------------------- CDC stream source
def _feed_schema(sch: Schema):
    """Row schema of the change feed (database.py ``changes``): the
    snapshot columns plus the change tag and the writing commit."""
    from pyspark.sql import types as T

    from matdb_spark.database import check_feed_columns

    check_feed_columns(sch)
    return T.StructType(
        sch.spark_schema().fields
        + [
            T.StructField("change_type", T.StringType(), False),
            T.StructField(TXN_COL, T.LongType(), False),
        ]
    )


class MatdbChangesStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("matdb").option("feed", "changes")
    .load(db)`` — the change feed (database.py changes/follow_changes)
    as a Structured Streaming SOURCE.

    Offsets are manifest cursors: ``latestOffset`` is the store's
    ``safe_feed_head`` — the low-watermark below which no in-flight
    txn can still publish, the exact rule follow_changes polls with —
    so out-of-order manifest arrival under concurrent writers can
    never skip a commit. Each micro-batch covers the commit window
    ``(start, end]`` and emits its NET effect: for every key written
    in the window, the newest (txn, seq) version, tagged
    ``change_type`` 'upsert'/'delete' (all-null tombstone) and
    ``__txn``. Compaction commits (``replaces`` manifests) are
    rewrites of old content, not new writes — excluded, like
    changes(include_compactions=False).

    The window resolution is chunk-local (the snapshot reader's
    argument: a key's versions share a chunk), so partitions = the
    window's chunks and the source shuffles nothing. Reading costs
    the WINDOW's segments only — file lists come from the window
    manifests, never a directory listing of the table.

    ``option("since", N)`` starts the cursor at commit N (0 = replay
    the full history); default is the head at query start — the
    subscribe-from-now contract of follow_changes."""

    def __init__(self, db_path: str, since: int | None):
        self.db_path = db_path
        self.schema_obj = Schema.load(os.path.join(db_path, SCHEMA_FILENAME))
        self._initial = (
            manifest.safe_feed_head(db_path) if since is None else int(since)
        )

    def initialOffset(self) -> dict:
        return {"cursor": self._initial}

    def latestOffset(self) -> dict:
        return {"cursor": manifest.safe_feed_head(self.db_path)}

    def partitions(self, start: dict, end: dict):
        snap = manifest.resolve(self.db_path)
        window = snap.feed_window(int(start["cursor"]), int(end["cursor"]))
        return _chunk_partitions(
            [
                (os.path.join(manifest.txn_data_dir(self.db_path, t), rel), t)
                for t in window.txns
                for rel in _txn_files(snap, t)
            ]
        )

    def read(self, partition: ChunkPartition):
        """Window-net-effect rows for one chunk: newest (txn, seq) per
        key over the WINDOW segments only (``scan.resolve_arrow``),
        tombstones kept and tagged 'delete' (a scan drops them; a feed
        must deliver them)."""
        import pyarrow.compute as pc

        sch = self.schema_obj
        t = resolve_arrow(
            _read_files(partition.files, sch, True), sch.dim_names, keep_tombstones=True
        )
        change = pc.if_else(_has_value(t, sch.dim_names), "upsert", "delete")
        t = t.append_column("change_type", change).select(sch.column_names + ["change_type", TXN_COL])
        yield from t.cast(to_arrow_schema(_feed_schema(sch))).to_batches()

    def commit(self, end: dict) -> None:
        pass  # cursor durability is the checkpoint's job

    def stop(self) -> None:
        pass
