"""MVCC transaction: buffered writes, segment flush, atomic commit.

Re-creates the reference transaction lifecycle (src/transaction.rs):
``add_row`` (:31-42), ``flush`` (:90-119), ``commit`` (:60-65,
:121-136), ``rollback`` (:50-53, :138-150; also the drop default,
:163-168), ``query`` (:67-85) — on Parquet + the manifest protocol.

Two write paths:
- ``add_row`` / ``add_rows``: driver-buffered, reference-style point
  inserts. Fine for the embedded-API use case; ``flush`` turns the
  buffer into one segment write.
- ``add_dataframe``: the scale path. A distributed DataFrame is
  routed by chunk columns and written directly as a segment —
  no driver materialization, arbitrarily large inputs. This replaces
  the reference example's parser-threads→channel→writer pipeline
  (examples/sensor-log.rs:241-305) with Spark's own parallelism.
  A small generated input (at most ``scan._SINGLE_TASK_MAX_BYTES`` by
  Spark's estimate, over a plan whose every node bounds its estimate,
  on a schema without ``string``/``binary`` columns or ``bloom`` dims)
  is collected with ``toArrow()`` and written on the driver by
  ``scan.write_segment_files``, the segment writer of the ``matdb``
  sinks, like the reference's one writer per flush (segment.rs:30-46);
  no Spark write job runs.

``commit`` publishes through ``manifest.commit``, the one commit
routine the DSv2 sinks share: the manifest lists every flushed
segment's files, with txn stats from their footers.

Every row carries a write sequence (``__seq``): within a transaction
the newest sequence wins at scan time, faithfully producing the
in-place-overwrite upsert semantics of the reference
(src/block.rs:45-49) without mutating files.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, Row, functions as F, types as T

from matdb_spark import manifest, scan, stats
from matdb_spark.scan import (
    ScanSource,
    _chunked,
    iterate_rows,
    scan_dataframe,
)
from matdb_spark.schema import SEQ_COL

#: The packed (txn, seq) version key (scan.py) reserves 32 bits for
#: the per-txn write sequence and 31 for the txn id; both limits are
#: enforced at the cheap driver-side spots so the scan can pack
#: fearlessly. seq counts WRITE CALLS (add_row / add_dataframe), not
#: rows, so 2^32 is unreachable in practice.
_SEQ_LIMIT = 1 << 32

if TYPE_CHECKING:
    from matdb_spark.database import Database


#: Catalyst operators whose size estimate bounds the rows they emit,
#: and the generated leaves, estimated at their rows' in-memory size.
#: ``Generate`` (``explode``, ``inline``, UDTFs) and the Python map
#: nodes (``mapInPandas``, ``mapInArrow``, grouped maps) keep their
#: child's estimate however many rows they emit, so a plan holding one
#: is never small.
_BOUNDED_NODES = frozenset(
    {
        "Project", "Filter", "Union", "Join", "Aggregate", "Deduplicate", "Sort",
        "GlobalLimit", "LocalLimit", "SubqueryAlias", "Repartition", "RepartitionByExpression",
        "Range", "LocalRelation", "OneRowRelation",
    }
)


def _small_write(df: DataFrame) -> bool:
    """Is ``df`` small enough to collect and write on the driver?
    Spark's own size estimate of the analyzed plan (no job) must be at
    most ``scan._SINGLE_TASK_MAX_BYTES``, and every node of the plan
    must be in ``_BOUNDED_NODES``. File and source scans are estimated
    at their compressed on-disk bytes, far below the rows they decode
    to, so compaction, MERGE and UPDATE inputs never qualify;
    Python-row frames (``LogicalRDD``) estimate as unbounded. The
    estimate counts a string or binary value at 20 bytes however long
    it is, so it bounds the collected bytes only for fixed-width rows;
    ``_write_segment`` asks only for schemas without such columns.

    The node names come from one py4j call: the plan's tree string with
    each node's fields cut to one (``toJSON`` costs about 50 ms on an
    ``ingest`` commit's plan, the tree string 2 ms). Each node's line
    begins with its name after the tree's ``:- +-`` prefix; a
    multi-line literal adds lines whose first words may be anything,
    which can only make a plan not small."""
    plan = df._jdf.queryExecution().analyzed()
    tree = plan.treeString(False, False, 1, False, False)
    nodes = {line.lstrip(" :|+-").split(" ", 1)[0] for line in tree.splitlines() if line.strip()}
    return nodes <= _BOUNDED_NODES and plan.stats().sizeInBytes() <= scan._SINGLE_TASK_MAX_BYTES


class Transaction:
    """One writer/reader transaction with snapshot isolation.

    The snapshot — resolved once by the caller (``manifest.resolve``)
    — and its horizon are pinned at construction (reference:
    database.rs:68-72, :85-89); every scan the transaction builds reads
    that one value. The txn id is allocated lazily at first flush
    (reference: transaction.rs:152-160).
    """

    def __init__(
        self, db: "Database", snapshot: manifest.Snapshot, horizon: int, read_only=False
    ):
        self.db = db
        self.schema = db.schema
        self.snapshot = snapshot
        self.horizon = horizon
        self.read_only = read_only
        self.visible_txns = snapshot.txns
        self.txn_id: int | None = None
        self.segments_flushed = 0
        self._buffer: list[tuple] = []
        self._seq = 0
        self._closed = False
        # Data-file paths relative to the txn dir, listed per segment;
        # the commit publishes them and reads the txn stats from their
        # footers (manifest.commit).
        self._txn_files: list[str] = []
        # Key-uniqueness tracking for the manifest's ``unique_keys``
        # stamp (scan.py dedup-free fast path): None = no writes yet;
        # True = exactly one deduplicated add_dataframe; False = any
        # other write history (could hold duplicate keys).
        self._unique_keys: bool | None = None

    # ---- writes -----------------------------------------------------
    def add_row(self, values: Sequence) -> None:
        """Point insert/upsert, positional (dims then values) like the
        reference's ``add_row(&[Datum])`` (transaction.rs:31-42)."""
        self._check_writable()
        expect = len(self.schema.column_names)
        if len(values) != expect:
            raise ValueError(f"expected {expect} column values, got {len(values)}")
        self._seq += 1
        if self._seq >= _SEQ_LIMIT:
            raise ValueError(
                "write-sequence overflow: one transaction made 2^32"
                " writes — split the load across transactions (the"
                " packed (txn, seq) version key reserves 32 bits for"
                " seq; scan.py)"
            )
        self._unique_keys = False
        self._buffer.append(tuple(values) + (self._seq,))

    def add_rows(self, rows: Iterable[Sequence]) -> None:
        for r in rows:
            self.add_row(r)

    def delete_row(self, key: Sequence) -> None:
        """Tombstone a key: upsert with every value cell None. The
        reference has no delete (SURVEY §1.5) — but its own data model
        implies one: unset cells never appear as rows (block.rs:277-279),
        so an all-null newest version is an invisible row. Tombstones
        disappear physically at the next compaction."""
        self.add_row(list(key) + [None] * len(self.schema.values))

    def delete_rows(self, keys: Iterable[Sequence]) -> None:
        for k in keys:
            self.delete_row(k)

    def add_dataframe(
        self,
        df: DataFrame,
        cluster_by: list | None = None,
        partial: bool = False,
        dedup: bool | str = False,
    ) -> None:
        """Bulk upsert of a distributed DataFrame (the 100 TB path).

        The frame must contain the schema's dimension and value columns,
        which ONE projection stamps and casts (``_write_segment``). All
        rows in one call share a write sequence: duplicate keys *within*
        the call resolve arbitrarily (a distributed batch has no
        insertion order); across calls, later calls win.

        ``cluster_by`` overrides the within-partition sort order of the
        written segment (layout only — scan semantics are unaffected):
        a list of Columns/names, e.g. a z-order key from
        ``matdb_spark.zorder`` for multi-dim stats locality.

        ``partial=True`` allows the frame to omit value columns (dims
        are always required); omitted cells are written as null =
        "no write" under the reference's cell model (add_row touches
        only the cells it names, block.rs:45-49). Read the store with
        ``query(cell_merge=True)`` for those semantics — the default
        row-level scan treats the partial row as the whole new version.

        ``dedup`` earns the manifest's ``unique_keys`` stamp at WRITE
        time: when this is the transaction's only write, scans of a
        snapshot that is exactly this txn skip the version-dedup
        shuffle (scan.py fast path) — the load-once / read-many
        pattern gets dedup-free reads without a compaction.
        ``dedup=True`` deduplicates the frame on the key here (one
        extra shuffle at load; within-call duplicate keys already
        resolve arbitrarily, so dropping all but one is
        semantics-preserving). ``dedup="assume"`` skips that work on
        the CALLER'S GUARANTEE that keys are unique — a wrong promise
        silently produces duplicate rows in every scan, so only pass
        it for sources with an enforced key (e.g. an export of another
        store's resolved snapshot).
        """
        self._check_writable()
        # identity checks, not ==: dedup=1 passes `in (False, True, ...)`
        # membership yet would skip the `dedup is True` branch and still
        # stamp unique_keys — the silent-duplicates hazard validation
        # exists to block
        if not (dedup is False or dedup is True or dedup == "assume"):
            raise ValueError(f"dedup={dedup!r}; expected False, True, or 'assume'")
        if dedup is True and partial:
            # whole-row dedup is NOT semantics-preserving under the cell
            # model: of two partial rows for one key, dropDuplicates
            # keeps one arbitrarily and discards the other's non-null
            # cells that query(cell_merge=True) would have kept
            raise ValueError(
                "dedup=True cannot combine with partial=True (whole-row "
                "dedup drops cells that cell-level resolution keeps); "
                "use dedup='assume' if the keys are genuinely unique"
            )
        self._seq += 1
        if self._seq >= _SEQ_LIMIT:
            raise ValueError(
                "write-sequence overflow: one transaction made 2^32"
                " writes (see add_row)"
            )
        present = set(df.columns)
        for name in self.schema.dim_names:
            if name not in present:
                raise ValueError(f"missing dimension column {name!r}")
        for name in self.schema.value_names:
            if name not in present and not partial:
                raise ValueError(
                    f"missing value column {name!r} (pass partial=True to "
                    "write a partial-column upsert)"
                )
        sources = {n: f"`{n}`" if n in present else "NULL" for n in self.schema.column_names}
        sources[SEQ_COL] = str(self._seq)
        if dedup is True:
            df = df.dropDuplicates(self.schema.dim_names)
        first_write = self._unique_keys is None and not self._buffer
        self._write_segment(df, sources, cluster_by=cluster_by)
        self._unique_keys = bool(dedup) and first_write

    def merge_dataframe(
        self,
        source: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
    ) -> None:
        """MERGE semantics composed from the engine's own primitives
        (SURVEY §2.1 O5 maps the reference's upsert to "MERGE INTO if
        we adopt Delta" — this is the native form, no Delta needed).

        ``when_matched``: 'update' (source row replaces), 'ignore'
        (existing row wins), or 'delete' (tombstone the key).
        ``when_not_matched``: 'insert' or 'ignore'.

        Matching is against THIS transaction's current visible state
        (snapshot + own writes). Implementation is a pair of semi/anti
        joins against the snapshot keys — one extra scan, no driver
        materialization; the default ('update', 'insert') shortcut is
        the plain upsert with no join at all.
        """
        if when_matched not in ("update", "ignore", "delete"):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        if when_matched == "update" and when_not_matched == "insert":
            self.add_dataframe(source)  # plain upsert — no join needed
            return

        dims = self.schema.dim_names
        existing_keys = self.query(ordered=False).select(*dims)
        matched = source.join(existing_keys, dims, "left_semi")
        unmatched = source.join(existing_keys, dims, "left_anti")

        parts: list[DataFrame] = []
        if when_matched == "update":
            parts.append(matched.select(*self.schema.column_names))
        elif when_matched == "delete":
            tombstones = matched.select(
                *dims,
                *[
                    F.lit(None).cast(self.schema.spark_schema()[v.name].dataType).alias(v.name)
                    for v in self.schema.values
                ],
            )
            parts.append(tombstones)
        if when_not_matched == "insert":
            parts.append(unmatched.select(*self.schema.column_names))
        if not parts:
            return
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=False)
        self.add_dataframe(out)

    # ---- flush / segments ------------------------------------------
    def _ensure_txn_id(self) -> int:
        if self.txn_id is None:
            self.txn_id = self.db.allocate_txn_id()
        return self.txn_id

    def _write_segment(self, df: DataFrame, sources: dict | None = None, cluster_by=None) -> None:
        """Write one segment (reference: one file per flush,
        segment.rs:30-46): each staging column is its ``sources`` SQL
        expression (default: ``df``'s column) cast to its declared type,
        in ONE ``selectExpr`` (SQL text, see ``scan._range_filters``); a
        null dim raises ``null dimension`` inside it. That projection is
        written one of two ways:
        - small (``_small_write``), with no ``bloom`` dim, no
          ``string``/``binary`` column and no ``cluster_by``: collected
          with ``toArrow()`` in one Spark job and written on the driver
          by ``scan.write_segment_files``, the segment writer of the
          ``matdb`` sinks, which routes rows by chunk, key-sorts each
          chunk's file and reports the files it wrote;
        - otherwise Spark's parquet writer over the same projection
          with the chunk columns added (``scan._chunked``, still one
          ``selectExpr``), whose layout discipline is
          the engine's physical strategy at scale: rows are repartitioned
          by chunk (or range-partitioned with ``cluster_by``) so each
          chunk's rows are produced by few tasks, routed by chunk
          columns (``partitionBy``) so the reader gets Hive partition
          pruning (reference chunk routing, schema.rs:28-38), and
          sorted within partitions by key so Parquet row-group min/max
          stats act as the reference's zone maps (block.rs:210-232);
          the segment's files are then listed
          (``stats.collect_segment_info``).
        Either way each chunk dir of a small input gets one file
        holding the same rows in key order.
        """
        txn = self._ensure_txn_id()
        seg = self.segments_flushed
        tdir = manifest.txn_data_dir(self.db.path, txn)

        schema = self.schema
        dims = set(schema.dim_names)

        # Canonicalize column types so every segment file carries the
        # exact declared schema — mixed int/long inputs must not create
        # per-segment parquet schema drift (breaks multi-segment scans).
        def canon(f) -> str:
            expr = f"CAST({(sources or {}).get(f.name, f'`{f.name}`')} AS {f.dataType.simpleString()})"
            if f.name not in dims:
                return expr
            msg = scan._sql_literal(
                f"null dimension {f.name!r}: dimension values are the key and must be non-null", "string"
            )
            return f"CASE WHEN {expr} IS NULL THEN raise_error({msg}) ELSE {expr} END"

        staging = schema.staging_schema().fields
        cols = {f.name: canon(f) for f in staging}
        small = None
        if (
            cluster_by is None
            and not any(d.bloom for d in schema.dimensions)
            # Spark estimates a string or binary value at 20 bytes,
            # however long it is: only fixed-width rows are bounded by
            # the estimate _small_write reads
            and not any(isinstance(f.dataType, (T.StringType, T.BinaryType)) for f in staging)
        ):
            small = df.selectExpr(*[f"{e} AS `{name}`" for name, e in cols.items()])
            small = small if _small_write(small) else None
        if small is not None:
            files = scan.write_segment_files(small.toArrow().to_batches(), schema, tdir, seq=None, seg=seg)
        else:
            out = _chunked(df, schema, cols)
            chunk_cols = schema.chunk_cols
            # cluster_by replaces the key sort (e.g. z-order interleave)
            # — a layout choice; chunk routing always stays outermost so
            # partition pruning is unaffected.
            sort_cols = chunk_cols + list(cluster_by or schema.dim_names)
            if cluster_by is not None:
                # Clustered rewrite: RANGE-partition on (chunks, cluster
                # key) so the clustering is GLOBAL — every task (hence
                # every file) owns a contiguous cluster-key range. A hash
                # repartition would scatter the key space across tasks
                # and cap locality at the file-interior level. (This is
                # the public OPTIMIZE ZORDER shape: range partition +
                # sort.)
                try:
                    # may be non-numeric on some platforms (e.g. "auto")
                    nparts = int(
                        out.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
                    )
                except ValueError:
                    nparts = 200
                out = out.repartitionByRange(nparts, *sort_cols)
            elif chunk_cols:
                out = out.repartition(*chunk_cols)
            out = out.sortWithinPartitions(*sort_cols)
            writer = out.write.mode("error")
            for d in schema.dimensions:
                if d.bloom:
                    # Parquet bloom filter per segment file: row-group
                    # skipping for point probes on non-leading dims,
                    # where the within-partition sort gives min/max
                    # stats no selectivity (SURVEY §2.1 O8's zone maps
                    # only help the leading key).
                    writer = writer.option(f"parquet.bloom.filter.enabled#{d.name}", "true")
            if chunk_cols:
                writer = writer.partitionBy(*chunk_cols)
            seg_dir = f"{tdir}/seg={seg}"
            writer.parquet(seg_dir)
            files = [f"seg={seg}/{rel}" for rel in stats.collect_segment_info(seg_dir)]
        self._txn_files += files
        self.segments_flushed += 1

    def flush(self) -> None:
        """Persist buffered rows as a new segment
        (reference: transaction.rs:90-119)."""
        self._check_open()
        if not self._buffer:
            return
        df = self.db.spark.createDataFrame(self._buffer, self.schema.staging_schema())
        self._buffer = []
        self._unique_keys = False
        self._write_segment(df)

    # ---- read -------------------------------------------------------
    def _source(self) -> ScanSource:
        return ScanSource(
            snapshot=self.snapshot,
            schema=self.schema,
            own_txn=self.txn_id,
            own_staged_segments=self.segments_flushed,
            buffered_rows=list(self._buffer),
        )

    def query(
        self,
        ordered: bool = True,
        include_txn: bool = False,
        cell_merge: bool = False,
    ) -> DataFrame:
        """The one query operator (reference: transaction.rs:67-85 →
        scan.rs): every visible row, one version per key, newest wins,
        in ascending key order. Returns a DataFrame — the full Spark
        analytics surface (joins/aggs/windows/SQL) applies on top.

        ``cell_merge=True`` resolves versions per VALUE CELL instead of
        per row — each column's newest non-null write wins
        independently, faithfully reproducing the reference's in-place
        cell overwrite (block.rs:45-49) for partial-column upserts
        (``add_dataframe(..., partial=True)``). Row-level (default)
        remains the mode that supports all-null tombstone deletes."""
        self._check_open()
        return scan_dataframe(
            self.db.spark,
            self._source(),
            ordered=ordered,
            include_txn=include_txn,
            cell_merge=cell_merge,
        )

    def query_range(
        self,
        bounds: dict[str, tuple],
        ordered: bool = True,
        include_txn: bool = False,
        cell_merge: bool = False,
    ) -> DataFrame:
        """Key-range scan: like ``query`` but with inclusive per-dim
        bounds ``{dim: (lo, hi)}`` (either side None for open) applied
        AT THE SCAN — chunked dims prune whole partition directories
        (the reference's chunk routing, schema.rs:28-38) and parquet
        row-group stats skip blocks inside them (its zone maps,
        segment.rs:138-163). The reference exposes no filtered query;
        this is its missing range-scan made first-class.

        Bounds may name DIMENSIONS only: a pre-dedup filter on a value
        column would drop old versions row-by-row and CHANGE version
        resolution (filter value columns on the returned DataFrame
        instead — that commutes).

        When the pruned file set is small (at most
        ``scan._SINGLE_TASK_MAX_FILES`` committed files of at most
        ``scan._SINGLE_TASK_MAX_BYTES`` on disk and decoded, no flushed
        segment of this transaction), the read is served on the driver
        and runs HERE, when the DataFrame is built: the DataFrame holds
        the result as a local relation, and collecting it runs no Spark
        job. Otherwise it is a lazy Spark plan, run by an action."""
        self._check_open()
        dims = set(self.schema.dim_names)
        bad = sorted(set(bounds or {}) - dims)
        if bad:
            raise ValueError(
                f"query_range bounds name non-dimension column(s) {bad}; "
                f"dimensions are {sorted(dims)}"
            )
        return scan_dataframe(
            self.db.spark,
            self._source(),
            ordered=ordered,
            include_txn=include_txn,
            bounds=bounds,
            cell_merge=cell_merge,
        )

    def query_points(
        self,
        keys: Iterable[Sequence],
        ordered: bool = True,
        include_txn: bool = False,
    ) -> DataFrame:
        """Point lookups: rows whose full dimension tuple is in
        ``keys``. Each key is its own box for pruning: a transaction is
        read only if its manifest stats may hold one of the keys, and of
        its files only those in the chunk directories of the keys it
        may hold — so 8 keys read about 8 files, not every file under
        the key set's min..max envelope.

        When those files are few and small (as for ``query_range``), the
        read is served on the driver and runs HERE, when the DataFrame
        is built: pyarrow reads the files with the key set and its
        envelope as the dataset filter (row-group stats skip what they
        can), and the DataFrame holds the result as a local relation,
        so collecting it runs no Spark job. Otherwise it is a lazy Spark
        plan, run by an action, whose exact key-set predicate (``IN``
        for one dim, an OR of ANDs otherwise) reaches the parquet scan,
        where row-group stats and, where enabled, parquet bloom filters
        on dims skip what the sort order can't. The predicate
        references dim columns only, so it commutes with version
        dedup."""
        self._check_open()
        dims = self.schema.dim_names
        # accept mappings keyed by dim name as well as positional
        # sequences — tuple(dict) silently yields the KEY NAMES, which
        # previously produced a nonsense string envelope
        pts = [
            tuple(k[d] for d in dims) if isinstance(k, dict) else tuple(k)
            for k in keys
        ]
        # reject strings only where the SCHEMA says the dim is numeric —
        # string-typed (non-chunked) dimensions are legal and their keys
        # are legitimately strings; the blanket guard existed to catch
        # tuple(dict) misuse, which the mapping branch above now handles
        dim_types = [d.type for d in self.schema.dimensions]
        for p in pts:
            if len(p) != len(dims):
                raise ValueError(f"key {p!r} must have {len(dims)} dimension values")
            for v, dt, name in zip(p, dim_types, dims):
                if isinstance(v, str) and dt != "string":
                    raise TypeError(
                        f"key {p!r}: dimension {name!r} is {dt}, got a string "
                        "— pass value sequences or {dim: value} mappings"
                    )
        if not pts:
            return self.query(ordered=ordered, include_txn=include_txn).limit(0)
        return scan_dataframe(
            self.db.spark,
            self._source(),
            ordered=ordered,
            include_txn=include_txn,
            bounds=[{d: (v, v) for d, v in zip(dims, p)} for p in pts],
        )

    def query_rows(self) -> Iterator[Row]:
        """Iterate results reference-style without driver collect."""
        return iterate_rows(self.query(ordered=True))

    def sql_view(self, name: str) -> None:
        """Expose the snapshot as a temp view for spark.sql()."""
        self.query(ordered=False).createOrReplaceTempView(name)

    # ---- commit / rollback -----------------------------------------
    def commit(
        self, replaces: list[int] | None = None, extra: dict | None = None
    ) -> None:
        """Flush then atomically publish (reference: transaction.rs:60-65)
        through ``manifest.commit``, the commit routine every writer
        shares: it lists the files of every flushed segment, takes the
        txn stats from their footers, publishes and folds a checkpoint.

        A transaction that never wrote commits as a no-op (no txn id is
        ever allocated — mirroring lazy id allocation). ``replaces``
        marks this commit as a compaction superseding those txns;
        ``extra`` is recorded verbatim in the manifest payload."""
        self._check_open()
        self.flush()
        if self.txn_id is not None:
            payload = dict(extra or {})
            if self._unique_keys is True:
                payload.setdefault("unique_keys", True)
            manifest.commit(
                self.db.path,
                self.txn_id,
                self.schema,
                self._txn_files,
                self.segments_flushed,
                replaces=replaces,
                extra=payload,
            )
            self.db.next_txn_id = max(self.db.next_txn_id, self.txn_id + 1)
            # The txn is durably published from this point: close the
            # handle BEFORE the post-commit policy hook, which may open
            # (and commit) compaction transactions of its own, so a
            # failure there can never route through rollback().
            self._closed = True
            self.db._after_commit(compaction=bool(replaces))
        self._closed = True

    def rollback(self) -> None:
        """Discard buffered rows and staged segments
        (reference: transaction.rs:50-53, :138-150)."""
        if self._closed:
            return
        self._buffer = []
        if self.txn_id is not None:
            manifest.discard_txn_data(self.db.path, self.txn_id)
            manifest.release_txn_reservation(self.db.path, self.txn_id)
        self._closed = True

    # Context-manager protocol: rollback is the default on exit, as in
    # the reference's Drop impl (transaction.rs:163-168).
    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if not self._closed:
            self.rollback()

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("transaction is closed")

    def _check_writable(self) -> None:
        self._check_open()
        if self.read_only:
            raise RuntimeError(
                "time-travel (as_of) transactions are read-only: a write "
                "from a historical horizon would silently drop every "
                "commit after it"
            )
