"""The query operator: snapshot scan with version resolution.

The reference's entire query surface is one operator — an ordered,
k-way merge over every visible block, deduplicating equal keys to the
newest transaction (reference: src/scan.rs:55-239; contract
README.md:61-66, :107-109). Rebuilt Spark-first, that operator is a
*declarative plan*, not a merge loop:

    parquet scan of pinned visible files        (O1 source)
      → union with staged / in-memory rows      (P9 read-your-own-writes)
      → groupBy(dims).agg(max_by(values, (txn, seq)))   (O2 version dedup)
      → orderBy(dims)                           (O1 ordering contract)

Catalyst supplies everything the reference hand-built:
- lazy block activation (scan.rs:119-180) → Parquet row-group
  on-demand reads + min/max stats skipping,
- zone maps (segment.rs:138-163) → Parquet column statistics,
- chunk routing (schema.rs:28-38) → Hive partition pruning on
  ``__chunk_*`` directory columns,
- the merge itself → hash aggregation (one shuffle, map-side partial
  aggregation) instead of a single-threaded k-way merge.

Version resolution implements the *documented* newest-txn-wins
semantics (README.md:107-109) — the reference's code path is stubbed
(scan.rs:162 tags every live source ``TransactionId::MAX``); see
SURVEY §2.1 O2. Within-transaction duplicates resolve to the highest
write sequence (last-write-wins, mirroring the in-place cell overwrite
of block.rs:45-49). This module owns the rule for every read path:
``resolve_arrow`` applies it to an Arrow table for the readers that
resolve without Spark (the driver read below and the DSv2 snapshot and
change-feed readers), with keys compared as Spark's grouping compares
them (NaN equals NaN, −0.0 equals 0.0 and is emitted as 0.0).

Scale: a full or key-range scan shuffles once for the dedup
aggregation, partitioned by the full dimension tuple (maximum key
cardinality → no skew beyond actual key skew, which AQE skew handling
covers), plus the range shuffle of the ordering sort; ``ordered=False``
skips the latter. A point get prunes per key instead of by the key
set's envelope: a transaction is read only if its manifest stats may
hold one of the keys, and of its files only the chunk directories of
THOSE keys (``read_plan``).

Small reads run on the driver. When a bounded read (point get or key
range) is left with at most ``_SINGLE_TASK_MAX_FILES`` committed files
of at most ``_SINGLE_TASK_MAX_BYTES`` on disk and decoded, no Spark
plan is built: pyarrow reads the files with the boxes as its dataset
filter, ``resolve_arrow`` resolves versions, and the result is handed
back as a local DataFrame (``_driver_read``). Such a read runs when it
is built; every other read is a lazy Spark plan that runs when an
action is called. The two agree row for row and in schema.

Plans are built as SQL text (``_sql_literal``, ``_range_filters``,
``_key_predicate``, one ``filter`` and one ``selectExpr`` per source),
not Column by Column: PySpark's origin capture makes every
``pyspark.sql.functions`` call and Column method cost about 8 py4j
round trips, which made building a small read cost more than running it.
"""

from __future__ import annotations

import datetime
import decimal
import math
import numbers
import os
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T

from matdb_spark.schema import Schema, SEQ_COL, TXN_COL, _dtype
from matdb_spark.stats import spark_order
from matdb_spark import manifest, stats


@dataclass
class ScanSource:
    """Pinned inputs of one snapshot scan (reference: ScanSource,
    database.rs:91-98 + transaction.rs:67-85): the ``manifest.Snapshot``
    resolved once at transaction start — its visible txns are what the
    scan reads, and its manifests answer every planning question, so
    lazy execution cannot see later commits (SURVEY §7.4.2) and
    planning reads no manifest — plus the transaction's own writes."""

    snapshot: manifest.Snapshot
    schema: Schema
    own_txn: int | None = None          # this txn's staged (flushed) data
    own_staged_segments: int = 0
    buffered_rows: list[tuple] = field(default_factory=list)  # unsaved, with seq


def _chunked(df: DataFrame, schema: Schema, cols: dict[str, str] | None = None) -> DataFrame:
    """``df`` projected to ``cols`` (output name -> SQL expression;
    default: every column of ``df`` as is) plus the partition columns
    ``__chunk_<dim> = dim // chunk_size``, in ONE ``selectExpr``. Each
    chunk expression reads its dim through that dim's ``cols``
    expression, as a separate projection over ``cols`` would.

    Exact integer floor division (``x - pmod(x, s)`` is the greatest
    multiple of ``s`` ≤ ``x``, and ``div`` on it is exact), matching
    the Python ``//`` used by the read-side chunk-range predicates in
    ``_range_filters`` for every integral value — including negatives
    (where ``div`` alone truncates toward zero) and keys above 2^53
    (where ``floor(x / s)`` in double arithmetic is inexact). Write
    routing and read pruning must share one arithmetic or rows near
    chunk boundaries silently vanish from range scans."""
    cols = cols or {c: f"`{c}`" for c in df.columns}
    exprs = [f"{e} AS `{name}`" for name, e in cols.items()]
    for d in schema.chunked_dims:
        n, s = f"({cols[d.name]})", int(d.chunk_size)
        if d.type.startswith("decimal"):
            # div would narrow to BIGINT and overflow near 2^64; stay
            # in decimal (exact: numerator is a multiple of s, and
            # x - pmod stays inside decimal(20,0)'s ±1e20 headroom).
            expr = f"CAST(({n} - pmod({n}, {s})) / {s} AS {d.type})"
        else:
            # floor division via truncate-and-correct: `div` truncates
            # toward zero, so subtract 1 for inexact negative
            # quotients. No intermediate can overflow — the earlier
            # (x - pmod(x, s)) form underflowed at the type minimum
            # (INT_MIN/LONG_MIN), mis-routing those rows to a chunk the
            # read-side floor predicates then pruned away.
            expr = (
                f"({n} div {s}) - "
                f"(CASE WHEN ({n} % {s}) != 0 AND {n} < 0 THEN 1 ELSE 0 END)"
            )
        exprs.append(f"{expr} AS `{d.chunk_col}`")
    return df.selectExpr(*exprs)


def _floor_div(x, size: int):
    """Exact floor(x / size) for int OR decimal.Decimal bounds. A bare
    ``x // size`` is wrong for Decimal — decimal floor-division
    truncates toward zero (Decimal(-5) // 10 == -0), which would build
    an over-tight chunk predicate that prunes away the partition the
    write side routed a negative key to. An infinite bound stays
    infinite: Python's ``-inf // size`` is NaN, which as a lower chunk
    bound kept no chunk at all."""
    if isinstance(x, decimal.Decimal):
        return math.floor(x / decimal.Decimal(size))
    if isinstance(x, float) and math.isinf(x):
        return x
    return x // size


def _arrow_chunks(table, schema: Schema) -> list:
    """``_chunked``'s chunk columns over an Arrow table: one array per
    chunked dim, ``floor(dim / chunk_size)`` with the same result for
    every key, so a segment an Arrow writer routes is pruned like one
    Spark routed. ``divide`` truncates integers toward zero: inexact
    negative quotients step down by one (``q * s`` never overflows, as
    ``|q * s| <= |x|``). A decimal quotient keeps
    ``len(str(size)) + 1`` fraction digits, enough to show any nonzero
    remainder, so its floor is exact; decimal256 leaves room for that
    scale at any chunk size."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for d in schema.chunked_dims:
        x, s = table[d.name], int(d.chunk_size)
        if d.type.startswith("decimal"):
            q = pc.divide(x.cast(pa.decimal256(20, 0)), pa.scalar(decimal.Decimal(s), pa.decimal256(len(str(s)), 0)))
            out.append(pc.floor(q).cast(pa.decimal128(20, 0)))
        else:
            x = x.cast(pa.int64())
            q = pc.divide(x, s)
            inexact = pc.and_(pc.less(x, 0), pc.not_equal(pc.multiply(q, s), x))
            out.append(pc.subtract(q, inexact.cast(pa.int64())))
    return out


def _chunk_ranges(schema: Schema, bounds: dict[str, tuple]) -> dict[str, tuple]:
    """chunk_col -> (chunk_lo|None, chunk_hi|None) for every bounded,
    chunked dim — the Python twin of the chunk predicates in
    ``_range_filters`` (same ``_floor_div`` arithmetic on both sides)."""
    out: dict[str, tuple] = {}
    by_name = {d.name: d for d in schema.dimensions}
    for name, (lo, hi) in (bounds or {}).items():
        d = by_name[name]
        if not d.chunk_size:
            continue
        out[d.chunk_col] = (
            _floor_div(lo, d.chunk_size) if lo is not None else None,
            _floor_div(hi, d.chunk_size) if hi is not None else None,
        )
    return out


def _chunk_matches(parts: dict[str, str], chunk_ranges: dict[str, tuple]) -> bool:
    """Do a file's ``__chunk_<dim>=<v>`` directory components (``parts``)
    lie inside one box's chunk ranges? A component the path lacks, or
    cannot parse, cannot prune."""
    for ccol, (clo, chi) in chunk_ranges.items():
        v = parts.get(ccol)
        if v is None:
            continue
        try:
            iv = int(v)
        except ValueError:
            continue
        if (clo is not None and iv < clo) or (chi is not None and iv > chi):
            return False
    return True


def _select_manifest_files(files: list[str], chunk_ranges) -> list[str]:
    """Chunk-prune a manifest file list driver-side: keep only paths
    whose ``__chunk_<dim>=<v>`` directory components intersect the
    bounds. ``chunk_ranges`` is one box's ranges (``_chunk_ranges``) or
    a list of them, one per box; a path is kept if ANY box keeps it.
    Paths without a referenced chunk component are kept (cannot prune
    ⇒ read).

    A box that pins every chunk column (a point key) matches exactly
    one chunk tuple, so those boxes are tested by set membership —
    O(files + boxes) rather than O(files × boxes); only the other
    boxes (ranges) are tested one by one."""
    boxes = [chunk_ranges] if isinstance(chunk_ranges, dict) else chunk_ranges
    if not all(boxes):  # a box without chunk bounds keeps every file
        return files
    cols = list(boxes[0])
    pinned: set[tuple] = set()
    ranged = []
    for cr in boxes:
        if list(cr) == cols and all(lo is not None and lo == hi for lo, hi in cr.values()):
            pinned.add(tuple(lo for lo, _ in cr.values()))
        else:
            ranged.append(cr)
    keep = []
    for f in files:
        parts = dict(p.split("=", 1) for p in f.split("/") if "=" in p)
        try:
            hit = tuple(int(parts[c]) for c in cols) in pinned
        except (KeyError, ValueError):  # no full chunk tuple: test every box
            hit = any(_chunk_matches(parts, cr) for cr in boxes)
        if hit or any(_chunk_matches(parts, cr) for cr in ranged):
            keep.append(f)
    return keep


#: above this many explicit paths, pass directories instead (py4j
#: argument-marshalling and driver plan size outweigh listing savings)
_MAX_EXPLICIT_PATHS = 50_000

#: a bounded read (point get or key range) whose pruned file set is at
#: most this many explicit committed files, of at most
#: ``_SINGLE_TASK_MAX_BYTES`` on disk and decoded, is served on the
#: driver (``_driver_read``): pyarrow reads the files, ``resolve_arrow``
#: resolves versions, and the result comes back as a local DataFrame,
#: so no Spark plan runs and the read happens when it is built. 8 is
#: the storebench ``lookup`` point get (8 keys in 8 small files);
#: larger sets take the parallel Spark plan
_SINGLE_TASK_MAX_FILES = 8

#: byte cap of the small-input rule, for reads and writes: Spark's
#: default ``spark.sql.files.openCostInBytes``, the bytes its planner
#: reckons one more file open costs — an input no larger cannot repay
#: the stages that spreading it over cores adds. A read tests the
#: pruned files' on-disk sizes (``_small_input``) and then the
#: uncompressed sizes of their row groups from the footers it opens
#: (``_read_files``), so a highly compressible file set cannot decode
#: to far more on the driver. A commit uses Spark's size estimate of
#: its generated input (``transaction._small_write``): at most this
#: many bytes, it is collected and its segment written on the driver
#: (``write_segment_files``). The estimate counts a string or binary
#: value at 20 bytes, so only a schema without such columns takes
#: that path, and for it the cap also bounds what a commit holds in
#: driver memory. Median of 14 storebench ``ingest``-shaped
#: commits (72k rows, 3.5 MiB estimated) on a shared 4-vCPU host:
#: 304 ms written on the driver, 684 ms through Spark's chunk
#: exchange. Larger inputs keep Spark's parallel writer: forced to one
#: task, 288k rows (14 MiB) already took longer than the exchange
_SINGLE_TASK_MAX_BYTES = 4 * 1024 * 1024


def _small_input(paths: list[str]) -> bool:
    """Are ``paths`` (explicit data files) few and small enough on disk
    for a driver read? A file that cannot be sized counts as large."""
    if len(paths) > _SINGLE_TASK_MAX_FILES:
        return False
    try:
        return sum(os.path.getsize(p) for p in paths) <= _SINGLE_TASK_MAX_BYTES
    except OSError:
        return False


def _read_schema(schema: Schema):
    """Explicit Parquet read schema for segment scans: file columns
    (dims, values, write sequence) plus the partition-directory columns
    (``txn``, ``seg``, ``__chunk_*``).

    The schema is *catalog metadata* (schema.json), exactly as in the
    reference (schema.rs:40-55, schema.json is authoritative; file
    contents never define the schema) — so the reader never infers or
    merges Parquet footers. Columns a file predates (additive value
    evolution) resolve to typed nulls by Spark's by-name clipping; a
    never-evolved store skips even the single-footer inference read.
    At 100 TB this removes the O(#file-footers) driver-coordinated
    mergeSchema job an evolved store used to pay on EVERY snapshot
    read."""
    from pyspark.sql import types as T

    fields = [T.StructField(f.name, f.dataType, True) for f in schema.spark_schema()]
    fields.append(T.StructField(SEQ_COL, T.LongType(), True))
    fields.append(T.StructField("txn", T.LongType(), True))
    fields.append(T.StructField("seg", T.IntegerType(), True))
    for d in schema.chunked_dims:
        # _chunked computes LONG for integral dims (`div`), the decimal
        # type itself for decimal dims — partition values parse back
        # under the same type so read predicates compare exactly.
        ctype = _dtype(d.type) if d.type.startswith("decimal") else T.LongType()
        fields.append(T.StructField(d.chunk_col, ctype, True))
    return T.StructType(fields)


def _sql_literal(value, dim_type: str) -> str:
    """``value`` as Spark SQL literal text for comparison with a
    ``dim_type`` column, exact for every key type a store holds: it
    parses back to an equal value under any parser setting.

    Integers render as digits — INT, BIGINT or DECIMAL by magnitude,
    the types ``F.lit`` gives them — or as a DECIMAL (``BD``) literal
    for a decimal dim; floats as a cast of their shortest round-trip
    text (NaN and infinities included); strings and bytes as hex, so
    no quote or backslash escaping applies; dates and timestamps as the
    day and microsecond counts ``createDataFrame`` stores for them."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, numbers.Integral):
        return f"{int(value)}BD" if dim_type.startswith("decimal") else str(int(value))
    if isinstance(value, decimal.Decimal):
        return f"{value:f}BD"
    if isinstance(value, numbers.Real):
        return f"CAST('{float(value)!r}' AS DOUBLE)"
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, (bytes, bytearray)):
        return f"X'{bytes(value).hex()}'"
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP_MICROS({T.TimestampType().toInternal(value)})"
    if isinstance(value, datetime.date):
        return f"DATE_FROM_UNIX_DATE({T.DateType().toInternal(value)})"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


#: Spark compares −0.0 equal to 0.0, but the parquet reader's pushed
#: filters compare float statistics and dictionaries bit-wise, so a
#: pushed ``x = -0.0`` drops a row group whose dictionary holds 0.0; a
#: zero bound or key on these dims is pushed as the range
#: [−0.0, 0.0], which holds both zeros in either order
_FLOAT_TYPES = ("double", "float")


def _range_filters(
    schema: Schema, bounds: dict[str, tuple], with_chunks: bool
) -> list[str]:
    """SQL conditions for a key-range scan: per bounded dim, a row-level
    predicate (drives parquet row-group min/max skipping — the zone
    maps of segment.rs:138-163) and, when the dim is chunked and the
    relation still carries its ``__chunk_*`` partition column, the
    derived chunk-range predicate floor(lo/size)..floor(hi/size) —
    which Catalyst turns into Hive partition pruning (the merge-scan's
    lazy block activation, scan.rs:119-180, at directory granularity).

    Text, not Columns: every ``pyspark.sql.functions`` call and Column
    method pays PySpark's origin capture (about 8 py4j round trips),
    while the conditions' text is parsed JVM-side in one call."""
    # chunk predicates from the SAME arithmetic as the driver-side
    # manifest file pruning (_chunk_ranges/_floor_div) — one source of
    # truth, so the two pruning layers cannot desynchronize
    ranges = {**bounds, **(_chunk_ranges(schema, bounds) if with_chunks else {})}
    types = {n: d.type for d in schema.dimensions for n in (d.name, d.chunk_col)}
    conds = []
    for name, (lo, hi) in ranges.items():
        if types[name] in _FLOAT_TYPES:  # cover both zeros (see _FLOAT_TYPES)
            lo, hi = (-0.0 if lo == 0 else lo), (0.0 if hi == 0 else hi)
        if lo is not None:
            conds.append(f"`{name}` >= {_sql_literal(lo, types[name])}")
        if hi is not None:
            conds.append(f"`{name}` <= {_sql_literal(hi, types[name])}")
    return conds


def _key_predicate(schema: Schema, keys: list[tuple]) -> str:
    """SQL text: the row's full dim tuple is one of ``keys`` — ``IN
    (...)`` for a single dim, an OR of ANDs otherwise, parsed JVM-side
    in one call instead of several py4j calls per key (see
    ``_range_filters``). Both forms push down to the parquet scan
    (In / Or(And(EqualTo)))."""
    dims = schema.dimensions

    def zero(d, v) -> bool:  # a float zero key matches both zeros
        return d.type in _FLOAT_TYPES and v == 0

    def eq(d, v) -> str:
        if zero(d, v):
            return " AND ".join(_range_filters(Schema([d]), {d.name: (v, v)}, False))
        return f"`{d.name}` = {_sql_literal(v, d.type)}"

    if len(dims) == 1 and not any(zero(dims[0], k[0]) for k in keys):
        lits = ", ".join(_sql_literal(k[0], dims[0].type) for k in keys)
        return f"`{dims[0].name}` IN ({lits})"
    return " OR ".join("(" + " AND ".join(eq(d, v) for d, v in zip(dims, k)) + ")" for k in keys)


def _is_point(lo, hi) -> bool:
    """Does the bound pair ``(lo, hi)`` pin one key (NaN pins NaN)?"""
    return lo is not None and (lo == hi or (lo != lo and hi != hi))


def _union_predicate(schema: Schema, boxes: list[dict[str, tuple]]) -> str | None:
    """SQL text: the row lies in one of ``boxes`` — None for a single
    box, which the envelope already is. Boxes that each pin every dim
    (a point get's keys) become ``_key_predicate``'s key set, which
    pushes down as ``In``/``EqualTo``; other boxes an OR of their
    range conditions."""
    if len(boxes) < 2:
        return None
    dims = schema.dim_names
    if all(set(b) == set(dims) and all(_is_point(*b[d]) for d in dims) for b in boxes):
        return _key_predicate(schema, [tuple(b[d][0] for d in dims) for b in boxes])
    conds = [_range_filters(schema, b, False) for b in boxes]
    if not all(conds):  # an unbounded box holds every row
        return None
    return " OR ".join("(" + " AND ".join(c) + ")" for c in conds)


def _envelope(boxes: list[dict[str, tuple]]) -> dict[str, tuple]:
    """One box covering every box: per dim, the least lo and greatest
    hi in Spark's order, where NaN sorts above every other double (None
    — open — when any box leaves that side open or does not bound the
    dim at all)."""
    env = {}
    for name in dict.fromkeys(n for b in boxes for n in b):
        los = [b.get(name, (None, None))[0] for b in boxes]
        his = [b.get(name, (None, None))[1] for b in boxes]
        env[name] = (
            None if None in los else min(los, key=spark_order),
            None if None in his else max(his, key=spark_order),
        )
    return env


def plan_txns(
    snap: manifest.Snapshot, boxes: list[dict[str, tuple]]
) -> tuple[dict[int, list[int]], bool, dict[int, int]]:
    """``(kept, dedup_free, ranks)`` of a read of ``snap``'s committed
    rows inside ``boxes`` (none: all rows) — the one planning rule of
    ``scan_dataframe`` and the DSv2 reader. ``kept`` maps each txn the
    read must open to the indices of the boxes it may hold."""
    kept: dict[int, list[int]] = {}
    for t in snap.txns:
        # A txn that wrote no data file (an empty commit) adds no rows
        # or paths; it must not turn off the dedup-free plan.
        if snap.files(t) == []:
            continue
        # Tier-0 pruning: drop whole transactions whose manifest stats
        # (txn-level zone maps, stats.py) cannot intersect any box —
        # before any file listing or Spark job. Every (txn, box) pair
        # is checked, since file pruning needs each txn's own boxes.
        # Missing stats keep the txn for every box (correctness never
        # depends on stats). Looked up on the module at call time, so a
        # wrapper installed on ``stats.txn_intersects`` sees each check.
        hits = [i for i, b in enumerate(boxes) if stats.txn_intersects(snap.stats(t), b)]
        if hits or not boxes:
            kept[t] = hits
    # Dedup-free: a read that provably holds ONE version per key needs
    # no version-resolution aggregation — the scan's only shuffle
    # disappears. Provable case: exactly one kept txn whose manifest
    # carries ``unique_keys`` (stamped by compaction, whose output is by
    # construction the version-resolved snapshot, or by a deduplicated
    # load). At 100 TB this is the difference between a full-table
    # shuffle and a pure scan for every read of a compacted store.
    # Bounded reads compose: a key inside the boxes cannot live in a
    # pruned txn, so a surviving single unique-keys txn is still
    # duplicate-free within the boxes.
    dedup_free = len(kept) == 1 and snap.unique_keys(next(iter(kept)))
    # Version-rank overrides: a compaction that folded only a PREFIX of
    # the version order (minor compaction) writes under a new physical
    # txn id but must keep its *logical* position — its manifest's
    # ``version_rank``. Version resolution compares effective versions,
    # so transactions newer than the folded prefix still win over the
    # rewrite.
    ranks = {t: snap.rank(t) for t in kept if snap.rank(t) != t}
    return kept, dedup_free, ranks


def _boxes(bounds) -> list[dict[str, tuple]]:
    """``scan_dataframe``'s ``bounds`` — one box, a list of boxes or
    None — as a list of boxes (none: every row)."""
    return bounds if isinstance(bounds, list) else [bounds] if bounds else []


@dataclass
class ReadPlan:
    """What a read of a ``ScanSource`` opens, from ``read_plan``."""

    #: ``(path, effective txn)`` per input: explicit data files, or txn
    #: directories where a file list is missing or too long, plus the
    #: transaction's own staged directory
    files: list[tuple[str, int]]
    #: every input is a committed data file its manifest names
    explicit: bool
    #: committed txn -> effective version where a minor compaction
    #: overrides it
    ranks: dict[int, int]
    #: one version per key: the Spark plan skips version resolution
    dedup_free: bool
    #: no two versions of a key can tie: the Spark plan may resolve
    #: multi-value rows column by column
    tie_free: bool

    @property
    def paths(self) -> list[str]:
        return [p for p, _ in self.files]


def read_plan(source: ScanSource, bounds=None) -> ReadPlan:
    """The files a read of ``source``'s rows inside ``bounds`` (a box,
    a list of boxes, or None for all rows) opens — the one planning
    rule of the driver read and the Spark plan.

    File sets resolve from manifests when every committed txn recorded
    one: no filesystem LISTING job at read time (at scale, listing
    thousands of chunk dirs costs more than the pruned read itself),
    and bounded reads chunk-prune each txn's list driver-side, against
    the boxes that txn may hold. Own staged segments have no manifest
    yet — their txn dir is read as a directory (small listing). Any
    committed txn without a file list (legacy store, capped txn) turns
    every committed input into its directory."""
    schema, snap = source.schema, source.snapshot
    boxes = _boxes(bounds)
    staged = source.own_txn is not None and source.own_staged_segments > 0
    overlay = staged or bool(source.buffered_rows)
    txn_boxes, dedup_free, ranks = plan_txns(snap, boxes)
    committed = list(txn_boxes)
    # Tie-free: version TIES (identical (txn, seq) on one key) can only
    # arise from duplicate keys inside a single write call; when EVERY
    # visible txn is stamped unique_keys (dedup'ed bulk loads,
    # compactions) and there is no RYOW overlay, versions per key are
    # provably distinct.
    tie_free = not overlay and bool(committed) and all(snap.unique_keys(t) for t in committed)
    files: list[tuple[str, int]] = []
    explicit = True
    box_cranges = [_chunk_ranges(schema, b) for b in boxes]
    for t in committed:
        fl = snap.files(t)
        if fl is None:
            explicit = False
            break
        if boxes:
            fl = _select_manifest_files(fl, [box_cranges[i] for i in txn_boxes[t]])
        tdir = manifest.txn_data_dir(snap.db_path, t)
        files.extend((f"{tdir}/{rel}", ranks.get(t, t)) for rel in fl)
        if len(files) > _MAX_EXPLICIT_PATHS:
            # bail BEFORE materializing millions of path strings —
            # past this size the directory reader wins anyway
            explicit = False
            break
    if not explicit:
        files = [(manifest.txn_data_dir(snap.db_path, t), ranks.get(t, t)) for t in committed]
    if staged:
        files.append((manifest.txn_data_dir(snap.db_path, source.own_txn), source.own_txn))
    return ReadPlan(
        files=files,
        explicit=explicit and not staged,
        ranks=ranks,
        # a read-your-own-writes overlay may add a version of any key
        dedup_free=dedup_free and not overlay,
        tie_free=tie_free,
    )


def _output_schema(schema: Schema, include_txn: bool, nullable_dims: bool) -> T.StructType:
    """The row schema of a read: dims, values and, with ``include_txn``,
    ``__txn`` — nullable as the Spark plan derives them (dims read from
    parquet are nullable; buffered rows alone keep them non-null)."""
    fields = [
        T.StructField(f.name, f.dataType, f.nullable or nullable_dims)
        for f in schema.spark_schema()
    ]
    if include_txn:
        fields.append(T.StructField(TXN_COL, T.LongType(), True))
    return T.StructType(fields)


def scan_dataframe(
    spark: SparkSession,
    source: ScanSource,
    ordered: bool = True,
    include_txn: bool = False,
    drop_null_value_rows: bool = True,
    bounds: dict[str, tuple] | list[dict[str, tuple]] | None = None,
    cell_merge: bool = False,
) -> DataFrame:
    """The snapshot-scan DataFrame for a pinned source set: the rows
    inside ``bounds``, one version per key, newest wins.

    ``bounds`` is a box — dim name → (lo, hi) inclusive key bounds,
    either side None for open — or a list of boxes, read as their
    union (a point get passes one box per key). Pruning is per box
    (``read_plan``): a transaction is read only if its manifest stats
    may hold some box, and of its files only those whose chunk
    directories match the boxes THAT transaction may hold.

    A bounded read whose pruned inputs are at most
    ``_SINGLE_TASK_MAX_FILES`` committed files of at most
    ``_SINGLE_TASK_MAX_BYTES`` on disk and decoded, with no staged
    segment of its own, is served on the driver (``_driver_read``): it
    is read and resolved HERE, and the DataFrame returned is a local
    relation holding the result, so collecting it runs no Spark job.
    Every other read returns a lazy Spark plan, run when an action is:

    - the envelope of the boxes, their key set or union, and the chunk
      ranges filter the parquet relation, so partition and parquet
      stats pruning engage before any shuffle;
    - version resolution is a ``max_by`` aggregation, then all-null
      rows are dropped and rows sorted by dims.

    The plan is built from SQL text — one ``filter`` for the envelope,
    chunk and key conditions, one ``selectExpr`` per source, a
    ``max_by`` expression per resolved column — not from per-literal
    Column calls: each ``pyspark.sql.functions`` call or Column method
    costs about 8 py4j round trips for PySpark's origin capture, and
    each Dataset op an eager analysis. The plans Spark derives are the
    same."""
    schema = source.schema
    dims = schema.dim_names
    vals = schema.value_names
    cols = [f"`{c}`" for c in dims + vals]

    boxes = _boxes(bounds)
    plan = read_plan(source, boxes)
    if not plan.files and not source.buffered_rows:
        empty = spark.createDataFrame([], schema.spark_schema())
        txn = [f"CAST(NULL AS BIGINT) AS {TXN_COL}"] if include_txn else []
        return empty.selectExpr(*cols, *txn)
    if boxes and plan.explicit and _small_input(plan.paths):
        df = _driver_read(spark, source, boxes, plan, include_txn, drop_null_value_rows, cell_merge)
        if df is not None:
            return df

    env = _envelope(boxes) if boxes else {}
    predicate = _union_predicate(schema, boxes)
    parts: list[DataFrame] = []
    if plan.files:
        # Catalog-schema read: no footer inference, no mergeSchema
        # job (see _read_schema). Files predating an evolved value
        # column read it as typed null.
        df = (
            spark.read.option("basePath", manifest.data_dir(source.snapshot.db_path))
            .schema(_read_schema(schema))
            .parquet(*plan.paths)
        )
        # Prune BEFORE projecting away the __chunk_* partition columns.
        df = _where(df, _range_filters(schema, env, True), predicate)
        # Partition dirs contribute txn=<t>, seg=<s>, __chunk_* columns;
        # the explicit catalog read schema guarantees every value
        # column exists (typed null where a file predates it).
        txn_expr = "txn"
        if plan.ranks:
            whens = " ".join(f"WHEN {t} THEN {r}" for t, r in sorted(plan.ranks.items()))
            txn_expr = f"CAST(CASE txn {whens} ELSE txn END AS BIGINT)"
        parts.append(df.selectExpr(f"{txn_expr} AS {TXN_COL}", SEQ_COL, *cols))

    if source.buffered_rows:
        # Read-your-own-writes overlay for unflushed rows
        # (reference: transaction.rs:80-83). Driver-side by nature:
        # these are rows the application just add_row()ed.
        buf = spark.createDataFrame(source.buffered_rows, schema.staging_schema())
        buf = _where(buf, _range_filters(schema, env, False), predicate)
        parts.append(buf.selectExpr(f"CAST({_overlay_txn(source)} AS BIGINT) AS {TXN_COL}", SEQ_COL, *cols))

    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    # O2: newest-(txn, seq) wins per key. max_by keeps map-side partial
    # aggregation (one shuffle) — cheaper at scale than a row_number
    # window, which cannot partially aggregate.
    #
    # Version encoding: (txn, seq) packs into ONE long (txn·2³² + seq —
    # lexicographic order preserved; txn < 2³¹ and seq < 2³² are
    # engine invariants, seq counts WRITE CALLS per txn, not rows).
    # The packed form matters for the physical strategy: a struct
    # ordering key forces an immutable aggregation buffer, which
    # disqualifies HashAggregate and compiles the whole resolution to
    # SortAggregate — a per-partition sort on BOTH sides of the
    # exchange (found by the r7 version-skew probe, scale_probe.py
    # mvccskew). With a long key and a primitive value the buffer is
    # mutable and the plan is two-phase HashAggregate: O(n) instead of
    # O(n log n) per scan, and the map-side partial still collapses a
    # hot key (one dim tuple holding 10% of rows) to one candidate per
    # task before the shuffle.
    version = f"struct({TXN_COL}, {SEQ_COL})"
    version_long = f"{TXN_COL} * {1 << 32} + {SEQ_COL}"
    txn_col = [TXN_COL] if include_txn else []
    if plan.dedup_free:
        # One version per key already (single compacted txn): project
        # away the bookkeeping columns and skip the aggregation. Under
        # one version per key, row-level and cell-level resolution
        # coincide, so ``cell_merge`` needs no separate handling.
        df = df.selectExpr(*cols, *txn_col)
    elif not vals and not include_txn:  # key-only schema: plain distinct on dims
        df = df.selectExpr(*cols).distinct()
    elif cell_merge or len(vals) == 1 or plan.tie_free:
        # CELL-level resolution (``cell_merge``) — the reference's
        # actual write model: add_row overwrites individual value cells
        # in place (block.rs:45-49), so each value column's newest
        # NON-NULL write wins independently; a null cell is "no write",
        # not a value. This is what a partial-column upsert needs. Same
        # single shuffle (max_by per column, ordering null for null
        # cells → ignored by the aggregate). Consequence: all-null
        # tombstones cannot delete under cell merge — deletes need the
        # default row-level mode.
        #
        # Otherwise per-column max_by over the packed-long version IS
        # row-level resolution whenever no two versions of a key can tie:
        # - a SINGLE value column (the reference's exercised shape,
        #   block.rs:45-49) has no cross-column atomicity to protect
        #   (ties pick an arbitrary value, same as the struct path, and
        #   tied versions share their txn so __txn stays consistent);
        # - ``tie_free`` stores (every visible txn stamped unique_keys)
        #   provably have no ties at all, multi-value included.
        # Unlocks two-phase HashAggregate (see version note above).
        aggs = [
            f"max_by(`{v}`, CASE WHEN `{v}` IS NOT NULL THEN {version_long} END) AS `{v}`"
            if cell_merge
            else f"max_by(`{v}`, {version_long}) AS `{v}`"
            for v in vals
        ]
        aggs += [f"max_by({c}, {version_long}) AS {c}" for c in txn_col]
        df = df.groupBy(*dims).agg(*[F.expr(a) for a in aggs])
    else:
        # Multiple value columns resolve through ONE struct payload:
        # per-column max_by would be faster (hash-aggregable) but
        # could stitch a row from DIFFERENT tied writes (same
        # (txn, seq), e.g. duplicate keys inside one
        # add_dataframe(dedup=False) call) — row atomicity wins.
        payload = ", ".join([f"`{v}`" for v in vals] + [TXN_COL])
        df = df.groupBy(*dims).agg(F.expr(f"max_by(struct({payload}), {version}) AS __w"))
        df = df.selectExpr(*cols[: len(dims)], *[f"__w.`{c}` AS `{c}`" for c in vals + txn_col])

    if drop_null_value_rows and vals:
        # Reference scans never emit unset cells (block.rs:277-279):
        # a row whose value cells are all absent does not exist.
        df = df.filter(" OR ".join(f"`{v}` IS NOT NULL" for v in vals))

    if ordered:
        # O1 ordering contract (scan.rs:38-54): ascending lexicographic
        # key order. Range-partitioned sort; skipped when ordered=False.
        df = df.orderBy(*dims)
    return df


def _overlay_txn(source: ScanSource) -> int:
    """The version of the buffered rows: the transaction's own id, or
    a sentinel that outranks every committed txn AND survives the
    packed (txn·2³² + seq) version key without overflow — 2³¹−1 is the
    top of the txn-id space (manifest.publish reserves it; committed
    ids stay strictly below), and (2³¹−1)·2³² + seq tops out at
    2⁶³−1, the last representable long."""
    return source.own_txn if source.own_txn is not None else (1 << 31) - 1


def _driver_read(
    spark: SparkSession,
    source: ScanSource,
    boxes: list[dict[str, tuple]],
    plan: ReadPlan,
    include_txn: bool,
    drop_null_value_rows: bool,
    cell_merge: bool,
) -> DataFrame | None:
    """A small bounded read served on the driver, or None when its
    files decode to more than ``_SINGLE_TASK_MAX_BYTES``: the plan's
    files read with pyarrow, with the union of ``boxes`` (and their
    envelope, for row-group stats) as the dataset filter; the buffered
    rows appended at their overlay version; versions resolved by
    ``resolve_arrow``; all-null rows dropped unless
    ``drop_null_value_rows`` is off. The result, in key order, becomes
    a local relation with the Spark plan's schema — Spark keeps an
    Arrow input below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MiB) on the driver, so no Spark job reads it back."""
    import pyarrow as pa

    schema = source.schema
    where = _arrow_boxes(schema, boxes)
    table = _read_files(plan.files, schema, True, where, max_bytes=_SINGLE_TASK_MAX_BYTES)
    if table is None:
        return None
    if source.buffered_rows:
        buf = _overlay_table(source.buffered_rows, schema, table.schema, _overlay_txn(source))
        table = pa.concat_tables([table, buf.filter(where)])
    table = resolve_arrow(
        table, schema.dim_names, keep_tombstones=not drop_null_value_rows, cell_merge=cell_merge
    )
    out = _output_schema(schema, include_txn, nullable_dims=bool(plan.files))
    return spark.createDataFrame(table.select(out.names), out)


def _read_files(files: list, sch: Schema, versioned: bool, where=None, max_bytes: int | None = None):
    """``(path, effective txn)`` data files as one Arrow table of the
    store's columns — a value column a file predates reads as typed
    nulls — plus, when ``versioned``, each row's write sequence and
    effective txn (``__seq``, ``__txn``): the input of
    ``resolve_arrow``. The one file reader of the driver read and the
    DSv2 readers: one single-threaded scan over every file.

    ``where`` is a pyarrow dataset filter: it skips row groups by their
    stats and filters rows. With ``max_bytes``, a file set whose row
    groups (uncompressed, as the footers size them) exceed it is not
    read: the result is None."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyarrow.fs import LocalFileSystem
    from pyspark.sql.pandas.types import to_arrow_schema

    file_schema = pa.schema([f.with_nullable(True) for f in to_arrow_schema(sch.staging_schema())])
    cols = sch.column_names + ([SEQ_COL] if versioned else [])
    fmt, fs = ds.ParquetFileFormat(), LocalFileSystem()
    frags = [fmt.make_fragment(path, fs) for path, _ in files]
    if max_bytes is not None:
        raw = 0
        for f in frags:  # the footers the scan below reuses
            md = f.metadata
            raw += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        if raw > max_bytes:
            return None
    scanner = ds.FileSystemDataset(frags, file_schema, fmt, fs).scanner(
        columns=cols, filter=where, use_threads=False
    )
    eff = {f.path: t for f, (_, t) in zip(frags, files)}
    batches, txns = [], []
    for tagged in scanner.scan_batches():
        batches.append(tagged.record_batch)
        txns.append(pa.repeat(pa.scalar(eff[tagged.fragment.path], pa.int64()), tagged.record_batch.num_rows))
    t = pa.Table.from_batches(batches, scanner.projected_schema)
    if versioned:
        t = t.append_column(TXN_COL, pa.chunked_array(txns, pa.int64()))
    return t


#: Rows of one chunk the segment writer holds before writing them as
#: one key-sorted file (a constant; no write option sets it): a
#: writer's footprint stays O(bound × touched chunks) plus the Arrow
#: batches those rows slice, however large its input (at 100 TB, a
#: format write's input splits are maxPartitionBytes-sized). A chunk
#: may thus get several files, as Spark's writer also emits.
_FLUSH_ROWS = 262_144


def write_segment_files(batches, sch: Schema, base_dir: str, seq: int | None = 1, seg: int = 0) -> list[str]:
    """The one Arrow segment writer: the library's small commits write
    with it on the driver (``Transaction._write_segment``), and the
    ``matdb`` batch and stream sinks in each task, over the Arrow
    batches Spark hands the task. Each batch is cast to the staging
    schema, checked for null dims, routed by ``_arrow_chunks``
    (``_chunked``'s floor arithmetic) and split by chunk with one sort;
    each chunk's rows are key-sorted and written as zstd parquet under
    ``base_dir/seg=<seg>/__chunk_*/part-<uuid>.parquet`` once
    ``_FLUSH_ROWS`` of them are pending, and at the end. Every row gets
    the write sequence ``seq``; with ``seq=None`` the batches carry
    their own ``__seq`` (the library's staging projection stamps it).
    Returns the files written, relative to ``base_dir``.

    A file writes no min/max for a float column holding NaN: pyarrow
    leaves NaN out of them, and stats that hide NaN would prune NaN
    keys away. ``manifest.commit`` then leaves that dim out of the
    txn's stats, where Spark's parquet writer, which the library keeps
    for large inputs, records stats that span the NaN. The library
    promises only that stats never prune a row they hold: a txn with a
    NaN float dim may or may not carry stats for that dim, by writer."""
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(sch.staging_schema())  # dims, values, __seq
    floats = [f.name for f in out_schema if pa.types.is_floating(f.type)]
    chunk_cols = sch.chunk_cols
    pending: dict[tuple, list] = {}
    files: list[str] = []

    def flush(key: tuple) -> None:
        t = pa.concat_tables(pending.pop(key)).sort_by([(d, "ascending") for d in sch.dim_names])
        rel_dir = "/".join([f"seg={seg}"] + [f"{c}={v}" for c, v in zip(chunk_cols, key)])
        os.makedirs(os.path.join(base_dir, rel_dir), exist_ok=True)
        rel = f"{rel_dir}/part-{uuid.uuid4().hex}.parquet"
        # Spark's parquet reader skips row groups by min/max, which
        # pyarrow takes without NaN: a range read up to NaN would lose
        # the file's NaN rows
        nan = {c for c in floats if pc.any(pc.is_nan(t[c])).as_py()}
        stats = [c for c in out_schema.names if c not in nan]
        pq.write_table(t, os.path.join(base_dir, rel), compression="zstd", write_statistics=stats)
        files.append(rel)

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        t = pa.Table.from_batches([batch]).select(sch.column_names + ([SEQ_COL] if seq is None else []))
        for d in sch.dim_names:
            if t[d].null_count:
                raise ValueError(f"null dimension {d!r}: dimension values are the key and must be non-null")
        if seq is not None:
            t = t.append_column(SEQ_COL, pa.repeat(pa.scalar(seq, pa.int64()), n))
        t = t.cast(out_schema)
        starts = [0]
        if chunk_cols:
            for c, chunk in zip(chunk_cols, _arrow_chunks(t, sch)):
                t = t.append_column(c, chunk)
            t = t.sort_by([(c, "ascending") for c in chunk_cols])
            ends = pa.repeat(False, n - 1)
            for c in chunk_cols:
                # plain arrays: indices_nonzero of a chunked array with
                # no chunks (a one-row batch) crashes pyarrow 16.1
                col = t[c].combine_chunks()
                ends = pc.or_(ends, pc.not_equal(col[:-1], col[1:]))
            starts += [i + 1 for i in pc.indices_nonzero(ends).to_pylist()]
        for lo, hi in zip(starts, starts[1:] + [n]):
            part = t.slice(lo, hi - lo)
            key = tuple(int(part[c][0].as_py()) for c in chunk_cols)
            pending.setdefault(key, []).append(part.select(out_schema.names))
            if sum(map(len, pending[key])) >= _FLUSH_ROWS:
                flush(key)
    for key in list(pending):
        flush(key)
    return files


def _overlay_table(rows: list[tuple], sch: Schema, arrow_schema, txn: int):
    """Buffered rows (staging-schema tuples) as an Arrow table of
    ``arrow_schema`` at version ``txn``, each value converted as
    ``createDataFrame`` converts it: a naive datetime is local time."""
    import pyarrow as pa

    arrays = []
    for i, f in enumerate(sch.staging_schema().fields):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, (T.TimestampType, T.DateType)):
            counts = pa.int32() if isinstance(f.dataType, T.DateType) else pa.int64()
            internal = pa.array([f.dataType.toInternal(v) for v in vals], counts)
            arrays.append(internal.cast(arrow_schema.field(f.name).type))
        else:
            arrays.append(pa.array(vals, arrow_schema.field(f.name).type))
    arrays.append(pa.repeat(pa.scalar(txn, pa.int64()), len(rows)))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _arrow_bound(value, dim_type: str, upper: bool):
    """A key bound as the pyarrow scalar ``_sql_literal``'s text parses
    to. A decimal(20,0) dim holds integers of at most 20 digits, so a
    fractional bound rounds inward and an infinite one clamps just past
    that range (both exact); dates and timestamps take the day and
    microsecond counts ``createDataFrame`` stores for them."""
    import pyarrow as pa

    if isinstance(value, bool):
        return pa.scalar(value)
    if dim_type.startswith("decimal") and isinstance(value, (numbers.Real, decimal.Decimal)):
        value = min(max(value, -(10**20)), 10**20)
        return pa.scalar(decimal.Decimal(math.floor(value) if upper else math.ceil(value)))
    if isinstance(value, numbers.Integral):
        return pa.scalar(int(value))
    if isinstance(value, numbers.Real):
        return pa.scalar(float(value), pa.float64())
    if isinstance(value, datetime.datetime):
        return pa.scalar(T.TimestampType().toInternal(value), pa.int64()).cast(pa.timestamp("us", "UTC"))
    if isinstance(value, datetime.date):
        return pa.scalar(T.DateType().toInternal(value), pa.int32()).cast(pa.date32())
    return pa.scalar(value)


def _arrow_box(schema: Schema, box: dict[str, tuple]):
    """pyarrow expression: the row lies in ``box``, compared in Spark's
    order — NaN sorts above every other double and equals NaN, −0.0
    equals 0.0."""
    import pyarrow.compute as pc

    types = {d.name: d.type for d in schema.dimensions}
    expr = pc.scalar(True)
    for name, (lo, hi) in box.items():
        x = pc.field(name)
        fl = types[name] in ("double", "float")
        if lo is not None:
            if isinstance(lo, float) and lo != lo:  # only NaN is >= NaN
                expr &= pc.is_nan(x) if fl else pc.scalar(False)
            else:
                ge = x >= _arrow_bound(lo, types[name], False)
                expr &= (pc.is_nan(x) | ge) if fl else ge
        if hi is not None and not (isinstance(hi, float) and hi != hi):  # all is <= NaN
            le = x <= _arrow_bound(hi, types[name], True)
            expr &= (~pc.is_nan(x) & le) if fl else le
    return expr


def _arrow_boxes(schema: Schema, boxes: list[dict[str, tuple]]):
    """pyarrow expression: the row lies in one of ``boxes`` — their
    envelope AND'ed with their union, so row-group stats prune by the
    envelope whatever the union's shape."""
    env = _arrow_box(schema, _envelope(boxes))
    if len(boxes) < 2:
        return env
    union = _arrow_box(schema, boxes[0])
    for b in boxes[1:]:
        union |= _arrow_box(schema, b)
    return env & union


def resolve_arrow(
    table,
    dims: list[str],
    versioned: bool = True,
    keep_tombstones: bool = False,
    cell_merge: bool = False,
):
    """``scan_dataframe``'s version resolution over an Arrow table, for
    the readers that resolve without Spark (the driver read and the
    DSv2 snapshot and change-feed readers): per key, the row with the
    newest (``__txn``, ``__seq``) wins — one whole row, whichever of
    tied rows the sort leaves last, its ``__txn`` the effective version
    read — and, unless ``keep_tombstones``, a winner whose value cells
    are all null is dropped. ``cell_merge`` resolves each value column
    on its own instead: the newest non-null cell wins, and the key's
    ``__txn`` stays its newest version's. ``versioned=False`` declares
    a table that already holds one version per key (a ``unique_keys``
    txn) and has no version columns: only the tombstone rule applies,
    as in ``scan_dataframe``'s dedup-free plan.

    Keys compare as Spark's grouping compares them: NaN equals NaN,
    −0.0 equals 0.0 and comes out as 0.0, and every other value
    (integers, decimals, strings, binary, dates, timestamps) compares
    by value. Resolved winners come out in key order, which is Spark's
    (NaN above every other double); every input column is kept."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if versioned and len(table):
        floats = [d for d in dims if pa.types.is_floating(table.schema.field(d).type)]
        for d in floats:
            # Spark normalizes float keys before grouping: −0.0 → 0.0
            col = table[d]
            zero = pa.scalar(0.0, col.type)
            table = table.set_column(
                table.schema.get_field_index(d), d, pc.if_else(pc.equal(col, zero), zero, col)
            )
        table = table.sort_by([(c, "ascending") for c in dims + [TXN_COL, SEQ_COL]])
        # a row wins when the next row holds another key (or none)
        differs = pa.repeat(False, len(table) - 1)
        for d in dims:
            a, b = table[d][:-1], table[d][1:]
            ne = pc.not_equal(a, b)
            if d in floats:  # NaN != NaN, yet all NaNs are one key
                ne = pc.and_not(ne, pc.and_(pc.is_nan(a), pc.is_nan(b)))
            differs = pc.or_(differs, ne)
        last = pa.chunked_array([*differs.chunks, pa.array([True])])
        table = _merge_cells(table, dims, last) if cell_merge else table.filter(last)
    if not keep_tombstones:
        table = table.filter(_has_value(table, dims))
    return table


def _merge_cells(table, dims: list[str], last):
    """One row per key of a table sorted by (dims, version), where
    ``last`` marks each key's newest row: that row, with each value
    cell replaced by the key's newest non-null cell of its column (null
    when the key wrote none)."""
    import numpy as np
    import pyarrow as pa

    last = last.to_numpy(zero_copy_only=False)
    ends = np.flatnonzero(last)
    key = np.concatenate([[0], np.cumsum(last[:-1])])  # each row's key index
    out = table.take(ends)
    for v in table.column_names:
        if v in dims or v in (TXN_COL, SEQ_COL):
            continue
        written = np.flatnonzero(table[v].is_valid().to_numpy(zero_copy_only=False))
        # the newest written cell at or before each key's newest row...
        j = np.searchsorted(written, ends, side="right") - 1
        pick = written[np.maximum(j, 0)] if len(written) else np.zeros(len(ends), np.int64)
        # ...counts only if it belongs to that key
        found = (j >= 0) & (key[pick] == np.arange(len(ends)))
        cells = table[v].take(pa.array(pick, mask=~found))
        out = out.set_column(out.schema.get_field_index(v), v, cells)
    return out


def _has_value(table, dims: list[str]):
    """Arrow mask of ``table``'s rows that set at least one value cell
    (every row of a key-only schema): the rows a scan emits — a row
    whose value cells are all absent does not exist
    (block.rs:277-279) — and the 'upsert's of a change feed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = [c for c in table.column_names if c not in dims and c not in (TXN_COL, SEQ_COL)]
    has = pa.repeat(not vals, len(table))
    for v in vals:
        has = pc.or_(has, pc.is_valid(table[v]))
    return has


def _where(df: DataFrame, conds: list[str], predicate: str | None) -> DataFrame:
    """``df`` filtered by every condition, as ONE ``filter`` call."""
    conds = conds + [f"({predicate})"] if predicate else conds
    return df.filter(" AND ".join(conds)) if conds else df


def iterate_rows(df: DataFrame) -> Iterator[Row]:
    """Reference-style consumption (``for row in txn.query()``) without
    collecting the full result on the driver."""
    return df.toLocalIterator(prefetchPartitions=True)
