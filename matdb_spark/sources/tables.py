"""Parquet table loaders for the driver's synthetic star schema.

The testdata writes timestamps as parquet TIMESTAMP(NANOS), which
Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). With
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns surface as
nanosecond longs; this loader converts them back to TimestampType
(microsecond precision, UTC — matching what DuckDB reports for the
same files), so every downstream query sees proper timestamps.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# ns-encoded timestamp columns per table (everything else is plain).
_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def _force_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC. NOTE: ``conf.get(key, "")``
    is NOT safe here — Spark 4 validates the supplied default against
    the conf's checker when the key is unset, and '' is an invalid
    timezone, so that call CRASHES on any session that never set the
    key explicitly (exactly the foreign-session case this guards)."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# Schema cache: (path, mtime_ns, size) -> StructType. METADATA only —
# the values are still scanned from parquet on every action; this is
# exactly what a table catalog/manifest does at scale (nobody re-infers
# a 100 TB table's schema per query). Keyed on the file's identity so a
# regenerated testdata epoch invalidates the entry. Measured: schema
# inference is ~80 ms of the ~170 ms per load_table call — paid by
# every query, several hundred times per bench run.
#
# Invalidation assumptions (r9 advice item 2): os.stat identity works
# on a LOCAL filesystem with ns-resolution mtimes. For a partitioned
# DIRECTORY path st_size is the directory-entry size, so invalidation
# rests on the dir's mtime alone — correct for append-only writers
# that create/remove entries in the dir, fragile for in-place file
# replacement or coarse-mtime filesystems; engine writers here are
# append/overwrite-by-dir. The cache is LRU-capped so long sessions
# touching many fixture/index paths cannot grow it unboundedly.
_SCHEMA_CACHE: "OrderedDict" = __import__("collections").OrderedDict()
_SCHEMA_CACHE_MAX = 512
#: concurrent streams in one session share the cache; a get's lookup
#: and its move_to_end must not interleave with another thread's eviction
_SCHEMA_CACHE_LOCK = threading.Lock()


def _schema_cache_get(key):
    with _SCHEMA_CACHE_LOCK:
        sch = _SCHEMA_CACHE.get(key)
        if sch is not None:
            _SCHEMA_CACHE.move_to_end(key)
        return sch


def _schema_cache_put(key, schema) -> None:
    with _SCHEMA_CACHE_LOCK:
        _SCHEMA_CACHE[key] = schema
        _SCHEMA_CACHE.move_to_end(key)
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.popitem(last=False)


def cached_schema(spark: SparkSession, path: str):
    """Inferred parquet schema for ``path`` through the LRU cache
    (same invalidation key and assumptions as above). For stable-
    schema paths only: testdata tables and engine-written fixtures."""
    key, _ = _file_key(path)
    schema = _schema_cache_get(key) if key else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key:
            _schema_cache_put(key, schema)
    return schema


def _file_key(path: str):
    import os as _os

    try:
        st = _os.stat(path)
        return (path, st.st_mtime_ns, st.st_size), st.st_size
    except OSError:
        return None, 0


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('134217728', '134217728b',
    '128m', '1g', '128MB') into bytes."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s) * mult)


def _estimated_scan_tasks(spark: SparkSession, fsize: int) -> int:
    """Mirror FilePartition.maxSplitBytes: how many tasks will scan a
    single parquet file of ``fsize`` bytes. Pure driver math — replaces
    a ``df.rdd.getNumPartitions()`` probe that forced a full
    RDD-conversion plan per call (~50 ms, per query, per table)."""
    mpb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    opc = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    par = spark.sparkContext.defaultParallelism
    bytes_per_core = (fsize + opc) // max(1, par)
    max_split = min(mpb, max(opc, bytes_per_core))
    return max(1, -(-fsize // max(1, max_split)))


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with the inferred schema cached per (path,
    mtime_ns, size) — for ENGINE-WRITTEN fixture/index paths whose
    column types are fixed by their writer (LSH/IVF/IVF-PQ indexes,
    codebook/centroid/params sidecars, banding indexes). Saves the
    ~80-150 ms footer-inference per read that every indexed probe pays
    2-3 times; values still scan from parquet on every action, and
    partition discovery (file listing) still happens per read, so
    appended files are always visible. Do NOT use for paths whose
    column set can evolve in place (the MVCC stores go through
    manifest-driven reads, never this helper)."""
    key, _ = _file_key(path)
    schema = _schema_cache_get(key) if key else None
    if schema is None:
        df = spark.read.parquet(path)
        if key:
            _schema_cache_put(key, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, min_parallelism: int | None = None
) -> DataFrame:
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Defensive for foreign sessions (e.g. a driver harness that did
    # not use matdb_spark.get_spark): timestamp extraction (year(),
    # casts) evaluates in the session timezone — anything but UTC
    # shifts results off the DuckDB oracle, which reads naive UTC.
    _force_utc(spark)
    path = f"{sf_dir}/{name}.parquet"
    key, fsize = _file_key(path)
    schema = _schema_cache_get(key) if key else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key:
            _schema_cache_put(key, schema)
    df = spark.read.schema(schema).parquet(path)
    for c in _TS_COLS.get(name, []):
        field = next((f for f in schema.fields if f.name == c), None)
        if field is None:
            continue
        dt = field.dataType.simpleString()
        if dt == "bigint":
            # integer division: ns values (~1.7e18) exceed double's
            # 53-bit mantissa, so float division drifts by ±1 µs
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            # TIMESTAMP_NTZ parquet encoding: reinterpret the naive
            # wall-clock as UTC (session tz is pinned to UTC above) so
            # instant functions (unix_micros, window) apply and values
            # match DuckDB's naive read of the same file.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    # A parquet file is splittable only at row-group boundaries; a
    # small file pins the whole scan (and everything up to the first
    # shuffle) to few tasks no matter how many cores exist.
    # Round-robin repartition restores parallelism; Catalyst still
    # pushes later filters/pruning through the exchange down to the
    # scan, so the shuffle carries post-pushdown rows only. Tiny dim
    # tables are left alone (they get broadcast anyway). The ts
    # conversion above is applied BEFORE this exchange so later
    # filters on converted columns are pushed below the shuffle
    # (evaluated scan-side) instead of filtering post-shuffle.
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if fsize > 100 * 1024 and _estimated_scan_tasks(spark, fsize) < target:
        df = df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view for spark.sql queries."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
