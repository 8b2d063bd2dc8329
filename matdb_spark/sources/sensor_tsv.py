"""Sensor-log TSV ingest — parity with the reference example ETL
(examples/sensor-log.rs), rebuilt as a distributed pipeline:

- O18 TSV source w/ decompression (sensor-log.rs:144-233): Spark's csv
  reader handles tab separation, transparent gzip, and glob expansion
  natively, parallelized by file split instead of parser threads.
- O19 timestamp parse (:123-128) and O20 fixed-point encode (:130-136):
  JVM column expressions (functions/encoders.py).
- O21 dictionary encoding (:19-105): the (component, sensor, kind) →
  sensor_id mapping is a parquet dimension table under the database
  directory, extended on each load (ids allocated on first sight) and
  broadcast-joined into the fact stream — the big side never shuffles.
- O22 parallel ingest (:241-305): parser threads → channel → writer
  becomes parallel read tasks + one distributed segment write per
  transaction commit.

Reference schema parity (sensor-log.rs:110-120): dimensions time
(chunk = 24h of millis) and sensor_id (chunk 100), one value column;
values are ×1000 fixed-point longs; unparsable lines are skipped
(:199-204).

CLI (mirrors :307-353):
    python -m matdb_spark.sources.sensor_tsv load <db_dir> <tsv...>
    python -m matdb_spark.sources.sensor_tsv list <db_dir>
    python -m matdb_spark.sources.sensor_tsv count <db_dir>
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from matdb_spark import manifest
from matdb_spark.database import Database
from matdb_spark.schema import Dimension, Schema, Value
from matdb_spark.functions.encoders import (
    dictionary_encode,
    fixed_point_encode,
    parse_sensor_time,
)

DAY_MS = 24 * 60 * 60 * 1000

RAW_SCHEMA = StructType(
    [
        StructField("time_str", StringType()),
        StructField("component", StringType()),
        StructField("sensor", StringType()),
        StructField("kind", StringType()),
        StructField("value_str", StringType()),
    ]
)


def sensor_schema() -> Schema:
    """The reference example's database schema (sensor-log.rs:110-120)."""
    return Schema(
        dimensions=[Dimension("time", DAY_MS), Dimension("sensor_id", 100)],
        values=[Value("value")],
    )


def open_or_create(spark: SparkSession, db_path: str) -> Database:
    return Database.create_or_open(spark, db_path, sensor_schema())


def read_sensor_tsv(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Raw 5-column TSV relation (gzip + glob handled by the source).

    UTC is pinned first: the timestamp encoder interprets strings in
    the session timezone, and a foreign non-UTC session would silently
    shift every ingested ``time`` across chunk boundaries. Quoting is
    DISABLED for parser parity with the reference's split-on-tab
    (sensor-log.rs:199): a field starting with '"' must not swallow
    the following tab separators into one quoted field."""
    from matdb_spark.sources.tables import _force_utc

    _force_utc(spark)
    return (
        spark.read.options(sep="\t", mode="PERMISSIVE", quote="", escape="")
        .schema(RAW_SCHEMA)
        .csv(paths)
    )


def _sensors_dim_path(db_path: str) -> str:
    return os.path.join(db_path, "_dims", "sensors")


def load_sensors_dim(spark: SparkSession, db_path: str) -> DataFrame | None:
    """Existing dictionary, or None on first load (sensors.json analog).
    Runs dictionary crash recovery first — see _recover_dims."""
    p = _sensors_dim_path(db_path)
    _recover_dims(db_path)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p)


def _recover_dims(db_path: str) -> None:
    """Repair a dictionary swap interrupted mid-publish. POSIX has no
    atomic directory swap, so load() publishes via rename-aside
    (dim -> dim.old) + rename-in (dim.tmp -> dim); a crash between the
    two leaves NO dictionary at the final path. The .old sibling is
    then the authoritative last-published state — the .tmp content was
    never joined into any committed facts (facts build only against
    the PUBLISHED path) — so restoring it is always safe, and the
    retry re-derives the same new ids deterministically. A crash after
    rename-in merely leaves .old/.tmp debris to sweep."""
    p = _sensors_dim_path(db_path)
    old = p + ".old"
    if not os.path.exists(p) and os.path.exists(old):
        os.rename(old, p)
    if os.path.exists(p):
        shutil.rmtree(old, ignore_errors=True)


def encode_sensor_rows(
    raw: DataFrame, sensors_dim: DataFrame | None, dim_spill_path: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """(fact rows [time, sensor_id, value], updated dictionary).

    Skips rows whose timestamp fails to parse, like the reference's
    per-line error path; an empty/invalid value encodes as 0.

    Library-facing convenience over the same helpers ``load()``
    composes (load additionally sequences the persistence swap BEFORE
    building facts — crash ordering it cannot delegate here). The
    updated dictionary is materialized DISTRIBUTED, never collected to
    the driver (a high-cardinality key space must not grow driver
    memory): with ``dim_spill_path`` it is written there as parquet
    and read back; without one it is ``localCheckpoint``-ed to
    executor storage. Either way the returned dim is severed from the
    lazy plan over the previous on-disk dictionary. The encode join
    broadcasts only when the materialized dictionary is small (parquet
    bytes under 32 MB, or row count under the equivalent bound on the
    checkpoint path); otherwise it is a plain shuffle join — at
    dictionary sizes that big the shuffle is the correct plan, and
    forcing broadcast would OOM every executor."""
    ok = _clean_raw(raw)
    dim_lazy = dictionary_encode(
        ok, _DIM_KEYS, existing=sensors_dim, id_col="sensor_id"
    )
    spark = raw.sparkSession
    if dim_spill_path is not None:
        dim_lazy.write.mode("overwrite").parquet(dim_spill_path)
        dim = spark.read.parquet(dim_spill_path)
        broadcast_ok = _dim_parquet_size(dim_spill_path) < _BROADCAST_DIM_BYTES
    else:
        dim = dim_lazy.localCheckpoint(eager=True)
        # no file sizes on the checkpoint path — bound by row count
        # (~100 B/row keeps 300k rows safely under the byte threshold)
        broadcast_ok = dim.count() <= 300_000
    return _facts_against_dim(ok, dim, broadcast_ok), dim


_DIM_KEYS = ["component", "sensor", "kind"]
_BROADCAST_DIM_BYTES = 32 * 1024 * 1024


def _clean_raw(raw: DataFrame) -> DataFrame:
    # lines missing component/sensor/kind surface as NULL key columns
    # — drop them before they pollute the dictionary (reference: skip
    # bad lines). A missing or empty VALUE field is indistinguishable
    # post-CSV-parse (both read as NULL) and encodes as 0, matching
    # the reference's parse_value unwrap_or(0) (sensor-log.rs:130-136)
    return raw.filter(
        F.col("component").isNotNull()
        & F.col("sensor").isNotNull()
        & F.col("kind").isNotNull()
    )


def _dim_parquet_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _facts_against_dim(
    ok: DataFrame, dim: DataFrame, broadcast_ok: bool
) -> DataFrame:
    parsed = (
        ok.withColumn("time", parse_sensor_time(F.col("time_str")))
        .withColumn("value", fixed_point_encode(F.col("value_str")))
        .filter(F.col("time").isNotNull())
    )
    dim_side = F.broadcast(dim) if broadcast_ok else dim
    return parsed.join(dim_side, _DIM_KEYS).select("time", "sensor_id", "value")


def load(spark: SparkSession, db_path: str, paths: list[str]) -> int:
    """Ingest files as ONE transaction (the reference uses one txn with
    periodic flushes; Spark's distributed write replaces the flush
    cadence). Returns the ingested row count.

    The updated dictionary materializes into a tmp dir (distributed
    parquet write — never a driver collect) and is PUBLISHED by rename
    BEFORE the fact txn commits: a crash between the two leaves only
    unused dictionary entries, which the retry reuses at the same ids
    (deterministic numbering continues from the published dictionary);
    committing facts first could strand rows referencing ids no
    dictionary knows. The publish swap is rename-aside + rename-in; a
    crash between the two renames leaves the dictionary at the .old
    path, which _recover_dims restores on the next open — every crash
    window is recoverable to the last published state."""
    db = open_or_create(spark, db_path)
    raw = read_sensor_tsv(spark, paths)
    sensors = load_sensors_dim(spark, db_path)
    ok = _clean_raw(raw)
    dim_out = _sensors_dim_path(db_path)
    dim_tmp = dim_out + ".tmp"
    shutil.rmtree(dim_tmp, ignore_errors=True)
    dictionary_encode(ok, _DIM_KEYS, existing=sensors, id_col="sensor_id").write.mode(
        "overwrite"
    ).parquet(dim_tmp)
    old = dim_out + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dim_out):
        os.rename(dim_out, old)
    os.rename(dim_tmp, dim_out)
    shutil.rmtree(old, ignore_errors=True)
    dim = spark.read.parquet(dim_out)
    facts = _facts_against_dim(
        ok, dim, _dim_parquet_size(dim_out) < _BROADCAST_DIM_BYTES
    )
    # context manager: a failed ingest job must ROLL BACK, or the
    # leaked reservation + staged segments pin safe_feed_head (feed
    # consumers stall) and block downward-closed compactions until the
    # recovery grace elapses (same hazard database.compact guards)
    with db.begin() as txn:
        txn.add_dataframe(facts)
        txn.commit()
    # row count from the published manifest's footer stats — counting
    # the *input* DataFrame would re-run the whole decompress + parse +
    # dictionary-join pipeline a second time (gzip TSV is
    # non-splittable; the re-read doubled ingest wall-clock)
    stats = manifest.read_manifest(db.path, txn.txn_id).get("stats")
    return stats["rows"] if stats else facts.count()


def main(argv: list[str]) -> int:
    from matdb_spark.session import get_spark

    if len(argv) < 2:
        print(__doc__)
        return 2
    cmd, db_path, files = argv[0], argv[1], argv[2:]
    spark = get_spark(app_name="sensor_tsv")
    if cmd == "load":
        n = load(spark, db_path, files)
        print(f"Loaded {n} rows")
    elif cmd == "count":
        print(Database.open(spark, db_path).begin().query(ordered=False).count())
    elif cmd == "list":
        for row in Database.open(spark, db_path).begin().query_rows():
            print(row["time"], row["sensor_id"], row["value"])
    else:
        print(f"unknown command {cmd}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
