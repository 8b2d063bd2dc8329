"""DataSource V2 surface (matdb_spark/sources/dsv2.py): the MVCC
snapshot through ``spark.read.format("matdb")`` must match the library
scan bit-for-bit, honor time travel, prune partitions from pushed
filters, and handle evolution/compaction/unchunked layouts."""

import os

import pytest
from pyspark.sql import functions as F

from matdb_spark import Database, Dimension, Schema, Value, manifest
from matdb_spark.sources.dsv2 import (
    MatdbSnapshotReader,
    register_matdb_source,
)


@pytest.fixture(scope="module")
def dsv2_db(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2") / "db")
    schema = Schema(
        dimensions=[Dimension("k", 10), Dimension("j", 0)],
        values=[Value("v", type="double"), Value("w")],
    )
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(i, i % 3, float(i), i * 10) for i in range(50)])
    t1.commit()
    t2 = db.begin()
    t2.add_rows([(i, i % 3, float(i) + 1000.0, None) for i in range(0, 50, 5)])
    t2.commit()
    t3 = db.begin()
    t3.delete_row([7, 1])
    t3.commit()
    return db, p


def _key(df):
    return sorted(tuple(r) for r in df.collect())


def test_dsv2_matches_library_scan(spark, dsv2_db):
    db, p = dsv2_db
    lib = _key(db.begin().query(ordered=False))
    got = _key(spark.read.format("matdb").load(p))
    assert got == lib
    assert len(got) == 49  # 50 rows, one tombstoned


def test_dsv2_time_travel(spark, dsv2_db):
    db, p = dsv2_db
    for as_of in (1, 2):
        got = _key(spark.read.format("matdb").option("as_of", as_of).load(p))
        lib = _key(db.begin(as_of=as_of).query(ordered=False))
        assert got == lib
    with pytest.raises(Exception, match="future"):
        spark.read.format("matdb").option("as_of", 99).load(p).collect()


def test_dsv2_filter_matches_range_scan(spark, dsv2_db):
    db, p = dsv2_db
    got = _key(
        spark.read.format("matdb")
        .load(p)
        .filter((F.col("k") >= 20) & (F.col("k") <= 29))
    )
    lib = _key(db.begin().query_range({"k": (20, 29)}, ordered=False))
    assert got == lib and len(got) == 10


def test_dsv2_pushed_filters_prune_partitions(spark, dsv2_db):
    _, p = dsv2_db
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

    r = MatdbSnapshotReader(p, None)
    all_parts = r.partitions()
    r2 = MatdbSnapshotReader(p, None)
    r2.pushFilters([GreaterThanOrEqual(("k",), 20), LessThanOrEqual(("k",), 29)])
    pruned = r2.partitions()
    # k chunk_size=10 -> bounds hit exactly chunk 2 of 5
    assert len(pruned) < len(all_parts)
    assert all(
        any("__chunk_k=2" in f for f, _ in part.files) for part in pruned
    )
    r3 = MatdbSnapshotReader(p, None)
    r3.pushFilters([EqualTo(("k",), 7)])
    assert len(r3.partitions()) == 1
    # filters are all returned for Spark re-application
    r4 = MatdbSnapshotReader(p, None)
    fs = [EqualTo(("k",), 7), EqualTo(("v",), 7.0)]
    assert list(r4.pushFilters(fs)) == fs


def test_dsv2_compacted_store_parallel_per_file(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2c") / "db")
    schema = Schema(
        dimensions=[Dimension("k", 10)], values=[Value("v", type="double")]
    )
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(i, float(i)) for i in range(40)])
    t1.commit()
    t2 = db.begin()
    t2.add_rows([(i, float(i) + 100.0) for i in range(0, 40, 4)])
    t2.commit()
    lib = _key(db.begin().query(ordered=False))
    assert db.compact() is not None
    db.vacuum()
    got = _key(spark.read.format("matdb").load(p))
    assert got == lib
    r = MatdbSnapshotReader(p, None)
    parts = r.partitions()
    assert all(pt.dedup_free and len(pt.files) == 1 for pt in parts)
    # an empty commit adds no rows, so the per-file plan stays
    t3 = db.begin()
    t3.add_dataframe(spark.range(0).selectExpr("id AS k", "CAST(id AS double) AS v"))
    t3.commit()
    assert manifest.read_manifest(p, t3.txn_id)["files"] == []
    assert MatdbSnapshotReader(p, None).partitions() == parts
    assert _key(spark.read.format("matdb").load(p)) == lib


def test_dsv2_schema_evolution_nulls(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2e") / "db")
    schema = Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(i, i * 2) for i in range(10)])
    t1.commit()
    db.add_value_column("extra", type="double")
    db2 = Database.open(spark, p)
    t2 = db2.begin()
    t2.add_rows([(10, 20, 3.5)])
    t2.commit()
    got = {r["k"]: (r["v"], r["extra"]) for r in
           spark.read.format("matdb").load(p).collect()}
    assert got[10] == (20, 3.5)
    assert got[3] == (6, None)  # pre-evolution file reads typed null
    lib = _key(db2.begin().query(ordered=False))
    assert _key(spark.read.format("matdb").load(p)) == lib


def test_dsv2_unchunked_schema_single_partition(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2u") / "db")
    schema = Schema(dimensions=[Dimension("k", 0)], values=[Value("v")])
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(i, i) for i in range(10)])
    t1.commit()
    t2 = db.begin()
    t2.add_rows([(3, 999)])
    t2.commit()
    r = MatdbSnapshotReader(p, None)
    assert len(r.partitions()) == 1  # no chunk axis: global resolution
    got = {r2["k"]: r2["v"] for r2 in spark.read.format("matdb").load(p).collect()}
    assert got[3] == 999 and len(got) == 10


def test_dsv2_empty_store(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2z") / "db")
    Database.create(
        spark, p, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    df = spark.read.format("matdb").load(p)
    assert df.count() == 0
    assert df.columns == ["k", "v"]


def test_dsv2_sql_over_catalog_view(spark, dsv2_db):
    db, p = dsv2_db
    register_matdb_source(spark)
    spark.read.format("matdb").load(p).createOrReplaceTempView("dsv2_t")
    n = spark.sql("SELECT count(*) AS n FROM dsv2_t WHERE k >= 20").collect()[0]["n"]
    assert n == 30


# ---------------------------------------------------------------- writer
@pytest.fixture()
def writer_db(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2w") / "db")
    schema = Schema(
        dimensions=[Dimension("k", 10), Dimension("j", 0)],
        values=[Value("v", type="double"), Value("w")],
    )
    Database.create(spark, p, schema)
    return p


def _df1(spark):
    return spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("j"),
        F.col("id").cast("double").alias("v"),
        (F.col("id") * 10).alias("w"),
    )


def test_dsv2_write_append_upsert(spark, writer_db):
    p = writer_db
    _df1(spark).write.format("matdb").mode("append").save(p)
    spark.range(0, 50, 5).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("j"),
        (F.col("id") + 1000.0).alias("v"),
        F.lit(None).cast("long").alias("w"),
    ).write.format("matdb").mode("append").save(p)
    snap = {
        r["k"]: (r["v"], r["w"])
        for r in Database.open(spark, p).begin().query(ordered=False).collect()
    }
    assert len(snap) == 50
    assert snap[5] == (1005.0, None)  # upsert won
    assert snap[7] == (7.0, 70)  # untouched key unchanged
    # DSv2 read of a DSv2-written store matches the library scan
    got = _key(spark.read.format("matdb").load(p))
    lib = _key(Database.open(spark, p).begin().query(ordered=False))
    assert got == lib


def test_dsv2_write_matches_library_write(spark, writer_db, tmp_path_factory):
    """The same rows written through the DSv2 writer and through
    Transaction.add_dataframe must scan identically."""
    p = writer_db
    _df1(spark).write.format("matdb").mode("append").save(p)
    p2 = str(tmp_path_factory.mktemp("dsv2w2") / "db")
    schema = Schema(
        dimensions=[Dimension("k", 10), Dimension("j", 0)],
        values=[Value("v", type="double"), Value("w")],
    )
    db2 = Database.create(spark, p2, schema)
    t = db2.begin()
    t.add_dataframe(_df1(spark))
    t.commit()
    a = _key(Database.open(spark, p).begin().query(ordered=False))
    b = _key(db2.begin().query(ordered=False))
    assert a == b


def test_dsv2_write_overwrite_supersedes(spark, writer_db):
    p = writer_db
    _df1(spark).write.format("matdb").mode("append").save(p)
    spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("j"),
        F.lit(1.5).alias("v"),
        F.lit(7).cast("long").alias("w"),
    ).write.format("matdb").mode("overwrite").save(p)
    db = Database.open(spark, p)
    assert db.begin().query(ordered=False).count() == 5
    # pre-overwrite history remains time-travelable until vacuum
    assert db.begin(as_of=1).query(ordered=False).count() == 50


def test_dsv2_write_schema_mismatch_raises(spark, writer_db):
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(5).select(
            F.col("id").alias("k"), F.col("id").alias("wrong")
        ).write.format("matdb").mode("append").save(writer_db)


def test_dsv2_write_null_dim_raises(spark, writer_db):
    bad = spark.range(3).select(
        F.when(F.col("id") == 1, None).otherwise(F.col("id")).alias("k"),
        F.lit(0).cast("long").alias("j"),
        F.lit(1.0).alias("v"),
        F.lit(1).cast("long").alias("w"),
    )
    with pytest.raises(Exception, match="null dimension"):
        bad.write.format("matdb").mode("append").save(writer_db)


def test_dsv2_write_manifest_has_files_and_stats(spark, writer_db):
    from matdb_spark import manifest

    p = writer_db
    _df1(spark).write.format("matdb").mode("append").save(p)
    t = manifest.committed_txn_ids(p)[-1]
    m = manifest.read_manifest(p, t)
    assert m["files"], m
    assert all(f.startswith("seg=0/") for f in m["files"])
    assert m["stats"]["rows"] == 50
    assert m["stats"]["dims"]["k"] == [0, 49]
    # no leftover reservation
    import os as _os

    assert not any(
        n.endswith(".reserve") for n in _os.listdir(manifest.commits_dir(p))
    )


def test_dsv2_writer_abort_cleans_up(spark, writer_db):
    from matdb_spark import manifest
    from matdb_spark.sources.dsv2 import MatdbBatchWriter

    p = writer_db
    w = MatdbBatchWriter(p, overwrite=False)
    t = w.txn_id
    import os as _os

    _os.makedirs(manifest.txn_data_dir(p, t), exist_ok=True)
    w.abort([])
    assert not _os.path.isdir(manifest.txn_data_dir(p, t))
    assert t not in manifest.committed_txn_ids(p)
    assert not any(
        n.endswith(".reserve") for n in _os.listdir(manifest.commits_dir(p))
    )


# ---------------------------------------------------------- stream writer
def test_dsv2_stream_writer_exactly_once(spark, tmp_path_factory):
    """writeStream.format('matdb'): one txn per micro-batch, stamped
    (stream_source, batch_id); a checkpoint-wiped replay re-delivers
    the files but commits nothing; staging area ends empty."""
    import shutil

    from matdb_spark import manifest

    register_matdb_source(spark)
    base = tmp_path_factory.mktemp("dsv2stream")
    p, ck, src = str(base / "db"), str(base / "ck"), str(base / "src")
    schema = Schema(
        dimensions=[Dimension("k", 10)], values=[Value("v", type="double")]
    )
    Database.create(spark, p, schema)
    spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        q = (
            spark.readStream.schema("k long, v double")
            .parquet(src)
            .writeStream.format("matdb")
            .option("checkpointLocation", ck)
            .option("source", "t_once")
            .trigger(availableNow=True)
            .start(p)
        )
        q.awaitTermination(120)

    run()
    db = Database.open(spark, p)
    assert db.begin().query(ordered=False).count() == 20
    spark.range(20, 35).select(
        F.col("id").alias("k"), (F.col("id") + 0.5).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    db = Database.open(spark, p)
    assert db.begin().query(ordered=False).count() == 35
    assert manifest.max_committed_batch_id(p, "t_once") == 1
    txns_before = manifest.committed_txn_ids(p)
    # wipe the checkpoint: Spark re-delivers everything as batch 0 —
    # suppression must commit nothing new
    shutil.rmtree(ck)
    run()
    db = Database.open(spark, p)
    assert db.begin().query(ordered=False).count() == 35
    assert manifest.committed_txn_ids(p) == txns_before
    staging = os.path.join(manifest.data_dir(p), "_stream_staging")
    assert not (os.path.isdir(staging) and os.listdir(staging))


def test_dsv2_stream_writer_rejects_non_append(spark, tmp_path_factory):
    register_matdb_source(spark)
    base = tmp_path_factory.mktemp("dsv2sc")
    p, src = str(base / "db"), str(base / "src")
    Database.create(
        spark, p, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v")).write.parquet(src)
    with pytest.raises(Exception, match="append"):
        (
            spark.readStream.schema("k long, v long")
            .parquet(src)
            .groupBy("k")
            .count()
            .writeStream.format("matdb")
            .outputMode("complete")
            .option("checkpointLocation", str(base / "ck"))
            .start(p)
        ).awaitTermination(60)


def test_recover_sweeps_stale_stream_staging(tmp_path):
    from matdb_spark import manifest

    p = str(tmp_path / "db")
    manifest.init_layout(p)
    staging = os.path.join(manifest.data_dir(p), "_stream_staging", "deadbeef")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-x.parquet"), "w") as f:
        f.write("junk")
    manifest.recover(p, grace_seconds=0.0)
    assert not os.path.isdir(staging)
    # fresh debris survives the default grace (live writer protection)
    os.makedirs(staging)
    manifest.recover(p)  # default grace
    assert os.path.isdir(staging)


# ------------------------------------------------------------- CDC source
def test_dsv2_cdc_source_matches_changes(spark, tmp_path_factory):
    """readStream.format('matdb').option('feed','changes'): net-effect
    rows with change_type/__txn tags, equal to Database.changes over
    the same window; a restarted query picks up only new commits."""
    base = tmp_path_factory.mktemp("dsv2cdc")
    p, ck, out = str(base / "db"), str(base / "ck"), str(base / "out")
    register_matdb_source(spark)
    schema = Schema(
        dimensions=[Dimension("k", 10)], values=[Value("v", type="double")]
    )
    db = Database.create(spark, p, schema)
    t1 = db.begin(); t1.add_rows([(i, float(i)) for i in range(10)]); t1.commit()
    t2 = db.begin(); t2.add_rows([(3, 333.0), (4, 444.0)]); t2.commit()
    t3 = db.begin(); t3.delete_row([5]); t3.commit()

    def run():
        q = (
            spark.readStream.format("matdb")
            .option("feed", "changes")
            .option("since", 0)
            .load(p)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    rows = {
        r["k"]: (r["v"], r["change_type"], r["__txn"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(rows) == 10
    assert rows[3] == (333.0, "upsert", 2)
    assert rows[5] == (None, "delete", 3)
    t4 = db.begin(); t4.add_rows([(7, 777.0)]); t4.commit()
    run()
    allr = [tuple(r) for r in spark.read.parquet(out).collect()]
    assert len(allr) == 11  # exactly the one new commit was delivered
    lib = {
        r["k"]: (r["v"], r["change_type"], r["__txn"])
        for r in db.changes(0, 4).collect()
    }
    got = dict(rows)
    got[7] = (777.0, "upsert", 4)
    assert lib == got


def test_dsv2_cdc_batch_read_raises(spark, tmp_path_factory):
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2cdcb") / "db")
    Database.create(
        spark, p, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    with pytest.raises(Exception, match="STREAMING source"):
        spark.read.format("matdb").option("feed", "changes").load(p).collect()


def test_dsv2_cdc_store_replication(spark, tmp_path_factory):
    """Store-to-store replication through the format alone: CDC source
    feeding the matdb sink. Tombstones ride as all-null-value rows —
    which IS the engine's delete — so the replica's snapshot equals
    the source's snapshot, deletes included, exactly-once end to end."""
    base = tmp_path_factory.mktemp("dsv2repl")
    src, dst, ck = str(base / "src"), str(base / "dst"), str(base / "ck")
    register_matdb_source(spark)
    schema = Schema(
        dimensions=[Dimension("k", 10)], values=[Value("v", type="double")]
    )
    db = Database.create(spark, src, schema)
    Database.create(spark, dst, schema)
    t1 = db.begin(); t1.add_rows([(i, float(i)) for i in range(20)]); t1.commit()
    t2 = db.begin(); t2.add_rows([(4, 44.0)]); t2.commit()
    t3 = db.begin(); t3.delete_row([9]); t3.commit()

    def replicate():
        q = (
            spark.readStream.format("matdb")
            .option("feed", "changes")
            .option("since", 0)
            .load(src)
            .select("k", "v")  # drop the tags: all-null v = tombstone
            .writeStream.format("matdb")
            .option("checkpointLocation", ck)
            .option("source", "repl")
            .trigger(availableNow=True)
            .start(dst)
        )
        q.awaitTermination(120)

    replicate()
    a = _key(Database.open(spark, src).begin().query(ordered=False))
    b = _key(Database.open(spark, dst).begin().query(ordered=False))
    assert a == b and len(a) == 19
    # keep replicating new commits
    t4 = db.begin(); t4.add_rows([(2, 222.0)]); t4.commit()
    replicate()
    a2 = _key(Database.open(spark, src).begin().query(ordered=False))
    b2 = _key(Database.open(spark, dst).begin().query(ordered=False))
    assert a2 == b2


def test_dsv2_writer_incremental_flush(spark, tmp_path_factory):
    """The task-side writer's per-chunk bound: one task writing more
    than ``_FLUSH_ROWS`` plus one Arrow batch (about 10k rows) into one
    chunk lands them as several key-sorted files of that chunk, and
    the scan result is the library's."""
    from matdb_spark.scan import _FLUSH_ROWS

    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2flush") / "db")
    n = _FLUSH_ROWS + 20_000
    schema = Schema(
        dimensions=[Dimension("k", 1_000_000)], values=[Value("v", type="double")]
    )
    Database.create(spark, p, schema)
    df = spark.range(n).coalesce(1).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    df.write.format("matdb").mode("append").save(p)

    t = manifest.committed_txn_ids(p)[-1]
    m = manifest.read_manifest(p, t)
    assert len(m["files"]) >= 2  # flushed before the task's input ended
    assert {f.rsplit("/", 1)[0] for f in m["files"]} == {"seg=0/__chunk_k=0"}
    assert m["stats"]["rows"] == n and m["stats"]["dims"]["k"] == [0, n - 1]
    got = spark.read.format("matdb").load(p)
    lib = Database.open(spark, p).begin().query(ordered=False)
    assert got.count() == n and got.exceptAll(lib).count() == 0
    # each flushed file is key-sorted within itself
    import pyarrow.parquet as pq_

    tdir = manifest.txn_data_dir(p, t)
    for rel in m["files"]:
        ks = pq_.read_table(os.path.join(tdir, rel), columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)


def test_dsv2_write_routes_like_add_dataframe(spark, tmp_path_factory):
    """The format writer routes keys to chunks as ``add_dataframe``
    does, at the edges of the integral types (floor division of
    negatives, the type minimum and maximum, decimal(20,0)'s +-(10^20 -
    1)): the same rows land in the same chunk directories with equal
    txn stats, and read back equal."""
    import decimal

    register_matdb_source(spark)
    s = 10
    longs = [-(2**63), -s - 1, -1, 0, s - 1, s, 2**63 - 1]
    ints = [-(2**31), -s - 1, -1, 0, s - 1, s, 2**31 - 1]
    decs = [decimal.Decimal(v) for v in (-(10**20 - 1), -s - 1, -1, 0, s - 1, -s, 10**20 - 1)]
    schema = Schema(
        dimensions=[
            Dimension("l", s),
            Dimension("i", s, type="int"),
            Dimension("d", s, type="decimal(20,0)"),
        ],
        values=[Value("v")],
    )
    rows = [(l, i, d, n) for n, (l, i, d) in enumerate(zip(longs, ints, decs))]
    df = spark.createDataFrame(rows, schema.spark_schema())
    base = tmp_path_factory.mktemp("dsv2route")
    lib_p, fmt_p = str(base / "lib"), str(base / "fmt")
    with Database.create(spark, lib_p, schema).begin() as t:
        t.add_dataframe(df)
        t.commit()
    Database.create(spark, fmt_p, schema)
    df.write.format("matdb").mode("append").save(fmt_p)

    lib_m, fmt_m = (manifest.read_manifest(q, manifest.committed_txn_ids(q)[-1]) for q in (lib_p, fmt_p))

    def dirs(m):
        return sorted({f.rsplit("/", 1)[0] for f in m["files"]})

    want = {f"seg=0/__chunk_l={l // s}/__chunk_i={i // s}/__chunk_d={int(d) // s}" for l, i, d, _ in rows}
    assert dirs(fmt_m) == dirs(lib_m) == sorted(want)
    assert fmt_m["stats"] == lib_m["stats"]
    assert lib_m["stats"]["rows"] == len(rows)
    lib, fmt = (Database.open(spark, q).begin() for q in (lib_p, fmt_p))
    assert _key(fmt.query()) == _key(lib.query()) == sorted(rows)
    box = {"l": (-s - 1, s), "i": (-s - 1, s), "d": (decimal.Decimal(-s - 1), decimal.Decimal(s))}
    assert _key(fmt.query_range(box)) == _key(lib.query_range(box)) == sorted(rows[1:6])


def test_dsv2_read_after_store_recreated_at_same_path(spark, tmp_path_factory):
    """A store deleted and re-created at the same path reads as the new
    store through ``format("matdb")``: the reused Python worker that
    plans the read must not serve the old store's cached manifests."""
    import shutil

    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2recreate") / "db")
    schema = Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    for rows in ([(1, 1), (2, 2)], [(30, 3)], [(40, 4), (55, 5)]):
        shutil.rmtree(p, ignore_errors=True)
        db = Database.create(spark, p, schema)
        with db.begin() as t:
            t.add_rows(rows)
            t.commit()
        assert _key(db.begin().query()) == rows
        assert _key(spark.read.format("matdb").load(p)) == rows


_TZ_SCRIPT = r"""
import datetime, json, os, sys
from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark.session import get_spark
from matdb_spark.sources.dsv2 import register_matdb_source

spark = get_spark(
    cpus=2, extra_conf={"spark.sql.session.timeZone": "America/Los_Angeles", "spark.matdb.catalog": "off"}
)
register_matdb_source(spark)
base = sys.argv[1]
p = os.path.join(base, "db")
schema = Schema(dimensions=[Dimension("t", 0, type="timestamp")], values=[Value("at", "timestamp")])
Database.create(spark, p, schema)
utc = datetime.timezone.utc
batch = [(datetime.datetime(2024, 1, 15, 12, 0, tzinfo=utc), datetime.datetime(2024, 1, 15, 23, 30, tzinfo=utc))]
stream = [(datetime.datetime(2024, 7, 1, 0, 0, 0, 5, tzinfo=utc), datetime.datetime(1969, 12, 31, 23, 0, tzinfo=utc))]
spark.createDataFrame(batch, schema.spark_schema()).write.format("matdb").mode("append").save(p)
src = os.path.join(base, "src")
spark.createDataFrame(stream, schema.spark_schema()).write.parquet(src)
q = (
    spark.readStream.schema(schema.spark_schema()).parquet(src).writeStream.format("matdb")
    .option("checkpointLocation", os.path.join(base, "ck")).trigger(availableNow=True).start(p)
)
q.awaitTermination(300)
got = Database.open(spark, p).begin().query().selectExpr("unix_micros(t)", "unix_micros(at)").collect()
want = [(int(a.timestamp() * 1e6), int(b.timestamp() * 1e6)) for a, b in batch + stream]
print("RESULT" + json.dumps({"got": [list(r) for r in got], "want": sorted(want)}))
"""


def test_dsv2_writes_timestamps_at_their_instant(tmp_path):
    """Timestamps written through the batch and the stream sink read
    back through ``query()`` at the instants written, with the worker
    in one time zone (``TZ``) and the session in another."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, TZ="America/New_York", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, str(tmp_path)], capture_output=True, text=True, env=env, timeout=600
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("RESULT")][-1][len("RESULT"):])
    assert out["got"] == out["want"]


def test_dsv2_string_dim_store(spark, tmp_path_factory):
    """String-typed dims flow through the format path: chunkless
    string key + chunked long key, resolution ties on the string
    compare (numpy object arrays in the reader)."""
    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2str") / "db")
    schema = Schema(
        dimensions=[Dimension("name", 0, type="string"), Dimension("k", 10)],
        values=[Value("v", type="double")],
    )
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(f"s{i % 5}", i, float(i)) for i in range(30)])
    t1.commit()
    t2 = db.begin()
    t2.add_rows([("s0", 0, 999.0)])
    t2.commit()
    got = _key(spark.read.format("matdb").load(p))
    lib = _key(db.begin().query(ordered=False))
    assert got == lib and ("s0", 0, 999.0) in got


def test_dsv2_decimal_chunked_dim_store(spark, tmp_path_factory):
    """decimal(20,0) chunked dims (the u64 escape hatch): chunk-dir
    parsing, pruning bounds, and Arrow decimal128 round-trip through
    the format reader AND writer."""
    import decimal

    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2dec") / "db")
    schema = Schema(
        dimensions=[Dimension("k", 10, type="decimal(20,0)")],
        values=[Value("v")],
    )
    db = Database.create(spark, p, schema)
    t1 = db.begin()
    t1.add_rows([(decimal.Decimal(i), i) for i in range(40)])
    t1.commit()
    got = {int(r["k"]): r["v"] for r in spark.read.format("matdb").load(p).collect()}
    assert len(got) == 40 and got[7] == 7
    # write through the format too
    spark.createDataFrame(
        [(decimal.Decimal(5), 555)], "k decimal(20,0), v long"
    ).write.format("matdb").mode("append").save(p)
    lib = {int(r["k"]): r["v"] for r in
           Database.open(spark, p).begin().query(ordered=False).collect()}
    assert lib[5] == 555 and len(lib) == 40
    got2 = {int(r["k"]): r["v"] for r in spark.read.format("matdb").load(p).collect()}
    assert got2 == lib


def test_dsv2_cdc_source_raises_on_vacuumed_window(spark, tmp_path_factory):
    """A change-feed window whose commits were compacted and vacuumed
    away is unreadable: the DSv2 source raises the error
    ``Database.changes`` raises, instead of delivering an empty batch."""
    from matdb_spark.sources.dsv2 import MatdbChangesStreamReader

    p = str(tmp_path_factory.mktemp("dsv2cdcvac") / "db")
    db = Database.create(spark, p, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")]))
    for i in range(2):
        with db.begin() as t:
            t.add_rows([(k, i) for k in range(5)])
            t.commit()
    assert db.compact() == 3
    assert db.vacuum() == [1, 2]
    with pytest.raises(ValueError, match=r"\(0, 3\] is unreadable") as lib:
        db.changes(0, 3)
    with pytest.raises(ValueError) as src:
        MatdbChangesStreamReader(p, 0).partitions({"cursor": 0}, {"cursor": 3})
    assert str(src.value) == str(lib.value)


def _feed(p, lo, hi):
    """The DSv2 change feed over ``(lo, hi]``, read in-process."""
    from matdb_spark.sources.dsv2 import MatdbChangesStreamReader

    r = MatdbChangesStreamReader(p, lo)
    return [
        row
        for part in r.partitions({"cursor": lo}, {"cursor": hi})
        for batch in r.read(part)
        for row in batch.to_pylist()
    ]


def test_dsv2_double_keys_group_like_spark(spark, tmp_path_factory):
    """A ``double`` key compares as Spark's grouping compares it: NaN
    written in two txns is ONE key (the newer wins), and 0.0 then -0.0
    is one key emitted as 0.0 — in the snapshot reader and the change
    feed alike, as in the library scan."""
    import math

    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2nan") / "db")
    nan = float("nan")
    db = Database.create(
        spark, p, Schema(dimensions=[Dimension("k", 0, type="double")], values=[Value("v")])
    )
    with db.begin() as t:
        t.add_rows([(nan, 1), (0.0, 1), (1.5, 1)])
        t.commit()
    with db.begin() as t:
        t.add_rows([(nan, 2), (-0.0, 2)])
        t.commit()

    def rows(rs):  # repr keeps NaN comparable and -0.0 apart from 0.0
        return sorted((repr(r["k"]), r["v"]) for r in rs)

    lib = rows(db.begin().query().collect())
    assert lib == [("0.0", 2), ("1.5", 1), ("nan", 2)]
    assert rows(spark.read.format("matdb").load(p).collect()) == lib
    feed = _feed(p, 0, 2)
    lib_feed = db.changes(0, 2).collect()
    assert sorted((repr(r["k"]), r["v"], r["change_type"], r["__txn"]) for r in feed) == sorted(
        (repr(r["k"]), r["v"], r["change_type"], r["__txn"]) for r in lib_feed
    )
    assert len(feed) == 3 and not any(math.copysign(1, r["k"]) < 0 for r in feed)

    # a pushed IN with NaN prunes in Spark's order (NaN above +inf):
    # txn 3's stats [5.0, NaN] may hold NaN, so it is read
    with db.begin() as t:
        t.add_rows([(nan, 3), (5.0, 3)])
        t.commit()
    got = spark.read.format("matdb").load(p).filter(F.col("k").isin([1.5, nan]))
    assert rows(got.collect()) == [("1.5", 1), ("nan", 3)]


def test_dsv2_change_feed_rejects_change_type_column(spark, tmp_path_factory):
    """A store with a ``change_type`` column cannot carry the feed's tag:
    the DSv2 feed raises the library's error when the stream is
    planned, instead of declaring the column twice."""
    from matdb_spark.sources.dsv2 import MatdbDataSource

    register_matdb_source(spark)
    p = str(tmp_path_factory.mktemp("dsv2ctype") / "db")
    db = Database.create(
        spark, p, Schema(dimensions=[Dimension("k", 10)], values=[Value("change_type", "string")])
    )
    with pytest.raises(ValueError, match="collides") as lib:
        db.changes(0)
    with pytest.raises(ValueError) as src:
        MatdbDataSource({"path": p, "feed": "changes"}).schema()
    assert str(src.value) == str(lib.value)
    with pytest.raises(Exception, match="collides"):
        spark.readStream.format("matdb").option("feed", "changes").load(p)
    # the snapshot read of the same store is unaffected
    assert "change_type" in MatdbDataSource({"path": p}).schema().fieldNames()
