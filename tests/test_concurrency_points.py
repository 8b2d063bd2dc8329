"""Round-2 engine extensions: concurrent-writer id allocation, point
lookups through the pruning tiers, and bloom-filter dims.
"""

import os

from pyspark.sql import functions as F

from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark import manifest


def test_concurrent_writers_no_id_collision(spark, tmp_db_path):
    """Two Database handles on the same path (two 'processes') commit
    interleaved: ids never collide, both commits are visible."""
    path = os.path.join(tmp_db_path, "mw")
    schema = Schema(dimensions=[Dimension("k")], values=[Value("v")])
    db_a = Database.create(spark, path, schema)
    db_b = Database.open(spark, path)

    ta = db_a.begin()
    tb = db_b.begin()
    ta.add_dataframe(spark.createDataFrame([(1, 10)], "k long, v long"))
    tb.add_dataframe(spark.createDataFrame([(2, 20)], "k long, v long"))
    # both flushed (ids allocated) before either commits
    ta.flush()
    tb.flush()
    assert ta.txn_id != tb.txn_id
    tb.commit()
    ta.commit()
    assert sorted(manifest.committed_txn_ids(path)) == sorted([ta.txn_id, tb.txn_id])
    # reservations are cleaned up at publish
    assert not [
        f for f in os.listdir(manifest.commits_dir(path)) if f.endswith(".reserve")
    ]
    db_c = Database.open(spark, path)
    assert db_c.snapshot().count() == 2
    assert db_c.next_txn_id > max(ta.txn_id, tb.txn_id)


def test_rollback_releases_reservation(spark, tmp_db_path):
    path = os.path.join(tmp_db_path, "rb")
    schema = Schema(dimensions=[Dimension("k")], values=[Value("v")])
    db = Database.create(spark, path, schema)
    txn = db.begin()
    txn.add_dataframe(spark.createDataFrame([(1, 1)], "k long, v long"))
    txn.flush()
    assert os.path.exists(
        os.path.join(manifest.commits_dir(path), f"{txn.txn_id:08d}.reserve")
    )
    txn.rollback()
    assert not [
        f for f in os.listdir(manifest.commits_dir(path)) if f.endswith(".reserve")
    ]


def test_query_points(spark, tmp_db_path):
    schema = Schema(
        dimensions=[Dimension("a", chunk_size=10), Dimension("b")],
        values=[Value("v")],
    )
    db = Database.create(spark, os.path.join(tmp_db_path, "pts"), schema)
    rows = [(i, j, i * 100 + j) for i in range(20) for j in range(5)]
    with db.begin() as txn:
        txn.add_dataframe(spark.createDataFrame(rows, "a long, b long, v long"))
        txn.commit()
    txn = db.begin()
    got = txn.query_points([(3, 1), (15, 4), (3, 2)]).collect()
    assert sorted((r.a, r.b, r.v) for r in got) == [(3, 1, 301), (3, 2, 302), (15, 4, 1504)]
    # missing keys return nothing; empty key set returns empty frame
    assert txn.query_points([(99, 0)]).count() == 0
    assert txn.query_points([]).count() == 0
    # read-your-own-writes: buffered point visible too
    txn2 = db.begin()
    txn2.add_row([50, 1, 9999])
    assert [(r.a, r.b, r.v) for r in txn2.query_points([(50, 1)]).collect()] == [
        (50, 1, 9999)
    ]


def test_query_points_single_dim_uses_in_pushdown(spark, tmp_db_path, monkeypatch):
    from matdb_spark import scan

    # the Spark plan's pushdown: a read this small is otherwise served
    # on the driver, with no parquet scan to inspect
    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
    schema = Schema(dimensions=[Dimension("k", chunk_size=100)], values=[Value("v")])
    db = Database.create(spark, os.path.join(tmp_db_path, "pin"), schema)
    with db.begin() as txn:
        txn.add_dataframe(
            spark.createDataFrame([(i, i) for i in range(1000)], "k long, v long")
        )
        txn.commit()
    df = db.begin().query_points([(7,), (707,)], ordered=False)
    assert sorted(r.k for r in df.collect()) == [7, 707]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(k" in plan.replace(" ", ""), plan[:2000]


def test_bloom_filter_write_and_roundtrip(spark, tmp_db_path):
    schema = Schema(
        dimensions=[Dimension("t", chunk_size=1000), Dimension("sensor", bloom=True)],
        values=[Value("v", type="double")],
    )
    db = Database.create(spark, os.path.join(tmp_db_path, "bloom"), schema)
    rows = [(i, i % 97, float(i)) for i in range(5000)]
    with db.begin() as txn:
        txn.add_dataframe(spark.createDataFrame(rows, "t long, sensor long, v double"))
        txn.commit()
    # schema persists the bloom flag
    reopened = Database.open(spark, db.path)
    assert [d.bloom for d in reopened.schema.dimensions] == [False, True]
    got = reopened.begin().query_points([(123, 123 % 97)]).collect()
    assert [(r.t, r.sensor) for r in got] == [(123, 123 % 97)]
