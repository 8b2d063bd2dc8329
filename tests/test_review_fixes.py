"""Regression tests for the round-2 self-review findings.

Each test pins one boundary: cell-state-destroying compaction,
out-of-order commit publication vs the change feed, foreign-writer
commits invisible to changes(), compaction-only windows starving
max_empty_polls, z-order bit overflow past 63 interleaved bits, and
manifest-stats-derived z-order bounds.
"""

import os

import pytest

from matdb_spark import Database, Dimension, Schema, Value, manifest
from matdb_spark.zorder import bits_for, interleave_bits, morton_py, zorder_key


def test_compact_cell_resolution_preserves_partial_upserts(spark, tmp_db_path):
    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "cellcompact"),
        Schema(dimensions=[Dimension("k", 10)], values=[Value("a"), Value("b")]),
    )
    t1 = db.begin()
    t1.add_row([1, 10, 100])
    t1.commit()
    t2 = db.begin()
    t2.add_dataframe(spark.createDataFrame([(1, 11)], "k long, a long"), partial=True)
    t2.commit()

    assert db.compact(resolution="cell") is not None
    r = db.begin().query(cell_merge=True).collect()[0]
    assert (r["a"], r["b"]) == (11, 100), "cell state lost by compaction"
    # after a cell-resolution compaction the row-level view agrees too
    r = db.begin().query().collect()[0]
    assert (r["a"], r["b"]) == (11, 100)
    with pytest.raises(ValueError, match="'row' or 'cell'"):
        db.compact(resolution="column")


def test_feed_watermark_holds_for_inflight_lower_txn(spark, tmp_db_path):
    """Writer A reserves id 2 and stages data but hasn't published;
    writer B commits id 3. The feed head must stay at 1 until A
    publishes — otherwise A's commit would be skipped forever."""
    path = os.path.join(tmp_db_path, "wm")
    db = Database.create(
        spark, path, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    t1 = db.begin()
    t1.add_row([1, 10])
    t1.commit()

    # writer A: allocate + stage, no commit yet
    writer_a = Database.open(spark, path).begin()
    writer_a.add_row([2, 20])
    writer_a.flush()

    # writer B (separate handle): full commit — gets a HIGHER id
    b_handle = Database.open(spark, path)
    writer_b = b_handle.begin()
    writer_b.add_row([3, 30])
    writer_b.commit()
    assert writer_b.txn_id > 2

    assert manifest.safe_feed_head(path) == 1
    assert db.changes(since=0).count() == 1  # only txn 1 is safely consumable

    # A publishes → watermark advances past both
    writer_a.commit()
    assert manifest.safe_feed_head(path) == writer_b.txn_id
    rows = {r["k"] for r in db.changes(since=1).collect()}
    assert rows == {2, 3}, "late-publishing lower txn must not be skipped"


def test_changes_sees_foreign_writer_commits(spark, tmp_db_path):
    path = os.path.join(tmp_db_path, "foreign")
    db = Database.create(
        spark, path, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    t1 = db.begin()
    t1.add_row([1, 10])
    t1.commit()
    other = Database.open(spark, path)
    t2 = other.begin()
    t2.add_row([2, 20])
    t2.commit()
    # db's cached next_txn_id is stale; default until must use the listing
    assert {r["k"] for r in db.changes(since=0).collect()} == {1, 2}


def test_follow_drains_through_compaction_only_windows(spark, tmp_db_path):
    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "fcompact"),
        Schema(dimensions=[Dimension("k", 10)], values=[Value("v")]),
    )
    for i in range(2):
        t = db.begin()
        t.add_row([i, i * 10])
        t.commit()
    gen = db.follow_changes(since=0, poll_interval=0.01, max_empty_polls=2)
    cur, batch = next(gen)
    assert batch.count() == 2
    db.compact()  # compaction-only activity after the cursor
    # generator must drain (no endless empty batches), cursor advanced
    with pytest.raises(StopIteration):
        next(gen)


def test_interleave_rejects_overflow_and_bits_for_caps(spark):
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="max 63"):
        interleave_bits([F.col("a"), F.col("b"), F.col("c"), F.col("d")], bits=16)
    assert bits_for(2) == 16 and bits_for(3) == 16
    assert bits_for(4) == 15 and bits_for(5) == 12

    # 4-dim interleave at the capped width matches the Python reference
    import random

    random.seed(11)
    bits = bits_for(4)
    pts = [tuple(random.randrange(1 << bits) for _ in range(4)) for _ in range(50)]
    df = spark.createDataFrame(pts, "a long, b long, c long, d long")
    out = df.select(
        "a", "b", "c", "d",
        interleave_bits([F.col(c) for c in "abcd"], bits=bits).alias("z"),
    ).collect()
    for r in out:
        want = morton_py([r["a"], r["b"], r["c"], r["d"]], bits)
        assert r["z"] == want and r["z"] >= 0


def test_stats_bounds_merge_and_zorder_compact_uses_them(spark, tmp_db_path):
    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "statsz"),
        Schema(
            dimensions=[Dimension("x", 100), Dimension("y", 100)],
            values=[Value("v")],
        ),
    )
    t1 = db.begin()
    t1.add_dataframe(
        spark.createDataFrame([(i, i * 2, i) for i in range(50)], "x long, y long, v long")
    )
    t1.commit()
    t2 = db.begin()
    t2.add_dataframe(
        spark.createDataFrame([(i, i * 2, i) for i in range(50, 100)], "x long, y long, v long")
    )
    t2.commit()
    b = db._stats_bounds(manifest.resolve(db.path))
    assert b == {"x": (0, 99), "y": (0, 198)}
    before = sorted(tuple(r) for r in db.snapshot().collect())
    assert db.compact(cluster="zorder") is not None
    assert sorted(tuple(r) for r in db.snapshot().collect()) == before
