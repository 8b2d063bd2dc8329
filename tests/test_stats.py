"""Manifest-level segment statistics: txn-level zone maps + pruning.

The reference's block zone maps (block.rs:210-232, segment.rs:138-163)
map to parquet row-group stats at file level; stats.py lifts them to
the transaction level so key-range scans can drop whole transactions
at planning time. These tests pin: stats land in the manifest, range
scans read only intersecting transactions' files, results stay right,
and missing stats disable pruning without affecting correctness.
"""

import os

from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark import manifest, stats
from matdb_spark.scan import plan_txns, read_plan
from matdb_spark.stats import txn_intersects


def _schema():
    return Schema(
        dimensions=[Dimension("k", chunk_size=100)], values=[Value("v")]
    )


def _write_range(db, lo, hi):
    with db.begin() as txn:
        txn.add_dataframe(
            db.spark.createDataFrame([(k, k) for k in range(lo, hi)], "k long, v long")
        )
        txn.commit()
        return txn.txn_id


def test_stats_published_in_manifest(spark, tmp_db_path):
    db = Database.create(spark, os.path.join(tmp_db_path, "s"), _schema())
    t = _write_range(db, 0, 500)
    m = manifest.read_manifest(db.path, t)
    assert m["stats"]["rows"] == 500
    assert m["stats"]["dims"]["k"] == [0, 499]


def test_range_scan_prunes_whole_txns(spark, tmp_db_path):
    db = Database.create(spark, os.path.join(tmp_db_path, "p"), _schema())
    t1 = _write_range(db, 0, 1000)
    t2 = _write_range(db, 5000, 6000)
    txn = db.begin()
    df = txn.query_range({"k": (5100, 5200)}, ordered=False)
    files = read_plan(txn._source(), {"k": (5100, 5200)}).paths
    assert files, "expected a non-empty file set"
    assert all(f"txn={t2}" in f for f in files), files
    assert not any(f"txn={t1}" in f for f in files), files
    assert {f.split("__chunk_k=")[1].split("/")[0] for f in files} == {"51", "52"}, files
    assert df.count() == 101
    # bounds spanning both txns read both and return the union
    df2 = txn.query_range({"k": (900, 5100)}, ordered=False)
    assert df2.count() == 100 + 101


def test_pruned_scan_matches_unpruned(spark, tmp_db_path):
    db = Database.create(spark, os.path.join(tmp_db_path, "c"), _schema())
    _write_range(db, 0, 300)
    _write_range(db, 200, 600)  # overlapping upsert (same v, new txn)
    txn = db.begin()
    got = sorted(r.k for r in txn.query_range({"k": (250, 450)}).collect())
    assert got == list(range(250, 451))


def test_txn_intersects_missing_stats_keeps_txn():
    assert txn_intersects(None, {"k": (0, 10)})
    assert txn_intersects({}, {"k": (0, 10)})
    assert txn_intersects({"rows": 5, "dims": {}}, {"k": (0, 10)})
    s = {"rows": 5, "dims": {"k": [100, 200]}}
    assert not txn_intersects(s, {"k": (0, 10)})
    assert not txn_intersects(s, {"k": (201, None)})
    assert txn_intersects(s, {"k": (150, None)})
    assert txn_intersects(s, {"k": (None, 100)})
    assert txn_intersects(s, {"other": (0, 1)})


def test_plan_txns_checks_through_the_stats_module(spark, tmp_db_path, monkeypatch):
    """``plan_txns`` looks ``txn_intersects`` up on ``matdb_spark.stats``
    at call time, so a wrapper installed there (storebench's traced run
    counts kept and pruned checks this way) sees every (txn, box) check."""
    db = Database.create(spark, os.path.join(tmp_db_path, "w"), _schema())
    _write_range(db, 0, 100)
    _write_range(db, 5000, 5100)
    seen = []

    def counting(s, box):
        seen.append(box)
        return txn_intersects(s, box)

    monkeypatch.setattr(stats, "txn_intersects", counting)
    boxes = [{"k": (5, 5)}, {"k": (5050, 5050)}]
    kept, _, _ = plan_txns(db.begin().snapshot, boxes)
    assert kept == {1: [0], 2: [1]}
    assert len(seen) == 4
