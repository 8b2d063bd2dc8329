"""Manifest-recorded file lists: scans resolve (and chunk-prune) their
file sets from the commit manifest instead of filesystem listing jobs.
"""

import json
import os
import shutil

from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark import manifest

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def _build(spark, name):
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    db = Database.create(
        spark,
        path,
        Schema(dimensions=[Dimension("k", 10)], values=[Value("v")]),
    )
    t = db.begin()
    t.add_dataframe(
        spark.createDataFrame([(i, i * 10) for i in range(100)], "k long, v long")
    )
    t.commit()
    return db, path


def test_manifest_records_files(spark):
    db, path = _build(spark, "mf_files_db")
    mf = manifest.read_manifest_cached(path, 1)
    files = mf.get("files")
    assert files, "commit manifest must record the txn's data files"
    assert all(f.startswith("seg=0/") and f.endswith(".parquet") for f in files)
    # every recorded file exists
    tdir = manifest.txn_data_dir(path, 1)
    assert all(os.path.isfile(os.path.join(tdir, f)) for f in files)


def test_bounded_scan_reads_only_matching_chunks(spark):
    from matdb_spark.scan import read_plan

    db, path = _build(spark, "mf_prune_db")
    files = read_plan(db.begin()._source(), {"k": (20, 29)}).paths
    # driver-side chunk pruning: the scan's file set is just chunk 2
    assert files and all("__chunk_k=2" in f for f in files), files
    assert db.begin().query_range({"k": (20, 29)}, ordered=False).count() == 10


def test_all_pruned_range_is_empty_not_error(spark):
    db, path = _build(spark, "mf_empty_db")
    assert db.begin().query_range({"k": (5000, 6000)}, ordered=False).count() == 0


def test_legacy_manifest_without_files_falls_back(spark):
    db, path = _build(spark, "mf_legacy_db")
    # simulate a store written before file lists existed
    mpath = manifest.manifest_path(path, 1)
    payload = json.load(open(mpath))
    payload.pop("files")
    with open(mpath, "w") as f:
        json.dump(payload, f)
    db2 = Database.open(spark, path)
    assert db2.begin().query(ordered=False).count() == 100
    assert db2.begin().query_range({"k": (20, 29)}, ordered=False).count() == 10


def test_mixed_staged_and_committed(spark):
    db, path = _build(spark, "mf_mixed_db")
    t = db.begin()
    t.add_row([200, 1])
    t.flush()  # staged segment, no manifest yet
    got = {r["k"] for r in t.query_range({"k": (90, 300)}, ordered=False).collect()}
    assert got == {90, 91, 92, 93, 94, 95, 96, 97, 98, 99, 200}
    t.rollback()
