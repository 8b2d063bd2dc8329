"""Round-8 fixes for the round-7 ADVICE findings.

1. (high) A post-publish checkpoint-fold failure must never fail the
   commit — and neither rollback() nor DSv2 abort() may ever delete
   the data files of a txn whose manifest exists (the corruption
   chain: publish OK -> maybe_checkpoint raises -> Spark abort ->
   discard_txn_data deletes live parquet).
2. (medium) evolve=true schema evolution must commit WITH the
   transaction: an aborted write evolves nothing, and two concurrent
   evolving writers serialize under the schema lock so neither loses
   the other's column.
3. (low) register_store warns when a leaked reservation pins the
   view's watermark behind the committed head.
4. (low) A JPEG whose SOS component selectors don't match the SOF ids
   (KeyError path) degrades to metadata-only, keeping the parsed dims.
5. (low) ddl._strip_comments is quote-aware: '--' inside a string
   literal survives.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from matdb_spark import Database, Dimension, Schema, Value, manifest
from matdb_spark.catalog import register_store
from matdb_spark.ddl import _strip_comments
from matdb_spark.operators import multimodal as M
from matdb_spark.schema import evolve
from matdb_spark.sources.dsv2 import _check_write_schema, register_matdb_source

SCHEMA_FILENAME = "schema.json"


def _mk_store(spark, path, n=3):
    db = Database.create(
        spark, path, Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    )
    t = db.begin()
    t.add_rows([[i, i * 10] for i in range(n)])
    t.commit()
    return db


# ---------------------------------------------------------------- item 1
def test_checkpoint_failure_does_not_fail_commit(spark, tmp_db_path, monkeypatch):
    db = _mk_store(spark, tmp_db_path)

    def boom(path, interval=None):
        raise OSError("ENOSPC: no space left on device")

    monkeypatch.setattr(manifest, "maybe_checkpoint", boom)
    t = db.begin()
    t.add_row([7, 700])
    t.commit()  # must not raise despite the fold failing
    assert t.txn_id in manifest.committed_txn_ids(tmp_db_path)
    # the handle is closed: a defensive rollback after commit is a no-op
    t.rollback()
    rows = {r["k"]: r["v"] for r in db.begin().query().collect()}
    assert rows[7] == 700


def test_discard_refuses_published_txn_data(spark, tmp_db_path):
    db = _mk_store(spark, tmp_db_path)
    txn = manifest.committed_txn_ids(tmp_db_path)[-1]
    d = manifest.txn_data_dir(tmp_db_path, txn)
    assert os.path.isdir(d)
    manifest.discard_txn_data(tmp_db_path, txn)  # guard: no-op
    assert os.path.isdir(d)
    # vacuum's force path still works (it removes the manifest too)
    manifest.discard_txn_data(tmp_db_path, txn, force=True)
    assert not os.path.isdir(d)


def test_dsv2_abort_after_publish_preserves_data(spark, tmp_db_path):
    """Spark calling abort() on a writer whose publish already landed
    (e.g. a post-commit hook raised) must not delete live data."""
    from matdb_spark.sources.dsv2 import MatdbBatchWriter

    _mk_store(spark, tmp_db_path)
    w = MatdbBatchWriter(tmp_db_path, overwrite=False)
    # simulate: publish landed, then the driver calls abort
    os.makedirs(manifest.txn_data_dir(tmp_db_path, w.txn_id), exist_ok=True)
    manifest.publish(tmp_db_path, w.txn_id, segment_count=1, extra={"files": []})
    w.abort([])
    assert os.path.isdir(manifest.txn_data_dir(tmp_db_path, w.txn_id))
    assert w.txn_id in manifest.committed_txn_ids(tmp_db_path)


def test_vacuum_still_reclaims_superseded(spark, tmp_db_path):
    db = _mk_store(spark, tmp_db_path)
    t = db.begin()
    t.add_row([0, 999])
    t.commit()
    old = manifest.committed_txn_ids(tmp_db_path)[0]
    db.compact()
    removed = db.vacuum(min_age_seconds=0)
    assert old in removed
    assert not os.path.isdir(manifest.txn_data_dir(tmp_db_path, old))


# ---------------------------------------------------------------- item 2
def test_aborted_evolving_write_does_not_evolve_schema(spark, tmp_db_path):
    _mk_store(spark, tmp_db_path)
    register_matdb_source(spark)
    before = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    # NULL dimension -> every task raises -> writer aborts
    df = spark.createDataFrame(
        [Row(k=None, v=1, extra=5)], "k long, v long, extra long"
    )
    with pytest.raises(Exception):
        df.write.format("matdb").mode("append").option(
            "evolve", "true"
        ).save(tmp_db_path)
    after = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    assert after.column_names == before.column_names  # nothing evolved
    assert after.epoch == before.epoch


def test_evolving_write_commits_schema_with_txn(spark, tmp_db_path):
    _mk_store(spark, tmp_db_path)
    register_matdb_source(spark)
    df = spark.createDataFrame([Row(k=8, v=80, extra=5)])
    df.write.format("matdb").mode("append").option("evolve", "true").save(
        tmp_db_path
    )
    sch = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    assert "extra" in sch.column_names
    got = (
        spark.read.format("matdb")
        .load(tmp_db_path)
        .where("k = 8")
        .first()
    )
    assert got["extra"] == 5


def test_concurrent_evolution_loses_no_column(spark, tmp_db_path):
    """Two writers planned against the SAME old schema each carry a
    different pending column; applying both (the commit-time path)
    must keep both — the unlocked read-modify-write this replaces
    would lose the first writer's column."""
    _mk_store(spark, tmp_db_path)
    sch0 = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    p1 = _check_write_schema(
        tmp_db_path,
        spark.createDataFrame([Row(k=1, v=1, c1=1)]).schema,
        evolve=True,
    )
    p2 = _check_write_schema(
        tmp_db_path,
        spark.createDataFrame([Row(k=1, v=1, c2=1.5)]).schema,
        evolve=True,
    )
    evolve(tmp_db_path, p1)
    evolve(tmp_db_path, p2)
    sch = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    assert {"c1", "c2"} <= set(sch.column_names)
    assert sch.epoch == sch0.epoch + 2
    # idempotent re-apply (stream replay): same type is a no-op
    evolve(tmp_db_path, p1)
    assert Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME)).epoch == sch0.epoch + 2
    # a differing type for an existing column is a loud conflict
    with pytest.raises(ValueError, match="conflict"):
        evolve(tmp_db_path, [("c1", "double")])
    # the lock never leaks
    assert not os.path.exists(
        os.path.join(tmp_db_path, SCHEMA_FILENAME + ".lock")
    )


def test_stale_evolution_lock_is_stolen(spark, tmp_db_path):
    _mk_store(spark, tmp_db_path)
    lock = os.path.join(tmp_db_path, SCHEMA_FILENAME + ".lock")
    with open(lock, "w"):
        pass
    os.utime(lock, (0, 0))  # ancient: the holder crashed
    evolve(tmp_db_path, [("late", "long")])
    sch = Schema.load(os.path.join(tmp_db_path, SCHEMA_FILENAME))
    assert "late" in sch.column_names
    assert not os.path.exists(lock)


# ---------------------------------------------------------------- item 3
def test_register_store_warns_on_stalled_watermark(spark, tmp_db_path):
    db = _mk_store(spark, tmp_db_path)
    leak = db.begin()
    leak.add_row([5, 50])
    leak_id = leak._ensure_txn_id()  # reservation held, never published
    newer = db.begin()
    newer.add_row([6, 60])
    newer.commit()
    with pytest.warns(UserWarning, match="safe_feed_head"):
        register_store(spark, "advice_r7_stall_view", tmp_db_path)
    leak.rollback()
    # healthy store: no warning
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        register_store(spark, "advice_r7_stall_view", tmp_db_path)
    assert leak_id not in manifest.outstanding_txn_ids(tmp_db_path)


# ---------------------------------------------------------------- item 4
def _seg(marker: int, body: bytes) -> bytes:
    return b"\xff" + bytes([marker]) + (len(body) + 2).to_bytes(2, "big") + body


def test_jpeg_sos_selector_mismatch_keeps_dims():
    """SOS names component id 2 but SOF defines only id 1: the scan's
    tsel/pred lookups raise KeyError, which must degrade to
    metadata-only (dims survive), not the generic malformed path."""
    dqt = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    dc0 = _seg(0xC4, bytes([0x00]) + bytes([1, 1] + [0] * 14) + bytes([0, 2]))
    ac0 = _seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00]))
    sof = _seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    bad_sos = _seg(0xDA, bytes([1, 2, 0x00, 0, 63, 0]))  # cid=2: unknown
    payload = b"\xff\xd8" + dqt + dc0 + ac0 + sof + bad_sos + bytes([0x3F]) + b"\xff\xd9"
    r = M._decode_with_real_codec(payload)
    assert (r["width"], r["height"]) == (8, 8)
    assert r["brightness"] is None


# ---------------------------------------------------------------- item 5
def test_strip_comments_quote_aware():
    s = "CREATE TABLE t (k long) USING matdb LOCATION '/data/my--store'"
    assert _strip_comments(s) == s
    assert (
        _strip_comments("DROP TABLE t -- bye\n;").strip()
        == "DROP TABLE t \n;".strip()
    )
    # comment after a closed literal still stripped
    assert _strip_comments("VACUUM t '--x' -- real comment") == "VACUUM t '--x' "
    # doubled-quote escape: the inner '' reopens the literal
    assert _strip_comments("SELECT 'a''--b'") == "SELECT 'a''--b'"
