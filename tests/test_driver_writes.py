"""Small library commits written on the driver (``Transaction._write_segment``).

A small generated frame is collected with ``toArrow()`` and written by
``scan.write_segment_files``, the segment writer of the ``matdb``
sinks. These tests pin which frames count as small, that a null
dimension key is refused on both write paths, and that the driver path
keeps each write call's sequence and each timestamp's instant.
"""

from __future__ import annotations

import os
import re

import pytest

from matdb_spark import Database, Dimension, Schema, Value, manifest, scan
from matdb_spark.transaction import _small_write

SCHEMA = Schema(dimensions=[Dimension("t", 10), Dimension("s", 1)], values=[Value("v")])


def _driver_file(rel: str) -> bool:
    """Is ``rel`` named as the driver's writer names files?"""
    return bool(re.fullmatch(r"part-[0-9a-f]{32}\.parquet", rel.rsplit("/", 1)[-1]))


def _by_driver(db) -> bool:
    """Did the driver's writer write every file of the newest txn?"""
    files = manifest.read_manifest(db.path, manifest.committed_txn_ids(db.path)[-1])["files"]
    return bool(files) and all(map(_driver_file, files))


def test_small_write_needs_a_bounded_plan(spark):
    """Spark's size estimate does not grow through ``Generate`` or a
    Python map node, so neither frame is small, however few bytes its
    leaf is estimated at; projections, filters, unions and
    deduplication over generated leaves are."""
    exploded = spark.range(1).selectExpr("explode(sequence(0, 2000000)) AS t", "1 AS s", "2 AS v")
    mapped = spark.range(10).selectExpr("id AS t", "id AS s", "id AS v").mapInPandas(lambda it: it, "t long, s long, v long")
    assert not _small_write(exploded)
    assert not _small_write(mapped)
    bounded = (
        spark.range(400).selectExpr("id % 200 AS t", "id div 200 AS s", "id AS v")
        .filter("v > 3")
        .unionByName(spark.sql("SELECT * FROM (VALUES (1, 2, 3)) AS x(t, s, v)"))
        .dropDuplicates(["t", "s"])
    )
    assert _small_write(bounded)


def test_string_columns_keep_sparks_writer(spark, tmp_db_path):
    """Spark estimates a string value at 20 bytes however long it is, so
    a ``repeat()`` over a ``Range`` passes ``_small_write`` at any width
    (a 1000 × 1 MB frame below, never run); a schema with a string or
    binary column therefore keeps Spark's writer, so no such frame is
    collected onto the driver."""
    wide = spark.range(1000).selectExpr("id AS t", "0 AS s", "repeat('x', 1000000) AS v")
    assert _small_write(wide)
    for vtype in ("string", "binary"):
        db = Database.create(spark, os.path.join(tmp_db_path, vtype), Schema(dimensions=SCHEMA.dimensions, values=[Value("v", type=vtype)]))
        with db.begin() as t:
            t.add_dataframe(spark.range(10).selectExpr("id AS t", "0 AS s", f"CAST(repeat('x', 100) AS {vtype}) AS v"))
            t.commit()
        assert not _by_driver(db)
        assert db.begin().query().count() == 10


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "spark"])
def test_null_dimension_is_refused_and_nothing_published(spark, tmp_db_path, monkeypatch, cap):
    """A null dim raises ``null dimension`` whether the frame is written
    on the driver or by Spark's writer (byte cap 0), for a generated
    frame and for Python rows, and the store keeps its last commit."""
    if cap is not None:
        monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", cap)
    db = Database.create(spark, tmp_db_path, SCHEMA)
    with db.begin() as t:
        t.add_row([5, 5, 50])
        t.commit()
    frames = [
        spark.sql("SELECT * FROM (VALUES (1L, 1L, 10L), (NULL, 2L, 20L)) AS x(t, s, v)"),
        spark.createDataFrame([(1, 1, 10), (None, 2, 20)], "t long, s long, v long"),
        spark.createDataFrame([(1, None, 10)], "t long, s long, v long"),
    ]
    for df in frames:
        with pytest.raises(Exception, match="null dimension"):
            with db.begin() as t:
                t.add_dataframe(df)
                t.commit()
    assert manifest.committed_txn_ids(db.path) == [1]
    assert [tuple(r) for r in Database.open(spark, db.path).snapshot().collect()] == [(5, 5, 50)]


def test_driver_write_keeps_each_call_sequence(spark, tmp_db_path):
    """Two driver-written calls in one txn: the later call's rows win,
    and each file carries its call's write sequence."""
    import pyarrow.parquet as pq

    db = Database.create(spark, tmp_db_path, SCHEMA)
    with db.begin() as t:
        t.add_row([1, 0, -1])  # seq 1, buffered until commit
        t.add_dataframe(spark.range(4).selectExpr("id * 10 AS t", "0 AS s", "id AS v"))  # seq 2
        t.add_dataframe(spark.range(2).selectExpr("id * 10 AS t", "0 AS s", "100 + id AS v"))  # seq 3
        t.commit()
    assert [tuple(r) for r in db.begin().query().collect()] == [(0, 0, 100), (1, 0, -1), (10, 0, 101), (20, 0, 2), (30, 0, 3)]
    tdir = manifest.txn_data_dir(db.path, 1)
    seqs, driver = {}, {}
    for f in manifest.read_manifest(db.path, 1)["files"]:
        seg = f.split("/", 1)[0]
        seqs.setdefault(seg, set()).update(pq.read_table(os.path.join(tdir, f))["__seq"].to_pylist())
        driver.setdefault(seg, set()).add(_driver_file(f))
    assert seqs == {"seg=0": {2}, "seg=1": {3}, "seg=2": {1}}
    # the buffered row comes as Python rows: Spark's writer
    assert driver == {"seg=0": {True}, "seg=1": {True}, "seg=2": {False}}


def test_driver_write_keeps_timestamp_instants(spark, tmp_db_path):
    """Under a non-UTC session time zone a driver-written timestamp dim
    lands at the instant written, as Spark's writer lands it."""
    schema = Schema(dimensions=[Dimension("ts", type="timestamp"), Dimension("s", 1)], values=[Value("v")])
    micros = [-1, 0, 951_825_600_500_000, 1_719_705_600_000_001]
    frame = "SELECT timestamp_micros(m) AS ts, 0L AS s, m AS v FROM VALUES " + ", ".join(f"({m}L)" for m in micros) + " AS x(m)"
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for cap in (None, 0):
            path = os.path.join(tmp_db_path, f"cap{cap}")
            db = Database.create(spark, path, schema)
            with pytest.MonkeyPatch.context() as m:
                if cap is not None:
                    m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", cap)
                with db.begin() as t:
                    t.add_dataframe(spark.sql(frame))
                    t.commit()
            assert _by_driver(db) is (cap is None)
            got = db.begin().query().selectExpr("unix_micros(ts) AS m", "v").collect()
            assert [(r.m, r.v) for r in got] == [(m, m) for m in micros]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
