"""Point-get correctness matrix: ``Transaction.query_points`` against
plain-Python expectations.

Point gets prune per key (a transaction is read only if its stats may
hold one of the keys, and of its files only the chunk directories of
those keys) and, over a small file set, are served on the driver.
Each case below targets one way that pruning, the driver read or the
Spark plan could drop, resurrect or mis-order a row.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest

from matdb_spark import Database, Dimension, Schema, Value, manifest, scan
from matdb_spark.scan import _SINGLE_TASK_MAX_FILES, read_plan


def _schema() -> Schema:
    return Schema(
        dimensions=[Dimension("t", 10), Dimension("s", 4)], values=[Value("v")]
    )


def _commit(db, rows=(), deletes=()):
    """One transaction: upsert ``rows`` [(t, s, v)] as a DataFrame, then
    tombstone ``deletes`` [(t, s)]."""
    with db.begin() as tx:
        if rows:
            tx.add_dataframe(db.spark.createDataFrame(list(rows), "t long, s long, v long"))
        for k in deletes:
            tx.delete_row(k)
        tx.commit()


def _apply(model: dict, rows=(), deletes=()) -> dict:
    out = dict(model)
    out.update({(t, s): v for t, s, v in rows})
    for k in deletes:
        out.pop(tuple(k), None)
    return out


def _check(txn, keys, model, ordered=True):
    """query_points(keys) returns exactly the keys ``model`` holds, in
    key order when ``ordered`` — as built (served on the driver when
    its files are few and small) and on the Spark plan, past the byte
    cap. Returns the DataFrame as built."""
    dims, (val,) = txn.schema.dim_names, txn.schema.value_names
    asked = {tuple(k[d] for d in dims) if isinstance(k, dict) else tuple(k) for k in keys}
    want = sorted((k, model[k]) for k in asked if k in model)
    df = txn.query_points(keys, ordered=ordered)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
        on_spark = txn.query_points(keys, ordered=ordered)
    for frame in (df, on_spark):
        got = [(tuple(r[d] for d in dims), r[val]) for r in frame.collect()]
        assert (got if ordered else sorted(got)) == want
    return df


def _grid(t_lo, t_hi, s_lo, s_hi, bump=0):
    return [
        (t, s, t * 100 + s + bump)
        for t in range(t_lo, t_hi + 1)
        for s in range(s_lo, s_hi + 1)
    ]


#: keys over every txn below, on chunk boundaries (t = -11, -10, -1, 0,
#: 9, 10, 19, 20, 29; s = 3, 4, 7), negative, deleted (12, 1) and
#: absent ((30, 0) past the data, (-16, 0) before it, (5, 8) beyond s)
KEYS = [
    (-11, 0), (-10, 3), (-1, 7), (0, 0), (9, 3), (10, 4), (12, 1), (12, 2),
    (16, 3), (19, 3), (20, 2), (24, 3), (29, 7), (30, 0), (-16, 0), (5, 8),
]


def test_keys_across_txns_compaction_and_time_travel(spark, tmp_db_path):
    db = Database.create(spark, os.path.join(tmp_db_path, "pts"), _schema())
    history = []
    model: dict = {}
    writes = [
        dict(rows=_grid(0, 29, 0, 7)),
        dict(rows=_grid(10, 19, 0, 7, bump=1000)),
        dict(rows=_grid(15, 24, 2, 3, bump=2000), deletes=[(12, 1)]),
        dict(rows=_grid(-15, -1, 0, 7, bump=3000)),
    ]
    for w in writes:
        _commit(db, **w)
        model = _apply(model, **w)
        history.append(model)

    _check(db.begin(), KEYS, model)
    _check(db.begin(), KEYS, model, ordered=False)
    # one key, and keys given as {dim: value} mappings
    _check(db.begin(), [(16, 3)], model)
    _check(db.begin(), [{"t": 16, "s": 3}, {"s": 7, "t": -1}], model)
    # only absent keys
    assert db.begin().query_points([(30, 0), (-16, 0)]).count() == 0
    # every key that lives in one txn reads only that txn's chunk dir
    files = read_plan(db.begin()._source(), [{"t": (-1, -1), "s": (7, 7)}]).paths
    assert [f.split("/data/")[1].split("/")[0] for f in files] == ["txn=4"]

    # time travel: each historical snapshot sees its own versions
    for txn_id, snap in enumerate(history, start=1):
        _check(db.begin(as_of=txn_id), KEYS, snap)

    # minor compaction of the two oldest txns: the rewrite keeps their
    # place in the version order, so txns 3 and 4 still win over it
    new = db.compact(max_txns=2, fold="oldest")
    assert manifest.read_manifest_cached(db.path, new)["version_rank"] == 2
    _check(db.begin(), KEYS, model)
    # a later upsert over the compacted rows wins too
    w = dict(rows=[(0, 0, -1), (16, 3, -2)])
    _commit(db, **w)
    _check(db.begin(), KEYS, _apply(model, **w))


def test_single_unique_keys_txn_is_dedup_free(spark, tmp_db_path, monkeypatch):
    db = Database.create(spark, os.path.join(tmp_db_path, "uk"), _schema())
    rows = _grid(0, 29, 0, 7)
    with db.begin() as tx:
        tx.add_dataframe(spark.createDataFrame(rows, "t long, s long, v long"), dedup=True)
        tx.commit()
    model = _apply({}, rows=rows)
    _check(db.begin(), KEYS, model)
    # the Spark plan skips version resolution (past the byte cap: a read
    # this small is otherwise served on the driver)
    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
    df = _check(db.begin(), KEYS, model)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan, plan


def test_read_your_own_writes(spark, tmp_db_path):
    db = Database.create(spark, os.path.join(tmp_db_path, "ryow"), _schema())
    base = _grid(0, 29, 0, 7)
    _commit(db, rows=base)
    model = _apply({}, rows=base)
    tx = db.begin()
    staged = [(5, 1, -5), (25, 6, -25), (40, 0, -40)]
    tx.add_dataframe(spark.createDataFrame(staged, "t long, s long, v long"))
    model = _apply(model, rows=staged)
    # buffered rows win over the staged segment and the committed txn
    buffered = [(5, 1, -6), (6, 2, -7), (41, 3, -41)]
    tx.add_rows([list(r) for r in buffered])
    tx.delete_row((7, 7))
    model = _apply(model, rows=buffered, deletes=[(7, 7)])
    keys = [(5, 1), (6, 2), (7, 7), (25, 6), (40, 0), (41, 3), (8, 0), (42, 0)]
    _check(tx, keys, model)
    # flushed: every write is now a staged segment
    tx.flush()
    _check(tx, keys, model)
    tx.rollback()
    # the rolled-back writes were never visible to others
    _check(db.begin(), keys, _apply({}, rows=base))


@pytest.mark.parametrize("field", ["stats", "files"])
def test_txn_without_stats_or_files(spark, tmp_db_path, field):
    """A txn whose manifest lacks ``stats`` is kept for every key; one
    lacking ``files`` makes the read fall back to txn directories."""
    db = Database.create(spark, os.path.join(tmp_db_path, field), _schema())
    model: dict = {}
    for w in (
        dict(rows=_grid(0, 19, 0, 7)),
        dict(rows=_grid(10, 29, 2, 5, bump=1000)),
        dict(rows=_grid(-5, 4, 0, 3, bump=2000)),
    ):
        _commit(db, **w)
        model = _apply(model, **w)
    mpath = manifest.manifest_path(db.path, 2)
    with open(mpath) as f:
        payload = json.load(f)
    assert payload.pop(field) is not None
    with open(mpath, "w") as f:
        json.dump(payload, f)
    manifest.read_manifest_cached.cache_clear()
    _check(Database.open(spark, db.path).begin(), KEYS, model)


def test_decimal_and_string_dims(spark, tmp_db_path):
    """A chunked decimal(20,0) dim (keys past 2^63, negatives and chunk
    boundaries) and an unchunked string dim get exact SQL-text key
    predicates (``scan._key_predicate``) and still prune correctly."""
    schema = Schema(
        dimensions=[
            Dimension("id", 1000, type="decimal(20,0)"),
            Dimension("tag", type="string"),
        ],
        values=[Value("v")],
    )
    db = Database.create(spark, os.path.join(tmp_db_path, "dec"), schema)
    big = Decimal(2**64 - 1)
    ids = [Decimal(x) for x in (-1001, -1000, -1, 0, 999, 1000, 2**63, big)]
    model: dict = {}
    for bump, tags in ((0, ["a", "b"]), (100, ["b", "c"])):
        rows = [(i, tag, n + bump) for n, i in enumerate(ids) for tag in tags]
        with db.begin() as tx:
            tx.add_dataframe(
                spark.createDataFrame(rows, "id decimal(20,0), tag string, v long")
            )
            tx.commit()
        model.update({(i, tag): v for i, tag, v in rows})
    keys = [(i, tag) for i in ids for tag in ("a", "c", "z")] + [(Decimal(5), "a")]
    _check(db.begin(), keys, model)
    _check(db.begin(), [(big, "b")], model)


def test_key_set_past_single_task_limit(spark, tmp_db_path):
    """More files than ``_SINGLE_TASK_MAX_FILES``: the multi-partition
    plan (exchanges back) is still right and ordered."""
    db = Database.create(spark, os.path.join(tmp_db_path, "wide"), _schema())
    model: dict = {}
    for i in range(3):
        w = dict(rows=_grid(i * 100, i * 100 + 99, 0, 3, bump=i))
        _commit(db, **w)
        model = _apply(model, **w)
    # one key per t chunk: each key lives in its own file
    keys = [(t, t % 4) for t in range(0, 300, 10)] + [(999, 0)]
    df = _check(db.begin(), keys, model)
    assert len(_point_files(db, keys)) > _SINGLE_TASK_MAX_FILES
    assert "Exchange" in df._jdf.queryExecution().executedPlan().toString()
    # the same pruning on a subset small enough to be served on the driver
    small = _check(db.begin(), keys[:5], model)
    assert len(_point_files(db, keys[:5])) == 5
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def _point_files(db, keys):
    """The data files a point get of ``keys`` opens (``scan.read_plan``)."""
    return read_plan(db.begin()._source(), [{"t": (t, t), "s": (s, s)} for t, s in keys]).paths


def test_point_boxes_select_the_same_files_as_box_by_box():
    """Point boxes are matched by chunk-tuple membership; the result
    equals testing every box against every file, including files with
    a missing or unparseable chunk component and a mixed range box."""
    from matdb_spark.scan import _chunk_matches, _chunk_ranges, _select_manifest_files

    schema = _schema()
    files = [
        f"seg={g}/__chunk_t={ct}/__chunk_s={cs}/f.parquet"
        for g in range(2)
        for ct in range(-3, 4)
        for cs in range(-1, 3)
    ] + ["seg=0/__chunk_t=1/f.parquet", "seg=0/__chunk_t=x/__chunk_s=0/f.parquet"]
    points = [(-21, 0), (0, 0), (9, 3), (10, 4), (35, 11), (99, 0)]
    boxes = [_chunk_ranges(schema, {"t": (t, t), "s": (s, s)}) for t, s in points]
    boxes.append(_chunk_ranges(schema, {"t": (-15, 4), "s": (0, None)}))

    def brute(bs):
        return [
            f
            for f in files
            if any(
                _chunk_matches(dict(p.split("=", 1) for p in f.split("/") if "=" in p), b)
                for b in bs
            )
        ]

    for bs in (boxes[:-1], boxes, boxes[-1:]):
        assert _select_manifest_files(files, bs) == brute(bs)
    # 4 present chunk tuples in 2 segs, plus the two files that cannot prune
    assert len(_select_manifest_files(files, boxes[:-1])) == 2 * 4 + 2
