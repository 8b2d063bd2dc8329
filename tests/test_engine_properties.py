"""Property-based engine semantics: random transaction workloads vs a
driver-side model of the reference contract.

The model is the documented matdb behavior (README.md:107-109 of the
reference): a dict key→value where later transactions overwrite
earlier ones, within-txn writes overwrite in order, rollbacks vanish,
and the scan returns exactly the model's content in ascending key
order. Running dozens of random interleavings catches versioning/
visibility bugs that fixed fixtures miss.
"""

from __future__ import annotations

import datetime
import decimal
import os
import re
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from matdb_spark import Database, Dimension, Schema, Value, manifest, scan

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# a workload is a list of transactions; each txn is (commit?, rows);
# keys stay in a small domain so upsert collisions are common
_row = st.tuples(
    st.integers(min_value=0, max_value=7),    # dim a
    st.integers(min_value=0, max_value=3),    # dim b
    st.integers(min_value=-100, max_value=100),  # value
)
_txn = st.tuples(st.booleans(), st.lists(_row, min_size=0, max_size=12))
_workload = st.lists(_txn, min_size=1, max_size=5)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload, compact_at_end=st.booleans())
def test_random_workloads_match_model(spark, workload, compact_at_end):
    path = os.path.join(SCRATCH, "prop_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}
    for commit, rows in workload:
        txn = db.begin()
        staged: dict[tuple[int, int], int] = {}
        for a, b, v in rows:
            txn.add_row([a, b, v])
            staged[(a, b)] = v
        # read-your-own-writes inside the txn: model ∪ staged
        expected_inside = {**model, **staged}
        got_inside = {
            (r["a"], r["b"]): r["v"] for r in txn.query(ordered=False).collect()
        }
        assert got_inside == expected_inside
        if commit:
            txn.commit()
            model.update(staged)
        else:
            txn.rollback()

    if compact_at_end:
        db.compact()

    rows = db.snapshot().collect()
    got = {(r["a"], r["b"]): r["v"] for r in rows}
    assert got == model

    # ordering contract of the ordered scan
    ordered = [(r["a"], r["b"]) for r in db.begin().query(ordered=True).collect()]
    assert ordered == sorted(ordered)


# richer op alphabet: upserts AND deletes, with per-commit history
# snapshots checked back through time travel, plus a bounded
# query_range compared against the model filter
_op = st.one_of(
    st.tuples(st.just("put"), st.integers(0, 7), st.integers(0, 3), st.integers(-50, 50)),
    st.tuples(st.just("del"), st.integers(0, 7), st.integers(0, 3)),
)
_txn2 = st.tuples(st.booleans(), st.lists(_op, min_size=0, max_size=10))
_workload2 = st.lists(_txn2, min_size=1, max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload2, lo=st.integers(0, 7), hi=st.integers(0, 7))
def test_random_workloads_with_deletes_history_and_range(spark, workload, lo, hi):
    path = os.path.join(SCRATCH, "prop_db2")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}
    history: list[tuple[int, dict]] = []  # (txn_id, model state after it)
    for commit, ops in workload:
        txn = db.begin()
        staged = dict(model)
        for op in ops:
            if op[0] == "put":
                _, a, b, v = op
                txn.add_row([a, b, v])
                staged[(a, b)] = v
            else:
                _, a, b = op
                txn.delete_row([a, b])
                staged.pop((a, b), None)
        if commit:
            txn.commit()
            model = staged
            if txn.txn_id is not None:  # empty txns may not allocate an id
                history.append((txn.txn_id, dict(model)))
        else:
            txn.rollback()

    got = {(r["a"], r["b"]): r["v"] for r in db.snapshot().collect()}
    assert got == model

    # time travel: every committed txn's snapshot is reproducible
    for txn_id, state in history:
        at = {
            (r["a"], r["b"]): r["v"]
            for r in db.begin(as_of=txn_id).query(ordered=False).collect()
        }
        assert at == state, f"as_of={txn_id}"

    # bounded range scan == model filter (inclusive bounds)
    lo, hi = min(lo, hi), max(lo, hi)
    rng = {
        (r["a"], r["b"]): r["v"]
        for r in db.begin().query_range({"a": (lo, hi)}, ordered=False).collect()
    }
    assert rng == {k: v for k, v in model.items() if lo <= k[0] <= hi}


# fold-schedule invariance: ANY sequence of contiguous window folds
# (oldest/newest, any size) is layout-only — the resolved state must
# be bit-identical to the model at every step, including tombstones
# shadowing across fold boundaries and writes landing after folds
_fold_op = st.tuples(st.sampled_from(["oldest", "newest"]), st.integers(2, 5))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    workload=_workload2,
    folds=st.lists(_fold_op, min_size=1, max_size=3),
    extra=st.lists(_op, min_size=0, max_size=6),
)
def test_random_fold_schedules_preserve_state(spark, workload, folds, extra):
    path = os.path.join(SCRATCH, "prop_fold_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}

    def apply(txn, ops, staged):
        for op in ops:
            if op[0] == "put":
                _, a, b, v = op
                txn.add_row([a, b, v])
                staged[(a, b)] = v
            else:
                _, a, b = op
                txn.delete_row([a, b])
                staged.pop((a, b), None)
        return staged

    for commit, ops in workload:
        txn = db.begin()
        staged = apply(txn, ops, dict(model))
        if commit:
            txn.commit()
            model = staged
        else:
            txn.rollback()

    def check(tag):
        got = {(r["a"], r["b"]): r["v"] for r in db.snapshot().collect()}
        assert got == model, tag

    for i, (mode, size) in enumerate(folds):
        db.compact(max_txns=size, fold=mode)  # None (too few txns) is fine
        check(f"after fold {i} ({mode}, {size})")
        db.vacuum()
        check(f"after vacuum {i}")

    # a write AFTER the folds must win over every rollup
    txn = db.begin()
    model = apply(txn, extra, dict(model))
    txn.commit()
    check("after post-fold commit")
    db.compact()
    db.vacuum()
    check("after final full compact")
    ordered = [(r["a"], r["b"]) for r in db.begin().query(ordered=True).collect()]
    assert ordered == sorted(ordered)


# incremental aggregate maintenance: for ANY committed workload split
# at ANY cursor, state(since) patched with the diff feed must equal a
# full recompute of the final snapshot — including nullable values
# (None puts keep the row but contribute no sum) and emptied groups
_op3 = st.one_of(
    st.tuples(
        st.just("put"),
        st.integers(0, 5),
        st.integers(0, 2),
        st.one_of(st.none(), st.integers(-50, 50)),
    ),
    st.tuples(st.just("del"), st.integers(0, 5), st.integers(0, 2)),
)
_txn3 = st.lists(_op3, min_size=1, max_size=8)
_workload3 = st.lists(_txn3, min_size=2, max_size=5)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload3, cut=st.integers(1, 4))
def test_incremental_maintenance_matches_recompute(spark, workload, cut):
    from matdb_spark.operators.incremental import maintain_sum_count, sum_count_state

    path = os.path.join(SCRATCH, "prop_incr_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)
    ids = []
    for ops in workload:
        txn = db.begin()
        for op in ops:
            if op[0] == "put":
                txn.add_row([op[1], op[2], op[3]])
            else:
                txn.delete_row([op[1], op[2]])
        txn.commit()
        if txn.txn_id is not None:
            ids.append(txn.txn_id)
    since = ids[min(cut, len(ids)) - 1]

    patched = maintain_sum_count(db, keys=["a"], value_cols=["v"], since=since)
    recomputed = sum_count_state(db.snapshot(), keys=["a"], value_cols=["v"])

    def norm(df):
        return sorted(tuple(r) for r in df.collect())

    assert norm(patched) == norm(recomputed)


# ---------------------------------------------------------------------
# Every read path against one model. A workload over a store whose
# first dim is one of the dim types a store accepts (drawn from a pool
# of six keys per type: extremes, zero, NaN and both zeros for
# `double`) and whose second dim is a chunked long, so the DSv2 reader
# plans several partitions. The model keeps, per key, the set of rows
# its newest write may have left: one row, or every row of a key that
# one add_dataframe call wrote more than once (those tie on (txn, seq)
# and resolve arbitrarily — each path may pick any of them). A txn is
# written through the library or through the format's batch sink
# (`df.write.format("matdb")`, whose repeated keys tie the same way).
# Keys compare as Spark groups them: NaN equals NaN, -0.0 equals 0.0
# and reads back as 0.0.
_NAN = float("nan")
_KEY_POOLS = {
    "long": [-(2**62), -5, 0, 3, 4, 2**62],
    "int": [-(2**31), -5, 0, 3, 4, 2**31 - 1],
    "decimal(20,0)": [
        decimal.Decimal(v) for v in (-(10**19), -5, 0, 3, 4, 10**19)
    ],
    "double": [_NAN, 0.0, -0.0, 1.5, -2.5, float("inf")],
    "string": ["", "a", "ab", "b", "é", "zz"],
    "date": [
        datetime.date(1900, 1, 1), datetime.date(1969, 12, 31), datetime.date(1970, 1, 1),
        datetime.date(2000, 2, 29), datetime.date(2024, 6, 30), datetime.date(2100, 12, 31),
    ],
    "timestamp": [
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=datetime.timezone.utc),
        datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc),
        datetime.datetime(2000, 2, 29, 12, 0, 0, 500000, tzinfo=datetime.timezone.utc),
        datetime.datetime(2024, 6, 30, tzinfo=datetime.timezone.utc),
        datetime.datetime(2024, 6, 30, 0, 0, 0, 1, tzinfo=datetime.timezone.utc),
        datetime.datetime(2100, 12, 31, tzinfo=datetime.timezone.utc),
    ],
}
_TOMB = (None, None)  # (v, w) of a delete: every value cell null

_key_idx = st.integers(0, 5)
_b = st.integers(0, 3)
_vw = st.tuples(st.one_of(st.none(), st.integers(-3, 9)), st.one_of(st.none(), st.integers(0, 3)))
_call = st.one_of(
    st.tuples(st.just("row"), _key_idx, _b, _vw),
    st.tuples(st.just("del"), _key_idx, _b),
    # one add_dataframe call; repeated keys in it tie, [] writes nothing
    st.tuples(st.just("df"), st.lists(st.tuples(_key_idx, _b, _vw), max_size=6)),
)
_step = st.one_of(
    st.tuples(st.just("txn"), st.lists(_call, max_size=4), st.booleans()),
    st.tuples(st.just("fmt"), st.lists(st.tuples(_key_idx, _b, _vw), max_size=6)),
    st.tuples(st.just("minor"), st.integers(2, 4), st.sampled_from(["oldest", "newest"])),
    st.tuples(st.just("major")),
    st.tuples(st.just("vacuum")),
)
# buffered writes of a transaction that reads before it commits
_overlay = st.lists(
    st.one_of(st.tuples(st.just("row"), _key_idx, _b, _vw), st.tuples(st.just("del"), _key_idx, _b)),
    max_size=3,
)
_reads = st.tuples(
    st.tuples(_key_idx, _key_idx, _b, _b),  # a range: a in [lo, hi], b in [lo, hi]
    st.lists(st.tuples(_key_idx, _b), min_size=1, max_size=4),  # point keys
    st.integers(0, 20),  # as_of pick among the committed ids
    st.integers(0, 20), st.integers(0, 20),  # change window picks
)
# txn 1 writes NaN, 0.0 and 1.5, then a format write puts NaN and -0.0
# (for `double`), read over the range [1.5, NaN]: float stats taken
# from the format write's footers would leave NaN out, [-0.0, 0.0], and
# prune its NaN key from that range. The pair repeats (tied rows) so
# that each write task puts NaN and -0.0 into one file.
_NAN_ZERO_WORKLOAD = [
    ("txn", [("df", [(0, 0, (1, 1)), (1, 0, (1, 1)), (3, 0, (1, 1))])], True),
    ("fmt", [(0, 0, (2, 2)), (2, 0, (2, 2))] * 4),
]


def _norm(x):
    """A key as Spark's grouping emits it: -0.0 as 0.0."""
    return 0.0 if isinstance(x, float) and x == 0 else x


def _tok(x):
    """A key value made comparable: floats by repr (NaN equals NaN,
    -0.0 differs from 0.0), timestamps by their UTC microseconds."""
    if isinstance(x, float):
        return repr(x)
    if isinstance(x, datetime.datetime):
        return T.TimestampType().toInternal(x)
    return x


def _order(x):
    """Spark's sort order of a key value: NaN above every double."""
    if isinstance(x, float):
        return (x != x, 0.0 if x != x else x)
    if isinstance(x, datetime.datetime):
        return T.TimestampType().toInternal(x)
    return x


def _check_rows(tag, rows, state, ordered=False):
    """``rows`` (with a, b, v, w) are the snapshot ``state`` (key ->
    allowed (v, w) rows): one row per key, each an allowed row, and a
    key missing only where its newest write may be a delete."""
    got = {}
    for r in rows:
        k = (_tok(r["a"]), r["b"])
        assert k not in got, f"{tag}: key {k} returned twice"
        got[k] = (r["v"], r["w"])
    assert set(got) <= set(state), f"{tag}: keys {set(got) - set(state)} not in the model"
    for k, allowed in state.items():
        if k in got:
            assert got[k] in allowed and got[k] != _TOMB, f"{tag}: {k} = {got[k]}, model {allowed}"
        else:
            assert _TOMB in allowed, f"{tag}: {k} missing, model {allowed}"
    if ordered:
        keys = [(_order(r["a"]), r["b"]) for r in rows]
        assert keys == sorted(keys), f"{tag}: not in key order"


def _check_feed(tag, rows, feed):
    """``rows`` are the change feed ``feed`` (key -> (allowed rows,
    txn)): every key written in the window once, deletes tagged."""
    got = {}
    for r in rows:
        k = (_tok(r["a"]), r["b"])
        assert k not in got, f"{tag}: key {k} returned twice"
        got[k] = ((r["v"], r["w"]), r["change_type"], r["__txn"])
    assert set(got) == set(feed), f"{tag}: keys {set(got) ^ set(feed)}"
    for k, (vw, change, txn) in got.items():
        allowed, want_txn = feed[k]
        assert vw in allowed and txn == want_txn, f"{tag}: {k} = {got[k]}, model {feed[k]}"
        assert change == ("delete" if vw == _TOMB else "upsert"), f"{tag}: {k} = {got[k]}"


def _raises_alike(tag, lib_call, other_call):
    """Both calls answer, or both refuse a read that vacuum made
    unreadable, for the same reason; returns the two answers (None
    where refused)."""
    outs, errs = [], []
    for call in (lib_call, other_call):
        try:
            outs.append(call())
            errs.append(None)
        except Exception as e:  # the DSv2 error arrives wrapped by Spark
            outs.append(None)
            errs.append(str(e))
    if errs[0] is None:
        assert errs[1] is None, f"{tag}: only the second path raised: {errs[1]}"
    else:
        reason = errs[0].split(":")[0]
        assert "unreadable" in reason and errs[1] is not None and reason in errs[1], f"{tag}: {errs}"
    return outs


@pytest.mark.parametrize("dim_type", list(_KEY_POOLS))
@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=st.lists(_step, min_size=1, max_size=6), reads=_reads, overlay=_overlay)
@example(
    workload=_NAN_ZERO_WORKLOAD,
    reads=((3, 0, 0, 3), [(0, 0), (2, 0)], 1, 0, 2),
    overlay=[("row", 0, 0, (7, None)), ("del", 2, 0), ("row", 4, 1, (None, 3))],
)
# a format write ties a row and a delete on one key (0.0 and -0.0 for
# `double`): a point read on the driver may keep the key, on Spark drop it
@example(
    workload=[("fmt", [(1, 2, (0, None)), (0, 0, (None, None)), (0, 0, (None, None)), (2, 2, (None, None))])],
    reads=((0, 0, 0, 0), [(2, 2)], 0, 0, 1),
    overlay=[],
)
def test_every_read_path_matches_model(spark, dim_type, workload, reads, overlay):
    from matdb_spark.sources.dsv2 import register_matdb_source

    register_matdb_source(spark)
    pool = _KEY_POOLS[dim_type]
    os.makedirs(SCRATCH, exist_ok=True)
    path = tempfile.mkdtemp(prefix="prop_reads_", dir=SCRATCH)
    spark_path = tempfile.mkdtemp(prefix="prop_reads_spark_", dir=SCRATCH)
    try:
        _read_every_way(spark, dim_type, pool, path, spark_path, workload, reads, overlay)
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(spark_path, ignore_errors=True)


def _both_ways(read):
    """The rows of ``read()`` as built — served on the driver when its
    files are few and small — and forced onto the Spark plan (a byte
    cap of 0), after checking that both have one schema."""
    built = read()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
        on_spark = read()
    assert built.schema == on_spark.schema, (built.schema, on_spark.schema)
    return built.collect(), on_spark.collect()


def _agree(tag, got, want, tied):
    """Two reads return the same keys and the same row for every key
    outside ``tied`` (keys some write call wrote twice: those rows tie
    on (txn, seq) and each read may pick any — where a tie holds a row
    and a delete, one read may keep the key and the other drop it)."""

    def by_key(rows):
        return {(_tok(r["a"]), r["b"]): tuple(_tok(x) for x in r) for r in rows}

    g, w = by_key(got), by_key(want)
    assert set(g) - tied == set(w) - tied, f"{tag}: keys {(set(g) ^ set(w)) - tied}"
    for k in set(g) - tied:
        assert g[k] == w[k], f"{tag}: {k} = {g[k]} on the driver, {w[k]} on Spark"


def _write_workload(spark, db, path, pool, workload, on_spark):
    """Run ``workload`` against ``db``; return (committed user txn ->
    key -> allowed rows, every committed id, keys some write call wrote
    twice, differently). Each ``add_dataframe`` frame is a local
    relation (Arrow), so a call is written on the driver as built, and
    by Spark's parquet writer when ``on_spark`` (a byte cap of 0) or
    the schema has a string column."""
    from pyspark.sql.pandas.types import to_arrow_schema

    import pyarrow as pa

    schema = db.schema
    arrow_schema = to_arrow_schema(schema.spark_schema())
    on_driver = not on_spark and not any(pa.types.is_string(f.type) for f in arrow_schema)

    def key(ai, b):
        return (_tok(_norm(pool[ai])), b)

    def frame(rows):
        cols = list(zip(*[(pool[ai], b, *vw) for ai, b, vw in rows])) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema)
        return spark.createDataFrame(table, schema.spark_schema())

    ever_tied: set = set()

    def tied(rows):  # key -> every row written for it: they tie
        out: dict = {}
        for ai, b, vw in rows:
            out.setdefault(key(ai, b), set()).add(vw)
        ever_tied.update(k for k, r in out.items() if len(r) > 1)
        return out

    writes: dict[int, dict] = {}
    committed = []  # compactions included
    for step in workload:
        if step[0] == "txn":
            txn = db.begin()
            net: dict = {}
            for call in step[1]:
                if call[0] == "row":
                    _, ai, b, vw = call
                    txn.add_row([pool[ai], b, *vw])
                    net[key(ai, b)] = {vw}
                elif call[0] == "del":
                    _, ai, b = call
                    txn.delete_row([pool[ai], b])
                    net[key(ai, b)] = {_TOMB}
                else:
                    n = len(txn._txn_files)
                    with pytest.MonkeyPatch.context() as m:
                        if on_spark:
                            m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
                        txn.add_dataframe(frame(call[1]))
                    # the driver's writer names files part-<uuid hex>.parquet
                    by_driver = {bool(re.fullmatch(r"part-[0-9a-f]{32}\.parquet", f.rsplit("/", 1)[-1])) for f in txn._txn_files[n:]}
                    assert by_driver <= {on_driver}, txn._txn_files[n:]
                    net.update(tied(call[1]))
            if step[2]:
                txn.commit()
                if txn.txn_id is not None:
                    writes[txn.txn_id] = net
                    committed.append(txn.txn_id)
            else:
                txn.rollback()
        elif step[0] == "fmt":
            before = set(manifest.committed_txn_ids(path))
            frame(step[1]).write.format("matdb").mode("append").save(path)
            (t,) = set(manifest.committed_txn_ids(path)) - before
            writes[t] = tied(step[1])
            committed.append(t)
        elif step[0] == "minor":
            t = db.compact(max_txns=step[1], fold=step[2])
            committed += [t] if t is not None else []
        elif step[0] == "major":
            t = db.compact()
            committed += [t] if t is not None else []
        else:
            db.vacuum()
    return writes, committed, ever_tied


def _read_every_way(spark, dim_type, pool, path, spark_path, workload, reads, overlay):
    """Write ``workload`` twice — as built, and with every
    ``add_dataframe`` call forced onto Spark's writer — and check each
    store against its own model through every read path; then overlay
    a transaction's buffered writes on the first."""
    from pyspark.sql import functions as F

    from matdb_spark.sources.dsv2 import MatdbChangesStreamReader

    chunk = 4 if dim_type in ("long", "int", "decimal(20,0)") else 0
    schema = Schema(
        dimensions=[Dimension("a", chunk, type=dim_type), Dimension("b", 2)],
        values=[Value("v"), Value("w")],
    )

    def key(ai, b):
        return (_tok(_norm(pool[ai])), b)

    def in_box(k, lo, hi, blo, bhi):
        a = _order(pool[lo]), _order(pool[hi])
        return a[0] <= _order(k[0]) <= a[1] and blo <= k[1] <= bhi

    lo, hi, blo, bhi = reads[0]
    blo, bhi = min(blo, bhi), max(blo, bhi)
    # the box's state: keys are tokens, so compare through the pool
    inv = {key(i, 0)[0]: pool[i] for i in range(len(pool))}
    points = {key(ai, b) for ai, b in reads[1]}
    bounds = {"a": (pool[lo], pool[hi]), "b": (blo, bhi)}
    keys = [(pool[ai], b) for ai, b in reads[1]]

    def check_store(tag, db, path, on_spark):
        writes, committed, ever_tied = _write_workload(spark, db, path, pool, workload, on_spark)

        def state(upto=None):
            out: dict = {}
            for t in sorted(writes):
                if upto is None or t <= upto:
                    out.update(writes[t])
            return out

        head = state()
        box = {k: r for k, r in head.items() if in_box((inv[k[0]], k[1]), lo, hi, blo, bhi)}
        at_points = {k: r for k, r in head.items() if k in points}

        # the library's reads; each bounded one served on the driver
        # where its files are few and small, and on the Spark plan
        _check_rows(f"{tag}query", db.begin().query().collect(), head, ordered=True)
        for way, rows in zip(("driver", "spark"), _both_ways(lambda: db.begin().query_range(bounds))):
            _check_rows(f"{tag}query_range ({way})", rows, box, ordered=True)
        for way, rows in zip(("driver", "spark"), _both_ways(lambda: db.begin().query_points(keys))):
            _check_rows(f"{tag}query_points ({way})", rows, at_points, ordered=True)
        flagged = {
            "query_range include_txn": lambda: db.begin().query_range(bounds, include_txn=True),
            "query_points include_txn": lambda: db.begin().query_points(keys, include_txn=True),
            "query_range cell_merge": lambda: db.begin().query_range(bounds, include_txn=True, cell_merge=True),
            "tombstones kept": lambda: scan.scan_dataframe(
                spark, db.begin()._source(), include_txn=True, drop_null_value_rows=False, bounds=bounds
            ),
        }
        models = {"query_range include_txn": box, "query_points include_txn": at_points}
        for name, read in flagged.items():
            got, want = _both_ways(read)
            _agree(f"{tag}{name}", got, want, ever_tied)
            if name in models:
                _check_rows(f"{tag}{name} (driver)", got, models[name], ordered=True)
                _check_rows(f"{tag}{name} (spark)", want, models[name], ordered=True)

        # the DSv2 snapshot reader, whole and with pushed dim filters
        def dsv2(as_of=None, filtered=False):
            r = spark.read.format("matdb")
            df = (r if as_of is None else r.option("as_of", as_of)).load(path)
            if filtered:
                df = df.filter(
                    (F.col("a") >= F.lit(pool[lo])) & (F.col("a") <= F.lit(pool[hi]))
                    & (F.col("b") >= blo) & (F.col("b") <= bhi)
                )
            return df.collect()

        _check_rows(f"{tag}dsv2", dsv2(), head)
        _check_rows(f"{tag}dsv2 filtered", dsv2(filtered=True), box)

        # time travel: the library and DSv2 agree, or both refuse alike
        ids = committed or [0]
        as_of = ids[reads[2] % len(ids)]
        past = state(as_of)
        lib, got = _raises_alike(
            f"{tag}as_of={as_of}", lambda: db.begin(as_of=as_of).query().collect(), lambda: dsv2(as_of)
        )
        if lib is not None:
            _check_rows(f"{tag}query as_of={as_of}", lib, past, ordered=True)
            _check_rows(f"{tag}dsv2 as_of={as_of}", got, past)
            past_box = {k: r for k, r in past.items() if in_box((inv[k[0]], k[1]), lo, hi, blo, bhi)}
            _check_rows(f"{tag}dsv2 filtered as_of={as_of}", dsv2(as_of, True), past_box)

        # the change feed over (since, until]: the library and DSv2 alike
        cursors = [0] + committed
        since, until = sorted(cursors[i % len(cursors)] for i in reads[3:5])
        feed: dict = {}
        for t in sorted(writes):
            if since < t <= until:
                feed.update({k: (r, t) for k, r in writes[t].items()})

        def dsv2_feed():
            src = MatdbChangesStreamReader(path, since)
            parts = src.partitions({"cursor": since}, {"cursor": until})
            return [row for p in parts for batch in src.read(p) for row in batch.to_pylist()]

        lib, got = _raises_alike(
            f"{tag}changes({since}, {until})", lambda: db.changes(since, until).collect(), dsv2_feed
        )
        if lib is not None:
            _check_feed(f"{tag}changes({since}, {until})", lib, feed)
            _check_feed(f"{tag}dsv2 feed ({since}, {until}]", got, feed)
        return head, ever_tied

    check_store("spark-written ", Database.create(spark, spark_path, schema), spark_path, True)
    db = Database.create(spark, path, schema)
    head, ever_tied = check_store("", db, path, False)

    # a transaction's buffered writes overlay the snapshot it reads
    txn = db.begin()
    net: dict = {}
    for call in overlay:
        if call[0] == "row":
            _, ai, b, vw = call
            txn.add_row([pool[ai], b, *vw])
            net[key(ai, b)] = {vw}
        else:
            _, ai, b = call
            txn.delete_row([pool[ai], b])
            net[key(ai, b)] = {_TOMB}
    mine = {**head, **net}
    mine_box = {k: r for k, r in mine.items() if in_box((inv[k[0]], k[1]), lo, hi, blo, bhi)}
    for way, rows in zip(("driver", "spark"), _both_ways(lambda: txn.query_range(bounds))):
        _check_rows(f"overlay query_range ({way})", rows, mine_box, ordered=True)
    for way, rows in zip(("driver", "spark"), _both_ways(lambda: txn.query_points(keys))):
        _check_rows(f"overlay query_points ({way})", rows, {k: r for k, r in mine.items() if k in points}, ordered=True)
    got, want = _both_ways(lambda: txn.query_range(bounds, include_txn=True, cell_merge=True))
    _agree("overlay cell_merge", got, want, ever_tied)
    txn.rollback()
