"""Every writer commits through one routine, ``manifest.commit``.

- A crash (a ``BaseException``) at each durable step of the routine —
  schema save, manifest tmp write, manifest rename, reservation release,
  checkpoint fold — leaves a store that reopens to the pre-commit or
  the post-commit state, for a library commit (buffered rows, and a
  small frame written on the driver) and for a format write; every
  listed file exists, and ``manifest.recover`` removes the unlisted
  ones. So does a crash between two chunk files of the driver's
  segment write, where rollback removes them too.
- A float dim holding NaN leaves only that dim out of a txn's stats.
- Schema evolution from a stale handle keeps every column other
  handles added (one locked read-modify-write, ``schema.evolve``).
- ``changes(with_preimage=True)`` merges the window's txn stats in
  Spark's order, so a NaN key's pre-image is found.
- storebench's tracer installs over the store modules and records the
  commit path's spans.
"""

from __future__ import annotations

import importlib
import os
import re

import pyarrow as pa
import pytest

from matdb_spark import Database, Dimension, Schema, Value, manifest
from matdb_spark.sources.dsv2 import MatdbBatchWriter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
BEFORE = {1: 10, 2: 20, 15: 150}  # k -> v, committed before the crash
WRITE = {2: 21, 30: 300}  # the crashed commit's upserts


class _Crash(BaseException):
    """A process death: no ``except Exception`` handler sees it."""


def _arm(monkeypatch, db_path: str, at: int | None) -> list[str]:
    """Record the durable steps of the next commit into ``db_path`` and
    raise ``_Crash`` as step ``at`` (0-based) begins. Returns the list
    of steps begun, filled in as the commit runs."""
    steps: list[str] = []

    def step(name: str) -> None:
        steps.append(name)
        if at is not None and len(steps) - 1 == at:
            raise _Crash(name)

    real_save, real_open, real_replace = Schema.save, open, os.replace
    real_release, real_fold = manifest.release_txn_reservation, manifest.maybe_checkpoint
    commits = manifest.commits_dir(db_path)

    def is_manifest(path, suffix: str) -> bool:
        p = str(path)
        return os.path.dirname(p) == commits and re.fullmatch(r"\d{8,}\.json" + suffix, os.path.basename(p))

    def save(self, path):
        step("schema save")
        real_save(self, path)

    def open_(path, mode="r", *a, **kw):
        if "w" in mode and is_manifest(path, r"\.tmp"):
            step("manifest tmp write")
        return real_open(path, mode, *a, **kw)

    def replace(src, dst):
        if is_manifest(dst, ""):
            step("manifest rename")
        real_replace(src, dst)

    def release(path, txn_id):
        step("reservation release")
        real_release(path, txn_id)

    def fold(path, interval=None):
        step("checkpoint")
        return real_fold(path, interval)

    monkeypatch.setattr(Schema, "save", save)
    monkeypatch.setattr(manifest, "open", open_, raising=False)
    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(manifest, "release_txn_reservation", release)
    monkeypatch.setattr(manifest, "maybe_checkpoint", fold)
    return steps


def _store(spark, path: str) -> Database:
    db = Database.create(spark, path, SCHEMA)
    with db.begin() as t:
        t.add_rows(list(BEFORE.items()))
        t.commit()
    return db


def _library_commit(spark, path: str) -> None:
    t = Database.open(spark, path).begin()
    pad = [None] * (len(t.schema.value_names) - 1)  # an evolved ``w``
    t.add_rows([(k, v, *pad) for k, v in WRITE.items()])
    t.commit()


def _driver_commit(spark, path: str) -> None:
    """A library commit of a small generated frame: written on the
    driver by ``scan.write_segment_files``, one file per chunk."""
    t = Database.open(spark, path).begin()
    pad = ", NULL" * (len(t.schema.value_names) - 1)
    rows = ", ".join(f"({k}L, {v}L{pad})" for k, v in WRITE.items())
    t.add_dataframe(spark.sql(f"SELECT * FROM VALUES {rows} AS x({', '.join(t.schema.column_names)})"))
    assert len(t._txn_files) == 2 and all(re.search(r"/part-[0-9a-f]{32}\.parquet$", f) for f in t._txn_files)
    t.commit()


def _format_commit(spark, path: str) -> None:
    """A ``format("matdb")`` batch write with ``evolve`` of column
    ``w``, driven through the sink's writer in this process (Spark runs
    a sink's commit in a separate Python worker, beyond monkeypatch)."""
    w = MatdbBatchWriter(path, overwrite=False, pending_evolution=[("w", "long")])
    ks = list(WRITE)
    batch = pa.table({"k": ks, "v": [WRITE[k] for k in ks], "w": [-k for k in ks]})
    w.commit([w.write(iter(batch.to_batches()))])


def _data_files(path: str) -> set[str]:
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(manifest.data_dir(path))
        for f in files
        if f.endswith(".parquet")
    }


def _check_files(path: str) -> None:
    """Every file a manifest lists exists; once ``manifest.recover``
    has swept, no other data file does."""
    listed = {
        os.path.join(manifest.txn_data_dir(path, t), f)
        for t in manifest.committed_txn_ids(path)
        for f in manifest.read_manifest(path, t)["files"]
    }
    assert listed <= _data_files(path), listed - _data_files(path)
    manifest.recover(path, grace_seconds=0)
    assert _data_files(path) == listed


def _read_reopened(spark, path: str) -> dict:
    manifest.read_manifest_cached.cache_clear()
    manifest._read_checkpoint_cached.cache_clear()
    manifest._CK_HINT.clear()
    df = Database.open(spark, path).snapshot()
    w = "w" in df.columns
    return {r["k"]: (r["v"], r["w"] if w else None) for r in df.collect()}


@pytest.mark.parametrize(
    "commit, steps",
    [
        (
            _library_commit,
            ["manifest tmp write", "manifest rename", "reservation release", "checkpoint"],
        ),
        (
            _driver_commit,
            ["manifest tmp write", "manifest rename", "reservation release", "checkpoint"],
        ),
        (
            _format_commit,
            ["schema save", "manifest tmp write", "manifest rename", "reservation release", "checkpoint"],
        ),
    ],
    ids=["library", "driver", "format"],
)
def test_crash_at_every_durable_commit_step(spark, tmp_path_factory, monkeypatch, commit, steps):
    """4 crash points for a library commit, 5 for an evolving format
    write: before the manifest rename the store reopens to the
    pre-commit state, from the rename on to the post-commit state."""
    evolves = steps[0] == "schema save"
    pre = {k: (v, None) for k, v in BEFORE.items()}
    post = {**pre, **{k: (v, -k if evolves else None) for k, v in WRITE.items()}}

    base = tmp_path_factory.mktemp("crash")
    path = str(base / "clean")
    _store(spark, path)
    with monkeypatch.context() as mp:
        seen = _arm(mp, path, None)
        commit(spark, path)
    assert seen == steps
    assert _read_reopened(spark, path) == post

    published_at = steps.index("manifest rename") + 1
    for at, name in enumerate(steps):
        path = str(base / f"crash{at}")
        _store(spark, path)
        with monkeypatch.context() as mp:
            _arm(mp, path, at)
            with pytest.raises(_Crash, match=name):
                commit(spark, path)
        want = post if at >= published_at else pre
        assert _read_reopened(spark, path) == want, name
        _check_files(path)
        # the store stays writable: the next commit lands on top
        (_driver_commit if commit is _driver_commit else _library_commit)(spark, path)
        assert _read_reopened(spark, path) == {**want, **{k: (v, None) for k, v in WRITE.items()}}
        _check_files(path)


@pytest.mark.parametrize("rollback", [False, True], ids=["process-death", "rollback"])
def test_crash_between_chunk_files_of_a_driver_write(spark, tmp_path_factory, monkeypatch, rollback):
    """A crash after the driver's writer wrote the first of a commit's
    two chunk files: the store reopens to the pre-commit state, the
    partial file is removed by rollback (or, after a process death, by
    ``manifest.recover``), and the next commit lands on top."""
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("chunkcrash") / "db")
    _store(spark, path)
    real, written = pq.write_table, []

    def write_table(table, where, **kw):
        if written:
            raise _Crash("second chunk file")
        written.append(where)
        real(table, where, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(pq, "write_table", write_table)
        with pytest.raises(_Crash):
            if rollback:
                with Database.open(spark, path).begin() as t:
                    t.add_dataframe(spark.sql("SELECT * FROM VALUES (2L, 21L), (30L, 300L) AS x(k, v)"))
            else:
                _driver_commit(spark, path)
    assert len(written) == 1
    assert (written[0] in _data_files(path)) is not rollback
    pre = {k: (v, None) for k, v in BEFORE.items()}
    assert _read_reopened(spark, path) == pre
    _check_files(path)
    _driver_commit(spark, path)
    assert _read_reopened(spark, path) == {**pre, **{k: (v, None) for k, v in WRITE.items()}}
    _check_files(path)


def test_float_nan_leaves_only_its_dim_out_of_the_stats(tmp_db_path):
    """A format-written footer has no min/max for a float column holding
    NaN; the txn still publishes its row count and its other dims'
    stats."""
    sch = Schema(dimensions=[Dimension("f", type="double"), Dimension("j", 10)], values=[Value("v")])
    manifest.init_layout(tmp_db_path)
    sch.save(os.path.join(tmp_db_path, "schema.json"))
    for fs in ([1.0, float("nan")], [1.0, 2.0]):
        w = MatdbBatchWriter(tmp_db_path, overwrite=False)
        w.commit([w.write(iter(pa.table({"f": fs, "j": [5, 50], "v": [1, 2]}).to_batches()))])
    got = [manifest.read_manifest(tmp_db_path, t)["stats"] for t in manifest.committed_txn_ids(tmp_db_path)]
    assert got == [
        {"rows": 2, "dims": {"j": [5, 50]}},
        {"rows": 2, "dims": {"f": [1.0, 2.0], "j": [5, 50]}},
    ]


def test_stale_handle_evolution_keeps_both_columns(spark, tmp_db_path):
    """Each handle evolves the schema on disk, not its own copy: ``a``,
    opened before ``b`` added column ``b``, must not drop it."""
    a = _store(spark, tmp_db_path)
    b = Database.open(spark, tmp_db_path)
    b.add_value_column("b")
    a.add_value_column("c")
    assert a.schema.value_names == ["v", "b", "c"]
    assert a.schema.epoch == 2
    with pytest.raises(ValueError, match="already exists"):
        a.add_value_column("b")
    with b.begin() as t:
        t.add_row([7, 70, 700])
        t.commit()
    got = {r["k"]: (r["v"], r["b"], r["c"]) for r in Database.open(spark, tmp_db_path).snapshot().collect()}
    assert got[7] == (70, 700, None)
    assert got[1] == (10, None, None)


def test_preimage_envelope_keeps_nan_keys(spark, tmp_db_path):
    """The pre-image read is bounded by the window's merged txn stats.
    Merged with Python's ``max``, ``max(5.0, nan)`` is 5.0 and the NaN
    key, written before the window, would be labelled an insert."""
    nan = float("nan")
    db = Database.create(spark, tmp_db_path, Schema(dimensions=[Dimension("k", type="double")], values=[Value("v")]))
    for rows in ([(nan, 1), (2.0, 1)], [(1.0, 2), (5.0, 2)], [(nan, 3)]):
        with db.begin() as t:
            t.add_rows(rows)
            t.commit()
    got = {
        ("nan" if r["k"] != r["k"] else r["k"]): (r["change_type"], r["old_v"])
        for r in db.changes(since=1, with_preimage=True).collect()
    }
    assert got == {1.0: ("insert", None), 5.0: ("insert", None), "nan": ("update", 1)}


def test_storebench_tracer_hooks_resolve(spark, tmp_db_path, monkeypatch):
    """storebench's tracer patches store functions by name; a renamed
    hook must fail here, not in a traced benchmark run."""
    monkeypatch.syspath_prepend(REPO)
    tracing = importlib.import_module("storebench.tracing")
    db = _store(spark, tmp_db_path)
    hooks = [tracing._resolve(m, p) for m, p, _ in tracing.SPANNED + tracing.COUNTED]
    before = [owner.__dict__[attr] for owner, attr in hooks]
    tr = tracing.Tracer()
    tr.install()
    try:
        assert all(owner.__dict__[attr] is not f for (owner, attr), f in zip(hooks, before))
        with tr.op(0, "commit"):
            with db.begin() as t:
                t.add_rows(list(WRITE.items()))
                t.commit()
    finally:
        tr.uninstall()
    assert [owner.__dict__[attr] for owner, attr in hooks] == before
    names = {sp.name for sp in tr.spans}
    assert {
        "op.commit",
        "database.begin",
        "transaction.commit",
        "stats.segment_info",
        "manifest.publish",
        "manifest.checkpoint",
    } <= names
    assert tr.counts[0]["manifest.listings"] >= 1
