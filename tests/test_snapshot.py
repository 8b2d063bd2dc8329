"""The snapshot contract: ``Database.begin()`` resolves its snapshot
from one ``_commits`` listing and at most one manifest read per
committed txn, and the reads it then builds touch no manifest at all."""

from collections import Counter

import pytest

from matdb_spark import Database, Dimension, Schema, Value, manifest


def _raw_visible(p: str, horizon: int) -> list[int]:
    """The snapshot rule straight from the manifest files: committed ids
    below the horizon, minus every id a compaction among them replaces."""
    ids = [t for t in manifest.committed_txn_ids(p) if t < horizon]
    replaced = {r for t in ids for r in manifest.read_manifest(p, t).get("replaces", [])}
    return sorted(set(ids) - replaced)


def _raw_rank(p: str, t: int) -> int:
    """A rollup's recorded ``version_rank``, else the physical id."""
    return int(manifest.read_manifest(p, t).get("version_rank", t))


@pytest.fixture()
def store(spark, tmp_db_path):
    """Four commits, a minor compaction of the oldest two (its manifest
    carries ``version_rank`` 2), then one more commit."""
    schema = Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    db = Database.create(spark, f"{tmp_db_path}/snap", schema)
    rows: dict[int, int] = {}
    for i in range(4):
        batch = {k: 100 * i + k for k in range(i * 5, i * 5 + 20)}
        with db.begin() as t:
            t.add_rows(batch.items())
            t.commit()
        rows.update(batch)
    rollup = db.compact(max_txns=2)
    assert rollup is not None
    with db.begin() as t:
        t.add_rows([(3, -3), (21, -21)])
        t.commit()
    rows.update({3: -3, 21: -21})
    return db, rows, rollup


@pytest.fixture()
def counted(monkeypatch):
    """Count ``_commits`` listings and cached manifest reads (per txn)."""
    calls: dict[str, Counter] = {"listings": Counter(), "reads": Counter()}
    listing, cached = manifest.committed_txn_ids, manifest.read_manifest_cached

    def committed_txn_ids(db_path):
        calls["listings"][db_path] += 1
        return listing(db_path)

    def read_manifest_cached(db_path, txn_id):
        calls["reads"][txn_id] += 1
        return cached(db_path, txn_id)

    read_manifest_cached.cache_clear = cached.cache_clear
    read_manifest_cached.cache_info = cached.cache_info
    monkeypatch.setattr(manifest, "committed_txn_ids", committed_txn_ids)
    monkeypatch.setattr(manifest, "read_manifest_cached", read_manifest_cached)

    def take() -> tuple[int, Counter]:
        out = (sum(calls["listings"].values()), calls["reads"].copy())
        calls["listings"].clear()
        calls["reads"].clear()
        return out

    return take


def test_begin_lists_once_and_reads_build_from_the_snapshot(store, counted):
    db, rows, _ = store
    committed = manifest.committed_txn_ids(db.path)
    counted()

    txn = db.begin()
    listings, reads = counted()
    assert listings == 1
    assert set(reads) <= set(committed) and max(reads.values()) <= 1

    rng = txn.query_range({"k": (0, 24)})
    pts = txn.query_points([(3,), (21,), (34,)])
    assert counted() == (0, Counter())

    assert [tuple(r) for r in rng.collect()] == sorted(
        (k, v) for k, v in rows.items() if k <= 24
    )
    assert {tuple(r) for r in pts.collect()} == {(3, -3), (21, -21), (34, rows[34])}


def test_resolve_matches_the_manifest_rules(store):
    db, _, rollup = store
    for horizon in (db.next_txn_id, rollup + 1):
        snap = manifest.resolve(db.path, horizon)
        assert snap.txns == manifest.visible_txn_ids(db.path, horizon)
        assert snap.txns == _raw_visible(db.path, horizon)
        assert rollup in snap.txns and snap.rank(rollup) == 2
        assert {t: snap.rank(t) for t in snap.manifests} == {
            t: _raw_rank(db.path, t) for t in snap.manifests
        }


def test_vacuum_is_idempotent(spark, tmp_db_path):
    """A second ``vacuum()`` finds nothing left to remove: ids a
    compaction replaces but that are already gone are not pruned again,
    and no checkpoint is rewritten for them."""
    import os

    schema = Schema(dimensions=[Dimension("k", 10)], values=[Value("v")])
    db = Database.create(spark, f"{tmp_db_path}/vac", schema)
    for i in range(2):
        with db.begin() as t:
            t.add_rows([(k, i) for k in range(5)])
            t.commit()
    assert db.compact() == 3

    def checkpoints():
        return sorted(n for n in os.listdir(manifest.commits_dir(db.path)) if "_checkpoint." in n)

    assert db.vacuum() == [1, 2]
    before = checkpoints()
    assert db.vacuum() == []
    assert checkpoints() == before
