"""Manifest-commit protocol: the transactional heart of the engine.

The reference publishes a transaction by renaming its segment files
``XXXXXXXX.XXXXXXXX.tmp`` → final, in reverse segment order, so the
transaction appears atomically when segment 0 lands (reference:
src/transaction.rs:121-136, src/segment.rs:195-200). Rename is not
atomic on object stores, so the Spark-native equivalent (SURVEY §3.3,
§4 P7-P8) is a *manifest* protocol:

- data files for txn ``t`` are written under ``data/txn=<t>/...``
  and are invisible to every reader until
- one small JSON manifest ``_commits/<t>.json`` is atomically
  published (tmp file + rename on a local/HDFS filesystem; on S3 this
  would be a conditional PUT — single point of visibility either way).

Snapshot resolution (reference: database.rs:68-72, :85-89 — horizon =
next txn id; a txn sees segments with id < horizon) becomes: list
``_commits/``, keep manifests with ``txn < horizon`` (``resolve``). The
resulting ``Snapshot`` — visible txns plus their manifests, file lists
included — is pinned at transaction start, so a Scan DataFrame is a
true snapshot even under Spark's lazy evaluation (SURVEY §7.4.2).

Scale note: manifests are O(1) driver-side metadata — a listing of
``_commits/`` is one directory scan regardless of data volume, and the
data read is a plain multi-directory Parquet scan that Spark
distributes. Nothing here touches row-level data on the driver.
"""

from __future__ import annotations

import dataclasses as _dataclasses
import functools as _functools
import json
import os
import re
import shutil
import time
import warnings

from matdb_spark import schema as _schema, stats

_COMMITS_DIR = "_commits"
_DATA_DIR = "data"
_MANIFEST_RE = re.compile(r"^(\d{8,})\.json$")
#: ``_checkpoint.<top>.json`` (generation 0, the r7 format) or
#: ``_checkpoint.<top>.<gen>.json`` — the generation increments when a
#: checkpoint at the SAME top id must be rewritten (manifest-log prune
#: flags entries, vacuum removes pruned entries); every name stays
#: write-once, which is what keeps ``_read_checkpoint_cached`` safe.
_CHECKPOINT_RE = re.compile(r"^_checkpoint\.(\d{8,})(?:\.(\d+))?\.json$")
TXN_DIR_RE = re.compile(r"^txn=(\d+)$")

#: Auto-fold the committed manifest set into a checkpoint file every
#: this-many commits (``commit``, every writer's commit routine, calls
#: ``maybe_checkpoint`` after publish). Snapshot resolution then costs
#: ONE checkpoint read plus one JSON per post-checkpoint commit instead
#: of one JSON per commit ever made — O(1)-ish planning for a
#: long-lived store with streaming commit rates (the Delta-checkpoint
#: idea applied to this manifest log).
DEFAULT_CHECKPOINT_INTERVAL = 64

#: manifests stay small: a txn with more data files than this records
#: no file list and its scans fall back to filesystem listing
_MANIFEST_FILES_CAP = 20_000

#: Newest checkpoint (top_txn_id, generation) seen per store path,
#: refreshed by every ``_commits`` listing (committed_txn_ids) — so the
#: per-manifest read path can consult the checkpoint WITHOUT its own
#: listing call.
_CK_HINT: dict[str, tuple[int, int] | None] = {}

#: Incarnation of each store path seen by this process's listings:
#: ``(st_ino, st_mtime_ns)`` of its ``schema.json`` (None without one).
_INCARNATION: dict[str, tuple[int, int] | None] = {}


def _check_incarnation(db_path: str) -> None:
    """Drop the manifest caches when the store at ``db_path`` is not the
    one this process last listed there — deleted and re-created, or its
    schema evolved. The caches are keyed by path, and a reused Python
    worker planning DSv2 reads would otherwise serve a re-created
    store's txn ids from the old store's manifests."""
    try:
        st = os.stat(os.path.join(db_path, _schema.SCHEMA_FILENAME))
        inc = (st.st_ino, st.st_mtime_ns)
    except OSError:
        inc = None
    if _INCARNATION.setdefault(db_path, inc) != inc:
        _INCARNATION[db_path] = inc
        read_manifest_cached.cache_clear()
        _read_checkpoint_cached.cache_clear()


def commits_dir(db_path: str) -> str:
    return os.path.join(db_path, _COMMITS_DIR)


def data_dir(db_path: str) -> str:
    return os.path.join(db_path, _DATA_DIR)


def txn_data_dir(db_path: str, txn_id: int) -> str:
    return os.path.join(data_dir(db_path), f"txn={txn_id}")


def manifest_path(db_path: str, txn_id: int) -> str:
    return os.path.join(commits_dir(db_path), f"{txn_id:08d}.json")


def init_layout(db_path: str) -> None:
    os.makedirs(commits_dir(db_path), exist_ok=True)
    os.makedirs(data_dir(db_path), exist_ok=True)
    # the checkpoint hint of a store deleted and re-created at this path
    # names the old store's checkpoint until the next listing
    _CK_HINT.pop(db_path, None)


def committed_txn_ids(db_path: str) -> list[int]:
    """All committed transaction ids, ascending (one listing call
    plus, when the log has been PRUNED, one cached checkpoint read).
    The committed set is the union of the ``_commits`` listing and the
    newest checkpoint's ``pruned`` entries: for ids whose per-txn JSON
    was pruned away (``prune_manifest_log``) the checkpoint IS the
    source of truth — the one deliberate exception to
    listing-is-truth, flagged explicitly inside the checkpoint so a
    vacuumed manifest (deleted, NOT flagged) can never be resurrected
    by a stale fold. The same pass notes the newest checkpoint
    (top, generation) into ``_CK_HINT`` so per-manifest reads in the
    sweep hit the folded map instead of one JSON file each."""
    out = []
    ck: tuple[int, int] | None = None
    for name in os.listdir(commits_dir(db_path)):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
            continue
        c = _CHECKPOINT_RE.match(name)
        if c:
            key = (int(c.group(1)), int(c.group(2) or 0))
            ck = key if ck is None else max(ck, key)
    _check_incarnation(db_path)
    _CK_HINT[db_path] = ck
    if ck is not None:
        _map, pruned = _read_checkpoint_cached(db_path, ck)
        if pruned:
            out.extend(t for t in pruned if t in _map)
    return sorted(set(out))


def read_manifest(db_path: str, txn_id: int) -> dict:
    with open(manifest_path(db_path, txn_id)) as f:
        return json.load(f)


@_functools.lru_cache(maxsize=256)
def read_manifest_cached(db_path: str, txn_id: int) -> dict:
    """Cached manifest read — safe because a published manifest is
    immutable (the protocol's atomic point is the rename; content
    never changes afterward). ``resolve`` reads every manifest of a
    ``Snapshot`` through it, once; stats pruning, file-set resolution,
    history and vacuum eligibility then read the dicts the snapshot
    holds. maxsize is deliberately small: a manifest can carry up to
    ~20k file paths (~2 MB JSON), so a large cache could pin gigabytes
    on the driver; 256 entries covers the sweep of a healthy store
    while bounding worst-case retention.

    On miss, the newest CHECKPOINT (folded manifest map, ``_CK_HINT``
    — refreshed by the listing every sweep starts with) is consulted
    before the per-txn JSON file: a 10k-commit store resolves its
    snapshot with one checkpoint read instead of 10k file reads. A
    manifest absent from BOTH (pruned between the caller's listing and
    this read) retries once against a FRESH listing — the newest
    checkpoint must carry it — before raising."""
    ck = _CK_HINT.get(db_path)
    if ck is not None and txn_id <= ck[0]:
        m = _read_checkpoint_cached(db_path, ck)[0].get(txn_id)
        if m is not None:
            return m
    try:
        return read_manifest(db_path, txn_id)
    except FileNotFoundError:
        # pruned since the caller's listing: the prune wrote its
        # flagged checkpoint BEFORE unlinking, so a fresh listing's
        # newest checkpoint holds the payload
        committed_txn_ids(db_path)
        ck2 = _CK_HINT.get(db_path)
        if ck2 is not None and ck2 != ck:
            m = _read_checkpoint_cached(db_path, ck2)[0].get(txn_id)
            if m is not None:
                return m
        raise


def checkpoint_path(db_path: str, upto: int, gen: int = 0) -> str:
    base = f"_checkpoint.{upto:08d}"
    if gen:
        base += f".{gen}"
    return os.path.join(commits_dir(db_path), base + ".json")


@_functools.lru_cache(maxsize=4)
def _read_checkpoint_cached(
    db_path: str, key: tuple[int, int]
) -> tuple[dict[int, dict], frozenset[int]]:
    """Parsed checkpoint → ({txn_id: manifest payload}, pruned ids).
    Cache-safe: every checkpoint NAME is write-once (a fold lands
    under a new max-txn-id name; a same-top rewrite — prune flagging,
    vacuum of pruned entries — bumps the generation suffix). maxsize
    is tiny because one entry covers an entire store. A checkpoint
    GC'ed between the hint listing and this read degrades to per-file
    manifest reads (empty map), never to an error."""
    try:
        with open(checkpoint_path(db_path, key[0], key[1])) as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return {}, frozenset()
    return (
        {int(k): v for k, v in raw.get("manifests", {}).items()},
        frozenset(int(t) for t in raw.get("pruned", [])),
    )


def _list_checkpoints(db_path: str) -> list[tuple[int, int]]:
    """(top, gen) keys of every checkpoint file, ascending."""
    return sorted(
        (int(m.group(1)), int(m.group(2) or 0))
        for m in (
            _CHECKPOINT_RE.match(n) for n in os.listdir(commits_dir(db_path))
        )
        if m
    )


def _emit_checkpoint(
    db_path: str,
    folded: dict[int, dict],
    pruned: set[int],
    unprune: set[int] | None = None,
) -> tuple[int, int]:
    """Write the fold atomically (tmp + rename + dir fsync — the
    publish durability discipline) under the next write-once name:
    ``_checkpoint.<max folded id>.json``, or with a bumped generation
    suffix when a checkpoint at that top already exists (prune/vacuum
    rewrites). GCs all but the newest 2 checkpoints — a reader
    mid-listing falls back to per-file reads if it loses the race.

    Before writing, the NEWEST existing checkpoint's pruned flags are
    merged in (minus ``unprune`` — vacuum's removals): a fold that
    read its manifests just before a concurrent prune unlinked them
    would otherwise emit those entries unflagged, and the committed
    union (which trusts only flagged entries for ids missing from the
    listing) would lose them."""
    top = max(folded)
    existing = _list_checkpoints(db_path)
    if existing:
        _pm, prev_pruned = _read_checkpoint_cached(db_path, existing[-1])
        pruned = pruned | (set(prev_pruned) & set(folded)) - (unprune or set())
    gen = 0
    same = [g for t, g in existing if t == top]
    if same:
        gen = max(same) + 1
    payload = {
        "checkpoint": top,
        "format": 2,
        "manifests": {str(t): m for t, m in sorted(folded.items())},
        "pruned": sorted(pruned),
    }
    path = checkpoint_path(db_path, top, gen)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))
    _CK_HINT[db_path] = (top, gen)
    keys = sorted(set(existing) | {(top, gen)})
    for old in keys[:-2]:
        try:
            os.unlink(checkpoint_path(db_path, old[0], old[1]))
        except FileNotFoundError:
            pass
    return top, gen


def write_checkpoint(db_path: str, remove: set[int] | None = None) -> int | None:
    """Fold every currently-committed manifest into a checkpoint file.
    Incremental: the previous checkpoint supplies the already-folded
    payloads, so the fold reads only manifests committed since — and
    it carries PRUNED entries forward (their per-txn JSONs no longer
    exist; the checkpoint is their source of truth) while dropping
    entries whose manifests were vacuumed away (deleted WITHOUT the
    pruned flag). ``remove`` drops the named pruned entries too —
    vacuum passes the superseded ids it reclaimed so a pruned txn dies
    from checkpoint truth the moment its data dies. Returns the folded
    top id, or None when there is nothing to do.

    Concurrency: names are write-once ((top, gen) bumps on same-top
    rewrites) and two writers folding the same state write
    byte-equivalent content — no coordination needed, same as the
    commit protocol. A manifest pruned between this fold's listing and
    its per-file read is recovered from the pruner's own checkpoint
    (which lands BEFORE any unlink), so the entry is carried, never
    dropped."""
    remove = remove or set()
    ids = committed_txn_ids(db_path)
    if not ids and not remove:
        return None
    prev = _CK_HINT.get(db_path)
    listed = [t for t in ids]
    if prev is not None:
        base, base_pruned = _read_checkpoint_cached(db_path, prev)
    else:
        base, base_pruned = {}, frozenset()
    new_listed = [
        t for t in listed if t not in base_pruned and (prev is None or t > prev[0])
    ]
    if not new_listed and not remove and prev is not None:
        return None
    folded: dict[int, dict] = {}
    pruned_out: set[int] = set()
    for t in listed:
        if t in remove:
            continue
        if t in base_pruned:
            folded[t] = base[t]
            pruned_out.add(t)
            continue
        m = base.get(t)
        if m is None:
            try:
                m = read_manifest(db_path, t)
            except (OSError, ValueError):
                # gone between listing and read: either vacuumed (drop
                # — it leaves the next listing too) or pruned by a
                # racing pruner, whose checkpoint (written before its
                # unlinks) carries the payload
                committed_txn_ids(db_path)
                ck2 = _CK_HINT.get(db_path)
                if ck2 is not None and ck2 != prev:
                    m2, p2 = _read_checkpoint_cached(db_path, ck2)
                    if t in p2 and t in m2:
                        folded[t] = m2[t]
                        pruned_out.add(t)
                continue
        folded[t] = m
    if not folded:
        return None
    return _emit_checkpoint(db_path, folded, pruned_out, unprune=remove)[0]


def maybe_checkpoint(db_path: str, interval: int | None = None) -> int | None:
    """Write a checkpoint iff at least ``interval`` commits landed
    since the last one (or ever, for a store with none). Called by the
    commit paths after publish — one listing per commit, a fold every
    ``interval`` commits, amortized O(1) metadata per commit.
    ``interval=None`` reads DEFAULT_CHECKPOINT_INTERVAL at call time
    (so deployments — and tests — can tune the module constant)."""
    if interval is None:
        interval = DEFAULT_CHECKPOINT_INTERVAL
    ids = committed_txn_ids(db_path)
    if not ids:
        return None
    prev = _CK_HINT.get(db_path)
    behind = sum(1 for t in ids if prev is None or t > prev[0])
    if behind < interval:
        return None
    return write_checkpoint(db_path)


def prune_manifest_log(
    db_path: str, grace_seconds: float = 3600.0
) -> list[int]:
    """Bound ``_commits/`` growth: delete the per-txn JSONs of commits
    already FOLDED into the newest checkpoint, once both the
    checkpoint and the manifest are older than ``grace_seconds``.
    Returns the pruned txn ids.

    Protocol note (the one deliberate exception to listing-is-truth):
    a pruned commit's manifest lives on ONLY inside checkpoints — the
    prune first emits a new checkpoint generation whose ``pruned``
    list names the ids (atomic rename), and only then unlinks their
    JSONs, so a crash between the two steps leaves both copies
    (benign). From then on ``committed_txn_ids`` unions the listing
    with the checkpoint's pruned entries, every fold carries them
    forward, and vacuum removes them from checkpoint truth via
    ``write_checkpoint(remove=...)`` when it reclaims their data. The
    grace keeps the race surface empty for readers that listed before
    the prune: their per-file read falls back to the flagged
    checkpoint (read_manifest_cached), and ``_emit_checkpoint`` keeps
    2 checkpoint files for listings a moment old.

    At streaming commit rates this is the difference between millions
    of small objects per store-year and a steady-state ``_commits/``
    of (interval + unpruned-tail) files — the same job Delta's
    log-retention/cleanup performs after its checkpoints."""
    ids_listed = set()
    for name in os.listdir(commits_dir(db_path)):
        m = _MANIFEST_RE.match(name)
        if m:
            ids_listed.add(int(m.group(1)))
    ck = _list_checkpoints(db_path)
    if not ck:
        return []
    key = ck[-1]
    ck_path = checkpoint_path(db_path, key[0], key[1])
    now = time.time()
    try:
        if now - os.path.getmtime(ck_path) < grace_seconds:
            return []
    except OSError:
        return []
    cmap, already = _read_checkpoint_cached(db_path, key)
    eligible = []
    leftovers = []  # flagged by an earlier (crashed) prune, JSON lingers
    for t in sorted(ids_listed):
        if t not in cmap:
            continue
        try:
            if now - os.path.getmtime(manifest_path(db_path, t)) < grace_seconds:
                continue
        except OSError:
            continue
        (leftovers if t in already else eligible).append(t)
    if not eligible and not leftovers:
        return []
    if eligible:
        folded = dict(cmap)
        # fold in any post-checkpoint commits so the new generation is
        # a superset (same content rule as write_checkpoint)
        for t in sorted(ids_listed - set(cmap)):
            try:
                folded[t] = read_manifest(db_path, t)
            except (OSError, ValueError):
                continue
        _emit_checkpoint(db_path, folded, set(already) | set(eligible))
    for t in eligible + leftovers:
        try:
            os.unlink(manifest_path(db_path, t))
        except FileNotFoundError:
            pass
    _fsync_dir(commits_dir(db_path))
    return sorted(eligible + leftovers)


@_dataclasses.dataclass(frozen=True)
class Snapshot:
    """One resolved snapshot (``resolve``): the visible txns — committed
    ids below the horizon, minus every id a visible compaction lists in
    ``replaces`` (reference: database.rs:85-89; a later compaction's
    list includes every earlier id it absorbed, so chains resolve) —
    and the manifest of each committed txn below the horizon. Scans,
    the DSv2 reader and maintenance read snapshot facts only from this
    value. ``manifests`` holds the cached dicts, not copies: read-only."""

    db_path: str
    committed: list[int]  # every committed id, ascending (the listing)
    txns: list[int]  # visible: committed, below the horizon, not replaced
    replaced: frozenset[int]  # superseded by a compaction below the horizon
    manifests: dict[int, dict]  # committed id below the horizon -> manifest

    def stats(self, t: int) -> dict | None:
        return self.manifests[t].get("stats")

    def files(self, t: int) -> list[str] | None:
        """Data files relative to the txn dir: None = not recorded
        (legacy or capped manifest — list the dir), [] = empty commit."""
        return self.manifests[t].get("files")

    def unique_keys(self, t: int) -> bool:
        return bool(self.manifests[t].get("unique_keys"))

    def rank(self, t: int) -> int:
        """The version rank resolution compares: a rollup's recorded
        ``version_rank`` (the top of its covered interval), else the
        physical id. THE single interpretation — scans, compaction
        window selection, conflict checks and vacuum holds all share
        it. An id the snapshot does not hold (vacuumed, or above the
        horizon) ranks as its physical id, which is conservative for
        the hold checks."""
        m = self.manifests.get(t)
        return t if m is None else int(m.get("version_rank", t))

    def restrict(self, txns) -> "Snapshot":
        """The same snapshot reading only ``txns`` (a compaction window
        or a change-feed window)."""
        return _dataclasses.replace(self, txns=list(txns))

    def feed_window(
        self, lo: int, hi: int, include_compactions: bool = False
    ) -> "Snapshot":
        """The change-feed window ``(lo, hi]``: committed txns in it,
        without compaction rewrites (``replaces``) unless opted in.
        Without them, raises when the window's content was vacuumed
        away (``missing_feed_content``, over this snapshot's listing)
        instead of returning an incomplete feed — the one check
        ``Database.changes`` and the DSv2 change-feed source share."""
        if not include_compactions:
            vacuumed = _missing_feed(self.db_path, set(self.committed), lo, hi)
            if vacuumed:
                raise ValueError(
                    f"change window ({lo}, {hi}] is unreadable: txns "
                    f"{vacuumed} were superseded by compaction and vacuumed "
                    f"away; re-sync from a snapshot or pass "
                    f"include_compactions=True"
                )
        return self.restrict(
            t
            for t in self.committed
            if lo < t <= hi
            and (include_compactions or not self.manifests[t].get("replaces"))
        )


def resolve(db_path: str, horizon: int | None = None) -> Snapshot:
    """Resolve the snapshot at ``horizon`` (None: every committed txn)
    from ONE ``committed_txn_ids`` listing and one
    ``read_manifest_cached`` call per committed txn below it."""
    committed = committed_txn_ids(db_path)
    manifests = {
        t: read_manifest_cached(db_path, t)
        for t in committed
        if horizon is None or t < horizon
    }
    replaced = frozenset(r for m in manifests.values() for r in m.get("replaces", []))
    txns = sorted(set(manifests) - replaced)
    return Snapshot(db_path, committed, txns, replaced, manifests)


def resolve_as_of(db_path: str, as_of: int | None, next_id: int = 1) -> tuple[Snapshot, int]:
    """``(snapshot, horizon)`` of a read at the head (``as_of=None``)
    or of a TIME-TRAVEL read seeing exactly the commits with id <=
    ``as_of`` — the one check ``Database.begin`` and the DSv2 reader
    share. The head's horizon is one past the newest committed id, and
    at least ``next_id`` (the caller's own next-id counter). Raises
    when ``as_of`` is at or past the head's horizon, or when its
    snapshot is no longer complete: a compaction beyond it replaced
    txns inside it and vacuum deleted their manifests — silently
    scanning the survivors would return partial data
    (``missing_history``, which walks replace-CHAINS via each rollup's
    covers_lo, so a vacuumed intermediate rollup cannot hide the
    loss)."""
    snap = resolve(db_path, None if as_of is None else as_of + 1)
    head = max(next_id, max(snap.committed, default=0) + 1)
    if as_of is None:
        return snap, head
    if as_of >= head:
        raise ValueError(f"as_of={as_of} is in the future (next txn {head})")
    gone = missing_history(db_path, as_of)
    if gone:
        raise ValueError(
            f"time-travel snapshot as_of={as_of} is unreadable: txns "
            f"{gone} were superseded by a later compaction and vacuumed "
            f"away; historical reads are valid only until vacuum"
        )
    return snap, as_of + 1


def visible_txn_ids(db_path: str, horizon: int) -> list[int]:
    """The visible txn ids below ``horizon`` (``resolve(...).txns``)."""
    return resolve(db_path, horizon).txns


def staged_txn_ids(db_path: str) -> list[int]:
    """Txn ids with data on disk (committed or not)."""
    out = []
    for name in os.listdir(data_dir(db_path)):
        m = TXN_DIR_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def publish(
    db_path: str,
    txn_id: int,
    segment_count: int,
    replaces: list[int] | None = None,
    extra: dict | None = None,
) -> None:
    """Atomically commit ``txn_id``. Mirrors the atomic-on-segment-0
    rename of the reference (transaction.rs:121-126): the manifest file
    is the single publication point. ``replaces`` marks a compaction:
    the listed committed txns are superseded by this one. ``extra``
    carries caller metadata (e.g. the streaming source/batch id used
    for exactly-once replay suppression)."""
    if txn_id >= (1 << 31) - 1:
        raise ValueError(
            "txn-id overflow: the packed (txn, seq) version key"
            " (scan.py) reserves 31 bits for txn ids, with the top id"
            " 2^31-1 reserved for the read-your-own-writes overlay —"
            " compact and rebuild the store to renumber"
        )
    payload = {
        "txn": txn_id,
        "segments": segment_count,
        "committed_at": time.time(),
        "format": 1,
    }
    if replaces:
        payload["replaces"] = sorted(replaces)
    if extra:
        payload.update(extra)
    path = manifest_path(db_path, txn_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


def commit(
    db_path: str,
    txn_id: int,
    schema,
    files: list[str],
    segments: int,
    replaces: list[int] | None = None,
    extra: dict | None = None,
    new_values=(),
) -> None:
    """Commit txn ``txn_id`` whose data files are ``files`` (relative
    to its txn dir): the one commit routine of every writer — the
    library's ``Transaction.commit`` (plain, streaming, compaction and
    DDL commits) and both DSv2 sinks — as the reference has one
    (transaction.rs:60-65, :121-136). In order, it:

    1. reads the txn stats from the footers of ``files``
       (``stats.footer_stats``, for the ``stats._STAT_TYPES`` dims of
       ``schema``, less any dim a footer has no min/max for);
    2. records ``files`` in the manifest, unless there are more than
       ``_MANIFEST_FILES_CAP`` of them (scans then list the txn dir);
    3. adds the value columns ``new_values`` to ``schema.json`` under
       the schema lock (``schema.evolve``) — the schema change commits
       with the txn; a crash between the two leaves an additive,
       all-null column, harmless and retry-safe;
    4. publishes the manifest, releases the txn's reservation and
       folds a checkpoint. A fold failure only warns: the txn is
       committed by then, and failing would make a caller roll back
       (or Spark abort) a committed txn.

    ``extra`` is recorded verbatim (``publish``)."""
    tdir = txn_data_dir(db_path, txn_id)
    dims = [d.name for d in schema.dimensions if d.type in stats._STAT_TYPES]
    payload = dict(extra or {})
    txn_stats = stats.footer_stats([os.path.join(tdir, f) for f in files], dims)
    if txn_stats is not None:
        payload["stats"] = txn_stats
    if len(files) <= _MANIFEST_FILES_CAP:
        payload["files"] = sorted(files)
    if new_values:
        _schema.evolve(db_path, new_values)
    publish(db_path, txn_id, segments, replaces=replaces, extra=payload)
    release_txn_reservation(db_path, txn_id)
    try:
        maybe_checkpoint(db_path)
    except Exception as e:  # pragma: no cover - env-dependent
        warnings.warn(f"post-commit checkpoint fold failed: {e}")


def _fsync_dir(path: str) -> None:
    """Make the rename itself durable: fsync the directory entry so a
    power failure after ``publish`` returns cannot lose the commit.
    No-op where directories can't be opened (e.g. object-store FUSE)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def reserve_txn_id(db_path: str, start: int) -> int:
    """Collision-safe txn-id allocation for concurrent writers.

    The reference is an embedded single-process store, so its next-id
    counter lives in memory (database.rs:116-124). Multiple processes
    sharing one store need an atomic claim: an ``O_CREAT|O_EXCL``
    reservation file per id in ``_commits/`` (the same primitive a
    conditional PUT provides on object stores). First process to
    create ``<id>.reserve`` owns the id; losers probe the next id.
    Reservations are cleaned up at publish (manifest supersedes them)
    and swept by ``recover``.
    """
    candidate = max(start, _max_seen_txn_id(db_path) + 1)
    while True:
        path = os.path.join(commits_dir(db_path), f"{candidate:08d}.reserve")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            return candidate
        except FileExistsError:
            candidate += 1


def _max_seen_txn_id(db_path: str) -> int:
    """Highest id visible in any form: manifest, reservation, or
    staged data directory."""
    best = 0
    for name in os.listdir(commits_dir(db_path)):
        m = _MANIFEST_RE.match(name) or re.match(r"^(\d{8,})\.reserve$", name)
        if m:
            best = max(best, int(m.group(1)))
    for t in staged_txn_ids(db_path):
        best = max(best, t)
    return best


def outstanding_txn_ids(db_path: str) -> set[int]:
    """Txn ids that are claimed but not yet published: reservation
    files plus staged data directories without a manifest. A lingering
    ``.reserve`` of an already-published txn (crash between publish and
    release) does not count — the manifest supersedes it."""
    committed = set(committed_txn_ids(db_path))
    out: set[int] = set()
    for name in os.listdir(commits_dir(db_path)):
        m = re.match(r"^(\d{8,})\.reserve$", name)
        if m:
            out.add(int(m.group(1)))
    for t in staged_txn_ids(db_path):
        out.add(t)
    return out - committed


def safe_feed_head(db_path: str) -> int:
    """Highest committed txn id that a change-feed consumer may safely
    advance past: no in-flight txn with a LOWER id may still publish.

    Ids are reserved before publish, so commits can land out of id
    order under concurrent writers; a feed that advanced its cursor to
    the raw listing max would permanently skip a lower-id txn whose
    manifest arrives late. The watermark is min(outstanding ids) - 1 —
    the same low-watermark rule every out-of-order commit log uses. A
    reservation leaked by a crashed writer holds the watermark back
    until ``recover()`` sweeps it (safety over liveness)."""
    head = max(committed_txn_ids(db_path), default=0)
    pending = outstanding_txn_ids(db_path)
    if pending:
        head = min(head, min(pending) - 1)
    return head


def release_txn_reservation(db_path: str, txn_id: int) -> None:
    p = os.path.join(commits_dir(db_path), f"{txn_id:08d}.reserve")
    try:
        os.unlink(p)
    except FileNotFoundError:
        pass


def write_reservation_intent(db_path: str, txn_id: int, intent: dict) -> None:
    """Stamp a payload into an existing ``.reserve`` file. A plain
    writer's reservation stays empty; a compaction declares
    ``{"op": "compact", "lo": L, "rank": R}`` (its covered effective-
    version interval) so that (a) an overlapping concurrent compaction
    can detect it pre-publish — the pending-id interval test alone
    cannot, because every reservation id sits above the rank — and
    (b) ``vacuum`` holds back window files the in-flight rewrite is
    still scanning. The intent dies with the reservation (publish
    release / rollback / ``recover`` sweep), so it can never outlive
    its writer by more than the recovery grace period."""
    p = os.path.join(commits_dir(db_path), f"{txn_id:08d}.reserve")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(intent, f)
    os.replace(tmp, p)


def read_reservation_intents(db_path: str) -> dict[int, dict]:
    """Intent payloads of outstanding reservations (empty/unparseable
    reservation files — plain writers — are skipped)."""
    out: dict[int, dict] = {}
    for name in os.listdir(commits_dir(db_path)):
        mo = re.match(r"^(\d{8,})\.reserve$", name)
        if not mo:
            continue
        try:
            with open(os.path.join(commits_dir(db_path), name)) as f:
                text = f.read()
            if text.strip():
                out[int(mo.group(1))] = json.loads(text)
        except (OSError, ValueError):
            continue
    return out


def max_committed_batch_id(db_path: str, source: str) -> int | None:
    """Highest streaming ``batch_id`` committed for ``source`` (None if
    none). One manifest sweep — called once per stream (re)start, then
    cached by the caller; batch ids within one source are monotonic.

    Two manifest forms carry the record: a stream commit's own
    ``(stream_source, batch_id)`` stamp, and a compaction's
    carried-forward ``stream_batch_ids`` map — compaction + vacuum
    deletes the folded stream manifests, so without the carry a
    post-crash replay of an old batch would no longer be recognized
    (and would re-commit as a duplicate transaction)."""
    best: int | None = None
    for m in resolve(db_path).manifests.values():
        cands = []
        if m.get("stream_source") == source and "batch_id" in m:
            cands.append(int(m["batch_id"]))
        carried = m.get("stream_batch_ids") or {}
        if source in carried:
            cands.append(int(carried[source]))
        for b in cands:
            if best is None or b > best:
                best = b
    return best


def covers_lo_value(mf: dict, txn_id: int) -> int:
    """Lowest effective version a manifest transitively absorbed: the
    recorded ``covers_lo``, else min(replaces) (legacy single
    compaction), else the txn's own id (plain commit). THE single
    interpretation of the field — compaction stamping and both
    readability walks must share it."""
    reps = mf.get("replaces") or []
    if not reps:
        return txn_id
    return int(mf.get("covers_lo", min(reps)))


def missing_feed_content(db_path: str, since: int, until: int) -> list[int]:
    """Vacuumed ids whose content a change-feed window ``(since,
    until]`` needed — empty when the window is fully readable. Like
    ``missing_history`` this walks replace-chains via ``covers_lo`` so
    a vacuumed INTERMEDIATE rollup cannot hide the loss; a missing
    child whose parent's covered interval intersects the window is
    reported conservatively (it may have been a raw commit in the
    window or a rollup covering one)."""
    return _missing_feed(db_path, set(committed_txn_ids(db_path)), since, until)


def _missing_feed(db_path: str, committed: set[int], since: int, until: int) -> list[int]:
    """``missing_feed_content`` given the store's committed ids."""
    out: set[int] = set()
    seen: set[int] = set()

    def walk(t: int) -> None:
        if t in seen:
            return
        seen.add(t)
        try:
            # cached: the feed path polls this sweep; snapshot
            # resolution already reads every committed manifest through
            # the same cache, so this adds no new retention pressure
            m = read_manifest_cached(db_path, t)
        except FileNotFoundError:
            return
        reps = m.get("replaces") or []
        if not reps or covers_lo_value(m, t) > until:
            return
        # A rollup's covered interval TOPS OUT at its version_rank (the
        # highest effective version it absorbed) even though its
        # physical id is far above. When that top is at-or-below the
        # cursor, everything underneath — including vacuumed children
        # whose physical ids exceed ``since`` — is content the consumer
        # already read; descending would misreport those children as
        # lost window content and permanently kill a fully-caught-up
        # feed after fold+vacuum. Legacy manifests without version_rank
        # fall back to the physical id, keeping the conservative walk.
        if int(m.get("version_rank", t)) <= since:
            return
        for r in reps:
            if r in committed:
                walk(r)
            elif r > since:
                # missing, and possibly a window commit (or a rollup
                # covering one — unknowable once its manifest is gone;
                # the parent's covered interval reaches the window, so
                # report conservatively). r <= since content lies
                # entirely at-or-before the cursor and is irrelevant.
                out.add(r)

    for t in sorted(committed):
        walk(t)
    return sorted(out)


def missing_history(db_path: str, as_of: int) -> list[int]:
    """Ids whose content a snapshot at horizon ``as_of`` needs but
    whose manifests were vacuumed away — empty when the historical
    snapshot is fully readable.

    A compaction manifest carries ``covers_lo`` = the lowest effective
    version it transitively absorbed, so the check survives CHAINS of
    compactions even after intermediate rollups were vacuumed: for
    every committed compaction above the horizon that covers versions
    at-or-below it, each direct replaced id must still be committed
    and (recursively) readable. Legacy manifests without ``covers_lo``
    fall back to min(replaces) — conservative for single compactions,
    possibly blind one level deep on pre-``covers_lo`` chains.

    Reads manifests UNCACHED on purpose: this sweep is rare (time
    travel / pre-image feeds) and touching every manifest through the
    shared LRU would evict the hot entries the next scan needs."""
    committed = set(committed_txn_ids(db_path))
    memo: dict[int, list[int]] = {}

    def mf(t: int) -> dict:
        try:
            return read_manifest(db_path, t)
        except FileNotFoundError:
            # pruned (not vacuumed): payload lives in the checkpoint
            ck = _CK_HINT.get(db_path)
            if ck is not None:
                m = _read_checkpoint_cached(db_path, ck)[0].get(t)
                if m is not None:
                    return m
            return {}

    def missing(t: int) -> list[int]:
        if t in memo:
            return memo[t]
        memo[t] = []  # cycle guard (ids strictly decrease; belt+braces)
        if t <= as_of:
            # at-or-below the horizon the manifest itself is part of
            # the snapshot and carries its folded content — whatever it
            # replaced is irrelevant to readability
            return memo[t]
        m = mf(t)
        if covers_lo_value(m, t) > as_of:
            return memo[t]
        out: list[int] = []
        for r in m.get("replaces") or []:
            if r not in committed:
                # its manifest is gone; if it was (or covered) content
                # at-or-below the horizon, the snapshot is incomplete
                if r <= as_of or covers_lo_value(m, t) <= as_of:
                    out.append(r)
                continue
            out.extend(missing(r))
        memo[t] = sorted(set(out))
        return memo[t]

    gone: set[int] = set()
    for t in committed:
        if t > as_of:
            gone.update(missing(t))
    return sorted(gone)


def discard_txn_data(db_path: str, txn_id: int, force: bool = False) -> None:
    """Rollback: delete staged data (reference: transaction.rs:138-150
    deletes temp segment files).

    Guard: once a manifest exists for the txn it is PUBLISHED and its
    files are live snapshot content — a rollback/abort racing a
    post-publish failure (e.g. a checkpoint fold raising after commit,
    or Spark calling ``DataSourceWriter.abort`` because a post-commit
    hook failed) must never delete them, or the committed snapshot
    would reference deleted parquet. Vacuum passes ``force=True``
    because it removes the superseded manifest together with the
    data (database.py vacuum)."""
    if not force and os.path.exists(manifest_path(db_path, txn_id)):
        return
    d = txn_data_dir(db_path, txn_id)
    if os.path.isdir(d):
        shutil.rmtree(d)


#: Debris younger than this survives the recovery sweep. Correctness
#: never depends on sweeping (orphans are invisible to scans — only
#: manifests grant visibility); the grace is what lets a SECOND handle
#: open the store while a writer is mid-flight without destroying its
#: reservation or staged segments. 0 = sweep everything (the
#: reference's single-process recovery, database.rs:100-127).
DEFAULT_RECOVERY_GRACE = 600.0


def _newest_mtime(path: str) -> float:
    """Most recent mtime in a file tree (a txn dir stays 'fresh' as
    long as its writer keeps flushing segments into it). -1.0 if the
    path cannot be stat'ed (unknown age → never treated as stale)."""
    try:
        best = os.path.getmtime(path)
    except OSError:
        return -1.0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                best = max(best, os.path.getmtime(os.path.join(root, f)))
            except OSError:
                pass
    return best


def recover(db_path: str, grace_seconds: float = DEFAULT_RECOVERY_GRACE) -> int:
    """Crash recovery on open (reference: database.rs:100-127 — delete
    uncommitted ``.tmp`` segments, compute next txn id). Here: delete
    STALE ``data/txn=*`` directories with no manifest, stale manifest
    tmp files and stale txn-id reservations, and return the next
    transaction id.

    Staleness (``grace_seconds`` since last write) is what separates
    crash debris from a live concurrent writer's in-flight state: both
    look identical on disk, but debris stops changing. Sweeping is
    garbage collection only — uncommitted data is already invisible to
    every scan — so deferring it is always safe, while sweeping a live
    writer's reservation would let its txn id be reused and its feed
    watermark advance past it.
    """
    import time as _time

    init_layout(db_path)
    now = _time.time()

    def _stale(p: str) -> bool:
        m = _newest_mtime(p)
        return m >= 0 and (now - m) > grace_seconds

    committed = set(committed_txn_ids(db_path))
    staged = set(staged_txn_ids(db_path))
    for name in os.listdir(commits_dir(db_path)):
        # .tmp: unfinished manifest writes; .reserve: txn-id claims of
        # writers that died before publish (publish releases them).
        if name.endswith(".tmp") or name.endswith(".reserve"):
            p = os.path.join(commits_dir(db_path), name)
            if _stale(p):
                os.unlink(p)
    for t in staged - committed:
        d = txn_data_dir(db_path, t)
        if _stale(d):
            discard_txn_data(db_path, t)
    # Stream-writer staging debris (sources/dsv2.py STREAM_STAGING_DIR):
    # task outputs a crashed micro-batch never moved into a txn dir.
    # Invisible to every reader (only manifests grant visibility), so
    # sweeping is GC under the same staleness grace.
    staging = os.path.join(data_dir(db_path), "_stream_staging")
    if os.path.isdir(staging):
        for name in os.listdir(staging):
            p = os.path.join(staging, name)
            if _stale(p):
                shutil.rmtree(p, ignore_errors=True)
    # Next id counts past *every* id ever seen, including just-deleted
    # orphans (reference: database.rs:116-124 max_seen includes .tmp).
    all_ids = committed | staged
    return (max(all_ids) + 1) if all_ids else 1
