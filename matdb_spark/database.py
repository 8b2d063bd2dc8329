"""Database handle: create/open, recovery, transaction issuance.

Re-creates src/database.rs of the reference: ``create`` (:35-50) /
``open`` (:52-66) persist/load ``schema.json``; open runs the recovery
scan (:100-127); ``new_transaction`` captures the snapshot horizon
(:68-72). The segment/block caches of the reference (:133-192,
cache.rs) are not carried over — Spark's block manager, Parquet
footer caching and the OS page cache fill that role (SURVEY §4 P6).

Single-writer embedded model, like the reference. The storage layout
is object-store-friendly (immutable data files + one manifest per
commit), so scaling to concurrent writers later only requires a txn-id
allocator + conditional manifest PUT; readers are unaffected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from matdb_spark import manifest, schema as _schema
from matdb_spark.schema import SCHEMA_FILENAME, Schema
from matdb_spark.stats import _hull
from matdb_spark.transaction import Transaction


def check_feed_columns(schema: Schema) -> None:
    """Refuse a change feed over ``schema`` when its tag column would
    collide with a store column — ``changes()`` would silently replace
    the user's column, the DSv2 feed would declare it twice."""
    if "change_type" in schema.column_names:
        raise ValueError(
            "changes() emits a 'change_type' column, which collides "
            "with a schema column of that name; rename the column"
        )


class Database:
    def __init__(self, spark: SparkSession, path: str, schema: Schema):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.schema = schema
        self.next_txn_id = manifest.recover(self.path)
        self._auto_compact: dict | None = None

    # ---- lifecycle --------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: Schema) -> "Database":
        """Create a new database directory (reference: database.rs:35-50).
        Fails if a database already exists there."""
        path = os.path.abspath(path)
        schema_path = os.path.join(path, SCHEMA_FILENAME)
        if os.path.exists(schema_path):
            raise FileExistsError(f"database already exists at {path}")
        os.makedirs(path, exist_ok=True)
        manifest.init_layout(path)
        schema.save(schema_path)
        return cls(spark, path, schema)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Database":
        """Open an existing database; runs crash recovery
        (reference: database.rs:52-66, :100-127)."""
        path = os.path.abspath(path)
        schema = Schema.load(os.path.join(path, SCHEMA_FILENAME))
        return cls(spark, path, schema)

    @classmethod
    def create_or_open(cls, spark: SparkSession, path: str, schema: Schema) -> "Database":
        schema_path = os.path.join(path, SCHEMA_FILENAME)
        if os.path.exists(schema_path):
            return cls.open(spark, path)
        return cls.create(spark, path, schema)

    # ---- transactions ----------------------------------------------
    def begin(self, as_of: int | None = None) -> Transaction:
        """Start a transaction whose snapshot horizon is the current
        next-txn-id (reference: database.rs:68-72) — or, with
        ``as_of=t``, a TIME-TRAVEL snapshot seeing exactly the commits
        with txn id <= t. Historical snapshots fall out of the manifest
        protocol for free (immutable segments + per-txn manifests);
        they remain readable until ``vacuum()`` garbage-collects
        segments superseded by a later compaction. The reference
        cannot express this (its visibility is always "now").

        One ``_commits`` listing resolves the snapshot
        (``manifest.resolve_as_of``) and fixes the current horizon, which
        covers every commit visible ON DISK right now, not just those
        this handle made. The reference's horizon is its in-memory
        next-id counter (database.rs:68-72) — correct for an embedded
        single-process store, but with multiple handles or processes
        sharing one path a handle-local counter goes stale and a
        'current' snapshot would silently miss foreign commits (found
        by the auto-compact concurrency soak)."""
        snap, horizon = manifest.resolve_as_of(self.path, as_of, self.next_txn_id)
        return Transaction(self, snap, horizon, read_only=as_of is not None)

    def allocate_txn_id(self) -> int:
        """Lazy txn-id allocation at first flush
        (reference: transaction.rs:152-160), made collision-safe for
        concurrent writer processes via an atomic reservation file
        (manifest.reserve_txn_id) — two Database handles on the same
        path can commit interleaved without clobbering each other's
        manifests."""
        txn_id = manifest.reserve_txn_id(self.path, self.next_txn_id)
        self.next_txn_id = txn_id + 1
        return txn_id

    # ---- automatic compaction ---------------------------------------
    def enable_auto_compact(
        self,
        every: int = 8,
        major_every: int = 16,
        vacuum: bool = False,
        cluster: str = "sort",
        resolution: str = "row",
    ) -> None:
        """Size/txn-count compaction POLICY for batch stores: after
        every ``every``-th plain commit through THIS handle, the newest
        ``every``-txn window folds into one rollup; every
        ``major_every`` windows the accumulated rollups fold again,
        and so on — the same LSM leveling the streaming sink runs
        (streaming/ingest.py), so each row is rewritten O(log batches)
        times and the visible txn count stays bounded under unbounded
        small-commit ingest, with no manual ``compact()`` calls.

        The schedule counter is HANDLE-LOCAL (commits made through
        other handles/processes don't advance it — their txns simply
        ride along in the next contiguous window; a refused fold from
        a concurrent-writer conflict is retried implicitly by the next
        tier). ``vacuum=True`` reclaims folded data once it is older
        than the recovery grace (not immediately — see _after_commit's
        race note) — the same CDC/time-travel forfeit as the streaming
        sink's flag.
        Streaming ingest has its own ``compact_every``; don't stack
        both on one store."""
        if every < 2:
            raise ValueError(f"every={every}; folding needs a window of >= 2")
        if major_every < 2:
            raise ValueError(f"major_every={major_every}; expected >= 2")
        # validate HERE, not at the every-th commit: compact() would
        # raise these miles from the misconfiguration site, disguised
        # as a commit failure
        if cluster not in ("sort", "zorder"):
            raise ValueError(f"cluster={cluster!r}; expected 'sort' or 'zorder'")
        if resolution not in ("row", "cell"):
            raise ValueError(f"resolution={resolution!r}; expected 'row' or 'cell'")
        self._auto_compact = {
            "every": every,
            "major": major_every,
            "vacuum": vacuum,
            "cluster": cluster,
            "resolution": resolution,
            "n": 0,
        }

    def disable_auto_compact(self) -> None:
        self._auto_compact = None

    def _after_commit(self, compaction: bool) -> None:
        """Policy hook run by Transaction.commit. Compaction commits
        don't count toward (or recursively trigger) the schedule."""
        ac = self._auto_compact
        if ac is None or compaction:
            return
        ac["n"] += 1
        # The user's commit is already durable when this hook runs — a
        # failed MAINTENANCE job (executor loss, disk full mid-rewrite)
        # must not surface as a commit failure, or retry logic would
        # re-ingest an already-landed batch. Folds are idempotent
        # opportunities: a skipped one is absorbed by the next tier.
        try:
            self._fold_levels(
                ac["n"], ac["every"], ac["major"], ac["vacuum"],
                cluster=ac["cluster"], resolution=ac["resolution"],
            )
        except Exception:
            import warnings

            warnings.warn(
                "auto-compact maintenance failed after a successful "
                "commit; the fold will be retried by a later tier",
                stacklevel=3,
            )

    def _fold_levels(self, n: int, every: int, major: int, vacuum: bool, **compact_kw) -> None:
        """Leveled folding, LSM-style, after the ``n``-th (>= 1) commit
        of a schedule — the one rule of auto-compaction (``_after_commit``)
        and the streaming sink (streaming/ingest.py): tier 1 folds each
        ``every``-commit window; tier k (span every·major^(k-1)) folds
        the ``major`` tier-(k-1) rollups that accumulated since its last
        firing. All folds are newest-contiguous, so a refused fold's raw
        txns are absorbed by the next level up; each row is rewritten
        O(log commits) times and the visible txn count stays
        O(every + major·log commits).

        ``vacuum`` then reclaims folded data older than the recovery
        grace, NOT at min_age_seconds=0: a vacuum snapshot taken before
        a concurrent compaction stamps its reservation intent (but after
        this fold published) could otherwise reclaim window files the
        in-flight rewrite is still scanning — the intent-hold only
        protects intents visible at vacuum's read time, and the grace
        bounds any rewrite's stamp-to-publish window. Immediate
        reclamation stays available via an explicit user vacuum()."""
        did = False
        span, size = every, every
        while n % span == 0:
            did = (self.compact(max_txns=size, fold="newest", **compact_kw) is not None) or did
            span *= major
            size = major
        if did and vacuum:
            self.vacuum(min_age_seconds=manifest.DEFAULT_RECOVERY_GRACE)

    # ---- schema evolution ------------------------------------------
    def add_value_column(self, name: str, type: str = "long") -> None:
        """Grow the VALUE set (additive schema evolution — the one
        evolution the storage layout supports without rewrite).
        Existing segments simply lack the column; scans read with the
        catalog schema (``scan._read_schema``, no footer merge), so
        older files read it as typed null and history stays fully
        queryable. Dimensions cannot change: they are the physical key
        (chunk routing, sort, dedup identity).

        New transactions must supply the column (``add_dataframe``
        selects the full schema); a compaction after evolution rewrites
        everything to the current schema.

        The column is added to ``schema.json`` as it is on disk, re-read
        under the schema lock (``schema.evolve``, which the DSv2 sinks'
        ``evolve`` writes commit through too), not to this handle's
        copy: a stale handle keeps every column other handles and
        writers added. A column the file already has is an error.
        """
        self.schema = _schema.evolve(self.path, [(name, type)], exist_ok=False)

    # ---- maintenance ------------------------------------------------
    def compact(
        self,
        cluster: str = "sort",
        resolution: str = "row",
        max_txns: int | None = None,
        fold: str = "oldest",
    ) -> int | None:
        """Rewrite the current snapshot (or, with ``max_txns``, a
        contiguous window of it) as ONE new transaction that supersedes
        what it folded (manifest ``replaces`` list).

        The many-small-transactions problem at scale: every commit adds
        segment directories; scans stay correct but accumulate file
        listings and dedup work. Compaction folds them: read the
        version-resolved snapshot (dedup applied once, durably), write
        it through the normal segment path, publish with ``replaces``.
        Readers before the compaction commit see the old txns; after,
        exactly the compacted one — never both. Superseded data becomes
        garbage collected by ``vacuum()``.

        Version semantics are preserved by the manifest's
        ``version_rank``: the rewrite is anchored at the highest
        effective version it absorbed, so scans rank it exactly where
        the folded history stood — commits that land concurrently
        (after snapshot pinning) carry higher versions and keep
        winning over the rewrite; they do NOT force an abort. The only
        genuine conflict is a concurrent writer still holding a
        reservation at-or-below the rank (its eventual commit would be
        shadowed) — that aborts (returns None; rerun later).
        Reservations made after our staged data appears always probe
        above our id, so the check has no race window. Returns the
        compaction txn id (None if <2 txns to fold, or on a detected
        conflict).

        ``cluster`` picks the rewrite layout: ``"sort"`` (default) is
        the lexicographic key order the reference's merge scan implies;
        ``"zorder"`` interleaves all dimensions' bits (matdb_spark.
        zorder) so parquet row-group stats become selective for EVERY
        dim, not just the leading one — the right layout when range
        queries hit non-leading dims. Layout only for the chosen
        resolution: results identical under it.

        ``resolution`` must match how the store is QUERIED, because a
        compaction durably materializes one resolution's view:
        ``"row"`` (default) folds history newest-row-wins and drops
        all-null tombstones; ``"cell"`` folds newest-non-null-per-cell
        — required for stores written with partial-column upserts
        (``add_dataframe(partial=True)``), where a row-level rewrite
        would freeze the partial rows' nulls as real nulls and lose the
        older cells.

        ``max_txns`` + ``fold`` enable MINOR compaction: fold only a
        CONTIGUOUS window of ``max_txns`` transactions in effective
        version order — ``fold="oldest"`` (default) or ``"newest"`` —
        instead of the whole snapshot. This is the incremental
        maintenance mode a 100 TB store needs, where rewriting
        everything per compaction is prohibitive but small txn windows
        (e.g. one per streaming micro-batch) should keep folding at a
        cost that tracks the window, not the table. Correctness hinges
        on two invariants: the folded set is a contiguous INTERVAL of
        the effective version order (so for any key, the fold's
        internal resolution is exactly the resolution the scan would
        have computed over those versions), and the rewrite keeps its
        logical position via the manifest's ``version_rank`` = the
        highest effective version it absorbed — scans compare
        effective versions, so transactions OUTSIDE the fold still win
        (or lose) over the rewrite exactly as they did before it. A
        fold that does not start at the oldest visible version keeps
        tombstone rows physically (dropping one would resurrect older
        versions BELOW the interval); tombstones disappear for good in
        downward-closed folds (``"oldest"``/full). Tiering falls out
        naturally: newest-window rollups are themselves the oldest,
        contiguous txns later, so a periodic ``compact(max_txns=R)``
        folds accumulated rollups without ever rewriting more than R
        of them.
        """
        from matdb_spark import manifest as m
        from matdb_spark.scan import ScanSource, scan_dataframe

        if cluster not in ("sort", "zorder"):
            raise ValueError(f"cluster={cluster!r}; expected 'sort' or 'zorder'")
        if resolution not in ("row", "cell"):
            raise ValueError(f"resolution={resolution!r}; expected 'row' or 'cell'")
        if max_txns is not None and max_txns < 2:
            raise ValueError(f"max_txns={max_txns}; folding needs at least 2 txns")
        if fold not in ("oldest", "newest"):
            raise ValueError(f"fold={fold!r}; expected 'oldest' or 'newest'")
        snap = m.resolve(self.path)
        by_version = sorted(snap.txns, key=snap.rank)
        if max_txns is None:
            window = by_version
        elif fold == "oldest":
            window = by_version[:max_txns]
        else:
            window = by_version[-max_txns:]
        if len(window) < 2:
            return None
        rank = max(snap.rank(t) for t in window)
        # Downward-closed folds (start at the oldest visible version)
        # may drop tombstones for good — there is nothing older left to
        # resurrect. An interior/newest window must KEEP them: a
        # tombstone in the window shadows versions below it.
        downward_closed = window[0] == by_version[0]
        pinned = snap.restrict(sorted(window))
        rewrite = scan_dataframe(
            self.spark,
            ScanSource(snapshot=pinned, schema=self.schema),
            ordered=False,
            cell_merge=(resolution == "cell"),
            drop_null_value_rows=downward_closed,
        )
        cluster_by = None
        if cluster == "zorder":
            from matdb_spark.zorder import zorder_key, zorder_key_from_bounds

            # Bounds from the commit manifests' txn-level stats when
            # every folded txn carries them (zero Spark jobs); the
            # snapshot aggregation — a full extra scan+dedup pass — is
            # only the fallback for stats-less stores.
            bounds = self._stats_bounds(pinned)
            if bounds is not None:
                cluster_by = [zorder_key_from_bounds(self.schema, bounds)]
            else:
                cluster_by = [zorder_key(rewrite, self.schema)]
        # Context manager: a failed rewrite (Spark job error mid-write)
        # must roll back, or the leaked reservation + staged dir pin
        # safe_feed_head and block every later downward-closed
        # compaction as a phantom pending conflict.
        with self.begin() as txn:
            return self._finish_compaction(
                txn, rewrite, cluster_by, pinned, rank, downward_closed
            )

    def _finish_compaction(
        self, txn, rewrite, cluster_by, window, rank, downward_closed
    ) -> int | None:
        """Write and publish the rewrite of ``window`` (the compaction's
        pinned Snapshot), unless a concurrent writer conflicts."""
        from matdb_spark import manifest as m

        # Declare the covered interval on our reservation BEFORE the
        # (long) rewrite job: a reservation id alone cannot reveal a
        # concurrent compaction (every reservation probes above the
        # rank), so without the intent two overlapping compactions
        # would both pass the pending test and both publish — a
        # redundant rollup, and a vacuum between the two publishes
        # deletes window files the loser's rewrite is still scanning.
        lo_eff = min(window.rank(t) for t in window.txns)
        my_id = txn._ensure_txn_id()
        m.write_reservation_intent(
            self.path, my_id, {"op": "compact", "lo": lo_eff, "rank": rank}
        )
        txn.add_dataframe(rewrite, cluster_by=cluster_by)
        # Pre-publish conflict check. The rewrite shadows, for its
        # keys, every effective version <= rank — so an un-folded txn
        # whose version lands INSIDE the interval would lose data.
        # Below the interval is safe only when the fold kept
        # tombstones (non-downward-closed): the rewrite then carries
        # the exact shadowing the originals did; a downward-closed
        # fold dropped tombstones, so anything below its rank
        # (including a pending reservation from a slow writer) could
        # be wrongly resurrected or shadowed — abort for those. Post-
        # pin commits always carry ids above the rank and are safe.
        floor = None if downward_closed else lo_eff
        # READ ORDER MATTERS: pending ids and intents FIRST, committed
        # manifests LAST — a FRESH snapshot, never the pinned window. A
        # competitor is pending (reservation + intent) until it
        # publishes, and releases its reservation only AFTER publishing
        # — so a competitor absent from our pending/intent snapshots
        # has already published and must show up in the later committed
        # read. Snapshotting committed first would open a gap
        # (competitor publishes + releases between the two reads) in
        # which it is invisible to all three tests.
        pending = {t for t in m.outstanding_txn_ids(self.path) if t != my_id}
        # A concurrent COMPACTION's reservation id is always above the
        # rank, so the pending-id interval test cannot see it; its
        # declared intent interval can. Lower reservation id wins the
        # tie — exactly one of two overlapping in-flight compactions
        # publishes in every interleaving (the later-reserved one
        # aborts here; if it somehow checked before we reserved, our
        # committed-interval test catches its published rollup
        # instead).
        intents = m.read_reservation_intents(self.path)
        now = m.resolve(self.path)
        compact_conflicts = {
            t
            for t, info in intents.items()
            if t in pending
            and t < my_id
            and info.get("op") == "compact"
            and not (
                int(info.get("rank", rank)) < lo_eff
                or rank < int(info.get("lo", lo_eff))
            )
        }
        conflicts = (
            {
                t
                for t in now.committed
                if t not in window.txns
                and t not in now.replaced
                and now.rank(t) <= rank
                and (floor is None or now.rank(t) >= floor)
            }
            | {t for t in pending if t <= rank and (floor is None or t >= floor)}
            | compact_conflicts
        )
        if conflicts:
            txn.rollback()
            return None
        # The rewrite is the version-resolved content of the window:
        # one version per key (tombstones dropped only when downward-
        # closed). unique_keys lets scans of a snapshot that is exactly
        # this txn skip the dedup shuffle (scan.py fast path);
        # version_rank anchors it in the version order for everyone
        # else.
        extra: dict = {
            "unique_keys": True,
            "version_rank": rank,
            # lowest effective version transitively absorbed — lets the
            # historical-readability checks (manifest.missing_history /
            # missing_feed_content) see through chains even after
            # intermediates are vacuumed
            "covers_lo": min(
                m.covers_lo_value(window.manifests[t], t) for t in window.txns
            ),
        }
        # Carry streaming replay-suppression records forward: the
        # folded manifests hold the (stream_source, batch_id) stamps
        # that make post-crash batch replays no-ops, and vacuum will
        # delete those manifests. Without the carry, a replayed old
        # batch would re-commit as a duplicate transaction.
        carried: dict[str, int] = {}
        for t in window.txns:
            mf = window.manifests[t]
            if mf.get("stream_source") is not None and "batch_id" in mf:
                s = mf["stream_source"]
                carried[s] = max(carried.get(s, -1), int(mf["batch_id"]))
            for s, b in (mf.get("stream_batch_ids") or {}).items():
                carried[s] = max(carried.get(s, -1), int(b))
        if carried:
            extra["stream_batch_ids"] = carried
        txn.commit(replaces=window.txns, extra=extra)
        return txn.txn_id

    def _stats_bounds(self, snap: "manifest.Snapshot") -> dict[str, tuple] | None:
        """Merge the manifest stats of ``snap``'s txns into {dim: (lo,
        hi)} covering every dimension, in Spark's order, or None if any
        txn/dim lacks stats."""
        bounds: dict[str, tuple] = {}
        for t in snap.txns:
            stats = snap.stats(t) or {}
            dims = stats.get("dims") or {}
            for d in self.schema.dimensions:
                rng = dims.get(d.name)
                if rng is None:
                    return None
                # Spark's order: NaN above every double (stats._hull)
                bounds[d.name] = tuple(_hull(bounds.get(d.name, rng), rng))
        return bounds or None

    def vacuum(self, min_age_seconds: float = 0.0) -> list[int]:
        """Delete data and manifests of txns superseded by a committed
        compaction. ``min_age_seconds`` is the retention window (the
        Delta/Iceberg VACUUM safety valve for shared deployments): a
        superseded txn is only removed once the compaction that
        replaced it has been committed at least that long — any reader
        whose snapshot predates the compaction has had that much time
        to finish. 0 (default) = immediate, the single-writer embedded
        model. Returns removed ids."""
        import time as _time

        from matdb_spark import manifest as m

        cutoff = _time.time() - min_age_seconds
        snap = m.resolve(self.path)
        eligible: set[int] = set()
        committed = set(snap.committed)
        for mf in snap.manifests.values():
            if mf.get("replaces") and mf.get("committed_at", 0) <= cutoff:
                # ids already vacuumed are gone, not prunable again
                eligible.update(committed.intersection(mf["replaces"]))
        # Hold back files an IN-FLIGHT compaction is still scanning: a
        # pending reservation with a compact intent declares its
        # covered effective-version interval; deleting a superseded txn
        # inside that interval would fail the rewrite job mid-scan.
        # The hold lapses with the reservation (publish, rollback, or
        # recover sweep) — safety over immediacy, same as
        # safe_feed_head.
        intents = m.read_reservation_intents(self.path)
        pending = m.outstanding_txn_ids(self.path) if intents else set()
        holds = [
            (int(i.get("lo", 0)), int(i.get("rank", 0)))
            for t, i in intents.items()
            if i.get("op") == "compact" and t in pending
        ]
        eligible = {
            t for t in eligible if not any(lo <= snap.rank(t) <= hi for lo, hi in holds)
        }
        removed = sorted(eligible)
        pruned_removed: set[int] = set()
        for t in removed:
            # force: vacuum deletes published (superseded) txns — the
            # manifest is removed together with the data, so the
            # published-data guard in discard_txn_data must not apply
            m.discard_txn_data(self.path, t, force=True)
            p = m.manifest_path(self.path, t)
            if os.path.exists(p):
                os.unlink(p)
            else:
                # no per-txn JSON: the commit was pruned into the
                # checkpoint (prune_manifest_log) — its entry there is
                # load-bearing and must die WITH the data
                pruned_removed.add(t)
        if pruned_removed:
            m.write_checkpoint(self.path, remove=pruned_removed)
        return removed

    def history(self) -> list[dict]:
        """Commit log, newest first (the Delta DESCRIBE HISTORY shape):
        one entry per committed txn with its manifest metadata —
        segments, commit time, compaction ``replaces``, streaming
        batch stamps, and the txn-level stats zone map. Metadata-only
        (one manifest read per commit, no data access)."""
        out = []
        for t, m in manifest.resolve(self.path).manifests.items():
            out.append(
                {
                    "txn": t,
                    "segments": m.get("segments"),
                    "committed_at": m.get("committed_at"),
                    "replaces": m.get("replaces", []),
                    "version_rank": m.get("version_rank"),
                    "stream_source": m.get("stream_source"),
                    "batch_id": m.get("batch_id"),
                    "rows": (m.get("stats") or {}).get("rows"),
                }
            )
        return sorted(out, key=lambda e: -e["txn"])

    def prune_manifest_log(
        self, grace_seconds: float = 3600.0
    ) -> list[int]:
        """Bound ``_commits/`` growth: delete per-txn manifest JSONs
        already folded into the newest checkpoint once both are older
        than ``grace_seconds`` (manifest.prune_manifest_log — the
        retention companion to ``vacuum``, which bounds DATA growth).
        The pruned entries live on inside the checkpoint, explicitly
        flagged; every read path (scans, history, changes, time
        travel, recovery) serves them from there. Returns the pruned
        txn ids."""
        return manifest.prune_manifest_log(self.path, grace_seconds)

    def export_snapshot(self, out_path: str, as_of: int | None = None) -> None:
        """Materialize the version-resolved snapshot (optionally a
        historical one) as a standalone plain-parquet dataset — the
        interop escape hatch: any engine (DuckDB, Trino, pandas) reads
        the export without knowing the manifest protocol. Distributed
        write, no driver materialization."""
        self.snapshot(as_of=as_of).write.mode("error").parquet(out_path)

    def stats(self) -> dict:
        """Driver-side store statistics from metadata only (no data
        scan): committed/visible txns, segment dirs, data file counts
        and bytes. O(files) listing — cheap next to any query."""
        from matdb_spark import manifest as m

        snap = m.resolve(self.path)
        n_files = 0
        n_bytes = 0
        n_segments = 0
        for t in snap.txns:
            d = m.txn_data_dir(self.path, t)
            for root, dirs, files in os.walk(d):
                n_segments += sum(1 for x in dirs if x.startswith("seg="))
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(root, f))
        return {
            "committed_txns": len(snap.committed),
            "visible_txns": len(snap.txns),
            # superseded txns whose data still exists (i.e. vacuumable)
            "replaced_txns": len(snap.replaced & set(snap.committed)),
            "segments": n_segments,
            "data_files": n_files,
            "data_bytes": n_bytes,
            "next_txn_id": self.next_txn_id,
        }

    def changes(
        self,
        since: int,
        until: int | None = None,
        include_compactions: bool = False,
        with_preimage: bool = False,
        resolution: str = "row",
        _window: "manifest.Snapshot | None" = None,
    ) -> "DataFrame":
        """Change feed (CDC): the NET effect of the commits in
        ``(since, until]`` — for every key written in that window, its
        newest version, tagged ``change_type`` 'upsert' or 'delete'
        (tombstone) and ``__txn`` (the writing commit). The incremental
        consumption primitive (Delta CDF / Iceberg incremental-read
        shape): a downstream pipeline applies the feed idempotently
        instead of re-reading the snapshot.

        The reference cannot express this, but its own MVCC layout
        implies it: later txns shadow earlier ones, so the newest
        version *within the window* of any key written there equals
        that key's winner in the ``until`` snapshot. The scan therefore
        reads ONLY the window's segments (file-level pruning by txn id
        from the manifest listing — cost proportional to the change
        window, not the table) plus one dedup shuffle.

        Compaction commits rewrite old logical content, so they are
        excluded by default (``replaces`` manifests); a feed consumer
        that wants physical rewrites too passes
        ``include_compactions=True`` — note ``__txn`` is always the
        EFFECTIVE version (what version resolution compares), so a
        compaction rollup's rows report its ``version_rank``, not the
        rollup's physical txn id; cursor arithmetic must use the feed's
        own cursors, never row-level ``__txn`` values. Deleting a key that never existed
        before ``since`` still surfaces as a 'delete' (the feed is a
        net-write log, not a diff against the pre-window snapshot —
        downstream apply is idempotent either way). Window txns must
        not have been vacuumed away.

        ``with_preimage=True`` upgrades the feed to full diff form:
        each value column gains an ``old_<name>`` pre-image column and
        ``change_type`` refines to 'insert' / 'update' / 'delete'
        (tombstone of a key absent at ``since`` stays 'delete' with
        null pre-image — a no-op for diff consumers). The pre-image is
        the time-travel snapshot at ``since`` joined ON THE CHANGED
        KEYS ONLY — the snapshot side prunes through the same three
        tiers as any key scan, so cost still tracks change volume
        (plus one join) rather than table size. This is what
        incremental aggregate maintenance needs: old and new value per
        key lets any distributive aggregate be patched without
        re-reading the base table. Requires the ``since`` snapshot to
        still be readable (same retention rule as time travel).

        ``resolution`` must match how the store is written/queried,
        exactly like ``compact()``: the default ``"row"`` treats each
        window row as a whole new version (and all-null rows as
        tombstone deletes); ``"cell"`` resolves per value cell — for
        stores written with ``add_dataframe(partial=True)``, where a
        row-merged feed would surface unwritten cells as null
        overwrites and a row-wise downstream apply would erase them.
        Cell stores have no tombstones, so every cell-mode change is
        an 'upsert' (null cell = no write in the window).
        """
        from matdb_spark import manifest as m
        from matdb_spark.scan import ScanSource, scan_dataframe
        from pyspark.sql import functions as F

        if resolution not in ("row", "cell"):
            raise ValueError(f"resolution={resolution!r}; expected 'row' or 'cell'")
        check_feed_columns(self.schema)

        # Default head comes from the manifest LISTING (safe_feed_head),
        # not this handle's cached next_txn_id — another writer process
        # may have committed since this handle was opened, and ids can
        # publish out of order (the watermark excludes still-pending
        # lower ids).
        hi = m.safe_feed_head(self.path) if until is None else until
        if hi < since:
            raise ValueError(f"until={hi} precedes since={since}")
        # _window: follow_changes already computed (and validated) the
        # window for this exact (since, hi) — recomputing would double
        # the per-poll manifest sweep
        window = (
            manifest.resolve(self.path).feed_window(since, hi, include_compactions)
            if _window is None
            else _window
        )
        cell = resolution == "cell"
        df = scan_dataframe(
            self.spark,
            ScanSource(snapshot=window, schema=self.schema),
            ordered=False,
            include_txn=True,
            drop_null_value_rows=False,  # row mode: tombstones ARE the deletes
            cell_merge=cell,
        )
        if cell:
            # no tombstones under the cell model; null cells mean "not
            # written in this window", never a delete
            df = df.withColumn("change_type", F.lit("upsert"))
        else:
            # a key-only schema has no cells to tombstone — every
            # change is an upsert there
            all_null = F.lit(bool(self.schema.value_names))
            for v in self.schema.value_names:
                all_null = all_null & F.col(v).isNull()
            df = df.withColumn(
                "change_type",
                F.when(all_null, F.lit("delete")).otherwise(F.lit("upsert")),
            )
        if not with_preimage:
            return df

        dims = self.schema.dim_names
        vals = self.schema.value_names
        clash = [c for c in self.schema.column_names if c in {f"old_{v}" for v in vals}]
        if clash:
            raise ValueError(
                f"with_preimage=True aliases pre-images as old_<col>, which "
                f"collides with existing column(s) {clash!r}; rename them"
            )
        if since >= 1 and window.committed:
            from matdb_spark.transaction import Transaction

            # same loud-failure rule as begin(as_of): a vacuumed
            # pre-image snapshot would silently mislabel updates as
            # inserts and null their old_<col> pre-images
            gone = m.missing_history(self.path, since)
            if gone:
                raise ValueError(
                    f"changes(with_preimage=True) needs the snapshot at "
                    f"since={since}, but txns {gone} were superseded by a "
                    f"later compaction and vacuumed away; re-sync from a "
                    f"full snapshot instead"
                )
            pre_snap = m.resolve(self.path, since + 1)
            pre_txn = Transaction(self, pre_snap, since + 1, read_only=True)
            # Prune the pre-image scan to the CHANGED KEYS' envelope,
            # taken from the window txns' manifest stats: the snapshot
            # side then skips whole txns / partitions / row groups
            # outside the touched key range instead of scanning the
            # full base table. Missing stats degrade to the full scan.
            env = self._stats_bounds(window)
            pre_df = (
                pre_txn.query_range(env, ordered=False, cell_merge=cell)
                if env
                else pre_txn.query(ordered=False, cell_merge=cell)
            )
            pre = pre_df.select(
                *dims,
                F.lit(True).alias("__pre"),
                *[F.col(v).alias(f"old_{v}") for v in vals],
            )
        else:  # empty pre-window snapshot
            pre = None
        if pre is not None:
            df = df.join(pre, dims, "left")
        else:
            vtypes = {f.name: f.dataType for f in self.schema.spark_schema().fields}
            df = df.withColumn("__pre", F.lit(None).cast("boolean"))
            for v in vals:
                df = df.withColumn(f"old_{v}", F.lit(None).cast(vtypes[v]))
        existed = F.col("__pre").isNotNull()
        refined = (
            F.when(F.col("change_type") == "delete", F.lit("delete"))
            .when(existed, F.lit("update"))
            .otherwise(F.lit("insert"))
        )
        return df.withColumn("change_type", refined).drop("__pre")

    def follow_changes(
        self,
        since: int | None = None,
        poll_interval: float = 1.0,
        max_empty_polls: int | None = None,
        include_compactions: bool = False,
    ):
        """Tail the change feed: a generator of ``(cursor, DataFrame)``
        batches, one per poll that found new commits. Each batch is
        ``changes(cursor_prev, cursor)``; consuming resumes from the
        returned cursor, so a downstream sync that persists its cursor
        gets at-least-once delivery with idempotent (net-effect)
        batches — the polling form of a CDC subscription, built
        entirely on the manifest listing (no extra state in the store).

        ``since=None`` starts at the current head — captured NOW, at
        call time (not lazily at first pull), so commits made after
        subscribing are never missed. ``max_empty_polls`` bounds idle
        waiting (None = forever); polling is driver-side and costs one
        directory listing per interval.

        Correct under concurrent writers: the cursor only advances to
        the manifest low-watermark (``safe_feed_head``) — a lower-id
        txn still being written holds the feed back until it publishes
        or rolls back, so out-of-order manifest arrival can never skip
        a commit. Windows that contain no feed content (compaction-only
        activity) advance the cursor silently instead of yielding empty
        batches, so ``max_empty_polls`` drains as expected.
        """
        import time as _time

        from matdb_spark import manifest as m

        # eager head capture from the manifest listing itself (robust
        # to concurrent writers this handle has never seen)
        cursor = m.safe_feed_head(self.path) if since is None else since

        def _tail(cursor: int):
            empty = 0
            while max_empty_polls is None or empty < max_empty_polls:
                newest = m.safe_feed_head(self.path)
                win = (
                    m.resolve(self.path).feed_window(cursor, newest, include_compactions)
                    if newest > cursor
                    else None
                )
                if win is not None and win.txns:
                    df = self.changes(
                        since=cursor,
                        until=newest,
                        include_compactions=include_compactions,
                        _window=win,
                    )
                    yield newest, df
                    cursor = newest
                    empty = 0
                    continue
                if newest > cursor:
                    # only compaction rewrites in the window: nothing to
                    # deliver, but the cursor must still move forward
                    cursor = newest
                empty += 1
                if max_empty_polls is None or empty < max_empty_polls:
                    _time.sleep(poll_interval)

        return _tail(cursor)

    # ---- convenience ------------------------------------------------
    def snapshot(self, as_of: int | None = None):
        """Read-only snapshot DataFrame at the current horizon (or at
        historical txn ``as_of`` — time travel)."""
        txn = self.begin(as_of=as_of)
        return txn.query(ordered=False)

    def sql(
        self, query: str, view: str = "matdb", as_of: int | None = None
    ) -> "DataFrame":
        """Run Spark SQL over the current snapshot — or, with
        ``as_of``, a historical one — registered as ``view`` (SURVEY
        §7.2 phase 2: the full SQL surface applies on the snapshot
        relation, and time travel composes with it for free because a
        snapshot is just a horizon-pinned scan)."""
        self.snapshot(as_of=as_of).createOrReplaceTempView(view)
        return self.spark.sql(query)
