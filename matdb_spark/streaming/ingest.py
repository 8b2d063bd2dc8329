"""Continuous ingest into the MVCC store.

The reference's closest notion is periodic ``flush`` during a long
ingest (examples/sensor-log.rs:290-295: flush every 10M rows). The
Spark-first equivalent: a Structured Streaming query whose every
micro-batch commits as ONE matdb transaction — readers running
snapshot scans concurrently always observe batch-aligned state, never
a torn batch, because visibility flips atomically at manifest publish
(matdb_spark.manifest).

Exactly-once: ``foreachBatch`` alone is at-least-once — a crash after
manifest publish but before the streaming checkpoint records the batch
replays it, which the store would otherwise record as a *second*
committed transaction (visible state stays right only through upsert
idempotency; txn history and byte/segment stats would double-count).
So each commit stamps ``(stream_source, batch_id)`` into its manifest,
and a replayed batch id is detected there and skipped — the classic
transactional-sink dedup (same idea as Spark's own
``ForeachBatchSink`` + idempotent-writer recipe and Delta's
``txnAppId``/``txnVersion``). Detection is one manifest sweep at
stream (re)start, then an O(1) monotonic check per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from matdb_spark import manifest
from matdb_spark.database import Database



class BatchReplayGuard:
    """Exactly-once replay suppression shared by every foreachBatch
    sink that commits into an MVCC store: lazily discovers the highest
    batch id already committed for (store, source), skips replays with
    a LOUD warning (the checkpoint-reset hazard — same contract as
    Delta's txnAppId/txnVersion), and records successful commits."""

    def __init__(self, db_path: str, source: str, op_name: str) -> None:
        self._db_path = db_path
        self._source = source
        self._op = op_name
        self._seen: int | None = None
        self._scanned = False

    def already_committed(self, batch_id: int) -> bool:
        if not self._scanned:
            self._seen = manifest.max_committed_batch_id(self._db_path, self._source)
            self._scanned = True
        if self._seen is not None and batch_id <= self._seen:
            # Replay of a batch whose manifest already landed — skip.
            # CAVEAT: if the CHECKPOINT was deleted/recreated while
            # keeping the same source id, Spark renumbers batches from
            # 0 and this skip would silently drop genuinely-new data.
            # Resetting a checkpoint therefore requires a fresh
            # source_name (or checkpoint path). Warn loudly.
            import warnings

            warnings.warn(
                f"{self._op}: skipping batch {batch_id} for source "
                f"{self._source!r} (max committed batch id is {self._seen}). "
                "If the checkpoint was reset, pass a new "
                "source_name/checkpoint — otherwise this is a benign "
                "post-crash replay.",
                stacklevel=2,
            )
            return True
        return False

    def record(self, batch_id: int) -> None:
        self._seen = batch_id if self._seen is None else max(self._seen, batch_id)


def stream_into_database(
    stream_df: DataFrame,
    db: Database,
    checkpoint: str,
    available_now: bool = True,
    source_name: str | None = None,
    compact_every: int | None = None,
    major_every: int = 16,
    vacuum_superseded: bool = False,
):
    """Start a streaming query writing ``stream_df`` into ``db``.

    Each micro-batch: begin txn → add_dataframe (distributed chunk
    routing + segment write) → commit (manifest publish stamped with
    the batch id). Replayed batches (crash between manifest publish
    and checkpoint write) are recognized by their already-committed
    batch id and skipped, making the sink exactly-once end-to-end.

    ``source_name`` identifies this logical stream in manifests;
    defaults to the checkpoint path, which Spark already scopes batch
    ids to. Returns the StreamingQuery; caller awaits/stops it.

    ``compact_every=N`` bounds transaction accumulation — the standing
    problem of one-txn-per-micro-batch ingest at scale: after every N
    committed batches a MINOR compaction
    (``compact(max_txns=N, fold="newest")``) folds exactly that batch
    window into one rollup. Rewrite cost tracks the window — never the
    table, and never a pre-existing bulk-load txn. Higher tiers run
    LSM-style leveling: every ``major_every`` windows the accumulated
    rollups fold into one, every ``major_every`` of THOSE fold again,
    and so on — each row is rewritten O(log_M batches) times total and
    the visible txn count stays O(N + M·log_M batches) under unbounded
    standing ingest. Refused folds (concurrent-writer conflicts) leave
    raw txns that the next level's contiguous interval absorbs (the
    schedule is ``Database._fold_levels``, auto-compaction's too).
    Batch-id replay stamps are carried through folds (manifest
    ``stream_batch_ids``), so exactly-once suppression survives
    compaction + vacuum. ``vacuum_superseded`` additionally reclaims
    folded data once it is older than the recovery grace — note this
    forfeits time travel into the folded window AND permanently fails any change-feed consumer
    (``changes``/``follow_changes``) whose cursor still lags inside
    it; leave it False when CDC consumers tail the store.
    """
    if compact_every is not None and compact_every < 2:
        raise ValueError(
            f"compact_every={compact_every}; folding needs a window of >= 2 "
            "batches"
        )
    if major_every < 2:
        raise ValueError(f"major_every={major_every}; expected >= 2")
    source = source_name or checkpoint
    guard = BatchReplayGuard(db.path, source, "stream_into_database")

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if guard.already_committed(batch_id):
            return
        # Context manager so a failed batch write ROLLS BACK: without
        # it, an exception mid-add_dataframe leaks the txn's .reserve
        # file and staged segments, which pins safe_feed_head (feed
        # consumers stall) and blocks every later downward-closed
        # compaction as a phantom pending conflict until a recovery
        # sweep ages it out.
        with db.begin() as txn:
            txn.add_dataframe(batch_df)
            txn.commit(extra={"stream_source": source, "batch_id": int(batch_id)})
        guard.record(batch_id)
        if compact_every is not None:
            # Scheduling keys off the CHECKPOINT-SCOPED batch id, not a
            # process-local counter, so restarts keep the tier
            # boundaries aligned; txns stranded by a crash mid-window
            # sit below later rollups and are absorbed the same way
            # refused folds are.
            db._fold_levels(int(batch_id) + 1, compact_every, major_every, vacuum_superseded)

    writer = (
        stream_df.writeStream.foreachBatch(_commit_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
