"""Streaming ingest — the reference's micro-batcher, Spark-native.

Reference semantics (internal/batcher/batcher.go, SURVEY.md §2.9):

  ST1 size-or-time trigger: flush at >=500 buffered entries OR every
      100 ms tick (batcher.go:62-75; defaults main.go:28-29).
  ST2 bounded-buffer backpressure: channel cap 4x batch (batcher.go:28)
      — the producer-side buffer, not a flush size.
  ST3 fire-and-forget flush: detached goroutine, errors discarded ->
      at-most-once (batcher.go:51-60).
  ST4 reply = accepted count, before persistence (service.go:45-46).
  ST5 flush-on-shutdown (batcher.go:63-65, main.go:91-97).
  ST6 malformed ts -> ingest time (service.go:24-34).

Spark mapping: Structured Streaming has no compound size-OR-time
trigger, so we use the idiomatic equivalent — a 100 ms processing-time
trigger with a per-trigger size cap on the source (maxFilesPerTrigger
here; maxOffsetsPerTrigger on Kafka). The cap is a file count
derived from flush_size, TRIGGER_MAX_ROWS // flush_size: an inbox file
holds at most flush_size rows, so one micro-batch holds at most
TRIGGER_MAX_ROWS rows. It bounds the size of ONE micro-batch, not the
drain rate, so a backlog of many calls drains in one trigger and pays
the fixed per-trigger cost once. A call smaller than flush_size still
takes a whole file, so small-call traffic is capped by call count (64
calls per trigger at the default sizes). The reference's 4x-batch
channel (ST2) sizes the producer-side buffer, not a flush, so it does
not size a trigger either; here the buffer is the inbox on disk, not a
user-space queue that blocks producers.

One micro-batch is one INSERT block, as in the reference's MergeTree
(db.go:39-57): foreachBatch normalizes it as a single partition and
persists it, the insert writes ONE sorted part per month from it, and
every attached view builds its increment from the same rows, so the
inbox is read once per micro-batch and the views plan no shuffle.

foreachBatch writes are
synchronous and checkpointed, and appends are BATCH-ID IDEMPOTENT:
each committed micro-batch writes a batch-id marker to a
committed-batches sidecar next to the checkpoint, and a retried
batch_id whose marker exists admits nothing — so delivery is
EFFECTIVELY-ONCE for every retry of a fully-committed batch (the
common foreachBatch duplication class). The residual window is a
crash BETWEEN the table append and the marker write: that one retry
can duplicate rows — insert-before-mark deliberately picks the
no-data-loss failure side for logs (the mirror of corpus_ingest's
fingerprints-first order, which picks the no-duplicate side for
training data). All of this is an upgrade over the reference's
at-most-once silent data loss (batcher.go:51-60); the divergence is
documented rather than emulated.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from clickhouse_observability_spark.schema import INGEST_SCHEMA
from clickhouse_observability_spark.sources.writer import LogsTable, normalize_ingest

DEFAULT_FLUSH_EVERY_MS = 100  # main.go:29 INGEST_MAX_DELAY_MS
DEFAULT_FLUSH_SIZE = 500  # main.go:28 INGEST_BATCH_SIZE
# Upper bound on the rows of one micro-batch, turned into a file cap
# of TRIGGER_MAX_ROWS // flush_size (64 inbox files at the reference's
# 500-row batch). A batch this small is one task's work, so
# _write_batch runs it as a single partition.
TRIGGER_MAX_ROWS = 32_000


def _env_int(name: str, default: int) -> int:
    """Reference config parity (cmd/server/main.go:25-29): knobs come
    from env vars with code defaults; malformed values fall back."""
    try:
        return int(os.environ.get(name, ""))
    except ValueError:
        return default


class IngestStream:
    """File-fed streaming ingest into a LogsTable.

    Producers drop wire-format JSONL files into `inbox_dir` (the
    Spark-native stand-in for the gRPC enqueue boundary); the stream
    micro-batches them into the partitioned logs table.
    """

    MARKER_RETENTION = 1000  # committed-batch markers kept behind the head

    def __init__(
        self,
        spark: SparkSession,
        table: LogsTable,
        inbox_dir: str,
        checkpoint_dir: str,
        flush_every_ms: int | None = None,
        max_files_per_trigger: int | None = None,  # per-trigger size cap
        flush_size: int | None = None,
        views: list | None = None,  # RollupView-likes, applied per batch
        maintain_indexes: bool = False,
        enforce_ttl_every_s: float | None = None,
    ):
        """Knob defaults follow the reference's env-var config
        (cmd/server/main.go:25-29): INGEST_MAX_DELAY_MS -> trigger
        interval, INGEST_BATCH_SIZE -> rows per inbox file (one file ≅
        one call's batch). max_files_per_trigger defaults to the file
        cap TRIGGER_MAX_ROWS // flush_size, so one micro-batch holds at
        most TRIGGER_MAX_ROWS rows however many calls are waiting; it
        bounds a batch's size, not how fast the inbox drains.
        Explicit arguments win over env and over the budget."""
        self.spark = spark
        self.table = table
        self.inbox_dir = inbox_dir
        self.checkpoint_dir = checkpoint_dir
        self.flush_every_ms = (
            flush_every_ms
            if flush_every_ms is not None
            else _env_int("INGEST_MAX_DELAY_MS", DEFAULT_FLUSH_EVERY_MS)
        )
        # Clamp: INGEST_BATCH_SIZE=0 (or negative) would make the
        # submit_many chunking step raise on every call.
        self.flush_size = max(
            1,
            flush_size
            if flush_size is not None
            else _env_int("INGEST_BATCH_SIZE", DEFAULT_FLUSH_SIZE),
        )
        self.max_files_per_trigger = (
            max_files_per_trigger
            if max_files_per_trigger is not None
            else max(1, TRIGGER_MAX_ROWS // self.flush_size)
        )
        self.views = list(views or ())
        self.maintain_indexes = bool(maintain_indexes)
        # Continuous TTL enforcement (CH: background merges apply the
        # table's TTL without an operator in the loop). None = off;
        # a cadence in seconds runs apply_retention() between
        # micro-batches at most that often, and ONLY when the table
        # has an ARMED spec (the env fallback stays an explicit-job
        # concern — a streaming writer must not inherit deletes from
        # the environment). Both TTL modes are idempotent (DELETE
        # re-deletes nothing; GROUP BY collapse re-collapses to
        # itself) and the partition swap is crash-recoverable
        # (rename-aside + orphan restore at every apply_retention
        # entry — retention._swap_partition), so a crash anywhere in
        # the pass is retry-safe, including mid-directory-swap.
        self.enforce_ttl_every_s = enforce_ttl_every_s
        self._last_ttl_mono = 0.0
        self.query: StreamingQuery | None = None
        # Committed-batches sidecar: one empty marker file per fully
        # committed micro-batch id. Lives NEXT TO the checkpoint (same
        # storage, same lifecycle — wiping the checkpoint resets batch
        # ids AND markers together; a production deployment puts both
        # on the shared DFS).
        self.committed_dir = os.path.join(checkpoint_dir, "committed_batches")
        os.makedirs(inbox_dir, exist_ok=True)
        os.makedirs(self.committed_dir, exist_ok=True)

    # -- producer side (ST4) -------------------------------------------
    def submit_many(self, rows: Iterable[Mapping]) -> int:
        """Enqueue a batch; returns the ACCEPTED count immediately,
        before any flush happens (service.go:45-46 contract). Large
        submissions split into flush_size-row files so the per-trigger
        file cap bounds a micro-batch's rows."""
        rows = list(rows)
        if not rows:
            return 0
        for i in range(0, len(rows), self.flush_size):
            chunk = rows[i:i + self.flush_size]
            name = uuid.uuid4().hex
            tmp = os.path.join(self.inbox_dir, f".{name}.jsonl.tmp")
            dst = os.path.join(self.inbox_dir, f"{name}.jsonl")
            # one write per file: this runs on the ack path
            text = "".join([json.dumps(dict(r)) + "\n" for r in chunk])
            with open(tmp, "w") as f:
                f.write(text)
            os.rename(tmp, dst)  # atomic publish: the source never reads partials
        return len(rows)

    # -- stream lifecycle (ST1/ST5) ------------------------------------
    def start(self) -> StreamingQuery:
        src = (
            self.spark.readStream.schema(INGEST_SCHEMA)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            # Unparseable lines are rejected, not ingested as all-NULL
            # rows — the analog of the reference gRPC layer refusing a
            # malformed BatchWriteRequest before it reaches the batcher.
            .option("mode", "DROPMALFORMED")
            .json(self.inbox_dir)
        )

        self.query = (
            src.writeStream.trigger(processingTime=f"{self.flush_every_ms} milliseconds")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self._write_batch)
            .start()
        )
        return self.query

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Synchronous, checkpointed, BATCH-ID-IDEMPOTENT append
        (module docstring, ST3 note): a batch_id whose committed
        marker already exists is a foreachBatch retry of a batch the
        table fully holds — admit nothing. Insert-before-mark: the
        one crash window (after append, before marker) re-admits on
        retry rather than losing rows."""
        marker = os.path.join(self.committed_dir, str(int(batch_id)))
        if os.path.exists(marker):
            return
        # One INSERT block (module docstring): persisted, so the insert
        # and every view read the inbox once (Spark's foreachBatch
        # pattern for several sinks); one partition, so the insert
        # writes one part per month and the views shuffle nothing.
        normalized = normalize_ingest(batch_df.coalesce(1)).persist()
        try:
            self.table.insert(normalized, materialized=True)
            # Materialized views (CH `CREATE MATERIALIZED VIEW`
            # analogue): each writes this batch's partial states under
            # an inc=b<batch_id> dir with OVERWRITE — idempotent on
            # retry even inside the crash window below, unlike the raw
            # append.
            for view in self.views:
                view.apply(normalized, batch_id)
        finally:
            normalized.unpersist()
        if self.maintain_indexes:
            # online skip-index maintenance (CH: NEW parts get their
            # index at write time, even before any MATERIALIZE —
            # only pre-existing parts need the explicit statement):
            # summarize ONLY this batch's new files — O(new files),
            # inside the idempotency marker so a foreachBatch retry
            # never double-builds. Sound either way: unindexed files
            # always scan.
            from clickhouse_observability_spark.sources.skip_index import (
                SkipIndex,
            )

            for ix in SkipIndex.load_all(self.table.path):
                ix.materialize(self.spark, incremental=True)
        with open(marker, "w"):
            pass
        # Retention: Spark only ever replays ids at/after the last
        # checkpointed offset, so markers far behind the current id are
        # dead weight — without pruning, a 100 ms trigger writes ~864k
        # files/day and eventually exhausts inodes (mirrors the
        # retention Spark applies to its own checkpoint logs). The
        # directory stays ~MARKER_RETENTION files, so the listdir here
        # is cheap.
        floor_id = int(batch_id) - self.MARKER_RETENTION
        if floor_id > 0:
            for name in os.listdir(self.committed_dir):
                try:
                    stale = int(name) < floor_id
                except ValueError:
                    continue
                if stale:
                    try:
                        os.remove(os.path.join(self.committed_dir, name))
                    except OSError:
                        pass  # concurrent prune / already gone
        if self.enforce_ttl_every_s is not None:
            # outside the idempotency marker on purpose: retention is
            # not tied to batch identity, and both TTL modes are
            # idempotent. foreachBatch is single-threaded, so the
            # pass runs BETWEEN appends — the engine's single-writer
            # model holds.
            import time as _time

            now_mono = _time.monotonic()
            if now_mono - self._last_ttl_mono >= self.enforce_ttl_every_s:
                self._last_ttl_mono = now_mono
                from clickhouse_observability_spark.sources.retention import (
                    apply_retention,
                    read_table_ttl_spec,
                )

                if read_table_ttl_spec(self.table.path) is not None:
                    apply_retention(self.spark, self.table.path)

    def stop(self, drain: bool = True) -> None:
        """Graceful shutdown: final flush then stop (ST5; the
        reference drains for 5 s, main.go:91-97)."""
        if self.query is None:
            return
        if drain:
            self.query.processAllAvailable()
        self.query.stop()
        self.query = None
