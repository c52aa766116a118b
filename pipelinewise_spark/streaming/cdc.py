"""LOG_BASED (CDC) replication as Structured Streaming micro-batch MERGE.

The reference decodes WAL/binlog/change-streams into per-row change events
(I/U/D actions; deletes carry ``_sdc_deleted_at`` = event time) and upserts
them by PK with bookmark state flushed after the data is safely loaded
(tap-postgres logical_replication.py:380-497, tap-mysql binlog.py:496-560,
target flush/state ordering target_snowflake/__init__.py:341-419).

Spark shape (SURVEY §2.1: real WAL decoding is out of Spark's scope — the
contract is a change-event stream, e.g. Debezium→Kafka or files):

    readStream(change events) → foreachBatch:
        last-wins dedupe by PK on the event sequence (LSN/offset)
        deletes → _sdc_deleted_at = event time
        MERGE into the target table (soft or hard delete)
    checkpoint = the bookmark (exactly Singer's state.json role)

``Trigger.AvailableNow`` bounds a run like the reference's
``max_run_seconds``/``break_at_end_lsn``. Ordering: within a micro-batch the
sequence column decides last-wins; across micro-batches arrival order is
checkpoint-monotonic, so the merge is idempotent under replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinewise_spark.operators.dedupe import last_wins_dedupe
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import is_merge_on_read
from pipelinewise_spark.operators.sdc import (
    SDC_BATCHED_AT,
    SDC_DELETED_AT,
    SDC_EXTRACTED_AT,
)
from pipelinewise_spark.plans.spec import StreamSpec

#: change-event envelope columns (payload columns ride alongside)
OP_COL = "_op"          # c | u | d  (create/update/delete)
SEQ_COL = "_seq"        # monotonically increasing LSN / offset / event id
EVENT_TS_COL = "_event_ts"  # event time (drives _sdc_* columns)
#: the event sequence persisted into the target — the MERGE staleness guard
SDC_SEQ_COL = "_sdc_seq"


def envelope_schema(payload: T.StructType) -> T.StructType:
    """Schema for a change-event stream wrapping the given payload."""
    return T.StructType(
        [
            T.StructField(OP_COL, T.StringType(), False),
            T.StructField(SEQ_COL, T.LongType(), False),
            T.StructField(EVENT_TS_COL, T.StringType(), False),
            *payload.fields,
        ]
    )


def prepare_change_batch(
    batch: DataFrame, spec: StreamSpec, prededuped: bool = False
) -> DataFrame:
    """Envelope → load-ready rows: last-wins dedupe by PK on the event
    sequence, ``_sdc_*`` columns from the event time, tombstones as
    ``_sdc_deleted_at``, and the persisted sequence guard.

    ``prededuped=True`` skips the last-wins window when the caller already
    deduped the batch (e.g. ``run_cdc_stream`` shares one pinned dedupe
    between the rollup fold and the merge) — dedupe is idempotent, so this
    changes cost, never results."""
    if not spec.primary_keys:
        raise ValueError("CDC requires primary keys")
    deduped = (
        batch
        if prededuped
        else last_wins_dedupe(batch, spec.primary_keys, SEQ_COL)
    )
    ts = F.col(EVENT_TS_COL).cast("timestamp")
    return (
        deduped.withColumn(SDC_EXTRACTED_AT, ts)
        .withColumn(SDC_BATCHED_AT, ts)
        .withColumn(
            SDC_DELETED_AT, F.when(F.col(OP_COL) == "d", ts).otherwise(F.lit(None))
        )
        # persist the event sequence: the cross-batch staleness guard —
        # within a batch last-wins dedupe orders events, but a replayed or
        # late event in a LATER micro-batch must not roll the row back
        .withColumn(SDC_SEQ_COL, F.col(SEQ_COL).cast("long"))
        .drop(OP_COL, SEQ_COL, EVENT_TS_COL)
    )


def apply_change_batch(
    table: ManifestTable,
    batch: DataFrame,
    spec: StreamSpec,
    prededuped: bool = False,
) -> None:
    """Merge one micro-batch of change events into the target table.

    ``spec.options["merge_strategy"] == "merge_on_read"`` lands the batch
    as a merge-on-read delta; without the option the table's
    copy-on-write ``merge`` runs, guarded on the persisted sequence. Any
    other ``merge_strategy`` raises."""
    spark = batch.sparkSession
    mor = is_merge_on_read(
        spec.options.get("merge_strategy"), spec.tap_stream_id
    )
    prepared = prepare_change_batch(batch, spec, prededuped=prededuped)
    if not table.exists():
        created = (
            prepared.filter(F.col(SDC_DELETED_AT).isNull())
            if spec.hard_delete
            else prepared
        )
        # count-less PK repartition: AQE sizes the shuffle by bytes, so the
        # PK-sized state lands as few right-sized files instead of
        # shuffle-partition-many tiny ones (write-shape rule; scd.py twin)
        table.overwrite(
            created.repartition(*[F.col(c) for c in spec.primary_keys])
        )
    elif mor:
        # Iceberg-v2 path: the micro-batch appends as new files and
        # supersedes old rows by position-delete sidecar — O(batch) write
        # cost even when the batch's keys touch every partition (the
        # usual CDC trickle shape); the same SDC seq guard keeps replays
        # idempotent. Pair with periodic compact() to bound read debt.
        table.merge_on_read(
            spark, prepared, spec.primary_keys,
            guard_col=SDC_SEQ_COL, hard_delete=spec.hard_delete,
        )
    else:
        # A partitioned ManifestTable merges only the partitions this
        # micro-batch touches; untouched files carry over by reference.
        # Constraint: partition columns must be immutable per PK (an update
        # that moves a row across partitions would strand the old copy) —
        # the same contract as Delta/Iceberg partition-pruned MERGE.
        table.merge(
            spark, prepared, spec.primary_keys,
            hard_delete=spec.hard_delete, guard_col=SDC_SEQ_COL,
        )


def run_cdc_stream(
    spark: SparkSession,
    events_path: str,
    payload_schema: T.StructType,
    spec: StreamSpec,
    table: ManifestTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    state=None,
    rollup=None,
    stop_token=None,
) -> None:
    """Consume a JSONL change-event directory as a bounded stream.

    Files are the transport here (the same ``foreachBatch`` body serves a
    Kafka/Debezium source unchanged). ``AvailableNow`` processes everything
    present then stops — the reference's bounded-run semantics; restart with
    the same checkpoint resumes from the bookmark.
    """
    reader = (
        spark.readStream.schema(envelope_schema(payload_schema))
        .format("json")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(events_path)

    def _on_batch(batch: DataFrame, epoch: int) -> None:
        if rollup is None:
            apply_change_batch(table, batch, spec)
        else:
            # the batch feeds TWO consumers — the fold's publish action and
            # the merge's write action — and each would re-run the source
            # parse AND the last-wins window. Dedupe once, pin the
            # batch-sized result for the epoch (the same batch-pin rule as
            # ManifestTable.merge_on_read), consume it twice.
            deduped = last_wins_dedupe(
                batch, spec.primary_keys, SEQ_COL
            ).persist()
            try:
                # maintained aggregate folds the batch against the
                # PRE-merge target state (streaming/mv.py) — must precede
                # the merge; the epoch id makes the fold idempotent under
                # checkpoint replay
                rollup.on_batch(
                    spark, table, deduped, spec.primary_keys, epoch=epoch,
                    prededuped=True,
                )
                apply_change_batch(table, deduped, spec, prededuped=True)
            finally:
                deduped.unpersist()
        if state is not None:
            # per-batch bookmark advance, write-throttled like the
            # reference's UPDATE_BOOKMARK_PERIOD / commit_interval_ms —
            # state.json never becomes the hot path on a busy stream
            state.update(
                spec.tap_stream_id,
                {
                    "last_batch_id": epoch,
                    "version": table.current_manifest_name(),
                },
            )
            state.save_throttled()

    query = (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if stop_token is not None:
        from pipelinewise_spark.streaming.bounded import await_with_stop

        await_with_stop(query, stop_token=stop_token)
    else:
        from pipelinewise_spark.streaming.bounded import await_bounded

        await_bounded(query)
    if state is not None:
        # surface the streaming bookmark into the engine's state.json twin
        # (the reference emits STATE only after data is flushed — here the
        # checkpoint already guarantees that ordering)
        progress = query.lastProgress or {}
        state.update(
            spec.tap_stream_id,
            {
                "checkpoint": checkpoint_dir,
                "last_batch_id": progress.get("batchId"),
                "version": table.current_manifest_name(),
            },
        )
        state.save()
