"""LOG_BASED (CDC) replication into SCD Type 2 history, as a stream.

The reference replicates a change feed into ONE row per PK
(tap-postgres logical_replication.py → target MERGE); this sink folds
the same feed into versioned history instead — every attribute change
closes the open version and opens a new one (operators/scd.py), giving
the warehouse the "what did this row look like when" axis directly from
the WAL, with no nightly snapshot-diff job.

Storage follows the operator's scale model: a *current* table (one open
version per live PK, overwritten per batch — it is PK-sized, not
history-sized) and an append-only *closed log*. The closed increment of
each micro-batch lands under an ``epoch=<id>`` directory, WRITE-ONCE: a
checkpoint replay skips the write when the epoch's commit marker exists
(re-deriving it against the already-advanced current slice would erase
real history — see apply_scd2_batch), and rewrites the identical
increment when the crash preceded the marker. The ``scd2_apply`` guard
(equal re-assertions are no-ops, stale effective timestamps never
supersede) makes the current-table fold idempotent on its own.

At 100 TB: per-batch cost is the current-slice join (O(dim) — dimensions
are the SCD2 use case; facts don't get versioned) plus an answer-sized
closed append. Years of closed history are never read or rewritten.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinewise_spark.operators.fsio import MetaFS
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.streaming.bounded import await_bounded
from pipelinewise_spark.operators.scd import (
    IS_CURRENT,
    scd2_apply,
    scd2_init,
)
from pipelinewise_spark.operators.sdc import SDC_EXTRACTED_AT
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.session import scoped_conf
from pipelinewise_spark.streaming.cdc import (
    envelope_schema,
    prepare_change_batch,
)


def apply_scd2_batch(
    current_table: ManifestTable,
    closed_dir: str,
    batch: DataFrame,
    spec: StreamSpec,
    epoch: int,
) -> None:
    """Fold one micro-batch of change events into (current, closed-log)."""
    spark = batch.sparkSession
    prepared = prepare_change_batch(batch, spec)
    # count-less repartition by PK before every state write: AQE sizes the
    # shuffle to bytes, so the PK-sized current table lands as few
    # right-sized files instead of shuffle-partition-many tiny ones (which
    # every subsequent micro-batch would re-list and re-open). folded is
    # CACHED below, which pins its 32-partition shape — AQE coalescing
    # can't reach through a cache, so the repartition must sit between the
    # cache read and the write.
    pk = [F.col(c) for c in spec.primary_keys]
    if not current_table.exists():
        current_table.overwrite(
            scd2_init(prepared, SDC_EXTRACTED_AT).repartition(*pk)
        )
        return
    # change checksum over payload columns only: _sdc_* bookkeeping moves
    # every wave and must never mint a version by itself (it rides new
    # versions type-1-style via the untracked-column rule)
    tracked = [
        c
        for c in prepared.columns
        if c not in spec.primary_keys and not c.startswith("_sdc_")
    ]
    folded = scd2_apply(
        current_table.read(spark),
        prepared,
        spec.primary_keys,
        SDC_EXTRACTED_AT,
        tracked_cols=tracked,
    ).persist()  # one join feeds two writes (batch-..dim-sized frame)
    try:
        # Closed-increment write is FIRST and write-once: its content is a
        # deterministic function of the pre-batch current slice, and that
        # slice only advances AFTER this write — so a crash-replay either
        # recomputes the identical increment (current not yet advanced;
        # no commit marker -> rewrite) or must SKIP the write
        # (committed marker present; re-folding against the advanced
        # slice would yield an empty increment and erase real history).
        # The marker is the ENGINE'S OWN ``_COMMITTED`` file (written
        # after the parquet job returns), not Hadoop's ``_SUCCESS`` —
        # the session disables the latter (session.py committer notes)
        # and an explicit marker keeps the protocol committer-agnostic.
        # Underscore prefix = invisible to Spark's file listing.
        # The current-table fold itself is idempotent via the scd2_apply
        # guards, so it always runs.
        epoch_dir = posixpath.join(closed_dir, f"epoch={epoch}")
        efs = MetaFS(epoch_dir)
        committed = efs.exists("_COMMITTED") or efs.exists("_SUCCESS")
        if not committed:
            folded.filter(~F.col(IS_CURRENT)).repartition(*pk).write.mode(
                "overwrite"
            ).parquet(epoch_dir)
            efs.write_text("", "_COMMITTED")
        current_table.overwrite(
            folded.filter(F.col(IS_CURRENT)).repartition(*pk)
        )
    finally:
        folded.unpersist()


def read_closed_log(spark: SparkSession, closed_dir: str) -> DataFrame:
    """All closed versions (epoch partitioning stripped).

    Only epochs whose write-once protocol completed are read: with the v2
    output committer a crashed epoch write can leave partially-committed
    task files visible inside ``epoch=<id>``, and the engine's own
    ``_COMMITTED`` marker (written after the parquet job returns; legacy
    ``_SUCCESS`` accepted for pre-r13 dirs) is what distinguishes a
    published epoch from crash garbage awaiting replay."""
    import pyarrow.fs as pafs

    mfs = MetaFS(closed_dir)
    sel = pafs.FileSelector(mfs.root, allow_not_found=True)
    epochs = sorted(
        info.base_name
        for info in mfs.fs.get_file_info(sel)
        if info.type == pafs.FileType.Directory
        and info.base_name.startswith("epoch=")
    )
    committed = [
        e
        for e in epochs
        if mfs.exists(e, "_COMMITTED") or mfs.exists(e, "_SUCCESS")
    ]
    if committed and len(committed) < len(epochs):
        paths = [mfs.uri(e) for e in committed]
        with scoped_conf(spark, mfs.known_paths_conf(spark, len(paths))):
            return (
                spark.read.option("basePath", closed_dir)
                .parquet(*paths)
                .drop("epoch")
            )
    # all epochs committed (the normal case: one listing, no per-epoch
    # paths in the plan) — or none are, where the whole-dir read keeps
    # the pre-r13 error surface for an empty/missing log
    return (
        spark.read.option("basePath", closed_dir)
        .parquet(closed_dir)
        .drop("epoch")
    )


def run_scd2_stream(
    spark: SparkSession,
    events_path: str,
    payload_schema: T.StructType,
    spec: StreamSpec,
    current_table: ManifestTable,
    closed_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Consume a JSONL change-event directory as a bounded stream into
    SCD2 history (``AvailableNow`` + file-source bookmark, exactly the
    run_cdc_stream transport — the foreachBatch body serves Kafka or
    Debezium unchanged)."""
    reader = (
        spark.readStream.schema(envelope_schema(payload_schema))
        .format("json")
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.load(events_path)

    def _on_batch(batch: DataFrame, epoch: int) -> None:
        apply_scd2_batch(current_table, closed_dir, batch, spec, epoch)

    q = (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q)
