"""Tail-follow Singer capture consumption — ``tap | engine`` pipe parity.

The reference pipes a tap's stdout straight into the target process
(cli/commands.py:346-355 builds exactly that shell pipe); a long-running
tap therefore produces its capture CONTINUOUSLY. The batch faces in
sources/singer.py consume a finished capture file; this module consumes
a GROWING capture directory with Structured Streaming: the tap's stdout
is tee'd/rotated into sequentially named NDJSON files
(``cap-000001.ndjson``, ``cap-000002.ndjson``, ...) and every
micro-batch applies its slice with the same per-stream semantics:

- a global record sequence ``<file name>:<zero-padded lineno>`` orders
  lines exactly as the capture was written (file names MUST sort
  lexicographically in write order — what any rotating tee produces;
  zero-pad the rotation counter);
- per stream and per SCHEMA epoch inside the batch: records parse
  DISTRIBUTED (``from_json``), PK last-wins by sequence, and MERGE with
  the persisted sequence as the staleness guard — so a micro-batch
  replayed after a crash, or files listed out of order by the file
  source, can never roll a row back: the final table state is
  last-wins by global capture position, idempotently;
- no-PK (append-only) streams anti-join on the persisted sequence
  before appending — idempotent under batch replay too;
- SCHEMA drift evolves the target exactly like the batch paths:
  add-column via the merge's union-of-columns NULL-fill, incompatible
  type change via ``version_column``
  (target_snowflake/db_sync.py:849-870);
- ``ACTIVATE_VERSION`` purges older-version rows (full-resync swap);
- the max-sequence STATE becomes the bookmark, persisted in a sidecar
  only AFTER its batch's data landed — the reference's flushed_state
  discipline (target_snowflake/__init__.py:323-416) at micro-batch
  granularity: a bookmark never runs ahead of unlanded records.

Driver state is BOUNDED: per batch the capture summary every Singer
face runs — the control lines (capped at ``max_control_lines``) and one
grouped aggregate, a row per (type, stream, segment) — and the
schema-registry sidecar; record payloads stay executor-side. Besides
its writes and purges a micro-batch runs only those two passes: the
RECORD-before-SCHEMA check and the skip of a segment with nothing to
land are decided from the aggregate on the driver.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import is_merge_on_read
from pipelinewise_spark.streaming.bounded import await_bounded
from pipelinewise_spark.sources.singer import (
    _adopt_bookmarks,
    _apply_activate,
    _check_schema_first,
    _last_wins,
    _purge_older_versions,
    _typed,
    _write_segment,
    capture_summary,
    record_rows,
    scan_control_plane,
)

#: global capture position persisted into the target — the MERGE
#: staleness guard (string ``<file>:<zero-padded lineno>``)
SDC_SEQUENCE = "_sdc_sequence"

_STATE_FILE = "singer_state.json"


@dataclass
class CaptureStreamState:
    """The sidecar the stream carries across micro-batches (and across
    restarts): the schema registry + the flushed bookmark. Written
    atomically (tmp + rename) AFTER a batch's data lands."""

    schemas: dict[str, dict] = field(default_factory=dict)
    key_properties: dict[str, list[str]] = field(default_factory=dict)
    activations: dict[str, int] = field(default_factory=dict)
    bookmark: dict | None = None
    bookmark_seq: str | None = None
    last_batch: int = -1
    #: capture position of each stream's ADOPTED schema — control-plane
    #: adoption is sequence-guarded like the bookmark, so a late-listed
    #: older file cannot regress the registry (absent for pre-r13
    #: sidecars; treated as "always adopt", the old behavior)
    schema_seq: dict[str, str] = field(default_factory=dict)

    @classmethod
    def load(cls, checkpoint_dir: str) -> "CaptureStreamState":
        p = os.path.join(checkpoint_dir, _STATE_FILE)
        if not os.path.exists(p):
            return cls()
        with open(p, encoding="utf-8") as fh:
            d = json.load(fh)
        return cls(**d)

    def save(self, checkpoint_dir: str) -> None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=checkpoint_dir)
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(self.__dict__, fh)
        os.replace(tmp, os.path.join(checkpoint_dir, _STATE_FILE))


def _sequenced_lines(batch: DataFrame) -> DataFrame:
    """(_sdc_sequence, type, stream, line) for one micro-batch — the
    batch faces' frame shape, numbered by the global capture position:
    file basename (names sort in write order by contract) + the
    physical line number inside the file, zero-padded so the string
    order IS the numeric order."""
    fname = F.element_at(F.split(F.col("__file"), "/"), -1)
    w = Window.partitionBy("__file").orderBy(
        F.col("__block"), F.monotonically_increasing_id()
    )
    return _typed(batch.select(
        F.col("value").alias("line"),
        F.concat(
            fname, F.lit(":"),
            F.lpad(F.row_number().over(w).cast("string"), 12, "0"),
        ).alias(SDC_SEQUENCE),
    ), SDC_SEQUENCE)


def apply_capture_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_root: str,
    state: CaptureStreamState,
    *,
    float_compat: bool = False,
    primary_key_required: bool = True,
    version_suffix: str | None = None,
    max_control_lines: int = 100_000,
    merge_strategy: str | None = None,
) -> CaptureStreamState:
    """Apply one micro-batch of capture lines (columns ``value``,
    ``__file``, ``__block``) and return the advanced state. Idempotent:
    re-applying the same batch (a crash-replayed micro-batch) leaves
    the tables unchanged — PK merges are guarded on the persisted
    sequence, appends anti-join on it, AV purges and sidecar writes are
    naturally re-runnable.

    Targets are ManifestTables; ``merge_strategy`` is CDC's
    copy-on-write / merge-on-read switch:

    - ``None`` (default): each flush MERGEs copy-on-write — simple
      files, but per-batch write cost is O(target). Right for bounded
      runs and small tables.
    - ``"merge_on_read"``: each flush lands as a merge-on-read delta
      (superseded rows deletion-vectored, batch appended as new files,
      ``_sdc_sequence`` as the staleness guard) — per-batch write cost
      is O(batch) + an answer-sized sidecar, NOT O(target). This is the
      long-running tail-follow answer: a tap trickling micro-batches
      into a 100 TB table for months must not rewrite the table per
      batch. Schema drift (added column / type change) falls back to
      the copy-on-write MERGE for that segment, then resumes MOR.

    Under either strategy PK-less streams append, a column type change
    lands first as its own evolution commit, and ACTIVATE_VERSION purges
    via an answer-sized ``delete_where``. ``compact`` (the ManifestTable
    lever) converts accumulated read debt back into clean files on
    whatever cadence ops chooses."""
    from pipelinewise_spark.schema.jsonschema import json_schema_to_struct

    mor = is_merge_on_read(merge_strategy, "apply_capture_batch")
    # A one-split batch (one capture file under the split size) is
    # numbered in place: one partition satisfies the per-file window
    # and the summary's grouping, so neither shuffles. A larger batch
    # shuffles by file and keeps no more partitions than its splits: the
    # window fills at most one shuffle partition per file, and AQE does
    # not coalesce a cached plan, so each later job would run every
    # empty one. Splits, not files: a foreachBatch frame does not list
    # its files (inputFiles() is empty), and counting them costs a job.
    n_splits = batch.rdd.getNumPartitions()
    lines = (
        _sequenced_lines(batch.coalesce(1) if n_splits <= 1 else batch)
        .coalesce(max(1, n_splits))
        .persist()
    )
    try:
        plan = scan_control_plane(
            spark, None, primary_key_required,
            max_control_lines=max_control_lines, lines=lines,
            position=SDC_SEQUENCE,
            refusal=f"micro-batch has more than {max_control_lines} "
            "control (non-RECORD) lines — raise max_control_lines or "
            "shrink maxFilesPerTrigger",
        )

        # per-stream control timelines for this batch; SCHEMA and AV
        # lines are the segment boundaries (an AV splits segments so its
        # purge lands at its capture position)
        boundaries: dict[str, list[tuple[str, str, Any]]] = {}
        state_events: list[tuple[str, dict]] = []
        for o in plan.messages:
            seq = o["__position"]
            if o["type"] == "STATE":
                state_events.append((seq, o["value"]))
            else:
                boundaries.setdefault(o["stream"], []).append(
                    (seq, o["type"], o)
                )
        # one grouped aggregate: each stream's records per segment
        groups = capture_summary(lines, SDC_SEQUENCE, {
            s: [seq for seq, _, _ in b] for s, b in boundaries.items()
        })
        segments = {
            (g["stream"], g["segment"]): g
            for g in groups if g["type"] == "RECORD"
        }

        for stream in sorted({s for s, _ in segments} | set(boundaries)):
            if stream not in state.schemas:
                _check_schema_first(groups, [stream], missing="")
            cur_schema = state.schemas.get(stream)
            cur_kp = state.key_properties.get(stream, [])
            table = ManifestTable(f"{target_root}/{stream}")

            def flush_segment(i: int, lo: str | None, hi: str | None):
                g = segments.get((stream, i))
                act = state.activations.get(stream)
                if g is None or (
                    act is not None and g["n_unversioned"] == 0
                    and g["max_version"] < act
                ):
                    return  # _apply_activate would leave it empty
                struct = json_schema_to_struct(cur_schema, float_compat)
                seg = record_rows(lines, stream, struct, SDC_SEQUENCE)
                if lo is not None:
                    seg = seg.filter(F.col(SDC_SEQUENCE) > F.lit(lo))
                if hi is not None:
                    seg = seg.filter(F.col(SDC_SEQUENCE) < F.lit(hi))
                if act is not None:
                    seg = _apply_activate(seg, act)
                if cur_kp:
                    seg = _last_wins(seg, cur_kp, order_col=SDC_SEQUENCE)
                _write_segment(
                    spark, table, seg, cur_kp, version_suffix,
                    guard_col=SDC_SEQUENCE, merge_on_read=mor,
                )

            lo: str | None = None
            last_schema_seq: str | None = None
            bounds = boundaries.get(stream, [])
            for i, (seq, kind, payload) in enumerate(bounds):
                flush_segment(i, lo, seq)
                lo = seq
                if kind == "SCHEMA":
                    # in-batch epoch swap: records after this boundary
                    # IN THIS BATCH parse under it regardless of the
                    # registry guard below (they belong to this epoch)
                    cur_schema = payload["schema"]
                    cur_kp = list(payload.get("key_properties") or [])
                    last_schema_seq = seq
                else:  # AV: purge older-version rows already in the table
                    v_new = int(payload["version"])
                    v_cur = state.activations.get(stream)
                    if v_cur is not None and v_new <= v_cur:
                        # a late-listed older AV is subsumed by the
                        # purge already executed — adopting it would
                        # resurrect purged versions in later segments
                        continue
                    state.activations[stream] = v_new
                    _purge_older_versions(spark, table, v_new)
            flush_segment(len(bounds), lo, None)
            # registry adoption is sequence-guarded (same rule as the
            # bookmark): an out-of-order older file's SCHEMA governs ITS
            # OWN batch's segments above but cannot regress what later
            # batches parse with (no SCHEMA line: the registry stands)
            prev_seq = state.schema_seq.get(stream)
            if last_schema_seq is not None and (
                prev_seq is None or last_schema_seq >= prev_seq
            ):
                state.schemas[stream] = cur_schema
                state.key_properties[stream] = cur_kp
                state.schema_seq[stream] = last_schema_seq

        # flushed_state at micro-batch granularity: everything in this
        # batch landed above, so the batch's max-sequence STATE is safe
        # to adopt (never a STATE from a position not yet applied)
        if state_events:
            seq, value = max(state_events, key=lambda e: e[0])
            if state.bookmark_seq is None or seq > state.bookmark_seq:
                state.bookmark = value
                state.bookmark_seq = seq
        return state
    finally:
        lines.unpersist()


def start_capture_stream(
    spark: SparkSession,
    capture_dir: str,
    target_root: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    float_compat: bool = False,
    primary_key_required: bool = True,
    version_suffix: str | None = None,
    max_control_lines: int = 100_000,
    bookmarks: Any | None = None,
    merge_strategy: str | None = None,
    compact_every: int | None = None,
):
    """Start the tail-follow stream over a growing capture directory.

    ``available_now=True`` bounds the run to the files present at start
    (the reference's bounded tap run); a deployment tailing a live tap
    re-launches on a schedule or uses ``available_now=False`` with a
    processing-time trigger. ``max_files_per_trigger`` caps each
    micro-batch (and is how the equivalence tests force multi-batch
    runs). Returns the StreamingQuery.

    ``compact_every=N`` (``merge_strategy="merge_on_read"`` only) runs
    ManifestTable.compact on every touched stream after every Nth
    micro-batch — the read-debt lever scheduled inside the tail loop
    instead of a separate cron: MOR accumulates one small file +
    deletion vectors per batch, and compaction folds them back into
    clean files (healthy partitions carry over by reference, so a
    compaction pass right after a delta batch is near-free). Safe under
    crash/replay: compaction never changes row content, only file
    layout."""
    mor = is_merge_on_read(merge_strategy, "start_capture_stream")
    if compact_every is not None:
        if not mor:
            raise ValueError(
                "compact_every needs merge_strategy='merge_on_read' — "
                "copy-on-write merges rewrite the table per batch"
            )
        if compact_every < 1:
            raise ValueError(
                f"compact_every must be >= 1, got {compact_every}"
            )
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
    src = reader.text(capture_dir).select(
        "value",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_block_start").alias("__block"),
    )

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = CaptureStreamState.load(checkpoint_dir)
        state = apply_capture_batch(
            spark,
            batch_df,
            target_root,
            state,
            float_compat=float_compat,
            primary_key_required=primary_key_required,
            version_suffix=version_suffix,
            max_control_lines=max_control_lines,
            merge_strategy=merge_strategy,
        )
        state.last_batch = batch_id
        if (
            compact_every is not None
            and batch_id % compact_every == compact_every - 1
        ):
            for stream in state.schemas:
                t = ManifestTable(f"{target_root}/{stream}")
                if t.exists():
                    t.compact(spark, max_dead_ratio=0.2)
        state.save(checkpoint_dir)
        _adopt_bookmarks(bookmarks, state.bookmark)

    writer = src.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "spark")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sync_capture_dir(
    spark: SparkSession,
    capture_dir: str,
    target_root: str,
    checkpoint_dir: str,
    **kwargs: Any,
) -> CaptureStreamState:
    """Convenience: consume everything currently in ``capture_dir``
    (availableNow) and return the final sidecar state. Re-invoking
    after more files land resumes from the checkpoint — the
    ``tap | engine`` tail-follow loop as a callable."""
    q = start_capture_stream(
        spark, capture_dir, target_root, checkpoint_dir,
        available_now=True, **kwargs,
    )
    await_bounded(q)
    return CaptureStreamState.load(checkpoint_dir)
