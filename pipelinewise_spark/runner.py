"""Pipeline runner — the engine's ``pipelinewise run_tap``.

The reference's run lifecycle (SURVEY §3.1): partition selected streams into
the bulk path (FastSync: initial/full loads) vs the record path (Singer:
incremental/CDC tails), run each, persist state after data is safely loaded.
Here both paths are Spark jobs over the same operators:

- FULL_TABLE            → full_table_sync (atomic swap)
- INCREMENTAL           → incremental_sync (bookmark MERGE); first run with
                          no bookmark behaves as the initial bulk load —
                          exactly the reference's fastsync-then-singer
                          handoff, minus the process juggling
- LOG_BASED             → run_cdc_stream over a change-event directory
                          (checkpoint = bookmark)

Streams are independent jobs; submit them concurrently on a cluster for the
reference's per-table parallelism (fastsync_parallelism) — the scheduler,
not a process Pool, does the fan-out.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.sync import full_table_sync, incremental_sync
from pipelinewise_spark.plans.spec import PipelineSpec, ReplicationMethod, StreamSpec
from pipelinewise_spark.plans.state import BookmarkStore


def estimated_input_mb(df: DataFrame) -> float | None:
    """Best-effort source size estimate from the scan's input files
    (None when the source isn't file-backed, e.g. JDBC)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.exists(p):
            return None
        total += os.path.getsize(p)
    return total / (1024 * 1024)


@dataclass
class StreamResult:
    """What one stream's run did, from what the write already knows: no
    Spark job beyond the write and the bookmark aggregate.

    ``rows_in`` counts the prepared batch this run loaded (for FULL_TABLE
    the whole new snapshot); ``target_rows`` counts the live target rows
    after the commit, from footer metadata."""

    tap_stream_id: str
    method: str
    rows_in: int
    target_rows: int
    bookmark: dict = field(default_factory=dict)


class PipelineRunner:
    def __init__(self, spark: SparkSession, spec: PipelineSpec):
        self.spark = spark
        self.spec = spec
        state_path = spec.state_path or os.path.join(
            spec.target_path, "_state.json"
        )
        self.state = BookmarkStore(state_path)
        from pipelinewise_spark.alerts import AlertSender

        # reference: cli/alert_sender.py — handlers from config, every one
        # notified on a failed run; unknown types fail at construction
        self.alerts = AlertSender(self.spec.options.get("alert_handlers"))

    def table_for(self, stream: StreamSpec) -> ManifestTable:
        """Target table handle: a ManifestTable whose ``partition_by``
        (stream- or pipeline-level) names its partition columns. The
        ``table_format`` option survives only as ``manifest``, a no-op;
        any other value raises."""
        root = os.path.join(self.spec.target_path, stream.target_table)
        fmt = stream.options.get(
            "table_format", self.spec.options.get("table_format", "manifest")
        )
        if fmt != "manifest":
            raise ValueError(
                f"{stream.tap_stream_id}: unknown table_format {fmt!r} — "
                "every target is a ManifestTable; 'manifest' is the only "
                "accepted value"
            )
        partition_by = list(
            stream.options.get("partition_by")
            or self.spec.options.get("partition_by")
            or []
        )
        return ManifestTable(root, partition_by=partition_by)

    def run_stream(
        self, stream: StreamSpec, source_df: DataFrame,
        extracted_at=None, batched_at=None,
    ) -> StreamResult:
        try:
            return self._run_stream(
                stream, source_df,
                extracted_at=extracted_at, batched_at=batched_at,
            )
        except Exception as exc:
            # alert BEFORE propagating (reference: run_tap failure triggers
            # AlertSender.send_to_all_handlers, then the error surfaces)
            self.alerts.send_to_all(
                f"pipeline {self.spec.pipeline_id!r} stream "
                f"{stream.tap_stream_id!r} failed: {exc}"
            )
            raise

    def _run_stream(
        self, stream: StreamSpec, source_df: DataFrame,
        extracted_at=None, batched_at=None,
    ) -> StreamResult:
        # primary_key_required guard (reference default true:
        # target_snowflake/__init__.py:266-278) — PK-less streams may only
        # take the append path, and only when explicitly allowed
        pk_required = bool(
            stream.options.get(
                "primary_key_required",
                self.spec.options.get("primary_key_required", True),
            )
        )
        if (
            pk_required
            and not stream.primary_keys
            and stream.replication_method is not ReplicationMethod.FULL_TABLE
        ):
            raise ValueError(
                f"{stream.tap_stream_id}: no primary key — set "
                "primary_key_required: false to allow the append-only path"
            )
        table = self.table_for(stream)
        # autoresync size guard (reference cli/pipelinewise.py:1115-1129 +
        # allowed_resync_max_size.table_mb): a full resync of an oversized
        # table must be an explicit human decision, not an automatic one
        is_initial_full = stream.replication_method is ReplicationMethod.FULL_TABLE or (
            stream.replication_method is ReplicationMethod.INCREMENTAL
            and self.state.get(stream.tap_stream_id, "replication_key_value") is None
        )
        max_mb = stream.options.get(
            "allowed_resync_max_size_mb",
            self.spec.options.get("allowed_resync_max_size_mb"),
        )
        force = bool(
            stream.options.get("force_resync", self.spec.options.get("force_resync"))
        )
        if is_initial_full and max_mb is not None and not force:
            est = estimated_input_mb(source_df)
            if est is not None and est > float(max_mb):
                raise ValueError(
                    f"{stream.tap_stream_id}: source ≈{est:.0f} MB exceeds "
                    f"allowed_resync_max_size_mb={max_mb}; pass force_resync "
                    "to run the full load anyway"
                )
        archive = (
            functools.partial(self._archive_batch, stream)
            if self._opt(stream, "archive_load_files")
            else None
        )
        if stream.replication_method is ReplicationMethod.FULL_TABLE:
            rows_in = target_rows = full_table_sync(
                self.spark, source_df, stream, table, self.state,
                extracted_at=extracted_at, batched_at=batched_at,
                on_batch=archive,
            )
        elif stream.replication_method is ReplicationMethod.INCREMENTAL:
            rows_in = incremental_sync(
                self.spark, source_df, stream, table, self.state,
                extracted_at=extracted_at, batched_at=batched_at,
                on_batch=archive,
            )
            target_rows = table.count_rows()
        else:
            raise ValueError(
                f"{stream.tap_stream_id}: LOG_BASED streams run via "
                "streaming.cdc.run_cdc_stream with a change-event source"
            )
        self._apply_grants(stream)
        return StreamResult(
            tap_stream_id=stream.tap_stream_id,
            method=stream.replication_method.value,
            rows_in=rows_in,
            target_rows=target_rows,
            bookmark=self.state.get_bookmark(stream.tap_stream_id),
        )

    def _opt(self, stream: StreamSpec, key: str, default=None):
        return stream.options.get(key, self.spec.options.get(key, default))

    def _archive_batch(self, stream: StreamSpec, batch: DataFrame) -> None:
        """``archive_load_files`` (target_snowflake/__init__.py:119-121,
        178-191, 478-508): keep a copy of every load batch under an archive
        prefix with min/max replication-key metadata — encrypted client-side
        when ``client_side_encryption_master_key`` is set
        (fastsync/commons/target_snowflake.py:109-152 applies the same key
        to staged uploads). ``batch`` is the rows this run loaded, never
        the merged target."""
        import json as _json

        from pyspark.sql import functions as F

        root = os.path.join(
            self.spec.target_path, "_sdc_archive", stream.target_table
        )
        # The reference's copy_to_archive RETAINS every load file
        # (archive/tap/table/<unique basename>) — history accumulates
        # across batches. Each batch therefore lands under its own
        # subdir with mode="error" (a collision is a bug, never an
        # overwrite), with per-batch metadata alongside.
        os.makedirs(root, exist_ok=True)
        existing = [
            d for d in os.listdir(root)
            if d.startswith("batch_") and d[6:].isdigit()
        ]
        nxt = 1 + max((int(d[6:]) for d in existing), default=-1)
        adir = os.path.join(root, f"batch_{nxt:06d}")
        mk = self._opt(stream, "client_side_encryption_master_key")
        if mk:
            from pipelinewise_spark.operators.encryption import (
                write_encrypted_staged,
            )

            key = bytes.fromhex(mk) if isinstance(mk, str) else mk
            write_encrypted_staged(batch, adir, key, mode="error")
        else:
            batch.write.mode("error").parquet(adir)
        meta: dict = {"stream": stream.tap_stream_id, "batch": nxt}
        if stream.replication_key:
            row = batch.agg(
                F.min(stream.replication_key).cast("string"),
                F.max(stream.replication_key).cast("string"),
            ).head()
            meta["min_replication_key"] = row[0]
            meta["max_replication_key"] = row[1]
        from pipelinewise_spark.operators.fsio import MetaFS

        MetaFS(adir).write_text(
            _json.dumps(meta, indent=1), "_archive_metadata.json",
            atomic=True,
        )

    def _apply_grants(self, stream: StreamSpec) -> None:
        """Grants (db_sync.py:609-637): USAGE/SELECT for configured roles,
        resolved with the reference's config precedence."""
        if self._opt(stream, "default_target_schema_select_permissions") or (
            self._opt(stream, "schema_mapping")
        ):
            from pipelinewise_spark.operators.grants import apply_grants

            apply_grants(
                os.path.join(self.spec.target_path, stream.target_table),
                self._opt(stream, "target_schema", self.spec.pipeline_id),
                stream.target_table,
                {
                    "default_target_schema_select_permissions": self._opt(
                        stream, "default_target_schema_select_permissions"
                    ),
                    "schema_mapping": self._opt(stream, "schema_mapping"),
                },
                stream_schema_name=self._opt(stream, "stream_schema_name"),
            )

    def run(
        self,
        sources: dict[str, DataFrame],
        extracted_at=None,
        batched_at=None,
        parallelism: int | None = None,
    ) -> list[StreamResult]:
        """Run every selected stream whose source DataFrame is provided.

        ``parallelism`` > 1 submits streams from a thread pool — the
        reference's ``fastsync_parallelism`` process fan-out, but as
        concurrent job submission into one SparkSession (the scheduler
        interleaves independent jobs across executors; FAIR scheduling
        recommended on a shared cluster). Defaults to the pipeline option
        ``fastsync_parallelism`` or sequential.
        """
        # a stale stop token from a previous `stop` must not kill this run
        # the moment it starts; a fresh run consumes (clears) it
        from pipelinewise_spark.streaming.bounded import StopToken

        StopToken(self.spec.target_path).clear()
        streams = [s for s in self.spec.streams if s.tap_stream_id in sources]
        if parallelism is None:
            parallelism = int(self.spec.options.get("fastsync_parallelism", 1))
        if parallelism <= 1 or len(streams) <= 1:
            return [
                self.run_stream(
                    s, sources[s.tap_stream_id],
                    extracted_at=extracted_at, batched_at=batched_at,
                )
                for s in streams
            ]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            futures = [
                pool.submit(
                    self.run_stream, s, sources[s.tap_stream_id],
                    extracted_at=extracted_at, batched_at=batched_at,
                )
                for s in streams
            ]
            # preserve stream order in results; propagate the first failure
            return [f.result() for f in futures]
