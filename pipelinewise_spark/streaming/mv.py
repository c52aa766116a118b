"""Streaming rollup maintenance — a materialized aggregate kept current by
every CDC micro-batch, at batch cost.

Composes the CDC apply path (streaming/cdc.py) with the incremental
aggregate delta rule (operators/incremental_agg.py): per micro-batch, the
change feed is derived by joining the (deduped) batch against the target's
PRE-merge state — one PK join against exactly the rows the MERGE itself is
about to touch — and applied to the rollup table. The base table is never
scanned; a 100 TB fact table's dashboard rollup updates at the cost of the
0.1 % batch. Mirrors the target's own semantics, so streamed == recomputed:

- only LIVE rows count (soft-deleted rows leave the rollup);
- the ``_sdc_seq`` staleness guard is replayed here: an event the MERGE
  would discard as stale contributes nothing;
- redelivered events are no-ops (old == new → zero delta).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Mapping, Sequence

from pipelinewise_spark.partitioning import local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.operators.dedupe import last_wins_dedupe
from pipelinewise_spark.operators.incremental_agg import (
    apply_change_feed,
    build_aggregate,
)
from pipelinewise_spark.operators.sdc import SDC_DELETED_AT
from pipelinewise_spark.streaming.cdc import OP_COL, SDC_SEQ_COL, SEQ_COL


class StreamingRollup:
    """A maintained aggregate over the LIVE rows of a CDC-replicated table.

    ``sums`` maps output column -> source column (additive measures; count
    is always maintained as ``count_col``). The rollup itself lives in a
    ManifestTable and is published atomically per micro-batch, so readers
    see rollup versions that correspond to target versions.
    """

    def __init__(
        self,
        mv_table,
        keys: Sequence[str],
        sums: Mapping[str, str],
        count_col: str = "n_rows",
        publish_partitions: int | None = 1,
    ):
        self.mv_table = mv_table
        self.keys = list(keys)
        self.sums = dict(sums)
        self.count_col = count_col
        # a rollup is group-cardinality-sized (a dashboard aggregate, KB):
        # publishing it through the session's full shuffle-partition count
        # writes dozens of near-empty files PER MICRO-BATCH. Default to one
        # output partition; a high-cardinality rollup passes None (or a
        # partition count) to keep the write parallel.
        self.publish_partitions = publish_partitions

    def _publishable(self, df: DataFrame) -> DataFrame:
        if self.publish_partitions:
            return df.coalesce(self.publish_partitions)
        # count-less repartition by the MV keys: AQE sizes the shuffle by
        # bytes, so the answer-sized rollup lands as few right-sized files
        # instead of shuffle-partition-many tiny ones that every later
        # batch re-lists (the write-shape rule; see streaming/scd.py)
        return df.repartition(*[F.col(k) for k in self.keys])

    # ------------------------------------------------- replay idempotency
    # foreachBatch is at-least-once: a crash after the rollup publish but
    # before the target merge replays the SAME epoch against the still-
    # pre-merge target, and the "redelivered events are no-ops" invariant
    # only holds once the merge has landed — without a guard the deltas
    # would fold twice. A sidecar records the last applied epoch plus the
    # rollup version it published; the one non-atomic window (publish
    # landed, sidecar write lost) is detected by the version mismatch.

    def _epoch_path(self) -> str | None:
        root = self.mv_table.root
        if "://" in root:  # remote (s3://) rollup roots: fsio owns those
            return None  # paths; the guard degrades to at-least-once there
        return os.path.join(root, "_applied_epoch.json")

    def _load_epoch(self) -> dict | None:
        path = self._epoch_path()
        if path is None:
            return None
        try:
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _save_epoch(self, epoch: int) -> None:
        path = self._epoch_path()
        if path is None:
            return
        os.makedirs(self.mv_table.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.mv_table.root)
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "epoch": epoch,
                    "mv_version": self.mv_table.current_manifest_name(),
                },
                fh,
            )
        os.replace(tmp, path)

    def _already_applied(self, epoch: int) -> bool:
        st = self._load_epoch()
        if st is None:
            return False
        if epoch <= st["epoch"]:
            return True
        cur = self.mv_table.current_manifest_name()
        if st.get("mv_version") is not None and cur != st["mv_version"]:
            # a rollup publish landed without its sidecar update — the
            # crash hit between the two writes, so that publish WAS this
            # replayed epoch's fold: record it and skip
            self._save_epoch(epoch)
            return True
        return False

    def initialize(self, base: DataFrame) -> None:
        """Full build from the T0 load (the one base-table scan there is)."""
        live = (
            base.filter(F.col(SDC_DELETED_AT).isNull())
            if SDC_DELETED_AT in base.columns
            else base
        )
        self.mv_table.overwrite(
            self._publishable(
                build_aggregate(live, self.keys, self.sums, self.count_col)
            )
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.mv_table.read(spark)

    def on_batch(
        self,
        spark: SparkSession,
        target,
        batch: DataFrame,
        primary_keys: Sequence[str],
        epoch: int | None = None,
        prededuped: bool = False,
    ) -> None:
        """Fold one micro-batch into the rollup. MUST run against the
        target's PRE-merge state (call before ``apply_change_batch``).

        Pass the foreachBatch ``epoch`` id so checkpoint replays of an
        already-folded batch become no-ops (see _already_applied).

        The old side is the target restricted to the batch's PKs — for a
        ManifestTable this is a partition/stats-pruned read; either way the
        join is batch-sized, not table-sized.

        ``prededuped=True`` skips the last-wins window when the caller
        already deduped the batch (run_cdc_stream shares one pinned dedupe
        between this fold and the merge) — idempotent, results unchanged.
        """
        if epoch is not None and self._already_applied(epoch):
            return
        touched = [*self.keys, *{src for src in self.sums.values()}]
        deduped = (
            batch
            if prededuped
            else last_wins_dedupe(batch, primary_keys, SEQ_COL)
        )
        if not target.exists():
            feed = deduped.filter(F.col(OP_COL) != "d").select(
                F.lit("i").alias("op"),
                *[F.lit(None).alias(f"old_{c}") for c in touched],
                *[F.col(c).alias(f"new_{c}") for c in touched],
            )
        else:
            tgt = target.read(spark)
            old_cols = [*primary_keys, *touched]
            if SDC_SEQ_COL in tgt.columns:
                old_cols.append(SDC_SEQ_COL)
            old = tgt.select(
                *[F.col(c).alias(f"__old_{c}") for c in old_cols],
                F.col(SDC_DELETED_AT).alias("__old_deleted")
                if SDC_DELETED_AT in tgt.columns
                else F.lit(None).cast("timestamp").alias("__old_deleted"),
            )
            cond = [
                deduped[pk].eqNullSafe(old[f"__old_{pk}"])
                for pk in primary_keys
            ]
            j = deduped.join(old, cond, "left")
            matched = F.col(f"__old_{primary_keys[0]}").isNotNull()
            applied = (
                ~matched
                | F.col(f"__old_{SDC_SEQ_COL}").isNull()
                | (F.col(SEQ_COL) >= F.col(f"__old_{SDC_SEQ_COL}"))
                if SDC_SEQ_COL in old_cols
                else F.lit(True)
            )
            old_live = matched & F.col("__old_deleted").isNull()
            new_live = F.col(OP_COL) != "d"
            op = (
                F.when(~applied, F.lit(None))
                .when(old_live & new_live, F.lit("u"))
                .when(old_live & ~new_live, F.lit("d"))
                .when(~old_live & new_live, F.lit("i"))
            )
            feed = (
                j.withColumn("op", op)
                .filter(F.col("op").isNotNull())
                .select(
                    "op",
                    *[
                        F.col(f"__old_{c}").alias(f"old_{c}")
                        for c in touched
                    ],
                    *[F.col(c).alias(f"new_{c}") for c in touched],
                )
            )
        mv = (
            self.read(spark)
            if self.mv_table.exists()
            else build_aggregate(
                local_frame(spark, [], deduped.schema),
                self.keys, self.sums, self.count_col,
            )
        )
        new_mv = apply_change_feed(
            mv, feed, self.keys, self.sums, self.count_col
        )
        # publish eagerly: the feed references the target's pre-merge files,
        # which stay valid (snapshots are immutable) but the rollup version
        # must land before the target advances
        self.mv_table.overwrite(self._publishable(new_mv))
        if epoch is not None:
            self._save_epoch(epoch)
