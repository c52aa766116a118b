"""Incrementally maintained JOIN views (fact ⋈ dim under CDC).

The aggregate-MV family (operators/incremental_agg.py, streaming/mv.py)
maintains rollups from the change feed alone. This module extends
incremental view maintenance to the other workhorse view shape: an INNER
equi-join of a large fact table with a dimension keyed by the join column
(orders ⋈ customer, events ⋈ user_profile) — the classic "wide table"
that dashboards and feature stores read, too expensive to re-join at
100 TB per refresh.

Sequential two-step maintenance (the textbook delta rules, specialized to
the fact-PK / dim-unique-key case so no multiplicity counting is needed):

- FACT delta ΔF: view rows keyed by ΔF's PKs are replaced with
  ``live(ΔF) ⋈ dim_current`` — one batch-sized join against the dim (a
  broadcast at typical dim sizes), one PK MERGE into the view. Deletes
  drop the view row (inner-join semantics).
- DIM delta ΔD: every view row whose join key is touched is rebuilt from
  ``fact ⋈ live(ΔD)`` — the fact side is *restricted first* by a
  batch-sized semi-joinable key set (partition/stats-pruned on a
  ManifestTable fact), so dim updates propagate at
  O(fact rows per touched key), never a base rescan. Dim deletes remove
  their join key's view rows; dim inserts pull previously-orphaned fact
  rows INTO the view (inner-join semantics again).

Both steps publish through the table's atomic snapshot swap, so readers
see view versions consistent with base versions. Out-of-order protection:
change batches are last-wins deduped on their own key before applying.

Publish cost (the 100 TB concern): every step is one PK MERGE into the
view; without ``num_buckets`` that MERGE rewrites the whole view
copy-on-write — batch-sized delta math, view-sized publish. Passing
``num_buckets`` switches publishing to the partition-pruned MERGE: the
view is hash-bucketed on the fact PK
(``__view_bucket = pmod(xxhash64(pk), num_buckets)``), every maintenance
step reduces to PK-keyed upserts + PK-keyed deletes (dim-key deletes are
resolved to fact PKs through a batch-keys-restricted fact scan), and only
the buckets containing touched PKs are rewritten — untouched files carry
over by manifest reference. Publish cost becomes
O(touched buckets × bucket size), independent of view width × height.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.operators.dedupe import last_wins_dedupe
from pipelinewise_spark.operators.sdc import SDC_DELETED_AT
from pipelinewise_spark.streaming.cdc import OP_COL, SEQ_COL

#: PK-hash partition column a bucketed view (``num_buckets``) is split on.
BUCKET_COL = "__view_bucket"


class IncrementalJoinView:
    """An inner equi-join view ``fact ⋈_{join_key} dim`` kept current by
    CDC deltas on either side.

    ``fact_pk`` is the fact's primary key (also the view's PK);
    ``join_key`` must be unique on the dim side (dim PK). ``fact_cols`` /
    ``dim_cols`` name the payload columns each side contributes (join key
    and PK included automatically)."""

    def __init__(
        self,
        view_table,
        fact_pk: str,
        join_key: str,
        fact_cols: Sequence[str],
        dim_cols: Sequence[str],
        num_buckets: int | None = None,
    ):
        self.view_table = view_table
        self.fact_pk = fact_pk
        self.join_key = join_key
        self.fact_cols = [
            c for c in fact_cols if c not in (fact_pk, join_key)
        ]
        self.dim_cols = [c for c in dim_cols if c != join_key]
        self.num_buckets = num_buckets

    @property
    def _pruned_publish(self) -> bool:
        return self.num_buckets is not None

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col(self.fact_pk)), F.lit(self.num_buckets)),
        )

    # ------------------------------------------------------------ helpers

    def _fact_side(self, df: DataFrame) -> DataFrame:
        return df.select(self.fact_pk, self.join_key, *self.fact_cols)

    def _dim_side(self, df: DataFrame) -> DataFrame:
        return df.select(self.join_key, *self.dim_cols)

    def _join(self, fact: DataFrame, dim: DataFrame) -> DataFrame:
        return self._fact_side(fact).join(
            self._dim_side(dim), self.join_key, "inner"
        )

    # ------------------------------------------------------------- build

    def initialize(self, fact: DataFrame, dim: DataFrame) -> None:
        """T0 full build — the one full fact ⋈ dim join there is."""
        joined = self._join(fact, dim)
        if self._pruned_publish:
            self.view_table.overwrite(self._bucket(joined), [BUCKET_COL])
        else:
            self.view_table.overwrite(joined)

    def read(self, spark: SparkSession) -> DataFrame:
        df = self.view_table.read(spark)
        # internal publish columns (PK-hash bucket, tombstone marker) are
        # not part of the view contract
        return df.drop(BUCKET_COL, SDC_DELETED_AT)

    # ---------------------------------------------------------- publishing

    def _publish_step(
        self, spark: SparkSession, upserts: DataFrame, delete_pks: DataFrame
    ) -> None:
        """Apply one maintenance step: PK-keyed upserts + PK-keyed deletes.

        ONE MERGE: upsert rows and tombstoned delete rows share a batch, so
        the view's ``merge(hard_delete=True)`` drops the deleted PKs. With
        ``num_buckets`` the batch is bucketed on the fact PK, so only
        touched buckets are rewritten and untouched files carry over by
        manifest reference (ManifestTable.merge).
        """
        live = upserts.withColumn(
            SDC_DELETED_AT, F.lit(None).cast("timestamp")
        )
        dead = delete_pks.select(self.fact_pk).withColumn(
            SDC_DELETED_AT,
            F.to_timestamp(F.lit("2000-01-01 00:00:00")),
        )
        batch = live.unionByName(dead, allowMissingColumns=True)
        if self._pruned_publish:
            batch = self._bucket(batch)
        self.view_table.merge(spark, batch, [self.fact_pk], hard_delete=True)

    # ------------------------------------------------------------- deltas

    def apply_fact_delta(
        self, spark: SparkSession, batch: DataFrame, dim: DataFrame
    ) -> None:
        """Apply a fact change batch (``_op``/``_seq`` + fact payload).
        Cost: |batch| ⋈ dim (broadcastable) + one PK MERGE into the view.
        """
        d = last_wins_dedupe(batch, [self.fact_pk], SEQ_COL)
        live = d.filter(F.col(OP_COL) != "d")
        dead = d.filter(F.col(OP_COL) == "d").select(self.fact_pk)
        upserts = self._join(live, dim)
        # inner-join semantics: a deleted fact row leaves the view; also
        # drop rows whose updated fact no longer finds a dim partner
        # (orphaned by a join-key change to a missing dim key)
        updated_pks = live.select(self.fact_pk)
        kept_pks = upserts.select(self.fact_pk)
        orphaned = updated_pks.join(kept_pks, self.fact_pk, "left_anti")
        gone = dead.unionByName(orphaned)
        self._publish_step(spark, upserts, gone)

    def apply_dim_delta(
        self, spark: SparkSession, batch: DataFrame, fact: DataFrame
    ) -> None:
        """Apply a dim change batch (``_op``/``_seq`` + dim payload).
        Cost: fact restricted to the touched join keys (batch-sized semi
        join; partition/stats-pruned on a ManifestTable fact) ⋈ live dim
        rows + one PK MERGE. Dim inserts pull previously-orphaned fact
        rows into the view; dim deletes evict their key's view rows."""
        d = last_wins_dedupe(batch, [self.join_key], SEQ_COL)
        live = d.filter(F.col(OP_COL) != "d")
        dead_keys = d.filter(F.col(OP_COL) == "d").select(self.join_key)
        touched = self._fact_side(fact).join(
            F.broadcast(live.select(self.join_key)), self.join_key
        )
        upserts = touched.join(self._dim_side(live), self.join_key, "inner")
        # resolve dim-key deletes to the view's PK grain: every surviving
        # view row's fact row is present in the fact base by construction,
        # so a batch-keys-restricted fact scan (stats/partition-pruned on a
        # ManifestTable fact) yields exactly the PKs to evict
        del_pks = (
            self._fact_side(fact)
            .join(F.broadcast(dead_keys), self.join_key)
            .select(self.fact_pk)
        )
        self._publish_step(spark, upserts, del_pks)
