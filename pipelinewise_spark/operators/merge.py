"""MERGE-by-primary-key upsert, soft delete and hard delete.

Reference semantics (Snowflake MERGE generated per flush —
/root/reference/singer-connectors/target-snowflake/target_snowflake/db_sync.py:449-527,
file_formats/csv.py:25-45; update-then-insert emulation for Postgres
target_postgres/db_sync.py:359-431):

    MERGE INTO target t USING batch s ON <pk equality>
      WHEN MATCHED THEN UPDATE SET *        -- last batch wins
      WHEN NOT MATCHED THEN INSERT *

- soft delete: deleted rows arrive with ``_sdc_deleted_at`` set and are
  upserted like any row (target_snowflake/__init__.py:173-176)
- hard delete: after the merge, ``DELETE FROM t WHERE _sdc_deleted_at IS NOT
  NULL`` (db_sync.py:632-637)

Spark-first implementation: a single full-outer equi-join on the PK with
"source wins" column resolution. One hash shuffle of each side on the PK —
the same physical shape Delta's MERGE lowers to. At 100 TB the win is
bucketing/partitioning both sides by PK so the join is co-located; AQE handles
skewed PKs. The batch side should already be last-wins deduped
(operators.dedupe) so the join is 1:1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinewise_spark.operators.sdc import SDC_DELETED_AT

_MARK = "__pws_src_present"


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    primary_keys: Sequence[str],
    hard_delete: bool = False,
    guard_col: str | None = None,
) -> DataFrame:
    """Return the merged table contents (caller publishes atomically).

    Column set is the union of both sides (schema evolution adds NULLs for
    columns missing on either side). Source rows win on PK collision —
    unless ``guard_col`` names a monotonic version column (LSN / offset /
    sequence): then a matched source row only wins when its version is >=
    the target's, so an event replayed or re-ordered ACROSS micro-batches
    can never roll a row back (the same staleness guard Debezium sinks put
    in their MERGE condition). Rows whose target has no version (legacy /
    fresh inserts) always take the source. Note the standard tombstone
    caveat: with ``hard_delete`` the deleted row's version leaves the table,
    so a stale pre-delete update arriving later reinserts — use soft delete
    when the transport can replay across deletes.
    """
    if not primary_keys:
        raise ValueError("merge_upsert requires primary keys; use append instead")

    source_cols = set(source.columns)  # columns the batch actually SETs
    out_cols = list(target.columns) + [
        c for c in source.columns if c not in target.columns
    ]
    # align schemas: add missing columns as NULL of the other side's type
    for c in out_cols:
        if c not in source.columns:
            source = source.withColumn(c, F.lit(None).cast(target.schema[c].dataType))
        if c not in target.columns:
            target = target.withColumn(c, F.lit(None).cast(source.schema[c].dataType))

    src = source.withColumn(_MARK, F.lit(True))
    t, s = target.alias("t"), src.alias("s")
    joined = t.join(s, on=list(primary_keys), how="full_outer")

    take_source = F.col(f"s.{_MARK}").isNotNull()
    if guard_col is not None and guard_col in out_cols:
        take_source = take_source & (
            F.col(f"t.{guard_col}").isNull()
            | (F.col(f"s.{guard_col}") >= F.col(f"t.{guard_col}"))
        )

    def _resolve(c: str) -> F.Column:
        if c not in source_cols:
            # MERGE only SETs the batch's columns: matched rows keep the
            # target value; inserted rows get NULL (t side is NULL anyway)
            return F.col(f"t.{c}").alias(c)
        return F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)

    merged = joined.select(
        *[F.col(pk) for pk in primary_keys],
        *[_resolve(c) for c in out_cols if c not in primary_keys],
    )
    if hard_delete and SDC_DELETED_AT in out_cols:
        merged = merged.filter(F.col(SDC_DELETED_AT).isNull())
    return merged


def append_only(target: DataFrame | None, source: DataFrame) -> DataFrame:
    """No-PK path: plain append (reference COPY-without-MERGE,
    db_sync.py:529-547). Union by name with NULL fill for evolved columns."""
    if target is None:
        return source
    return target.unionByName(source, allowMissingColumns=True)


def is_merge_on_read(strategy: str | None, owner: str) -> bool:
    """Read a ``merge_strategy``, the one copy-on-write / merge-on-read
    switch of CDC streams and the Singer faces: ``None`` is the
    copy-on-write MERGE, ``"merge_on_read"`` lands batches as
    merge-on-read deltas; anything else raises, naming ``owner``."""
    if strategy not in (None, "merge_on_read"):
        raise ValueError(
            f"{owner}: unknown merge_strategy {strategy!r} — expected "
            "'merge_on_read' (or no merge_strategy for the copy-on-write "
            "default)"
        )
    return strategy == "merge_on_read"
