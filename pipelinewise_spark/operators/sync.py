"""Replication operators: FULL_TABLE, INCREMENTAL, partial-range sync.

These compose the primitives (sdc, dedupe, merge, table) into the three batch
replication methods of the reference
(/root/reference/pipelinewise/cli/pipelinewise.py:72-74):

- FULL_TABLE  — FastSync semantics: bookmark snapshot before export, bulk
  read, masking, atomic swap publish
  (/root/reference/pipelinewise/fastsync/mysql_to_snowflake.py:85-184).
- INCREMENTAL — ``WHERE replication_key >= bookmark`` read + MERGE by PK; new
  bookmark = MAX(replication_key) of the batch
  (/root/reference/singer-connectors/tap-postgres/tap_postgres/sync_strategies/incremental.py;
  bookmark probe fastsync/commons/tap_mysql.py:280-309).
- Partial sync — ``WHERE key BETWEEN start AND end`` + MERGE, optional hard
  delete within range
  (/root/reference/pipelinewise/fastsync/partialsync/mysql_to_snowflake.py).

Scale notes: the source read is declarative, so Catalyst pushes the bookmark
predicate into the scan (parquet row-group pruning / JDBC WHERE). The merge is
one PK-hash shuffle. Nothing here loops over rows on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.functions.masking import apply_transformations
from pipelinewise_spark.operators.dedupe import last_wins_dedupe
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.sdc import add_sdc_columns
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.plans.state import BookmarkStore


def prepare_batch(
    df: DataFrame,
    spec: StreamSpec,
    extracted_at=None,
    batched_at=None,
    seq_col: str | None = None,
) -> DataFrame:
    """Shared record path: select → mask → lineage columns → in-batch dedupe.

    Mirrors the tap|transform|target pipe stages as one Catalyst plan.
    """
    if spec.selected_columns:
        df = df.select(*spec.selected_columns)
    if spec.transformations:
        df = apply_transformations(df, spec.transformations)
    if spec.add_metadata_columns:
        df = add_sdc_columns(df, extracted_at=extracted_at, batched_at=batched_at)
    if spec.primary_keys and seq_col:
        df = last_wins_dedupe(df, spec.primary_keys, seq_col)
    return df


def full_table_sync(
    spark: SparkSession,
    source_df: DataFrame,
    spec: StreamSpec,
    table: ManifestTable,
    state: BookmarkStore | None = None,
    extracted_at=None,
    batched_at=None,
    on_batch: Callable[[DataFrame], None] | None = None,
) -> int:
    """FULL_TABLE: rebuild the target atomically (temp-table + SWAP shape).

    Returns the rows loaded: the new snapshot holds exactly the batch, so
    its footer count is the batch's (no Spark job). ``on_batch`` gets the
    loaded rows, read back from that snapshot (never a second source scan)."""
    batch = prepare_batch(df=source_df, spec=spec, extracted_at=extracted_at,
                          batched_at=batched_at)
    table.overwrite(batch)
    if state is not None:
        # version bookmark ≈ ACTIVATE_VERSION table version
        state.update(
            spec.tap_stream_id, {"version": table.current_manifest_name()}
        )
        state.save()
    if on_batch is not None:
        on_batch(table.read(spark))
    return table.count_rows()


def incremental_sync(
    spark: SparkSession,
    source_df: DataFrame,
    spec: StreamSpec,
    table: ManifestTable,
    state: BookmarkStore,
    extracted_at=None,
    batched_at=None,
    on_batch: Callable[[DataFrame], None] | None = None,
) -> int:
    """INCREMENTAL: read rows with key >= bookmark, MERGE, advance bookmark.

    The reference uses ``>=`` (not ``>``) so the boundary row is re-read and
    re-upserted — idempotent by PK (tap-postgres incremental.py).

    Returns the rows of the batch this run loaded, counted by the same
    aggregate that finds the new bookmark. ``on_batch`` gets that pinned
    batch after the bookmark is saved and before the pin is released.
    """
    key = spec.replication_key
    if not key:
        raise ValueError(f"{spec.tap_stream_id}: INCREMENTAL needs replication_key")
    bookmark = state.get(spec.tap_stream_id, "replication_key_value")
    df = source_df
    if bookmark is not None:
        df = df.filter(F.col(key) >= F.lit(bookmark).cast(df.schema[key].dataType))
    batch = prepare_batch(df, spec, extracted_at=extracted_at, batched_at=batched_at)
    # Pin the batch: the bookmark below must come from the rows actually
    # written, not a second source scan (rows inserted between the two scans
    # would advance the bookmark past data never loaded).
    batch = batch.persist()
    try:
        if spec.primary_keys:
            # a partitioned target merges only the partitions the batch
            # touches — a 0.1 % batch must NOT rewrite 100 % of a 100 TB
            # table; an unpartitioned one rewrites itself copy-on-write.
            # A missing target is created from the batch.
            table.merge(
                spark, batch, spec.primary_keys, hard_delete=spec.hard_delete
            )
        else:
            table.append(batch)

        # Served from the cache populated by the write job above.
        rows_in, new_max = batch.agg(
            F.count(F.lit(1)), F.max(F.col(key))
        ).collect()[0]
        if new_max is not None:
            state.update(
                spec.tap_stream_id,
                {"replication_key": key, "replication_key_value": new_max},
            )
            state.save()
        if on_batch is not None:
            on_batch(batch)
    finally:
        batch.unpersist()
    return rows_in


def partial_sync(
    spark: SparkSession,
    source_df: DataFrame,
    spec: StreamSpec,
    table: ManifestTable,
    start_value: Any,
    end_value: Any | None = None,
    extracted_at=None,
    batched_at=None,
) -> DataFrame:
    """Range resync of rows with start <= key [<= end].

    With primary keys and no ``spec.hard_delete`` the rows MERGE into the
    target (``ManifestTable.merge``, which creates a missing one).
    Otherwise target rows in the range disappear unless the batch
    re-asserts them (reference partial-sync hard-delete-in-range); a
    PK-less stream keeps the same range-resync contract, without
    tombstone semantics. That range replace appends to a missing target
    and otherwise rewrites the table against the manifest it read, so a
    commit landing in between raises CommitConflict."""
    key = spec.replication_key
    if not key:
        raise ValueError(f"{spec.tap_stream_id}: partial sync needs replication_key")
    dtype = source_df.schema[key].dataType
    in_range = F.col(key) >= F.lit(start_value).cast(dtype)
    if end_value is not None:
        in_range = in_range & (F.col(key) <= F.lit(end_value).cast(dtype))
    batch = prepare_batch(source_df.filter(in_range), spec,
                          extracted_at=extracted_at, batched_at=batched_at)

    if spec.primary_keys and not spec.hard_delete:
        table.merge(spark, batch, spec.primary_keys)
    elif not table.exists():
        table.append(batch)
    else:
        base = table.current_manifest_name()
        kept = table.read(spark).filter(~in_range)
        table.overwrite(
            kept.unionByName(batch, allowMissingColumns=True),
            expected_parent=base,
        )
    return table.read(spark)
