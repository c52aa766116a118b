"""Pipeline-semantics queries: the reference's replication behaviors as
deterministic, oracle-checkable computations over the driver test tables.

Timestamps are pinned (T0/T1) so results are reproducible; production runs
use current_timestamp() via the same operators.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.operators.dedupe import last_wins_dedupe
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.sync import full_table_sync, incremental_sync
from pipelinewise_spark.plans.spec import ReplicationMethod, StreamSpec
from pipelinewise_spark.plans.state import BookmarkStore
from pipelinewise_spark.functions.masking import apply_transformations
from pipelinewise_spark.queries.registry import register
from pipelinewise_spark.sources.files import read_table

T0 = "2026-01-01 00:00:00"
T1 = "2026-02-01 00:00:00"
_SDC_ORACLE_T0 = (
    f"TIMESTAMP '{T0}' AS _sdc_extracted_at, TIMESTAMP '{T0}' AS _sdc_batched_at, "
    "CAST(NULL AS TIMESTAMP) AS _sdc_deleted_at"
)


# --------------------------------------------------------------- FULL_TABLE
@register(
    "full_table_sync_lineitem",
    oracle=f"""
    SELECT l.*, {_SDC_ORACLE_T0}
    FROM lineitem l
    """,
)
def full_table_sync_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL_TABLE replication of lineitem into a parquet-snapshot target with
    lineage columns and atomic publish (FastSync semantics,
    /root/reference/pipelinewise/fastsync/mysql_to_snowflake.py:85-184)."""
    spec = StreamSpec(
        tap_stream_id="lineitem",
        primary_keys=["l_orderkey", "l_linenumber"],
        replication_method=ReplicationMethod.FULL_TABLE,
    )
    tmp = tempfile.mkdtemp(prefix="pws_full_")
    table = ManifestTable(f"{tmp}/lineitem")
    full_table_sync(
        spark,
        read_table(spark, sf_dir, "lineitem"),
        spec,
        table,
        extracted_at=T0,
        batched_at=T0,
    )
    return table.read(spark)


# -------------------------------------------------------------- INCREMENTAL
_INCR_CUTOFF = "1997-01-01 00:00:00"


@register(
    "incremental_sync_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority,
           CASE WHEN o_orderdate >= TIMESTAMP '{_INCR_CUTOFF}'
                THEN TIMESTAMP '{T1}' ELSE TIMESTAMP '{T0}' END AS _sdc_extracted_at,
           CASE WHEN o_orderdate >= TIMESTAMP '{_INCR_CUTOFF}'
                THEN TIMESTAMP '{T1}' ELSE TIMESTAMP '{T0}' END AS _sdc_batched_at,
           CAST(NULL AS TIMESTAMP) AS _sdc_deleted_at
    FROM orders
    """,
)
def incremental_sync_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step INCREMENTAL replication on orders (key = o_orderdate):
    initial load at T0, then a bookmarked `key >= bookmark` batch at T1 merged
    by PK — the reference's `>=` re-reads the boundary row idempotently
    (tap-postgres sync_strategies/incremental.py).

    Target is a ManifestTable partitioned by o_orderstatus: the T1 batch
    merges partition-pruned — untouched partitions' files carry over by
    reference instead of being rewritten (the 100 TB MERGE path)."""
    src = read_table(spark, sf_dir, "orders")
    spec = StreamSpec(
        tap_stream_id="orders",
        primary_keys=["o_orderkey"],
        replication_method=ReplicationMethod.INCREMENTAL,
        replication_key="o_orderdate",
    )
    tmp = tempfile.mkdtemp(prefix="pws_incr_")
    table = ManifestTable(f"{tmp}/orders", partition_by=["o_orderstatus"])
    state = BookmarkStore(f"{tmp}/state.json")

    # initial historical load (everything before the cutoff), bookmark set
    full_table_sync(
        spark,
        src.filter(F.col("o_orderdate") < F.lit(_INCR_CUTOFF).cast("timestamp")),
        spec,
        table,
        extracted_at=T0,
        batched_at=T0,
    )
    state.update(
        "orders",
        {"replication_key": "o_orderdate", "replication_key_value": _INCR_CUTOFF},
    )
    state.save()

    # incremental run: new/changed rows merged in at T1
    incremental_sync(
        spark, src, spec, table, state, extracted_at=T1, batched_at=T1
    )
    return table.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", "_sdc_extracted_at", "_sdc_batched_at", "_sdc_deleted_at",
    )


# ------------------------------------------------------------ partial sync
_PS_START, _PS_END = "1996-01-01 00:00:00", "1996-12-31 23:59:59"


@register(
    "partial_sync_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice,
           o_orderdate, o_orderpriority,
           CASE WHEN o_orderdate BETWEEN TIMESTAMP '{_PS_START}'
                                     AND TIMESTAMP '{_PS_END}'
                THEN TIMESTAMP '{T1}' ELSE TIMESTAMP '{T0}' END
               AS _sdc_extracted_at,
           CASE WHEN o_orderdate BETWEEN TIMESTAMP '{_PS_START}'
                                     AND TIMESTAMP '{_PS_END}'
                THEN TIMESTAMP '{T1}' ELSE TIMESTAMP '{T0}' END
               AS _sdc_batched_at,
           CAST(NULL AS TIMESTAMP) AS _sdc_deleted_at
    FROM orders
    """,
)
def partial_sync_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial range resync: the 1996 slice is corrupted in the target
    (price zeroed), then re-merged from the source with
    `WHERE key BETWEEN start AND end` (reference partialsync,
    fastsync/partialsync/mysql_to_snowflake.py)."""
    from pipelinewise_spark.operators.sync import partial_sync

    src = read_table(spark, sf_dir, "orders")
    spec = StreamSpec(
        tap_stream_id="orders",
        primary_keys=["o_orderkey"],
        replication_key="o_orderdate",
    )
    tmp = tempfile.mkdtemp(prefix="pws_partial_")
    table = ManifestTable(f"{tmp}/orders")

    corrupted = src.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderdate").between(
                F.lit(_PS_START).cast("timestamp"),
                F.lit(_PS_END).cast("timestamp"),
            ),
            F.lit(0.0),
        ).otherwise(F.col("o_totalprice")),
    )
    full_table_sync(spark, corrupted, spec, table, extracted_at=T0, batched_at=T0)

    out = partial_sync(
        spark, src, spec, table,
        start_value=_PS_START, end_value=_PS_END,
        extracted_at=T1, batched_at=T1,
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", "_sdc_extracted_at", "_sdc_batched_at", "_sdc_deleted_at",
    )


# ------------------------------------------------------------------- dedupe
@register(
    "pk_dedupe_events",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
)
def pk_dedupe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch last-wins dedupe by PK with explicit sequence
    (target buffers dict-keyed by PK: target_snowflake/__init__.py:160-176)."""
    events = read_table(spark, sf_dir, "events")
    out = last_wins_dedupe(events, ["user_id", "event_type"], seq_col="event_id")
    return out.select("user_id", "event_type", "event_id", "ts", "value")


# ------------------------------------------------------------------ masking
@register(
    "mask_transforms_customer",
    oracle="""
    SELECT c_custkey,
           sha256(c_name) AS c_name,
           c_nationkey,
           CAST(0 AS DOUBLE) AS c_acctbal,
           CASE WHEN length(c_mktsegment) > 4
                THEN substr(c_mktsegment, 1, 2)
                     || repeat('*', length(c_mktsegment) - 4)
                     || substr(c_mktsegment, length(c_mktsegment) - 1, 2)
                ELSE repeat('*', length(c_mktsegment)) END AS c_mktsegment
    FROM customer
    """,
)
def mask_transforms_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unconditional masks: HASH, MASK-NUMBER, MASK-STRING-SKIP-ENDS-2
    (transform-field/transform_field/transform.py:147-196)."""
    customer = read_table(spark, sf_dir, "customer")
    return apply_transformations(
        customer,
        [
            {"field_id": "c_name", "type": "HASH"},
            {"field_id": "c_acctbal", "type": "MASK-NUMBER"},
            {"field_id": "c_mktsegment", "type": "MASK-STRING-SKIP-ENDS-2"},
        ],
    ).select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@register(
    "mask_conditional_orders",
    oracle="""
    SELECT o_orderkey,
           make_timestamp(year(o_orderdate), 1, 1, hour(o_orderdate),
                          minute(o_orderdate),
                          CAST(strftime(o_orderdate, '%S.%f') AS DOUBLE)
                          ) AS o_orderdate,
           CASE WHEN o_orderstatus = 'F' THEN 'hidden'
                ELSE o_orderpriority END AS o_orderpriority,
           o_orderstatus,
           CASE WHEN regexp_matches(o_orderstatus, '^[FP]$')
                THEN substr(CAST(o_custkey AS VARCHAR), 1, 2) ||
                     sha256(substr(CAST(o_custkey AS VARCHAR), 3))
                ELSE CAST(o_custkey AS VARCHAR) END AS o_custkey
    FROM orders
    """,
)
def mask_conditional_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional masks (`when` AND-ed equals/regex) + MASK-DATE +
    HASH-SKIP-FIRST-2 (transform.py:12-103, 166-172)."""
    orders = read_table(spark, sf_dir, "orders")
    out = apply_transformations(
        orders,
        [
            {"field_id": "o_orderdate", "type": "MASK-DATE"},
            {
                "field_id": "o_orderpriority",
                "type": "MASK-HIDDEN",
                "when": [{"column": "o_orderstatus", "equals": "F"}],
            },
            {
                "field_id": "o_custkey",
                "type": "HASH-SKIP-FIRST-2",
                "when": [{"column": "o_orderstatus", "regex_match": "^[FP]$"}],
            },
        ],
    )
    return out.select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_orderstatus", "o_custkey"
    )
