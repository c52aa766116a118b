"""SCD Type 2 queries: versioned dimension history from a change batch,
and a point-in-time join of facts against that history.

The reference's targets keep one row per PK and mark deletion with
``_sdc_deleted_at`` (target-snowflake db_sync.py:632-637); SCD2 is the
warehouse layer users build on exactly that feed when they need attribute
history. Both queries drive :mod:`pipelinewise_spark.operators.scd`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.operators.scd import (
    scd2_apply,
    scd2_init,
    scd2_pit_join,
)
from pipelinewise_spark.operators.sdc import SDC_DELETED_AT
from pipelinewise_spark.queries.pipeline import T0, T1
from pipelinewise_spark.queries.registry import register
from pipelinewise_spark.sources.files import read_table

_HIST_COLS = [
    "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
]


def _customer_scd_frames(
    spark: SparkSession, sf_dir: str, t0: str, t1: str
) -> tuple[DataFrame, DataFrame]:
    """(initial current slice, T1 change batch) over ``customer``.

    Change plan at ``t1`` — batch rows are keys %3==0 or %5==0:
    - %15==0 → tombstone (delete)
    - else %3==0 → segment := 'MACHINERY', acctbal += 100 (changed)
    - else (%5==0) → values re-asserted unchanged (must be a NO-OP)
    """
    cust = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cur0 = scd2_init(
        cust.withColumn("_eff", F.lit(t0).cast("timestamp")), "_eff"
    ).drop("_eff")
    chg = (k % 3 == 0) & (k % 15 != 0)
    batch = (
        cust.filter((k % 3 == 0) | (k % 5 == 0))
        .withColumn(
            "c_mktsegment",
            F.when(chg, F.lit("MACHINERY")).otherwise(F.col("c_mktsegment")),
        )
        .withColumn(
            "c_acctbal",
            F.when(chg, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal")),
        )
        .withColumn(
            SDC_DELETED_AT,
            F.when(k % 15 == 0, F.lit(t1).cast("timestamp")),
        )
        .withColumn("_eff", F.lit(t1).cast("timestamp"))
    )
    return cur0, batch


@register(
    "scd2_customer_history",
    oracle=f"""
    WITH closed AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               TIMESTAMP '{T0}' AS valid_from,
               TIMESTAMP '{T1}' AS valid_to,
               FALSE AS is_current
        FROM customer WHERE c_custkey % 3 = 0
    ), opened AS (
        SELECT c_custkey, c_name, c_nationkey,
               c_acctbal + 100.0 AS c_acctbal,
               'MACHINERY' AS c_mktsegment,
               TIMESTAMP '{T1}' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current
        FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 15 <> 0
    ), kept AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               TIMESTAMP '{T0}' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current
        FROM customer WHERE c_custkey % 3 <> 0
    )
    SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    UNION ALL SELECT * FROM kept
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 fold of one change batch over an initial dimension load
    (operators/scd.py:scd2_apply — ONE full-outer PK join, each joined
    row emits carried/closed/opened rows via array+explode; closed
    history is append-only by construction). Re-asserted unchanged rows
    must not version; tombstones close without reopening."""
    cur0, batch = _customer_scd_frames(spark, sf_dir, T0, T1)
    hist = scd2_apply(cur0, batch, ["c_custkey"], "_eff")
    return hist.select(
        *_HIST_COLS,
        F.col("_valid_from").alias("valid_from"),
        F.col("_valid_to").alias("valid_to"),
        F.col("_is_current").alias("is_current"),
    )


_PIT_T0 = "1990-01-01 00:00:00"
_PIT_CUT = "1998-06-01 00:00:00"
_T2 = "2026-03-01 00:00:00"


@register(
    "cdc_stream_scd2_customer",
    oracle=f"""
    WITH c AS (SELECT * FROM customer)
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           TIMESTAMP '{T0}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM c WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           TIMESTAMP '{T0}', TIMESTAMP '{T1}', FALSE
    FROM c WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 10.0, 'W1',
           TIMESTAMP '{T1}',
           CASE WHEN c_custkey % 6 = 0 OR c_custkey % 9 = 0
                THEN TIMESTAMP '{_T2}' END,
           NOT (c_custkey % 6 = 0 OR c_custkey % 9 = 0)
    FROM c WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 30.0, 'W2',
           TIMESTAMP '{_T2}', CAST(NULL AS TIMESTAMP), TRUE
    FROM c WHERE c_custkey % 9 = 0 AND c_custkey % 6 <> 0
    """,
)
def cdc_stream_scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG_BASED replication folded into SCD2 HISTORY as a structured
    stream (streaming/scd.py:run_scd2_stream): three change waves —
    initial load, an update wave, a mixed update/delete wave — each
    drained as multiple checkpointed micro-batches into a (current,
    append-only closed log) pair; the closed increment is epoch-stamped
    so replays can't duplicate history. The oracle is the full version
    chain those waves imply."""
    import os
    import tempfile

    import pyspark.sql.types as T

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.queries.fixturetime import fixture_timer
    from pipelinewise_spark.streaming.scd import (
        read_closed_log,
        run_scd2_stream,
    )
    from pipelinewise_spark.plans.spec import StreamSpec

    payload = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_scd_cdc_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)
        cust = read_table(spark, sf_dir, "customer")
        k = F.col("c_custkey")

        def _wave(df: DataFrame, op, seq_base: int, ts: str) -> DataFrame:
            return df.select(
                op.alias("_op"),
                (k + seq_base).alias("_seq"),
                F.lit(ts).alias("_event_ts"),
                "c_custkey", "c_name", "c_nationkey", "c_acctbal",
                "c_mktsegment",
            )

        waves = [
            _wave(cust, F.lit("c"), 0, T0),
            _wave(
                cust.filter(k % 3 == 0)
                .withColumn("c_mktsegment", F.lit("W1"))
                .withColumn("c_acctbal", F.col("c_acctbal") + 10.0),
                F.lit("u"), 1_000_000_000, T1,
            ),
            _wave(
                cust.filter((k % 6 == 0) | (k % 9 == 0))
                .withColumn("c_mktsegment", F.lit("W2"))
                .withColumn("c_acctbal", F.col("c_acctbal") + 30.0),
                F.when(k % 6 == 0, F.lit("d")).otherwise(F.lit("u")),
                2_000_000_000, _T2,
            ),
        ]
    spec = StreamSpec(
        tap_stream_id="customer", primary_keys=["c_custkey"],
        hard_delete=True,
    )
    current = ManifestTable(os.path.join(tmp, "current"))
    closed_dir = os.path.join(tmp, "closed")
    for w in waves:
        # one delivery wave per bounded run against the SAME checkpoint
        # (file-source bookmark); maxFilesPerTrigger splits each wave
        # into several micro-batches
        w.repartition(4).write.mode("append").json(events_dir)
        run_scd2_stream(
            spark, events_dir,
            T._parse_datatype_string(payload), spec, current, closed_dir,
            checkpoint_dir=os.path.join(tmp, "_checkpoint"),
            max_files_per_trigger=2,
        )
    hist = current.read(spark).unionByName(
        read_closed_log(spark, closed_dir), allowMissingColumns=True
    )
    return hist.select(
        *_HIST_COLS,
        F.col("_valid_from").alias("valid_from"),
        F.col("_valid_to").alias("valid_to"),
        F.col("_is_current").alias("is_current"),
    )


@register(
    "scd2_pit_revenue_by_segment",
    oracle=f"""
    SELECT CASE
             WHEN o.o_custkey % 15 = 0
                  AND o.o_orderdate >= TIMESTAMP '{_PIT_CUT}'
               THEN 'DELETED'
             WHEN o.o_custkey % 3 = 0
                  AND o.o_orderdate >= TIMESTAMP '{_PIT_CUT}'
               THEN 'MACHINERY'
             ELSE c.c_mktsegment
           END AS segment,
           COUNT(*) AS orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def scd2_pit_revenue_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time join: every order picks the customer segment that
    was valid ON ITS OWN order date (operators/scd.py:scd2_pit_join —
    broadcast dim + interval predicate, the fact side never shuffles
    before the aggregate). Customers change segment mid-history and some
    are deleted at the cutover; orders after a delete surface as
    'DELETED' (no valid version → left-join NULL)."""
    cur0, batch = _customer_scd_frames(spark, sf_dir, _PIT_T0, _PIT_CUT)
    k = F.col("c_custkey")
    hist = scd2_apply(
        cur0, batch.filter(k % 3 == 0), ["c_custkey"], "_eff"
    )
    facts = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_totalprice",
        "o_orderdate",
    )
    j = scd2_pit_join(facts, hist, ["c_custkey"], "o_orderdate")
    return j.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("DELETED")).alias("segment")
    ).agg(
        F.count("*").alias("orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("revenue"),
    )
