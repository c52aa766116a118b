"""The round driver builds a VANILLA SparkSession — none of session.py's
confs. Query paths must therefore self-normalize everything they depend on
(read_table re-pins UTC + parquet-nanos at call time). Round 3 shipped
failures of exactly this class (NTZ timestamps under the driver's session).

This replays the most conf-sensitive prefix queries with the tuned confs
flipped to hostile/driver-default values — wrong timezone, nanos conf off,
200 shuffle partitions, 10 MB broadcast threshold — and still requires
value-exact oracle equality.
"""

from __future__ import annotations

import pytest

from pipelinewise_spark.queries import ORACLES, QUERIES
from tests.oracle import compare

_HOSTILE = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}

# timestamp-instant semantics, streaming/watermarks, Arrow UDFs, windows —
# the paths where a session conf can silently change results
SENSITIVE = [
    "timestamp_clamp_orders",
    "sessionize_events",
    "windowed_event_counts",
    "cdc_stream_apply_orders",
    "kafka_protobuf_events",
    "mongo_change_stream_apply",
    "asof_join_click_purchase",
    "range_join_attribution",
    "monthly_revenue_moving_avg",
    "events_topk_per_user",
    # round 5.2: streaming dedupe round-trips microsecond timestamps
    # through JSON under the session tz; the rank machinery must be
    # partition-count-invariant
    "stream_dedupe_events",
    "exact_quantiles_lineitem",
    "group_quantiles_orders",
    "lang_percentile_filter_documents",
    # round 6: stream_curation round-trips timestamps through JSON and
    # dedupes under a watermark; interpolated quantiles + mixture ride the
    # rank/prefix-sum machinery (partition-count-sensitive); binary source
    # must list/read identically at any maxPartitionBytes
    "stream_curation_ingest_documents",
    "interpolated_quantiles_lineitem",
    "group_interpolated_quantiles_orders",
    "token_budget_mixture_documents",
    "duplicated_span_coverage_documents",
    "excise_duplicated_spans_documents",
    "binary_file_source_documents",
    "bucketed_merge_orders",
    "incremental_join_view_orders",
    "winsorize_order_totals",
    "robust_scale_order_totals",
    "contamination_span_coverage_documents",
    # round 7: the archetypal NTZ-sensitive timestamp-instant queries —
    # their last driver rows were r3 REDS (fixed since by read_table
    # normalization); re-proven here under hostile confs before the r7
    # prefix re-shows them to the driver
    "funnel_click_purchase",
    "session_window_events",
    # round 7 new operators: DV/MOR round-trip o_orderdate timestamps
    # through parquet partitions + anti-join under a hostile tz and a
    # 10 MB broadcast threshold; ccnet rides the rank machinery
    # (partition-count-sensitive); temperature's cross-multiplied
    # decimals and dsir/semantic joins must survive 200 shuffle
    # partitions + broadcast-threshold changes
    "dv_delete_orders",
    "merge_on_read_orders",
    # r7 table verbs: same DV/MOR timestamp-round-trip class, plus the
    # CDF's per-commit plans and the commit-stamp as-of resolution;
    # shuffle_shards rides the partition-count-sensitive rank machinery
    "shuffle_shards_documents",
    "medallion_cdc_gold_orders",
    "update_where_orders",
    "table_changes_orders",
    "rollback_orders",
    "cdf_incremental_mv_orders",
    "time_travel_as_of_orders",
    "cdc_stream_mor_orders",
    "star_rollup_revenue_by_nation",
    "gap_fill_daily_revenue",
    "epoch_upsample_documents",
    "mv_rewrite_orders",
    "ccnet_perplexity_buckets_documents",
    "dsir_weights_documents",
    "semantic_dedup_embeddings",
    "temperature_sample_documents",
    # round 7 continuation: SCD2 compares fact timestamps against
    # validity-interval literals — the exact boundary class a hostile tz
    # shifts; the history fold's struct checksum must also be
    # broadcast/shuffle-conf-invariant
    "scd2_customer_history",
    "scd2_pit_revenue_by_segment",
    # WAP round-trips a partitioned ManifestTable merge + the one-pass
    # expectations aggregate under hostile shuffle/broadcast confs
    "wap_publish_orders",
    "expectations_report_orders",
    # streaming SCD2 round-trips event timestamps through JSON and folds
    # under the checkpointed file-source bookmark — the NTZ/tz class
    "cdc_stream_scd2_customer",
    # hidden partitioning derives month dirs via date_format (session-tz
    # dependent) and compares raw timestamps against range literals
    "hidden_partition_prune_orders",
    # round 8: the Arrow-kernel ANN family (pandas_udf batch shapes under
    # driver-default Arrow confs + 200 shuffle partitions), the
    # applyInPandas greedy (MMR), the rank-machinery drift bounds, the
    # date_trunc/dayofweek seasonal series and epoch-ms freshness lags
    # (the session-tz class), and the sha256-checksum reconciliation
    # whose canonical strings embed date casts
    "embedding_pq_topk",
    "mmr_diversified_topk_embeddings",
    "kmeans_embeddings",
    "distribution_drift_orders",
    "seasonal_anomaly_daily_events",
    "freshness_report_events",
    "reconcile_report_orders",
    "reconcile_diff_orders",
    "holt_forecast_daily_events",
    # NB classifier: micro-log integer scoring + broadcast likelihood
    # joins must survive 200 shuffle partitions / broadcast threshold
    "nb_langid_documents",
    # decontamination rounds cross-engine cosines; the text index derives
    # avgdl by IEEE division and prunes by crc32 bucket dirs
    "semantic_decontaminate_embeddings",
    "text_index_search_documents",
    # FK/source gates ride broadcast joins + exact-ratio compares that
    # must survive a 10 MB broadcast threshold and 200 shuffle partitions
    "fk_integrity_orders",
    "source_reputation_filter_documents",
]


@pytest.fixture()
def hostile_spark(spark):
    old: dict[str, str | None] = {}
    for k, v in _HOSTILE.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", SENSITIVE)
def test_query_exact_under_hostile_session_confs(hostile_spark, sf_dir, name):
    compare(hostile_spark, name, QUERIES[name], ORACLES[name], sf_dir)


def test_entry_applies_runtime_conf(spark, monkeypatch):
    """Every ``session.RUNTIME_CONF`` key reaches a session that did not
    come from ``get_spark``: SQL confs through ``spark.conf``, the
    ``spark.hadoop.*`` keys through the Hadoop configuration."""
    import __spark_entry__ as entry
    from pipelinewise_spark.session import RUNTIME_CONF

    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    sql_keys = [k for k in RUNTIME_CONF if not k.startswith("spark.hadoop.")]
    hadoop_keys = [
        k[len("spark.hadoop."):] for k in RUNTIME_CONF
        if k.startswith("spark.hadoop.")
    ]
    assert sql_keys and hadoop_keys
    # flip every key away from the engine value, as a vanilla session has it
    for k in sql_keys:
        spark.conf.unset(k)
    for k in hadoop_keys:
        hadoop.unset(k)
    monkeypatch.setattr(entry, "QUERIES", {"probe": lambda s, sf: s.range(1)})
    entry.queries()["probe"](spark, "")
    for k in sql_keys:
        assert spark.conf.get(k) == RUNTIME_CONF[k], k
    for k in hadoop_keys:
        assert hadoop.get(k) == RUNTIME_CONF["spark.hadoop." + k], k
