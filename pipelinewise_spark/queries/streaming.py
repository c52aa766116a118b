"""Streaming/CDC queries: a genuine Structured Streaming CDC apply whose end
state is SQL-expressible, plus the tap-kafka record shape with offset seek.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.partitioning import (
    dir_bytes,
    local_frame,
    state_sized_shuffle,
)
from pipelinewise_spark.operators.sdc import add_sdc_columns
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.queries.fixturetime import fixture_timer
from pipelinewise_spark.queries.pipeline import T0, T1
from pipelinewise_spark.queries.registry import register
from pipelinewise_spark.sources.files import read_table
from pipelinewise_spark.streaming.bounded import await_bounded
from pipelinewise_spark.streaming.cdc import run_cdc_stream
from pipelinewise_spark.streaming.kafka import seek_offsets, to_kafka_records

_ORDERS_PAYLOAD = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)

# change plan: d if key%7==0; u (+1000 totalprice) if key%2==0; else c (same
# values re-asserted). All events at T1 over a T0 full load.
_CDC_CASE = f"""
    CASE WHEN o_orderkey % 7 = 0 THEN TIMESTAMP '{T1}'
         ELSE CAST(NULL AS TIMESTAMP) END AS _sdc_deleted_at
"""


def _orders_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("d"))
        .when(F.col("o_orderkey") % 2 == 0, F.lit("u"))
        .otherwise(F.lit("c"))
        .alias("_op"),
        F.col("o_orderkey").alias("_seq"),
        F.lit(T1).alias("_event_ts"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(
            (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 2 == 0),
            F.col("o_totalprice") + 1000.0,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


@register(
    "cdc_stream_apply_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 2 = 0
                THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority,
           TIMESTAMP '{T1}' AS _sdc_extracted_at,
           TIMESTAMP '{T1}' AS _sdc_batched_at,
           {_CDC_CASE}
    FROM orders
    """,
)
def cdc_stream_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG_BASED replication end-to-end through Structured Streaming: a T0
    full load, then a JSONL change-event stream (creates/updates/deletes at
    T1) consumed with readStream → foreachBatch MERGE under Trigger.
    AvailableNow with a checkpoint bookmark. Soft-delete semantics."""
    import pyspark.sql.types as T

    # fixture: T0 load + writing the JSONL change stream (the transport;
    # Kafka/Debezium in prod). The operator under test starts at
    # run_cdc_stream below — bench attributes this region separately.
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_cdc_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)

        spec = StreamSpec(
            tap_stream_id="orders", primary_keys=["o_orderkey"],
            hard_delete=False,
        )
        table = ManifestTable(os.path.join(tmp, "orders"))

        # T0 full load
        orders = read_table(spark, sf_dir, "orders")
        table.overwrite(add_sdc_columns(orders, extracted_at=T0, batched_at=T0))

        # repartition, not coalesce: coalesce(4) folds the upstream scan
        # into 4 tasks AND leaves the streamed JSON parse 4-way parallel —
        # on 32 cores that serialized the whole query (measured 6.4s->2.4s)
        n = min(32, spark.sparkContext.defaultParallelism)
        _orders_cdc_events(spark, sf_dir).repartition(n).write.mode(
            "overwrite"
        ).json(events_dir)

    payload = T._parse_datatype_string(_ORDERS_PAYLOAD)
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=os.path.join(tmp, "_checkpoint"),
    )
    return table.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        "_sdc_extracted_at", "_sdc_batched_at", "_sdc_deleted_at",
    )


@register(
    "cdc_stream_mv_orders",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(ROUND(SUM(CAST(
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS DECIMAL(28,6))), 6)
                AS DECIMAL(28,6)) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderstatus
    """,
)
def cdc_stream_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup maintenance (streaming/mv.py): the CDC stream from
    cdc_stream_apply_orders replayed as TWO micro-batches
    (maxFilesPerTrigger=8 over 16 files), with a revenue-by-status rollup
    folded forward per batch from the change feed alone — the base table is
    scanned once at T0 and never again. The oracle recomputes the aggregate
    over the final LIVE state (deletes excluded, updates applied): the
    incremental folds must land exactly on the full recompute,
    decimal-exact."""
    import pyspark.sql.types as T

    from pipelinewise_spark.streaming.mv import StreamingRollup

    # fixture: T0 load + rollup init + writing the change stream; the
    # operator (per-batch incremental fold) starts at run_cdc_stream
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_cdcmv_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)

        spec = StreamSpec(
            tap_stream_id="orders", primary_keys=["o_orderkey"],
            hard_delete=False,
        )
        table = ManifestTable(os.path.join(tmp, "orders"))
        orders = read_table(spark, sf_dir, "orders")
        table.overwrite(add_sdc_columns(orders, extracted_at=T0, batched_at=T0))

        rollup = StreamingRollup(
            ManifestTable(os.path.join(tmp, "orders_mv")),
            keys=["o_orderstatus"],
            sums={"total_price": "o_totalprice"},
        )
        rollup.initialize(table.read(spark))

        # 16 files at 8/trigger keeps the TWO-micro-batch shape this query
        # exists to exercise while each batch parses 8-way (repartition, not
        # coalesce — see cdc_stream_apply_orders)
        _orders_cdc_events(spark, sf_dir).repartition(16).write.mode(
            "overwrite"
        ).json(events_dir)
    payload = T._parse_datatype_string(_ORDERS_PAYLOAD)
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=os.path.join(tmp, "_checkpoint"),
        max_files_per_trigger=8,
        rollup=rollup,
    )
    return rollup.read(spark).select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("total_price"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("total_price"),
    )


@register(
    "kafka_records_events",
    oracle="""
    WITH rec AS (
        SELECT props AS message,
               CAST(user_id % 4 AS INTEGER) AS message_partition,
               CAST(row_number() OVER (
                   PARTITION BY user_id % 4 ORDER BY event_id) - 1 AS BIGINT)
                   AS message_offset,
               epoch_ms(ts) AS message_timestamp,
               json_extract_string(props, '$.k') AS pk
        FROM events)
    SELECT message, message_partition, message_offset, message_timestamp, pk
    FROM rec
    WHERE message_offset >= 100
    """,
)
def kafka_records_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tap-kafka record shape (message/partition/offset/timestamp + JSON-path
    PK) over the events table, with a per-partition offset-seek bookmark
    (resume from offset 100 on every partition)."""
    events = read_table(spark, sf_dir, "events")
    records = to_kafka_records(
        events,
        message_col="props",
        partition_by=F.col("user_id") % 4,
        order_by=F.col("event_id"),
        timestamp_col="ts",
        primary_key_path="k",
    )
    return seek_offsets(records, offsets={p: 100 for p in range(4)})


_EVENT_PROTO = """
syntax = "proto3";
message Ev {
  int64 event_id = 1;
  int64 user_id = 2;
  string event_type = 3;
  double value = 4;
  string props = 5;
  int64 ts_us = 6;
}
"""


@register(
    "kafka_protobuf_events",
    oracle="""
    SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us
    FROM events
    """,
)
def kafka_protobuf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tap-kafka ``message_format: protobuf``: events rows are serialized as
    Confluent-framed protobuf messages (producer fixture), then deserialized
    back to a typed struct — the reference compiles the configured
    ``proto_schema`` with protoc and decodes to dicts
    (tap-kafka/tap_kafka/serialization/protobuf.py); here the .proto text is
    parsed directly and the wire decode runs as an Arrow-batched pandas UDF
    feeding JVM-side ``from_json`` (streaming/serialization.py). The oracle
    checks full-fidelity round-trip against the source table."""
    from pipelinewise_spark.streaming.serialization import (
        from_protobuf_auto,
        protobuf_encode,
    )

    from pipelinewise_spark.partitioning import local_frame, spread

    # single-split parquet would pin both Arrow UDF passes to one core
    events = spread(read_table(spark, sf_dir, "events"))
    src = events.select(
        "event_id", "user_id", "event_type", "value", "props",
        F.unix_micros("ts").alias("ts_us"),
    )
    encoded = protobuf_encode(src, _EVENT_PROTO, confluent=True)
    decoded = encoded.select(
        # runtime dispatch: native from_protobuf if the jar ever ships,
        # Arrow codec today (Confluent framing forces the codec path)
        from_protobuf_auto(
            F.col("message"), _EVENT_PROTO, confluent=True, spark=spark
        ).alias("m")
    )
    return decoded.select("m.*")


@register(
    "kafka_json_payload_events",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def kafka_json_payload_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tap-kafka ``message_format: json``: schema'd JSON payload parsing via
    ``from_json`` — fully JVM-side, the Spark twin of
    serialization/json_with_no_schema.py."""
    from pipelinewise_spark.streaming.serialization import from_json_payload

    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id", from_json_payload(F.col("props"), "k int").alias("p")
    ).select("event_id", F.col("p.k").alias("k"))


@register(
    "mongo_change_stream_apply",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source, n_chars,
               lpad(lower(to_hex(doc_id)), 24, '0') AS _id,
               strftime(epoch_ms(1704067200000 + doc_id * 1000),
                        '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS at
        FROM documents)
    SELECT _id,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE '{{"_id": "' || _id || '", "at": "' || at ||
                     '", "lang": "' ||
                     CASE WHEN doc_id % 2 = 0 THEN 'xx' ELSE lang END ||
                     '", "n_chars": ' || n_chars ||
                     ', "source": "' || source || '"}}'
           END AS document,
           CASE WHEN doc_id % 7 = 0 THEN TIMESTAMP '{T1}'
                ELSE CAST(NULL AS TIMESTAMP) END AS _sdc_deleted_at
    FROM d
    """,
)
def mongo_change_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB change-stream CDC end-to-end (tap-mongodb
    change_streams.py:73-226): a T0 full export (FastSync Mongo shape —
    ``_id`` + serialized document, fastsync/commons/tap_mongodb.py:239-456),
    then insert/update/delete change events whose ``fullDocument`` goes
    through the Extended-JSON normalizer, applied by ``_id`` MERGE under a
    checkpointed bounded stream. Deletes carry no fullDocument (the change
    stream contract) → document NULL + ``_sdc_deleted_at``; the reference's
    update-buffer+re-fetch collapses into last-wins dedupe within the
    micro-batch."""
    import pyspark.sql.types as T

    from pipelinewise_spark.queries.ops import documents_ext_json
    from pipelinewise_spark.sources.mongo import normalize_documents

    # fixture: T0 export/load + synthesizing the change-event JSONL
    with fixture_timer():
        docs = read_table(spark, sf_dir, "documents")
        tmp = tempfile.mkdtemp(prefix="pws_mongo_cdc_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)
        spec = StreamSpec(
            tap_stream_id="mongo_documents", primary_keys=["_id"], hard_delete=False
        )
        table = ManifestTable(os.path.join(tmp, "documents"))

        # T0 full export/load: _id + serialized document
        base = normalize_documents(documents_ext_json(docs), "doc")
        table.overwrite(add_sdc_columns(base, extracted_at=T0, batched_at=T0))

        # change events at T1: d (no fullDocument) / u (lang -> 'xx') / c
        updated = normalize_documents(
            documents_ext_json(docs, lang=F.lit("xx")), "doc"
        )
        ids = docs.select(
            F.lower(F.lpad(F.hex("doc_id"), 24, "0")).alias("_id"),
            F.col("doc_id"),
        )
        op = (
            F.when(F.col("doc_id") % 7 == 0, F.lit("d"))
            .when(F.col("doc_id") % 2 == 0, F.lit("u"))
            .otherwise(F.lit("c"))
        )
        base_doc = base.withColumnRenamed("document", "__doc0")
        upd_doc = updated.withColumnRenamed("document", "__doc1")
        events = (
            ids.join(base_doc, "_id").join(upd_doc, "_id")
            .select(
                op.alias("_op"),
                F.col("doc_id").alias("_seq"),
                F.lit(T1).alias("_event_ts"),
                "_id",
                F.when(op == "d", F.lit(None))
                .when(op == "u", F.col("__doc1"))
                .otherwise(F.col("__doc0"))
                .alias("document"),
            )
        )
        # repartition, not coalesce: coalesce(4) would fold the two joins above
        # into 4 tasks (see cdc_stream_apply_orders)
        events.repartition(16).write.mode("overwrite").json(events_dir)

    payload = T._parse_datatype_string("_id string, document string")
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=os.path.join(tmp, "_checkpoint"),
    )
    return table.read(spark).select("_id", "document", "_sdc_deleted_at")


@register(
    "stream_stream_join_attribution",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
           epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (streaming/joins.py): clicks
    and purchases are two live streams; each purchase matches prior clicks
    by the same user within 2 hours. Both sides watermarked + both-sided
    time bounds in the condition, so join state is evicted past
    (watermark + interval) — bounded memory at any throughput. Run bounded
    with Trigger.AvailableNow into a memory sink (prod: kafka/parquet sink);
    the streamed result equals the batch inequality join, which is the
    oracle."""
    import uuid

    from pipelinewise_spark.streaming.joins import interval_join

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    # fixture: materializing the source stream as parquet
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_ssj_")
        src = os.path.join(tmp, "src")
        events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join(
        clicks, purchases, ("user_id", "p_user"),
        "click_ts", "purchase_ts", upper="2 hours", watermark="2 hours",
    ).select(
        "user_id", "click_id", "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "delay_us"
        ),
    )
    sink = f"pws_ssj_{uuid.uuid4().hex[:8]}"
    # state-heavy streaming sizes shuffle partitions to STATE volume, not
    # CPU count (partitioning.state_sized_shuffle): every partition
    # opens+commits a state store per side per batch
    with state_sized_shuffle(spark, dir_bytes(src)):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q)
    return spark.table(sink)


@register(
    "stream_dedupe_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_dedupe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup on ingest (streaming/windows.py:
    streaming_dedupe → ``dropDuplicatesWithinWatermark``): the events table
    plus one exact duplicate of every third event arrive as a JSONL stream
    split over multiple micro-batches; duplicate event_ids are dropped by
    bounded watermark state — including duplicates arriving in a LATER
    micro-batch than the original, which is what distinguishes stateful
    streaming dedup from per-batch dropDuplicates. The fixture horizon is
    effectively infinite so the end state is exact; in production the
    horizon bounds state at (keys per watermark window), the only
    state-size contract that survives an unbounded 100 TB/day stream."""
    import pyspark.sql.types as T

    from pipelinewise_spark.streaming.windows import streaming_dedupe

    # fixture: writing the duplicated JSONL stream input
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_sdedup_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)

        # default JSON timestampFormat truncates to milliseconds; events carry
        # microsecond precision, so pin the format on both sides
        ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        events = read_table(spark, sf_dir, "events")
        n = min(32, spark.sparkContext.defaultParallelism)
        events.repartition(n).write.mode("append").option(
            "timestampFormat", ts_fmt
        ).json(src)
        # exact duplicates of every third event, as separate files so many land
        # in later micro-batches than their originals
        events.filter(F.col("event_id") % 3 == 0).repartition(8).write.mode(
            "append"
        ).option("timestampFormat", ts_fmt).json(src)

    payload = T._parse_datatype_string(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(payload)
        .option("maxFilesPerTrigger", 16)
        .option("timestampFormat", ts_fmt)
        .json(src)
    )
    deduped = streaming_dedupe(
        stream, ["event_id"], ts_col="ts", watermark="3650 days"
    )
    out = os.path.join(tmp, "out")
    # dedup state is keys-per-horizon-sized: width tracks state volume,
    # not cores (partitioning.state_sized_shuffle)
    with state_sized_shuffle(spark, dir_bytes(src)):
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q)
    return spark.read.schema(payload).parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


_DOC_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


@register(
    "stream_curation_ingest_documents",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, text, {_DOC_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, lang, text, toks,
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   AS grams
        FROM tok),
    s AS (
        SELECT doc_id, lang,
               CAST(len(toks) AS BIGINT) AS n_words,
               round(list_sum(list_transform(toks,
                         t -> CAST(length(t) AS DOUBLE))) / len(toks), 6)
                   AS mean_word_len,
               round(CAST(len(regexp_extract_all(text, '[#…]')) AS DOUBLE)
                     / len(toks), 6) AS symbol_ratio,
               round(CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                     / len(toks), 6) AS alpha_frac,
               round(CASE WHEN len(grams) > 0
                          THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                               / len(grams)
                          ELSE 0.0 END, 6) AS dup_3gram_frac
        FROM g)
    SELECT doc_id, lang, n_words
    FROM s
    WHERE (n_words BETWEEN 50 AND 100000)
      AND (mean_word_len BETWEEN 3.0 AND 10.0)
      AND (symbol_ratio < 0.1) AND (alpha_frac > 0.8)
      AND (dup_3gram_frac < 0.3)
    """,
)
def stream_curation_ingest_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING curation at ingest: the corpus arrives as a JSONL stream
    with every third document re-delivered in LATER micro-batches
    (at-least-once transport); one streaming plan applies the Gopher
    quality gate (pure Column expressions — identical code to the batch
    path) and exact dedup under bounded watermark state
    (``dropDuplicatesWithinWatermark``), so only quality-passing, unique
    documents ever land. The streamed end state must equal the batch
    Gopher filter over the unique corpus — the stream≡batch contract that
    makes a 100 TB/day ingest auditable. Per-batch cost is batch-sized;
    dedup state is bounded by keys-per-watermark-horizon."""
    import pyspark.sql.types as T

    from pipelinewise_spark.functions.text import gopher_stats, tokens
    from pipelinewise_spark.streaming.windows import streaming_dedupe

    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_scur_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang",
            F.timestamp_add(
                "SECOND", F.col("doc_id").cast("int"),
                F.lit("2026-01-01 00:00:00").cast("timestamp"),
            ).alias("ts"),
        )
        # 8+4 source files with maxFilesPerTrigger=8 forces the
        # re-deliveries into a LATER micro-batch (the cross-batch dedup
        # contract under test) while keeping per-batch task counts
        # proportionate to the corpus — 32 tiny json scan tasks per
        # batch were pure scheduler overhead at bench scale
        docs.repartition(8).write.mode("append").option(
            "timestampFormat", ts_fmt
        ).json(src)
        # re-deliveries land as separate files -> later micro-batches
        docs.filter(F.col("doc_id") % 3 == 0).repartition(4).write.mode(
            "append"
        ).option("timestampFormat", ts_fmt).json(src)

    payload = T._parse_datatype_string(
        "doc_id long, text string, lang string, ts timestamp"
    )
    stream = (
        spark.readStream.schema(payload)
        .option("maxFilesPerTrigger", 8)
        .option("timestampFormat", ts_fmt)
        .json(src)
    )
    toks = tokens(F.col("text"))
    stats = gopher_stats(F.col("text"), toks=F.col("__toks"))
    filtered = (
        stream.withColumn("__toks", toks)
        .withColumn(
            "__keep",
            (stats["n_words"].between(50, 100_000))
            & (stats["mean_word_len"].between(3.0, 10.0))
            & (stats["symbol_ratio"] < 0.1)
            & (stats["alpha_frac"] > 0.8)
            & (stats["dup_3gram_frac"] < 0.3),
        )
        .filter(F.col("__keep"))
        .select(
            "doc_id", "lang", stats["n_words"].alias("n_words"), "ts"
        )
    )
    deduped = streaming_dedupe(
        filtered, ["doc_id"], ts_col="ts", watermark="3650 days"
    )
    out = os.path.join(tmp, "out")
    # dedup state tracks keys-per-horizon: width follows state volume,
    # not cores (partitioning.state_sized_shuffle)
    with state_sized_shuffle(spark, dir_bytes(src)):
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q)
    return spark.read.schema(
        "doc_id long, lang string, n_words long, ts timestamp"
    ).parquet(out).select("doc_id", "lang", "n_words")


def _stream_index_dedup_oracle() -> str:
    """Banded-LSH pairs under the STREAMED ingest order: micro-batch 1
    (doc_id % 10 = 5) probes the T0 index (% 10 NOT IN (0, 5)); the index
    then absorbs batch 1, so micro-batch 2 (% 10 = 0) probes % 10 <> 0."""
    from pipelinewise_spark.queries.llmdata import _minhash_oracle

    base = _minhash_oracle(0.3)
    return base.replace(
        """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id""",
        """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b
          ON a.band_key = b.band_key AND a.doc_id <> b.doc_id
        WHERE (b.doc_id % 10 = 5 AND a.doc_id % 10 NOT IN (0, 5))
           OR (b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0)""",
    )


@register(
    "stream_ingest_dedup_index_documents",
    oracle=_stream_index_dedup_oracle(),
)
def stream_ingest_dedup_index_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING ingest dedup against the PERSISTED standing index — the
    daemon loop every curation pipeline runs at ingest, as one structured
    stream: each micro-batch (a) probes the standing MinHash-LSH index
    for near-dups (functions/dedup.py:minhash_lsh_pairs_against_index —
    batch × collision-rate cost, the corpus never self-pairs), emits the
    flagged pairs, then (b) is ADMITTED into the index
    (extend_lsh_index), so every later batch dedups against it. Two
    checkpointed availableNow runs deliver two ordered micro-batches
    (%10==5, then %10==0); the accumulated pairs must equal the DuckDB
    banding oracle evaluated under exactly that ingest order — the
    stream ≡ batch contract for a stateful-index daemon. (Index appends
    are not retry-idempotent here; a production daemon stamps batchId
    into fragment paths the way the CDC sink stamps epochs.)"""
    import pipelinewise_spark.functions.dedup as D

    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_sidx_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        idx = os.path.join(tmp, "idx")
        D.build_lsh_index(
            docs.filter((F.col("doc_id") % 10 != 0)
                        & (F.col("doc_id") % 10 != 5)),
            idx, "doc_id", "text",
        )
    out = os.path.join(tmp, "pairs")

    def _probe_then_extend(batch: DataFrame, batch_id: int) -> None:
        pairs = D.minhash_lsh_pairs_against_index(
            batch.sparkSession, idx, batch, threshold=0.3
        )
        pairs.write.mode("append").parquet(out)
        D.extend_lsh_index(batch, idx)

    def _run(filter_expr) -> None:
        # one delivery wave per run: write the wave's files, then drain
        # with availableNow against the SAME checkpoint (file-source
        # bookmark) so each run sees only its new files
        docs.filter(filter_expr).repartition(4).write.mode("append").json(
            src
        )
        stream = spark.readStream.schema("doc_id long, text string").json(
            src
        )
        q = (
            stream.writeStream.foreachBatch(_probe_then_extend)
            .option(
                "checkpointLocation", os.path.join(tmp, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q)

    _run(F.col("doc_id") % 10 == 5)
    _run(F.col("doc_id") % 10 == 0)
    return spark.read.schema(
        "id_a long, id_b long, jaccard double"
    ).parquet(out)


@register(
    "cdc_stream_mor_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0
                THEN o_totalprice + 1000.0 ELSE o_totalprice END
               AS o_totalprice,
           o_orderdate, o_orderpriority,
           TIMESTAMP '{T1}' AS _sdc_extracted_at,
           TIMESTAMP '{T1}' AS _sdc_batched_at
    FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def cdc_stream_mor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG_BASED replication with the MERGE-ON-READ apply strategy
    (streaming/cdc.py merge_strategy option -> manifest_table.py:
    merge_on_read): the same change stream as cdc_stream_apply_orders
    consumed over MULTIPLE micro-batches against a partitioned
    ManifestTable — each batch appends its rows as new files and
    deletion-vectors what it supersedes (T0 files are never rewritten;
    the in-query assert pins that), with hard deletes landing as pure
    position-vectors. The oracle is plain MERGE + hard-delete semantics
    over the base table."""
    import pyspark.sql.types as T

    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_mor_cdc_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)

        spec = StreamSpec(
            tap_stream_id="orders", primary_keys=["o_orderkey"],
            hard_delete=True,
            options={"merge_strategy": "merge_on_read"},
        )
        table = ManifestTable(
            os.path.join(tmp, "orders"), ["o_orderpriority"]
        )
        orders = read_table(spark, sf_dir, "orders")
        table.overwrite(
            add_sdc_columns(orders, extracted_at=T0, batched_at=T0)
        )
        n = min(32, spark.sparkContext.defaultParallelism)
        _orders_cdc_events(spark, sf_dir).repartition(n).write.mode(
            "overwrite"
        ).json(events_dir)

    t0_files = set(e["path"] for e in table._load_manifest()["files"])
    payload = T._parse_datatype_string(_ORDERS_PAYLOAD)
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=os.path.join(tmp, "_checkpoint"),
        max_files_per_trigger=16,
    )
    live = set(e["path"] for e in table._load_manifest()["files"])
    assert t0_files <= live, "MOR apply must never rewrite T0 files"
    return table.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        "_sdc_extracted_at", "_sdc_batched_at",
    )


@register(
    "medallion_cdc_gold_orders",
    oracle="""
    WITH silver AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                AS DECIMAL(28,6)) AS DOUBLE) AS revenue
    FROM silver GROUP BY o_orderstatus
    """,
)
def medallion_cdc_gold_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full medallion loop in one oracle-checked unit: a LOG_BASED
    change stream (bronze) applies MERGE-ON-READ micro-batches to a
    partitioned ManifestTable (silver — T0 files never rewritten), and
    a downstream TableChangeConsumer reads the silver table's OWN
    change feed from a durable version bookmark to fold the gold
    revenue-by-status rollup forward (streaming/cdc.py →
    manifest_table.py:merge_on_read → changes_between →
    incremental_agg.py:apply_change_feed). One poll spans every MOR
    commit the stream produced — per-commit row events, batch-sized
    fold, neither silver snapshot re-read. The oracle recomputes gold
    from MERGE + hard-delete semantics over the base table. Each layer
    is separately driver-checked (cdc_stream_mor_orders,
    cdf_follow_mv_orders); this query pins their composition —
    the lakehouse pipeline the engine exists for."""
    import pyspark.sql.types as T

    from pipelinewise_spark.operators.incremental_agg import (
        apply_change_feed,
        build_aggregate,
    )
    from pipelinewise_spark.streaming.table_feed import TableChangeConsumer

    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_medal_")
        events_dir = os.path.join(tmp, "events")
        os.makedirs(events_dir)
        spec = StreamSpec(
            tap_stream_id="orders", primary_keys=["o_orderkey"],
            hard_delete=True,
            options={"merge_strategy": "merge_on_read"},
        )
        silver = ManifestTable(
            os.path.join(tmp, "orders"), ["o_orderpriority"]
        )
        orders = read_table(spark, sf_dir, "orders")
        silver.overwrite(
            add_sdc_columns(orders, extracted_at=T0, batched_at=T0)
        )
        n = min(32, spark.sparkContext.defaultParallelism)
        _orders_cdc_events(spark, sf_dir).repartition(n).write.mode(
            "overwrite"
        ).json(events_dir)

    # gold initialized from silver v1; consumer bookmarked at v1
    consumer = TableChangeConsumer(silver, os.path.join(tmp, "gold_state"))
    gold = build_aggregate(
        silver.read(spark, version=1),
        ["o_orderstatus"], {"revenue": "o_totalprice"},
        count_col="n_orders",
    )
    run_cdc_stream(
        spark, events_dir, T._parse_datatype_string(_ORDERS_PAYLOAD),
        spec, silver,
        checkpoint_dir=os.path.join(tmp, "_checkpoint"),
        max_files_per_trigger=16,
    )
    polled = consumer.poll(spark)
    assert polled is not None
    feed, head = polled
    assert head >= 2, "the stream must have produced MOR commits"
    is_del = F.col("_change_type") == "delete"
    changes = feed.select(
        F.when(is_del, F.lit("d")).otherwise(F.lit("i")).alias("op"),
        F.when(is_del, F.col("o_orderstatus")).alias("old_o_orderstatus"),
        F.when(is_del, F.col("o_totalprice")).alias("old_o_totalprice"),
        F.when(~is_del, F.col("o_orderstatus")).alias("new_o_orderstatus"),
        F.when(~is_del, F.col("o_totalprice")).alias("new_o_totalprice"),
    )
    gold = apply_change_feed(
        gold, changes, ["o_orderstatus"], {"revenue": "o_totalprice"},
        count_col="n_orders",
    )
    consumer.commit(head)
    assert consumer.poll(spark) is None
    return gold.select(
        "o_orderstatus",
        "n_orders",
        F.round(F.col("revenue"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("revenue"),
    )


@register(
    "stream_ohlc_bars_events",
    oracle="""
    WITH ranked AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS bar_date,
               value,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
    SELECT event_type, bar_date,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events,
           CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 6)
                AS DECIMAL(18,6)) AS DOUBLE) AS total_value
    FROM ranked GROUP BY 1, 2
    """,
)
def stream_ohlc_bars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ohlc_daily_events: the event stream arrives in
    multiple micro-batches (file order ≠ time order, so batches carry
    out-of-order data) and each batch folds into a bars table through the
    MERGEABLE bar state of streaming/bars.py — open/close carry their
    (ts, id) ordering key inside the state struct, making the combine
    associative and commutative: no watermark, no unemittable final bar,
    late data folds into an already-published bar instead of being
    dropped. End state must equal the batch aggregate (the oracle)."""
    import uuid

    from pipelinewise_spark.streaming.bars import (
        bar_partials,
        finalize_bars,
        merge_bars,
    )

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # fixture: the source stream, deliberately NOT time-ordered — files
    # are hash-partitioned so every micro-batch spans many days
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_ohlc_")
        src = os.path.join(tmp, "src")
        events.repartition(6).write.mode("overwrite").parquet(src)

    bars = ManifestTable(os.path.join(tmp, "bars"))
    keys = ["event_type", "bar_date"]

    def fold(batch: DataFrame, _bid: int) -> None:
        partial = bar_partials(
            batch, "ts", "event_id", "value", ["event_type"]
        )
        merged = (
            merge_bars(bars.read(batch.sparkSession), partial, keys)
            if bars.exists()
            else partial
        )
        bars.overwrite(merged)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
        .trigger(availableNow=True)
        .queryName(f"pws_ohlc_{uuid.uuid4().hex[:8]}")
        .start()
    )
    await_bounded(q)
    return finalize_bars(bars.read(spark), keys)


@register(
    "stream_running_totals_events",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY user_id
    """,
)
def stream_running_totals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end
    (streaming/windows.py:running_user_totals — ``applyInPandasWithState``,
    Arrow-batched per-group pandas frames, GroupState surviving across
    micro-batches): the event stream arrives in 3 checkpointed
    micro-batches; each batch the touched users emit their updated
    running totals in update mode.  Counts and (positive) sums are
    monotone, so the per-user MAX over all emissions is the final state
    — which must equal the batch aggregate (the oracle).  The 4-decimal
    round absorbs accumulation-order ulps in the double sum (the state
    fold adds batch partials in shuffle order)."""
    import uuid

    from pipelinewise_spark.streaming.windows import running_user_totals

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    # fixture: hash-partitioned multi-file stream source (3 micro-batches)
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_rt_")
        src = os.path.join(tmp, "src")
        events.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    sink = f"pws_rt_{uuid.uuid4().hex[:8]}"
    # state-store count tracks state, not CPUs
    # (partitioning.state_sized_shuffle)
    with state_sized_shuffle(spark, dir_bytes(src)):
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q)
    emissions = spark.table(sink)
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("value_sum"), 4).alias("value_sum"),
    )


@register(
    "stream_drift_monitor_events",
    oracle="""
    WITH ref AS (
        SELECT value, event_id FROM events WHERE event_id % 2 = 0),
    cur AS (
        SELECT CASE WHEN event_id % 10 IN (1, 3)
                    THEN value + 50 ELSE value END AS value
        FROM events WHERE event_id % 2 = 1),
    edges AS (
        SELECT list_transform(
                 quantile_cont(value,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 q -> CAST(CAST(ROUND(q, 6) AS DECIMAL(18,6)) AS DOUBLE))
                   AS es
        FROM ref),
    rb AS (
        SELECT COALESCE(len(list_filter(es, e -> value > e)), 0) + 1
                   AS bucket
        FROM ref, edges),
    cb AS (
        SELECT COALESCE(len(list_filter(es, e -> value > e)), 0) + 1
                   AS bucket
        FROM cur, edges),
    rc AS (SELECT bucket, COUNT(*) AS ref_cnt FROM rb GROUP BY bucket),
    cc AS (SELECT bucket, COUNT(*) AS cur_cnt FROM cb GROUP BY bucket),
    per AS (
        SELECT b.bucket,
               CASE WHEN b.bucket > 1 THEN es[b.bucket - 1] END AS lo,
               CASE WHEN b.bucket < 10 THEN es[b.bucket] END AS hi,
               COALESCE(rc.ref_cnt, 0) AS ref_cnt,
               COALESCE(cc.cur_cnt, 0) AS cur_cnt
        FROM (SELECT unnest(range(1, 11)) AS bucket) b
        CROSS JOIN edges
        LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)),
    tot AS (SELECT SUM(ref_cnt) AS nr, SUM(cur_cnt) AS nc FROM per),
    tvd AS (
        SELECT CAST(FLOOR(
            1000000::HUGEINT
            * SUM(ABS(ref_cnt::HUGEINT * nc - cur_cnt::HUGEINT * nr))
            / (2::HUGEINT * MAX(nr) * MAX(nc))) AS BIGINT) AS tvd_ppm
        FROM per, tot)
    SELECT CAST(per.bucket AS INT) AS bucket, per.lo, per.hi,
           per.ref_cnt, per.cur_cnt, tvd.tvd_ppm,
           tvd.tvd_ppm > 50000 AS drifted
    FROM per, tvd
    """,
)
def stream_drift_monitor_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution drift maintained AT INGEST (operators/drift.py:
    StreamingDriftMonitor): the reference epoch (even event_ids) pins
    decile bounds + reference counts once; the current epoch (odd
    event_ids, a +50 value shift injected on 2 of 10 id classes) arrives
    as a JSONL stream and every micro-batch folds its n_buckets-row
    bucket counts into the metadata-scale monitor state — the TVD drift
    report is current after EVERY batch instead of after a nightly job.
    At-least-once transport is exercised for real: one source file is
    delivered twice (a duplicate file in a later micro-batch would
    double-fold without the epoch guard... the guard is per-epoch, so
    the re-delivery is routed through a REPLAYED epoch id via a direct
    on_batch call). The drained report must equal the batch
    distribution_drift over the same split — stream ≡ batch, the
    auditability contract. Scale: per-batch work is one
    map-side-combinable aggregate over the batch; state and report are
    n_buckets rows."""
    import pyspark.sql.types as T

    from pipelinewise_spark.operators.drift import StreamingDriftMonitor
    from pipelinewise_spark.sources.files import read_table

    ev = read_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
    cur = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            F.when(
                (F.col("event_id") % 10).isin(1, 3), F.col("value") + 50.0
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_sdrift_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        cur.repartition(8).write.mode("append").json(src)

    monitor = StreamingDriftMonitor(
        ref, "value", ["event_id"], os.path.join(tmp, "state"),
        n_buckets=10,
    )
    stream = (
        spark.readStream.schema(
            T._parse_datatype_string("event_id long, value double")
        )
        .option("maxFilesPerTrigger", 4)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(monitor.on_batch)
        .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q)
    n_applied = monitor.state["n_applied"]
    assert n_applied >= 2, "the stream must have produced >= 2 batches"
    # at-least-once re-delivery: replaying an ALREADY-APPLIED epoch with
    # fresh (duplicate) data must be a no-op under the high-water-mark
    # guard (epoch 0 is the stream's first batch, long since folded)
    monitor.on_batch(cur.limit(500), 0)
    assert monitor.state["n_applied"] == n_applied
    return monitor.report(spark)


@register(
    "stream_drift_by_segment_events",
    oracle="""
    WITH ref AS (
        SELECT event_type AS segment, value AS v, event_id FROM events
        WHERE event_id % 2 = 0),
    cur AS (
        SELECT event_type AS segment,
               CASE WHEN event_type = 'click' THEN value + 50
                    ELSE value END AS v
        FROM events WHERE event_id % 2 = 1),
    edges AS (
        SELECT segment,
               list_transform(
                 quantile_cont(v,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 q -> CAST(CAST(ROUND(q, 6) AS DECIMAL(18,6)) AS DOUBLE))
                   AS es
        FROM ref GROUP BY segment),
    rb AS (
        SELECT r.segment,
               COALESCE(len(list_filter(e.es, x -> r.v > x)), 0) + 1
                   AS bucket
        FROM ref r JOIN edges e USING (segment)),
    cb AS (
        SELECT c.segment,
               COALESCE(len(list_filter(e.es, x -> c.v > x)), 0) + 1
                   AS bucket
        FROM cur c JOIN edges e USING (segment)),
    rc AS (SELECT segment, bucket, COUNT(*) AS ref_cnt FROM rb
           GROUP BY segment, bucket),
    cc AS (SELECT segment, bucket, COUNT(*) AS cur_cnt FROM cb
           GROUP BY segment, bucket),
    per AS (
        SELECT e.segment, b.bucket,
               CASE WHEN b.bucket > 1 THEN es[b.bucket - 1] END AS lo,
               CASE WHEN b.bucket < 10 THEN es[b.bucket] END AS hi,
               COALESCE(rc.ref_cnt, 0) AS ref_cnt,
               COALESCE(cc.cur_cnt, 0) AS cur_cnt
        FROM edges e
        CROSS JOIN (SELECT unnest(range(1, 11)) AS bucket) b
        LEFT JOIN rc ON rc.segment = e.segment AND rc.bucket = b.bucket
        LEFT JOIN cc ON cc.segment = e.segment AND cc.bucket = b.bucket),
    tvd AS (
        SELECT segment,
               CAST(CASE WHEN SUM(cur_cnt) = 0 THEN 1000000
                    ELSE FLOOR(
                      1000000::HUGEINT
                      * SUM(ABS(ref_cnt::HUGEINT * nc
                                - cur_cnt::HUGEINT * nr))
                      / (2::HUGEINT * MAX(nr) * MAX(nc)))
               END AS BIGINT) AS tvd_ppm
        FROM (SELECT per.*,
                     SUM(ref_cnt) OVER (PARTITION BY segment) AS nr,
                     SUM(cur_cnt) OVER (PARTITION BY segment) AS nc
              FROM per)
        GROUP BY segment)
    SELECT per.segment, CAST(per.bucket AS INT) AS bucket, per.lo, per.hi,
           per.ref_cnt, per.cur_cnt, tvd.tvd_ppm,
           tvd.tvd_ppm > 50000 AS drifted
    FROM per JOIN tvd USING (segment)
    """,
)
def stream_drift_by_segment_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEGMENT-LEVEL distribution drift maintained AT INGEST
    (operators/drift.py:SegmentedStreamingDriftMonitor — the r9 global
    stream monitor taken to where production monitors actually run): the
    reference epoch (even event_ids) pins PER-event_type decile bounds +
    reference counts in ONE grouped quantile pass; the current epoch
    (odd event_ids, a +50 value shift injected on the 'click' segment
    only) arrives as a JSONL stream and every micro-batch folds one
    (segment, bucket)-grouped aggregate into the still-metadata-scale
    state (n_segments x n_buckets counts + the epoch high-water mark).
    The segment-local shift MUST flag 'click' while the global fold of
    the same stream would dilute it 5-to-1. At-least-once transport is
    exercised: replaying an already-folded epoch is a no-op under the
    monotone-epoch guard. The drained report equals the batch
    distribution_drift_by_segment over the same split row-for-row
    (stream = batch; pinned in tests/test_monitors_r10.py)."""
    import pyspark.sql.types as T

    from pipelinewise_spark.operators.drift import (
        SegmentedStreamingDriftMonitor,
    )

    ev = read_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    cur = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            "event_type",
            F.when(F.col("event_type") == "click", F.col("value") + 50.0)
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_segdrift_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        cur.repartition(8).write.mode("append").json(src)

    monitor = SegmentedStreamingDriftMonitor(
        ref, "value", ["event_id"], "event_type",
        os.path.join(tmp, "state"), n_buckets=10,
    )
    stream = (
        spark.readStream.schema(
            T._parse_datatype_string(
                "event_id long, event_type string, value double"
            )
        )
        .option("maxFilesPerTrigger", 4)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(monitor.on_batch)
        .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q)
    n_applied = monitor.state["n_applied"]
    assert n_applied >= 2, "the stream must have produced >= 2 batches"
    # at-least-once re-delivery: an already-folded epoch must be a no-op
    monitor.on_batch(cur.limit(500), 0)
    assert monitor.state["n_applied"] == n_applied
    rep = monitor.report(spark)
    clicks = {r["segment"]: r["drifted"] for r in rep.collect()}
    assert clicks["click"], "the segment-local shift must flag 'click'"
    return rep


@register(
    "stream_quality_report_events",
    oracle="""
    WITH ref AS (
        SELECT event_type AS segment, value AS v, user_id AS k,
               CAST(date_trunc('day', ts) AS DATE) AS d, event_id
        FROM events WHERE event_id % 2 = 0),
    cur AS (
        SELECT event_type AS segment,
               CASE WHEN event_type = 'click' THEN value + 50
                    ELSE value END AS v,
               CASE WHEN event_type = 'click' THEN user_id % 5
                    ELSE user_id END AS k,
               CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events WHERE event_id % 2 = 1),
    -- volume --------------------------------------------------------
    volr AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS rn
             FROM ref GROUP BY segment),
    volc AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS cn
             FROM cur GROUP BY segment),
    vol AS (
        SELECT 'volume' AS monitor, segment,
               CAST(CASE WHEN COALESCE(rn, 0) = 0 THEN 1000000
                    ELSE FLOOR(1000000.0 * ABS(COALESCE(cn, 0) - rn) / rn)
               END AS BIGINT) AS metric,
               CAST(200000 AS BIGINT) AS threshold
        FROM volr FULL JOIN volc USING (segment)),
    -- cardinality (exact twin; the Spark row carries the stream's HLL
    -- flag, which must agree with this exact flag) -------------------
    cardr AS (SELECT segment, CAST(COUNT(DISTINCT k) AS BIGINT) AS rn
              FROM ref WHERE k IS NOT NULL GROUP BY segment),
    cardc AS (SELECT segment, CAST(COUNT(DISTINCT k) AS BIGINT) AS cn
              FROM cur WHERE k IS NOT NULL GROUP BY segment),
    card AS (
        SELECT 'cardinality' AS monitor, segment,
               CAST(CASE WHEN COALESCE(rn, 0) = 0 THEN 1000000
                    ELSE FLOOR(1000000.0 * ABS(COALESCE(cn, 0) - rn) / rn)
               END AS BIGINT) AS metric,
               CAST(200000 AS BIGINT) AS threshold
        FROM cardr FULL JOIN cardc USING (segment)),
    -- tvd (per-segment reference-decile buckets) ---------------------
    edges AS (
        SELECT segment,
               list_transform(
                 quantile_cont(v,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 q -> CAST(CAST(ROUND(q, 6) AS DECIMAL(18,6)) AS DOUBLE))
                   AS es
        FROM ref GROUP BY segment),
    rb AS (
        SELECT r.segment,
               COALESCE(len(list_filter(e.es, x -> r.v > x)), 0) + 1
                   AS bucket
        FROM ref r JOIN edges e USING (segment)),
    cb AS (
        SELECT c.segment,
               COALESCE(len(list_filter(e.es, x -> c.v > x)), 0) + 1
                   AS bucket
        FROM cur c JOIN edges e USING (segment)),
    rc AS (SELECT segment, bucket, COUNT(*) AS ref_cnt FROM rb
           GROUP BY segment, bucket),
    cc AS (SELECT segment, bucket, COUNT(*) AS cur_cnt FROM cb
           GROUP BY segment, bucket),
    per AS (
        SELECT e.segment, b.bucket,
               COALESCE(rc.ref_cnt, 0) AS ref_cnt,
               COALESCE(cc.cur_cnt, 0) AS cur_cnt
        FROM edges e
        CROSS JOIN (SELECT unnest(range(1, 11)) AS bucket) b
        LEFT JOIN rc ON rc.segment = e.segment AND rc.bucket = b.bucket
        LEFT JOIN cc ON cc.segment = e.segment AND cc.bucket = b.bucket),
    tvd AS (
        SELECT 'tvd' AS monitor, segment,
               CAST(CASE WHEN SUM(cur_cnt) = 0 THEN 1000000
                    ELSE FLOOR(
                      1000000::HUGEINT
                      * SUM(ABS(ref_cnt::HUGEINT * nc
                                - cur_cnt::HUGEINT * nr))
                      / (2::HUGEINT * MAX(nr) * MAX(nc)))
               END AS BIGINT) AS metric,
               CAST(50000 AS BIGINT) AS threshold
        FROM (SELECT per.*,
                     SUM(ref_cnt) OVER (PARTITION BY segment) AS nr,
                     SUM(cur_cnt) OVER (PARTITION BY segment) AS nc
              FROM per)
        GROUP BY segment),
    -- benford (current epoch) ----------------------------------------
    bdig AS (
        SELECT CAST(substr(CAST(CAST(ROUND(v * 100, 0) AS BIGINT)
                           AS VARCHAR), 1, 1) AS INT) AS digit
        FROM cur WHERE v > 0),
    bobs AS (SELECT digit, COUNT(*) AS cnt FROM bdig GROUP BY digit),
    bexp AS (
        SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                              (4, 96910), (5, 79181), (6, 66947),
                              (7, 57992), (8, 51153), (9, 45757))
            e(digit, expected_ppm)),
    bn AS (SELECT SUM(cnt) AS total FROM bobs),
    ben AS (
        SELECT 'benford' AS monitor, 'digit=' || bexp.digit AS segment,
               CAST(FLOOR(ABS(COALESCE(bobs.cnt, 0) * 1000000
                              - CAST(bexp.expected_ppm AS BIGINT) * bn.total)
                          / bn.total) AS BIGINT) AS metric,
               CAST(20000 AS BIGINT) AS threshold,
               ABS(COALESCE(bobs.cnt, 0) * 1000000
                   - CAST(bexp.expected_ppm AS BIGINT) * bn.total)
                 > 20000 * bn.total AS drifted
        FROM bexp LEFT JOIN bobs USING (digit) CROSS JOIN bn),
    -- freshness (current epoch, date-grained) -------------------------
    fper AS (SELECT segment, MAX(d) AS last FROM cur GROUP BY segment),
    fref AS (SELECT MAX(last) AS now FROM fper),
    fresh AS (
        SELECT 'freshness' AS monitor, segment,
               CAST(date_diff('day', last, now) AS BIGINT) AS metric,
               CAST(2 AS BIGINT) AS threshold
        FROM fper, fref)
    SELECT monitor, segment, metric, threshold,
           metric > threshold AS drifted FROM vol
    UNION ALL
    SELECT monitor, segment, metric, threshold,
           metric > threshold AS drifted FROM card
    UNION ALL
    SELECT monitor, segment, metric, threshold,
           metric > threshold AS drifted FROM tvd
    UNION ALL
    SELECT monitor, segment, metric, threshold, drifted FROM ben
    UNION ALL
    SELECT monitor, segment, metric, threshold,
           metric > threshold AS drifted FROM fresh
    """,
)
def stream_quality_report_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The QUALITY MATRIX maintained AT INGEST (operators/monitors.py:
    StreamingQualityMonitor): every monitor verb with an
    O(segments)-mergeable sufficient statistic — per-segment volume,
    HLL cardinality (mergeable register blobs, KB-sized), per-segment
    TVD against reference-pinned deciles, Benford, freshness — folds
    per micro-batch into ONE metadata-scale JSON state, and the drained
    report equals the batch twin (quality_report_streamable) ROW FOR
    ROW (sums/maxes/register-maxes are associative; the matrix shaping
    is shared code; pinned over explicit multi-batch splits in
    tests/test_stream_quality.py). KS/MW stay nightly-batch by
    necessity (value-domain-scale sufficient statistic) — the division
    of labor the module docstring documents.

    The current epoch (odd event_ids) streams in with two injected
    regressions confined to the 'click' segment: a +50 value shift
    (TVD must flag) and a user-id collapse to 5 ids (cardinality must
    flag). At-least-once transport is exercised (replaying a folded
    epoch is a no-op). Returned cardinality rows carry the EXACT
    distinct-count delta as the metric (the oracle-computable twin)
    with the STREAM's HLL flag as the verdict — in-query the HLL flags
    are asserted equal to the exact flags (thresholds are calibrated
    25x above the lgK=14 sketch error), so the driver hash-check IS
    the flag-agreement contract."""
    import pyspark.sql.types as T

    from pipelinewise_spark.operators.drift import cardinality_drift
    from pipelinewise_spark.operators.monitors import (
        StreamingQualityMonitor,
    )

    ev = read_table(spark, sf_dir, "events")
    d = F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ref = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "user_id", "value", d
    )
    is_click = F.col("event_type") == "click"
    cur = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "event_type",
        F.when(is_click, F.col("user_id") % 5)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        F.when(is_click, F.col("value") + 50.0)
        .otherwise(F.col("value"))
        .alias("value"),
        d,
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_squal_")
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        cur.repartition(8).write.mode("append").json(src)

    monitor = StreamingQualityMonitor(
        ref, "value", "user_id", "event_type", ["event_id"],
        os.path.join(tmp, "state"), date_col="d",
        freshness_sla_days=2,
    )
    stream = (
        spark.readStream.schema(
            T._parse_datatype_string(
                "event_id long, event_type string, user_id long, "
                "value double, d date"
            )
        )
        .option("maxFilesPerTrigger", 4)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(monitor.on_batch)
        .option("checkpointLocation", os.path.join(tmp, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q)
    n_applied = monitor.state["n_applied"]
    assert n_applied >= 2, "the stream must have produced >= 2 batches"
    # at-least-once re-delivery: an already-folded epoch must be a no-op
    monitor.on_batch(cur.limit(500), 0)
    assert monitor.state["n_applied"] == n_applied

    # stream ≡ batch (drained matrix == quality_report_streamable row
    # for row) is pinned in tests/test_stream_quality.py, where the
    # fold law is exercised over explicit multi-batch splits — re-
    # deriving the batch twin here would double every corpus pass the
    # query times. Collect the (answer-sized) matrix ONCE; the report
    # plan is a lattice of broadcast joins over local frames whose
    # re-execution per consumer is pure overhead.
    rep_rows = monitor.report(spark).collect()
    flags = {(r["monitor"], r["segment"]): r["drifted"] for r in rep_rows}
    assert flags[("tvd", "click")], "TVD must flag the shifted segment"
    assert flags[("cardinality", "click")], (
        "cardinality must flag the collapsed segment"
    )

    # returned frame: exact cardinality twin as the metric, stream HLL
    # flag as the verdict — flag agreement asserted first
    exact_rows = cardinality_drift(
        ref, cur, "user_id", "event_type", 200_000
    ).collect()
    card_stream = {
        r["segment"]: r["drifted"]
        for r in rep_rows
        if r["monitor"] == "cardinality"
    }
    exact_flags = {r["segment"]: r["drifted"] for r in exact_rows}
    assert card_stream == exact_flags, (
        "HLL drift flags must agree with exact flags at calibrated "
        "thresholds"
    )
    out = [
        (r["monitor"], r["segment"], r["metric"], r["threshold"],
         r["drifted"])
        for r in rep_rows
        if r["monitor"] != "cardinality"
    ] + [
        ("cardinality", r["segment"], int(r["delta_ppm"]), 200_000,
         bool(card_stream[r["segment"]]))
        for r in exact_rows
    ]
    return local_frame(spark, 
        out,
        "monitor string, segment string, metric long, threshold long, "
        "drifted boolean",
    )


_KS_QS = ", ".join(str(i / 16) for i in range(1, 16))  # dyadic: float-exact

# Shared CTE prefix for BOTH rank-drift oracles (stream KS and stream
# MW): the parity ref/cur epochs, the pinned per-segment 16-tile edges
# (6-dp-rounded, the engine-portable pin derive_segment_bucket_bounds
# writes), per-bucket HUGEINT counts with empty buckets materialized,
# per-segment totals, bucket-cumulative counts, and the exact
# per-(segment, value) two-sample counts the batch twins consume. One
# definition so the edge-rounding/bucketing convention can never
# silently diverge between the two oracles.
_RANK_DRIFT_CTES = f"""
    WITH ref AS (
        SELECT event_type AS segment, value AS v
        FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
    cur AS (
        SELECT event_type AS segment,
               CASE WHEN event_type = 'click' THEN value + 50
                    ELSE value END AS v
        FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
    edges AS (
        SELECT segment,
               list_transform(
                 quantile_cont(v, [{_KS_QS}]),
                 q -> CAST(CAST(ROUND(q, 6) AS DECIMAL(18,6)) AS DOUBLE))
                   AS es
        FROM ref GROUP BY segment),
    rb AS (
        SELECT r.segment,
               COALESCE(len(list_filter(e.es, x -> r.v > x)), 0) + 1
                   AS bucket
        FROM ref r JOIN edges e USING (segment)),
    cb AS (
        SELECT c.segment,
               COALESCE(len(list_filter(e.es, x -> c.v > x)), 0) + 1
                   AS bucket
        FROM cur c JOIN edges e USING (segment)),
    rcnt AS (SELECT segment, bucket, COUNT(*) AS rn FROM rb
             GROUP BY segment, bucket),
    ccnt AS (SELECT segment, bucket, COUNT(*) AS cn FROM cb
             GROUP BY segment, bucket),
    per AS (
        SELECT e.segment, b.bucket,
               CAST(COALESCE(rcnt.rn, 0) AS HUGEINT) AS rn,
               CAST(COALESCE(ccnt.cn, 0) AS HUGEINT) AS cn
        FROM edges e
        CROSS JOIN (SELECT unnest(range(1, 17)) AS bucket) b
        LEFT JOIN rcnt ON rcnt.segment = e.segment
                      AND rcnt.bucket = b.bucket
        LEFT JOIN ccnt ON ccnt.segment = e.segment
                      AND ccnt.bucket = b.bucket),
    tot AS (SELECT segment, SUM(rn) AS snr, SUM(cn) AS snc
            FROM per GROUP BY segment),
    cums AS (
        SELECT per.segment, per.bucket, per.rn, per.cn,
               SUM(rn) OVER (PARTITION BY per.segment
                             ORDER BY bucket) AS cum_r,
               SUM(cn) OVER (PARTITION BY per.segment
                             ORDER BY bucket) AS cum_c
        FROM per),
    pv AS (
        SELECT segment, v,
               CAST(SUM(r) AS HUGEINT) AS cr, CAST(SUM(c) AS HUGEINT) AS cc
        FROM (SELECT segment, v, 1 AS r, 0 AS c FROM ref
              UNION ALL
              SELECT segment, v, 0 AS r, 1 AS c FROM cur)
        GROUP BY segment, v)
"""

_STREAM_KS_ORACLE = _RANK_DRIFT_CTES + """,
    es AS (
        SELECT c.segment,
               MAX(CASE WHEN c.bucket < 16
                        THEN ABS(c.cum_r * t.snc - c.cum_c * t.snr)
                        ELSE 0 END) AS d2,
               MAX(LEAST(c.rn * t.snc, c.cn * t.snr)) AS mass2
        FROM cums c JOIN tot t USING (segment) GROUP BY c.segment),
    cum AS (
        SELECT segment, v,
               SUM(cr) OVER (PARTITION BY segment ORDER BY v) AS cum_r,
               SUM(cc) OVER (PARTITION BY segment ORDER BY v) AS cum_c
        FROM pv),
    n AS (SELECT segment, CAST(SUM(cr) AS HUGEINT) AS n_ref,
                 CAST(SUM(cc) AS HUGEINT) AS n_cur
          FROM pv GROUP BY segment),
    dx AS (SELECT c.segment,
                  MAX(ABS(cum_r * n_cur - cum_c * n_ref)) AS d2x
           FROM cum c JOIN n ON c.segment = n.segment
           GROUP BY c.segment)
    SELECT n.segment,
           CAST(n.n_ref AS BIGINT) AS n_ref,
           CAST(n.n_cur AS BIGINT) AS n_cur,
           CAST((1000000::HUGEINT * dx.d2x) // (n.n_ref * n.n_cur)
                AS BIGINT) AS d_ppm,
           CAST((1000000::HUGEINT * es.d2) // (n.n_ref * n.n_cur)
                AS BIGINT) AS d_lo_ppm,
           CAST((1000000::HUGEINT * (es.d2 + es.mass2))
                // (n.n_ref * n.n_cur) AS BIGINT) AS d_hi_ppm,
           CAST((1000000::HUGEINT * (es.d2 + es.mass2))
                // (n.n_ref * n.n_cur)
                - (1000000::HUGEINT * es.d2) // (n.n_ref * n.n_cur)
                AS BIGINT) AS err_bound_ppm,
           (1000000::HUGEINT * es.d2) // (n.n_ref * n.n_cur)
               <= (1000000::HUGEINT * dx.d2x) // (n.n_ref * n.n_cur)
           AND (1000000::HUGEINT * dx.d2x) // (n.n_ref * n.n_cur)
               <= (1000000::HUGEINT * (es.d2 + es.mass2))
                  // (n.n_ref * n.n_cur) AS within_bound,
           CAST(es.d2 + es.mass2 AS DOUBLE)
               / (CAST(n.n_ref AS DOUBLE) * CAST(n.n_cur AS DOUBLE))
               > 1.358 * sqrt((CAST(n.n_ref AS BIGINT)
                               + CAST(n.n_cur AS BIGINT))
                              / (CAST(n.n_ref AS DOUBLE)
                                 * CAST(n.n_cur AS DOUBLE)))
               AS stream_significant,
           CAST(dx.d2x AS DOUBLE)
               / (CAST(n.n_ref AS DOUBLE) * CAST(n.n_cur AS DOUBLE))
               > 1.358 * sqrt((CAST(n.n_ref AS BIGINT)
                               + CAST(n.n_cur AS BIGINT))
                              / (CAST(n.n_ref AS DOUBLE)
                                 * CAST(n.n_cur AS DOUBLE)))
               AS exact_significant
    FROM n JOIN dx ON n.segment = dx.segment
           JOIN es ON n.segment = es.segment
"""


def _rank_drift_monitor(spark: SparkSession, sf_dir: str, prefix: str):
    """Shared fixture for the two rank-drift queries: the parity
    ref/cur epochs over events ('click' +50 in the current), ONE
    StreamingKSMonitor folded over four odd-id micro-batches with an
    at-least-once redelivery exercised — the same drained state serves
    both the KS and the MW bracket."""
    import os
    import tempfile

    from pipelinewise_spark.operators.drift import StreamingKSMonitor

    ev = read_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    ).filter(F.col("value").isNotNull())
    is_click = F.col("event_type") == "click"
    cur = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "event_type",
        F.when(is_click, F.col("value") + 50.0)
        .otherwise(F.col("value"))
        .alias("value"),
    ).filter(F.col("value").isNotNull())
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix=prefix)
    mon = StreamingKSMonitor(
        ref, "value", ["event_id"], "event_type",
        os.path.join(tmp, "st"), n_buckets=16,
    )
    for k in (1, 3, 5, 7):  # odd ids split four ways
        mon.on_batch(cur.filter(F.col("event_id") % 8 == k), k)
    mon.on_batch(cur.filter(F.col("event_id") % 8 == 1), 1)  # replay no-op
    assert mon.state["n_applied"] == 4
    return ref, cur, mon


@register("stream_ks_drift_events", oracle=_STREAM_KS_ORACLE)
def stream_ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE streaming KS drift (operators/drift.py:
    StreamingKSMonitor) — the last batch/stream monitor-matrix
    asymmetry closed: exact per-segment KS needs per-(segment, value)
    state, so the INGEST monitor folds an O(segments × 16) histogram
    CDF against reference-pinned 16-tile edges and, on drain, brackets
    the true statistic with a PROVABLE sandwich d_lo ≤ d_exact ≤ d_hi
    (CDFs are exact at the pinned edges; the slack is one bucket's
    smaller-side mass). The current epoch (odd event_ids, 'click'
    values shifted +50) folds in four micro-batches with one
    at-least-once redelivery; the result joins the drained bracket to
    the nightly batch-exact KS on the same rows, so the driver's hash
    check pins BOTH engines computing the exact statistic, the
    bracket, the bound width, the within-bound contract, and both
    significance verdicts (the stream's conservative d_hi test and the
    exact test) to identical integers/booleans."""
    from pipelinewise_spark.operators.drift import ks_drift_by_segment

    ref, cur, mon = _rank_drift_monitor(spark, sf_dir, "pws_sks_")
    rep = mon.report(spark).alias("s")
    exact = ks_drift_by_segment(
        ref, cur, "value", "event_type"
    ).alias("e")
    out = exact.join(rep, "segment").select(
        "segment",
        F.col("e.n_ref").alias("n_ref"),
        F.col("e.n_cur").alias("n_cur"),
        F.col("e.d_ppm").alias("d_ppm"),
        F.col("s.d_lo_ppm").alias("d_lo_ppm"),
        F.col("s.d_hi_ppm").alias("d_hi_ppm"),
        F.col("s.err_bound_ppm").alias("err_bound_ppm"),
        (
            (F.col("s.d_lo_ppm") <= F.col("e.d_ppm"))
            & (F.col("e.d_ppm") <= F.col("s.d_hi_ppm"))
        ).alias("within_bound"),
        F.col("s.significant").alias("stream_significant"),
        F.col("e.significant").alias("exact_significant"),
    )
    rows = out.collect()
    assert rows and all(r["within_bound"] for r in rows)
    return local_frame(spark, rows, out.schema)


_STREAM_MW_ORACLE = _RANK_DRIFT_CTES + """,
    br AS (
        SELECT segment,
               2 * SUM(rn * (cum_c - cn)) AS u2_lo,
               2 * SUM(rn * cum_c) AS u2_hi
        FROM cums GROUP BY segment),
    ranked AS (
        SELECT segment, cr, cc,
               2 * SUM(cr + cc) OVER (PARTITION BY segment ORDER BY v)
                 - (cr + cc) + 1 AS r2
        FROM pv),
    agg AS (
        SELECT segment,
               SUM(cr * r2) AS rr2,
               SUM(cr) AS n_ref, SUM(cc) AS n_cur
        FROM ranked GROUP BY segment)
    SELECT a.segment,
           CAST(a.n_ref AS BIGINT) AS n_ref,
           CAST(a.n_cur AS BIGINT) AS n_cur,
           CAST(a.rr2 - a.n_ref * (a.n_ref + 1) AS BIGINT) AS u_ref_x2,
           CAST((1000000::HUGEINT * (a.rr2 - a.n_ref * (a.n_ref + 1)))
                // (2::HUGEINT * a.n_ref * a.n_cur) AS BIGINT)
               AS effect_ppm,
           CAST(br.u2_lo AS BIGINT) AS u2_lo,
           CAST(br.u2_hi AS BIGINT) AS u2_hi,
           CAST((1000000::HUGEINT * br.u2_lo)
                // (2::HUGEINT * a.n_ref * a.n_cur) AS BIGINT)
               AS effect_lo_ppm,
           CAST((1000000::HUGEINT * br.u2_hi)
                // (2::HUGEINT * a.n_ref * a.n_cur) AS BIGINT)
               AS effect_hi_ppm,
           CAST((1000000::HUGEINT * br.u2_hi)
                // (2::HUGEINT * a.n_ref * a.n_cur)
                - (1000000::HUGEINT * br.u2_lo)
                  // (2::HUGEINT * a.n_ref * a.n_cur) AS BIGINT)
               AS err_bound_ppm,
           br.u2_lo <= a.rr2 - a.n_ref * (a.n_ref + 1)
           AND a.rr2 - a.n_ref * (a.n_ref + 1) <= br.u2_hi
               AS within_bound,
           (1000000::HUGEINT * br.u2_hi)
               // (2::HUGEINT * a.n_ref * a.n_cur) > 600000
           OR (1000000::HUGEINT * br.u2_lo)
               // (2::HUGEINT * a.n_ref * a.n_cur) < 400000
               AS stream_drifted,
           ABS((1000000::HUGEINT * (a.rr2 - a.n_ref * (a.n_ref + 1)))
               // (2::HUGEINT * a.n_ref * a.n_cur) - 500000) > 100000
               AS exact_drifted
    FROM agg a JOIN br ON a.segment = br.segment
"""


@register("stream_mw_drift_events", oracle=_STREAM_MW_ORACLE)
def stream_mw_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE streaming Mann-Whitney location drift
    (operators/drift.py:StreamingKSMonitor.mw_report) — the SECOND rank
    verb served by the same O(segments × 16) ingest histogram that
    brackets KS, fully closing the rank-monitor batch/stream
    asymmetry: cross-bucket pairs are completely ordered by the
    interval partition, so the doubled U-statistic satisfies the
    certain integer sandwich u2_lo ≤ u2_exact ≤ u2_hi (same-bucket
    pairs contribute [0, r·c] each, ties at ½), and the
    common-language effect brackets by floor monotonicity. The current
    epoch (odd event_ids, 'click' +50) folds in four micro-batches
    with one at-least-once redelivery; the result joins the drained
    bracket to the batch-exact MW on the same rows — the driver's hash
    check pins both engines computing the exact doubled U, the
    bracket, the bound width, the within-bound contract, and both
    drift verdicts (the stream's conservative bracket-outside-band
    page and the exact test)."""
    from pipelinewise_spark.operators.drift import mw_drift_by_segment

    ref, cur, mon = _rank_drift_monitor(spark, sf_dir, "pws_smw_")
    rep = mon.mw_report(spark).alias("s")
    exact = mw_drift_by_segment(
        ref, cur, "value", "event_type"
    ).alias("e")
    out = exact.join(rep, "segment").select(
        "segment",
        F.col("e.n_ref").alias("n_ref"),
        F.col("e.n_cur").alias("n_cur"),
        F.col("e.u_ref_x2").alias("u_ref_x2"),
        F.col("e.effect_ppm").alias("effect_ppm"),
        F.col("s.u2_lo").alias("u2_lo"),
        F.col("s.u2_hi").alias("u2_hi"),
        F.col("s.effect_lo_ppm").alias("effect_lo_ppm"),
        F.col("s.effect_hi_ppm").alias("effect_hi_ppm"),
        F.col("s.err_bound_ppm").alias("err_bound_ppm"),
        (
            (F.col("s.u2_lo") <= F.col("e.u_ref_x2"))
            & (F.col("e.u_ref_x2") <= F.col("s.u2_hi"))
        ).alias("within_bound"),
        F.col("s.drifted").alias("stream_drifted"),
        F.col("e.drifted").alias("exact_drifted"),
    )
    rows = out.collect()
    assert rows and all(r["within_bound"] for r in rows)
    return local_frame(spark, rows, out.schema)


@register(
    "stream_singer_capture_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           o_totalprice
             + CASE WHEN o_orderkey % 2 = 0 THEN 5.0 ELSE 0.0 END
             AS o_totalprice
    FROM orders WHERE o_orderkey % 17 = 0
    """,
)
def stream_singer_capture_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail-follow Singer capture consumption (streaming/singer.py:
    sync_capture_dir) — ``tap | engine`` pipe parity with the
    reference's shell pipe (cli/commands.py:346-355): a tap's stdout
    rotated into sequentially named NDJSON files streams through
    Structured Streaming one file per micro-batch; per-batch guarded
    MERGE by the global capture position (``_sdc_sequence``) makes the
    multi-micro-batch result IDENTICAL to a bulk load of the finished
    capture. File 1 is a full snapshot, file 2 re-sends every even key
    with the price bumped +5.0, file 3 re-asserts unchanged rows out
    of order — cross-batch last-wins must leave exactly the bumped
    rows (the SQL oracle). Asserted in-query: the run really was
    multi-micro-batch, and the bookmark adopted the max-position STATE
    only after its batch landed (flushed_state at batch granularity)."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from pipelinewise_spark.streaming.singer import sync_capture_dir

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    with fixture_timer():
        tmp = _tempfile.mkdtemp(prefix="pws_singertail_")
        rows = sorted(base.collect(), key=lambda r: r["o_orderkey"])
        capdir = _os.path.join(tmp, "cap")
        _os.makedirs(capdir)

        def rec(r, bump):
            return _json.dumps({"type": "RECORD", "stream": "orders",
                                "record": {
                                    "o_orderkey": r["o_orderkey"],
                                    "o_orderstatus": r["o_orderstatus"],
                                    "o_totalprice": r["o_totalprice"] + bump,
                                }})

        schema_line = _json.dumps({
            "type": "SCHEMA", "stream": "orders",
            "schema": {"type": "object", "properties": {
                "o_orderkey": {"type": ["null", "integer"]},
                "o_orderstatus": {"type": ["null", "string"]},
                "o_totalprice": {"type": ["null", "number"]},
            }},
            "key_properties": ["o_orderkey"],
        })
        files = {
            "cap-000001.ndjson": [schema_line] + [rec(r, 0.0) for r in rows],
            "cap-000002.ndjson":
                [rec(r, 5.0) for r in rows if r["o_orderkey"] % 2 == 0]
                + [_json.dumps({"type": "STATE", "value":
                                {"bookmarks": {"orders": {"pos": 2}}}})],
            # re-asserts of untouched rows AFTER the bump: the guard
            # keeps them from clobbering only via PK (they are the
            # same values); odd keys re-sent deliberately
            "cap-000003.ndjson":
                [rec(r, 0.0) for r in rows if r["o_orderkey"] % 2 == 1],
        }
        for name, lines in files.items():
            with open(_os.path.join(capdir, name), "w") as fh:
                fh.write("\n".join(lines) + "\n")

    st = sync_capture_dir(
        spark, capdir, _os.path.join(tmp, "tgt"),
        _os.path.join(tmp, "ckpt"), max_files_per_trigger=1,
    )
    assert st.last_batch >= 2, "expected a multi-micro-batch run"
    assert st.bookmark == {"bookmarks": {"orders": {"pos": 2}}}
    return ManifestTable(_os.path.join(tmp, "tgt", "orders")).read(
        spark
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "stream_singer_capture_mor_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           o_totalprice
             + CASE WHEN o_orderkey % 3 = 0 THEN 7.0 ELSE 0.0 END
             AS o_totalprice
    FROM orders WHERE o_orderkey % 19 = 0
    """,
)
def stream_singer_capture_mor_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail-follow capture consumption into MERGE-ON-READ targets
    (streaming/singer.py:apply_capture_batch with
    merge_strategy='merge_on_read'): the same sequence-guarded semantics
    as the copy-on-write twin, but each micro-batch lands as a MOR delta
    — superseded rows deletion-vectored, the batch appended as new
    files — so per-batch WRITE cost is O(batch) + an answer-sized
    sidecar instead of O(target). This is the shape a months-long
    ``tap | engine`` pipe needs at fact-table scale: the table must not
    be rewritten per trickle batch (compaction is a separately scheduled
    lever). The oracle is the final merged state; asserted in-query: the
    run was multi-micro-batch AND the update batch deletion-vectored
    rather than rewrote batch-1 files (a DV-carrying manifest entry
    survives)."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from pipelinewise_spark.streaming.singer import sync_capture_dir

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 19 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    with fixture_timer():
        tmp = _tempfile.mkdtemp(prefix="pws_singermor_")
        rows = sorted(base.collect(), key=lambda r: r["o_orderkey"])
        capdir = _os.path.join(tmp, "cap")
        _os.makedirs(capdir)

        def rec(r, bump):
            return _json.dumps({"type": "RECORD", "stream": "orders",
                                "record": {
                                    "o_orderkey": r["o_orderkey"],
                                    "o_orderstatus": r["o_orderstatus"],
                                    "o_totalprice": r["o_totalprice"] + bump,
                                }})

        schema_line = _json.dumps({
            "type": "SCHEMA", "stream": "orders",
            "schema": {"type": "object", "properties": {
                "o_orderkey": {"type": ["null", "integer"]},
                "o_orderstatus": {"type": ["null", "string"]},
                "o_totalprice": {"type": ["null", "number"]},
            }},
            "key_properties": ["o_orderkey"],
        })
        files = {
            "cap-000001.ndjson":
                [schema_line] + [rec(r, 0.0) for r in rows],
            # the trickle: every third key re-sent with a +7.0 bump —
            # in MOR mode this must supersede by DV, not rewrite
            "cap-000002.ndjson":
                [rec(r, 7.0) for r in rows if r["o_orderkey"] % 3 == 0]
                + [_json.dumps({"type": "STATE", "value":
                                {"bookmarks": {"orders": {"pos": 2}}}})],
        }
        for name, ls in files.items():
            with open(_os.path.join(capdir, name), "w") as fh:
                fh.write("\n".join(ls) + "\n")

    st = sync_capture_dir(
        spark, capdir, _os.path.join(tmp, "tgt"),
        _os.path.join(tmp, "ckpt"), max_files_per_trigger=1,
        merge_strategy="merge_on_read",
    )
    assert st.last_batch >= 1, "expected a multi-micro-batch run"
    assert st.bookmark == {"bookmarks": {"orders": {"pos": 2}}}
    t = ManifestTable(_os.path.join(tmp, "tgt", "orders"))
    entries, _ = t.select_entries()
    assert any(e.get("dv") for e in entries), (
        "update batch should deletion-vector batch-1 files, not "
        "rewrite them"
    )
    return t.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
