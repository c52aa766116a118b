"""Operational queries: record validation, archive-load metadata, JSON
field_paths masking — remaining SURVEY §2 behaviors as oracle-checked ops."""

from __future__ import annotations

from pipelinewise_spark.partitioning import local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.functions.masking import apply_transformations
from pipelinewise_spark.operators.validation import validate
from pipelinewise_spark.queries.fixturetime import fixture_timer
from pipelinewise_spark.queries.registry import register
from pipelinewise_spark.sources.files import read_table


@register(
    "validate_events",
    oracle="""
    WITH v AS (
        SELECT event_id,
               list_filter([
                   CASE WHEN NOT (value IS NULL OR value BETWEEN 0 AND 50)
                        THEN 'value:between' END,
                   CASE WHEN NOT (event_type IS NULL OR
                                  event_type IN ('click','view','purchase'))
                        THEN 'event_type:in_set' END,
                   CASE WHEN NOT (props IS NULL OR
                                  regexp_matches(props, '^\\{"k": [0-9]+\\}$'))
                        THEN 'props:matches' END
               ], x -> x IS NOT NULL) AS violations
        FROM events)
    SELECT event_id,
           COALESCE(array_to_string(violations, ','), '') AS violations,
           len(violations) = 0 AS is_valid FROM v
    """,
)
def validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Schema record validation (the reference's ``validate_records``
    Draft-7 check, target_snowflake/__init__.py:148-158): an actual JSON
    Schema document is compiled into vectorized Column predicates with
    per-row violation reporting (operators/validation.py
    ``compile_json_schema``)."""
    from pipelinewise_spark.operators.validation import compile_json_schema

    stream_schema = {
        "type": "object",
        "required": ["event_id"],
        "properties": {
            "value": {"type": ["number", "null"], "minimum": 0, "maximum": 50},
            "event_type": {
                "type": ["string", "null"],
                "enum": ["click", "view", "purchase"],
            },
            "props": {
                "type": ["string", "null"],
                "pattern": r'^\{"k": [0-9]+\}$',
            },
        },
    }
    events = read_table(spark, sf_dir, "events")
    out = validate(events, compile_json_schema(stream_schema))
    # violations is array<string>; the driver's pandas canonicalizer cannot
    # hash list cells, so the driver-facing projection joins it to a scalar.
    return out.select(
        "event_id",
        F.array_join("violations", ",").alias("violations"),
        "is_valid",
    )


@register(
    "quarantine_events",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type,
               list_filter([
                   CASE WHEN NOT (value IS NULL OR value BETWEEN 0 AND 50)
                        THEN 'value:between' END,
                   CASE WHEN NOT (event_type IS NULL OR
                                  event_type IN ('click','view','purchase'))
                        THEN 'event_type:in_set' END,
                   CASE WHEN NOT (props IS NULL OR
                                  regexp_matches(props, '^\\{"k": [0-9]+\\}$'))
                        THEN 'props:matches' END
               ], x -> x IS NOT NULL) AS violations
        FROM events)
    SELECT event_id, event_type,
           array_to_string(violations, ',') AS violations
    FROM v WHERE len(violations) > 0
    """,
)
def quarantine_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing (operators/validation.py:quarantine_split):
    records failing the JSON-Schema constraints leave the load path into a
    quarantine side carrying their violations and the full payload as
    replayable JSON — the operational upgrade over the reference's
    validate-and-raise. The oracle recomputes the invalid set directly;
    fields are projected back OUT of the quarantined JSON payload
    (get_json_object), proving the record round-trips."""
    from pipelinewise_spark.operators.validation import (
        compile_json_schema,
        quarantine_split,
    )

    stream_schema = {
        "type": "object",
        "required": ["event_id"],
        "properties": {
            "value": {"type": ["number", "null"], "minimum": 0, "maximum": 50},
            "event_type": {
                "type": ["string", "null"],
                "enum": ["click", "view", "purchase"],
            },
            "props": {
                "type": ["string", "null"],
                "pattern": r'^\{"k": [0-9]+\}$',
            },
        },
    }
    events = read_table(spark, sf_dir, "events")
    _valid, dlq = quarantine_split(events, compile_json_schema(stream_schema))
    return dlq.select(
        F.get_json_object("_dlq_record", "$.event_id")
        .cast("long")
        .alias("event_id"),
        F.get_json_object("_dlq_record", "$.event_type").alias("event_type"),
        F.array_join("violations", ",").alias("violations"),
    )


@register(
    "archive_load_metadata_orders",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS chunk,
           min(o_orderdate) AS min_key,
           max(o_orderdate) AS max_key,
           count(*) AS n_records
    FROM orders GROUP BY 1
    """,
)
def archive_load_metadata_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-load-files metadata: per load chunk, min/max of the
    incremental key + record count (target_snowflake/__init__.py:178-191,
    db_sync.py:410-438) — df.agg, no collect."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy((F.col("o_orderkey") % 4).cast("bigint").alias("chunk"))
        .agg(
            F.min("o_orderdate").alias("min_key"),
            F.max("o_orderdate").alias("max_key"),
            F.count("*").alias("n_records"),
        )
    )


@register(
    "salted_agg_events_by_type",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6)
                AS DECIMAL(18,6)) AS DOUBLE) AS value_sum,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def salted_agg_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage aggregation: event_type has only 5 hot keys
    (the skewed-reducer case) — salted partials combine to the exact direct
    groupBy result."""
    from pipelinewise_spark.operators.skew import salted_aggregate

    events = read_table(spark, sf_dir, "events").withColumn(
        "__v", F.col("value").cast("decimal(18,6)")
    )
    out = salted_aggregate(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("event_id", "count"),
            "value_sum": ("__v", "sum"),
            "min_event_id": ("event_id", "min"),
            "max_event_id": ("event_id", "max"),
        },
        salt_buckets=8,
    )
    return out.select(
        "event_type", "n_events",
        F.round(F.col("value_sum"), 6).cast("decimal(18,6)").cast("double")
        .alias("value_sum"),
        "min_event_id", "max_event_id",
    )


def _cluster_oracle() -> str:
    from pipelinewise_spark.queries.llmdata import _minhash_oracle

    pairs_sql = _minhash_oracle().strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (
        SELECT u AS node, least(u, min(v)) AS component
        FROM reach GROUP BY u)
    SELECT node, component, node = component AS is_representative FROM comp
    """


@register("dedup_clusters_documents", oracle=_cluster_oracle())
def dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (min-label propagation) over
    the MinHash-LSH pair graph; one representative per component."""
    from pipelinewise_spark.functions.clusters import dedup_clusters
    from pipelinewise_spark.functions.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.3)
    return dedup_clusters(pairs)


def _cluster_split_oracle() -> str:
    from pipelinewise_spark.queries.llmdata import _minhash_oracle

    pairs_sql = _minhash_oracle().strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (
        SELECT u AS node, least(u, min(v)) AS component
        FROM reach GROUP BY u),
    resolved AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT doc_id, component,
           CASE WHEN CAST('0x' || substr(md5(CAST(component AS VARCHAR)),
                                         1, 8) AS BIGINT) % 100 < 10
                THEN 'valid' ELSE 'train' END AS split
    FROM resolved
    """


@register("cluster_aware_split_documents", oracle=_cluster_split_oracle())
def cluster_aware_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/valid split (functions/clusters.py:
    cluster_aware_split): near-dup components assigned WHOLLY to one side
    by a deterministic md5 bucket of the component id — a doc-level random
    split would put a training doc's near-duplicate into validation and
    inflate eval. 10 % validation."""
    from pipelinewise_spark.functions.clusters import cluster_aware_split
    from pipelinewise_spark.functions.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.3)
    out = cluster_aware_split(d, pairs, "doc_id", valid_percent=10)
    return out.select("doc_id", "component", "split")


def _keep_best_oracle() -> str:
    from pipelinewise_spark.queries.llmdata import _minhash_oracle

    pairs_sql = _minhash_oracle().strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (
        SELECT u AS node, least(u, min(v)) AS component
        FROM reach GROUP BY u),
    resolved AS (
        SELECT d.doc_id, d.n_chars,
               coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT doc_id, component,
           row_number() OVER (
               PARTITION BY component
               ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
    FROM resolved
    """


@register("dedup_keep_best_documents", oracle=_keep_best_oracle())
def dedup_keep_best_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over the whole corpus
    (functions/clusters.py:resolve_duplicates): near-dup components from the
    MinHash-LSH pair graph, singletons included, keeping the
    highest-quality doc (longest, smallest id on ties) per component —
    the drop step a real dedup pipeline runs. Corpus-side cost is one left
    join + one window shuffle; the component graph is edge-scale only."""
    from pipelinewise_spark.functions.clusters import resolve_duplicates
    from pipelinewise_spark.functions.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.3)
    out = resolve_duplicates(d, pairs, "doc_id", "n_chars")
    return out.select("doc_id", "component", "keep")


@register(
    "mask_condition_field_path_events",
    oracle="""
    SELECT event_id,
           CASE WHEN json_extract_string(props, '$.k') = '69'
                THEN CAST(0 AS DOUBLE) ELSE value END AS value
    FROM events
    """,
)
def mask_condition_field_path_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition addressing a path INSIDE a JSON column (`when.field_path`,
    transform.py:12-81): zero out value where props.k == 69."""
    from pipelinewise_spark.functions.masking import apply_transformations

    events = read_table(spark, sf_dir, "events")
    out = apply_transformations(
        events,
        [
            {
                "field_id": "value",
                "type": "MASK-NUMBER",
                "when": [
                    {"column": "props", "field_path": "k", "equals": "69"}
                ],
            }
        ],
    )
    return out.select("event_id", "value")


@register(
    "approx_stats_lineitem",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
               AS l_orderkey_exact_distinct,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
               AS l_partkey_exact_distinct,
           TRUE AS distinct_within_bound,
           TRUE AS quantiles_within_bound
    FROM lineitem
    """,
)
def approx_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass HLL distinct + approximate quantiles (mergeable sketches —
    the 100 TB profiling path).

    Oracle contract (sketch values are not SQL-reproducible): the query
    computes the exact twins in Spark — count_distinct plus exact
    interpolated percentiles at q ± 0.005 rank slack — and emits the exact
    distinct counts plus two BOOLEANs asserting the sketch outputs sit
    inside their published error envelopes (rsd=0.02 → 10 % distinct
    margin; percentile_approx accuracy=10000 → 1e-4 rank error, checked
    at 50× slack). DuckDB reproduces the exact counts and pins the
    booleans TRUE. Both bounds hold under any partitioning (HLL union and
    GK merge keep their guarantees regardless of merge order), so the
    contract is vanilla-session-safe; tests/test_sketches_bounded.py
    additionally bounds observed error tightly."""
    from pipelinewise_spark.operators.rank import (
        exact_quantiles_interpolated,
    )
    from pipelinewise_spark.operators.sketches import approx_stats

    li = read_table(spark, sf_dir, "lineitem")
    qs = (0.25, 0.5, 0.75, 0.95)
    slack = 0.005
    stats = approx_stats(
        li,
        numeric_cols=["l_extendedprice", "l_quantity"],
        distinct_cols=["l_orderkey", "l_partkey"],
        quantiles=qs,
    )
    exact = li.agg(
        F.count_distinct("l_orderkey").alias("l_orderkey_exact_distinct"),
        F.count_distinct("l_partkey").alias("l_partkey_exact_distinct"),
    )
    # exact rank-slack bounds via the DISTRIBUTED interpolated quantiles
    # (operators/rank.py) — a bare percentile() aggregate funnels every
    # value through one final reducer, the exact single-task shape the
    # rank machinery exists to avoid. One ranked materialization per
    # column answers all 2×|qs| bound points; sorted-by-quantile
    # positions: even index = q-slack (lo), odd = q+slack (hi).
    bound_qs = sorted(
        [max(q - slack, 0.0) for q in qs] + [min(q + slack, 1.0) for q in qs]
    )
    for c in ("l_extendedprice", "l_quantity"):
        b = exact_quantiles_interpolated(li, c, [], bound_qs)
        packed = b.agg(
            F.array_sort(
                F.collect_list(F.struct("quantile", "value"))
            ).alias(f"__{c}__bounds")
        )
        exact = exact.crossJoin(F.broadcast(packed))

    def _q_ok(c: str):
        arr = F.col(f"__{c}__bounds")
        checks = [
            (F.element_at(F.col(f"{c}__quantiles"), i + 1)
             >= F.element_at(arr, 2 * i + 1)["value"])
            & (F.element_at(F.col(f"{c}__quantiles"), i + 1)
               <= F.element_at(arr, 2 * i + 2)["value"])
            for i in range(len(qs))
        ]
        out = checks[0]
        for chk in checks[1:]:
            out = out & chk
        return out

    def _d_ok(c: str):
        return (
            F.abs(F.col(f"{c}__approx_distinct") - F.col(f"{c}_exact_distinct"))
            <= F.lit(0.10) * F.col(f"{c}_exact_distinct")
        )

    return stats.crossJoin(F.broadcast(exact)).select(
        "l_orderkey_exact_distinct",
        "l_partkey_exact_distinct",
        (_d_ok("l_orderkey") & _d_ok("l_partkey")).alias("distinct_within_bound"),
        (_q_ok("l_extendedprice") & _q_ok("l_quantity")).alias(
            "quantiles_within_bound"
        ),
    )


@register(
    "mask_json_field_paths_events",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '"k": [0-9]+', '"k": 0') AS props
    FROM events
    """,
)
def mask_json_field_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masking a path *inside* a JSON document column (transformation
    field_paths, transform-field transform.py:122-131) via the Arrow-batched
    JSON rewrite."""
    events = read_table(spark, sf_dir, "events")
    out = apply_transformations(
        events,
        [{"field_id": "props", "type": "MASK-NUMBER", "field_paths": ["k"]}],
    )
    return out.select("event_id", "props")


@register(
    "mongo_documents_normalize",
    oracle="""
    SELECT lpad(lower(to_hex(doc_id)), 24, '0') AS _id,
           '{"_id": "' || lpad(lower(to_hex(doc_id)), 24, '0') ||
           '", "at": "' ||
           strftime(epoch_ms(1704067200000 + doc_id * 1000),
                    '%Y-%m-%dT%H:%M:%S.%f') ||
           'Z", "lang": "' || lang ||
           '", "n_chars": ' || n_chars ||
           ', "source": "' || source || '"}' AS document,
           lang
    FROM documents
    """,
)
def mongo_documents_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB BSON-document normalization end-to-end (the reference's
    fastsync ``serialize_document``/``class_to_string``,
    fastsync/commons/tap_mongodb.py:32-155): build Extended-JSON v2 docs
    (ObjectId _id, canonical $date, $numberLong) from the documents table
    JVM-side, run the Arrow-batched normalize, then project a field back out
    of the normalized JSON (get_json_object, JVM-side).

    The oracle reconstructs the exact normalized JSON text (sorted keys,
    singer ISO timestamps) by string composition in DuckDB — a full
    value-level check of the transform table, not just row counts.
    """
    from pipelinewise_spark.sources.mongo import document_field, normalize_documents

    docs = read_table(spark, sf_dir, "documents")
    out = normalize_documents(documents_ext_json(docs), "doc")
    return document_field(out, "lang").select("_id", "document", "lang")


def documents_ext_json(docs: DataFrame, lang=None) -> DataFrame:
    """documents rows → Extended-JSON v2 document strings (ObjectId ``_id``
    from doc_id, canonical $date, $numberLong) — the fixture transport for
    the Mongo source/CDC queries. Keeps ``doc_id`` alongside for event-plan
    derivation."""
    ms = (F.lit(1704067200000) + F.col("doc_id") * 1000).cast("string")
    return docs.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.lower(F.lpad(F.hex("doc_id"), 24, "0")).alias("$oid")
                ).alias("_id"),
                F.struct(
                    F.struct(ms.alias("$numberLong")).alias("$date")
                ).alias("at"),
                (lang if lang is not None else F.col("lang")).alias("lang"),
                F.struct(
                    F.col("n_chars").cast("string").alias("$numberLong")
                ).alias("n_chars"),
                F.col("source"),
            )
        ).alias("doc"),
        "doc_id",
    )


@register(
    "csv_source_lineno_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           row_number() OVER (ORDER BY o_orderkey) + 1 AS _sdc_source_lineno
    FROM orders
    """,
)
def csv_source_lineno_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/CSV source end-to-end (sources/files.py:FileSource): orders
    written as ONE header CSV sorted by key, read back through FileSource
    with `_sdc_source_*` decoration — `_sdc_source_lineno` is the physical
    line number (header on line 1, first record on line 2, matching the
    reference's records_synced + 2 convention), reproduced by the oracle as
    key-rank + 1 because the file is written key-sorted."""
    import os
    import tempfile

    from pipelinewise_spark.sources.files import FileSource

    # fixture: writing the one-file source CSV
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_csv_")
        path = os.path.join(tmp, "orders_csv")
        (
            read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .orderBy("o_orderkey")
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(path)
        )
    src = FileSource(path=path, format="csv")
    df = src.read(spark, with_source_metadata=True)
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("_sdc_source_lineno").cast("long").alias("_sdc_source_lineno"),
    )


@register(
    "jsonl_source_lineno_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           row_number() OVER (ORDER BY o_orderkey) AS _sdc_source_lineno
    FROM orders
    """,
)
def jsonl_source_lineno_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL file-source end-to-end (sources/files.py:FileSource, json
    format): orders written as ONE key-sorted JSONL file, read back with
    `_sdc_source_*` decoration — no header, so the first record is line 1
    (the CSV twin starts at 2), reproduced by the oracle as key rank."""
    import os
    import tempfile

    from pipelinewise_spark.sources.files import FileSource

    # fixture: writing the one-file source JSONL
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_jsonl_")
        path = os.path.join(tmp, "orders_jsonl")
        (
            read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .orderBy("o_orderkey")
            .coalesce(1)
            .write.mode("overwrite")
            .json(path)
        )
    src = FileSource(path=path, format="json")
    df = src.read(spark, with_source_metadata=True)
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("_sdc_source_lineno").cast("long").alias("_sdc_source_lineno"),
    )


@register(
    "orc_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 6)
                AS DECIMAL(18,6)) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def orc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format interop (the second columnar format Spark ships in-box):
    orders round-trip parquet → ORC → aggregate, proving type fidelity
    (timestamps/doubles/strings) through the ORC writer+reader. Avro is
    not deployable in this environment (external module jar absent) and is
    documented as env-gated."""
    import os
    import tempfile

    # fixture: the parquet->ORC export half of the roundtrip
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_orc_")
        path = os.path.join(tmp, "orders_orc")
        read_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("total"),
    )


def _manifest_two_versions(spark: SparkSession, sf_dir: str):
    """Shared fixture: a ManifestTable whose v1 is the orders table and
    whose v2 merged a deterministic update/insert batch (keys %5==0 get
    +500 totalprice; one new key max+1)."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    # fixture: building the two-version table the operators read
    with fixture_timer():
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_tt_") + "/orders")
        t.overwrite(orders)
        max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
        batch = (
            orders.filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
            .unionByName(
                local_frame(spark, 
                    [(int(max_key) + 1, "O", 1.0)],
                    "o_orderkey long, o_orderstatus string, o_totalprice double",
                )
            )
        )
        t.merge(spark, batch, ["o_orderkey"])
    return t


@register(
    "zorder_pruned_read_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_totalprice BETWEEN 50000 AND 150000
    """,
)
def zorder_pruned_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering + 2-D data skipping (operators/zorder.py): orders
    laid out along the Morton curve of (o_custkey, o_totalprice) into a
    ManifestTable, then a 2-D box read via footer-stats ranges — only files
    whose rectangles intersect the box are listed to Spark, and the exact
    row-level filter runs on that sliver. The oracle is the plain filter
    over the unclustered table: pruning must never change the answer.
    tests/test_zorder.py asserts the layout actually skips files vs the
    natural order."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.zorder import cluster_by

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # fixture: one-time Z-ordered layout build (amortized across reads)
    with fixture_timer():
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_z_") + "/orders_z")
        t.overwrite(cluster_by(orders, ["o_custkey", "o_totalprice"], num_files=8))
    box = {"o_custkey": (100, 400), "o_totalprice": (50000.0, 150000.0)}
    pruned = t.read(spark, ranges=box)
    return pruned.filter(
        F.col("o_custkey").between(100, 400)
        & F.col("o_totalprice").between(50000.0, 150000.0)
    )


@register(
    "hidden_partition_prune_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND o_custkey IN (7, 11)
    """,
)
def hidden_partition_prune_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg-style HIDDEN partitioning
    (operators/manifest_table.py:PartitionField): the table is laid out
    by ``months(o_orderdate)`` × ``bucket(4, o_custkey)`` — derived dir
    values the user never sees — while the query filters on the RAW
    columns; select_entries maps the date range through the month
    transform and the key points through the bucket hash, so only
    matching partitions are ever listed to Spark (asserted in-query).
    The oracle is the plain filter over the unpartitioned table: pruning
    must never change the answer. At 100 TB this is the difference
    between scanning a year's slice of a fact table and scanning the
    table."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import (
        ManifestTable,
        parse_partition_spec,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    spec = ["months(o_orderdate)", "bucket(4, o_custkey)"]
    with fixture_timer():
        t = ManifestTable(
            tempfile.mkdtemp(prefix="pws_hp_") + "/orders_hp", spec
        )
        # cluster by the derived partition exprs so each hive dir is
        # written by one task (overwrite keeps caller layout control)
        fields = parse_partition_spec(spec)
        t.overwrite(
            orders.repartition(64, *[f.expr() for f in fields])
        )
    lo, hi = "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    keys = [7, 11]
    entries, m = t.select_entries(
        ranges={"o_orderdate": (lo, hi)}, points={"o_custkey": keys}
    )
    assert len(entries) < len(m["files"]) / 4, (
        f"hidden pruning ineffective: {len(entries)}/{len(m['files'])}"
    )
    pruned = t.read(
        spark, ranges={"o_orderdate": (lo, hi)}, points={"o_custkey": keys}
    )
    assert not any(c.startswith("__p_") for c in pruned.columns)
    return pruned.filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("o_custkey").isin(keys)
    )


@register(
    "salted_topk_events_per_user",
    oracle="""
    SELECT user_id, event_id, value,
           CAST(row_number() OVER (
               PARTITION BY user_id
               ORDER BY value DESC, event_id ASC) AS INT) AS rank
    FROM events
    QUALIFY rank <= 3
    """,
)
def salted_topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof EXACT top-k per key (operators/skew.py:salted_topk): a
    plain ranked window sorts a hot key's entire volume on one reducer;
    the salted two-stage version spreads it over 16 shards and reduces
    k*16 candidates per key — identical output (stage 1 provably never
    drops a global winner). Oracle is the plain window."""
    from pipelinewise_spark.operators.skew import salted_topk

    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return salted_topk(
        e, ["user_id"], order_col="value", tiebreak_col="event_id", k=3
    )


@register(
    "salted_join_events_users",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def salted_join_events_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted equi-join (operators/skew.py:salted_join): the
    events fact side has ~150 hot user keys (each key is ~0.7 % of all
    rows — the skewed-reducer shape); the user dim is replicated across 16
    salt shards so each hot key spreads over 16 reducers. Row-identical to
    the plain join — the oracle IS the plain join."""
    from pipelinewise_spark.operators.skew import salted_join

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    users = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    out = salted_join(events, users, ["user_id"], salt_buckets=16)
    return out.select("event_id", "user_id", "c_name", "value")


@register(
    "bloom_point_lookup_orders",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) AS rn
        FROM orders)
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_orderkey IN (
        SELECT o_orderkey FROM ranked WHERE rn IN (1, 100, 1000))
    """,
)
def bloom_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-filter point lookup
    (operators/manifest_table.py:add_bloom_filters): orders laid out by
    CUSTOMER hash — so every file spans the full o_orderkey range and
    min/max stats prune nothing — then three order keys (the 1st, 100th,
    1000th smallest) looked up through the Bloom index: only files whose
    filter admits one of the keys are listed to Spark, and the exact IN
    filter runs on that sliver. tests/test_bloom.py asserts the index
    actually skips files where stats cannot."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # fixture: one-time table build + Bloom index (amortized across reads)
    with fixture_timer():
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_bloom_") + "/orders_b")
        t.overwrite(orders.repartition(8, "o_custkey"))
        t.add_bloom_filters(spark, ["o_orderkey"])

    keys = [
        r["o_orderkey"]
        for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(1000).collect()
    ]
    lookups = [keys[0], keys[99], keys[999]]
    pruned = t.read(spark, points={"o_orderkey": lookups})
    return pruned.filter(F.col("o_orderkey").isin(lookups))


@register(
    "incremental_mv_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT (SELECT max(o_orderkey) + 1 FROM orders), 'O', 1.0)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                AS DECIMAL(28,6)) AS DOUBLE) AS total_price
    FROM v2 GROUP BY o_orderstatus
    """,
)
def incremental_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/incremental_agg.py): a revenue-by-status rollup built over
    snapshot v1 is brought current by applying the v1→v2 change feed ONLY —
    the base table is never re-read. Work is proportional to the batch (one
    narrow +/- projection, one tiny-key shuffle, one broadcast-size merge
    join), which is what keeps a 100 TB rollup maintainable from 0.1 %
    batches. The oracle recomputes the aggregate from the merged state — the
    incremental result must match a full rebuild exactly (decimal-exact
    maintained sums)."""
    from pipelinewise_spark.operators.incremental_agg import (
        apply_change_feed,
        build_aggregate,
    )

    t = _manifest_two_versions(spark, sf_dir)
    v = t.versions()
    old = t.read(spark, version=v[0])
    new = t.read(spark, version=v[-1])
    mv = build_aggregate(
        old, ["o_orderstatus"], {"total_price": "o_totalprice"}
    )
    # change feed straight off the snapshot diff, carrying old/new group
    # keys so updates that move rows between groups stay exact
    o = old.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("old_o_orderstatus"),
        F.col("o_totalprice").alias("old_o_totalprice"),
    )
    n = new.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("new_o_orderstatus"),
        F.col("o_totalprice").alias("new_o_totalprice"),
    )
    j = o.join(n, o.k == n.k2, "full_outer")
    changes = (
        j.withColumn(
            "op",
            F.when(F.col("k").isNull(), F.lit("i"))
            .when(F.col("k2").isNull(), F.lit("d"))
            .when(
                (F.col("old_o_totalprice") != F.col("new_o_totalprice"))
                | (F.col("old_o_orderstatus") != F.col("new_o_orderstatus")),
                F.lit("u"),
            ),
        )
        .filter(F.col("op").isNotNull())
    )
    out = apply_change_feed(
        mv, changes, ["o_orderstatus"], {"total_price": "o_totalprice"}
    )
    return out.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("total_price"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("total_price"),
    )


@register(
    "incremental_mv_minmax_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT (SELECT max(o_orderkey) + 1 FROM orders), 'O', 1.0)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM v2 GROUP BY o_orderstatus
    """,
)
def incremental_mv_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-additive MV maintenance (incremental_agg.py:rescope_groups):
    min/max can't be folded through deletes/updates, so only the groups the
    change feed TOUCHES are recomputed from the new snapshot (at scale a
    partition/manifest-pruned sliver) and spliced over the stale rows;
    untouched groups carry over from the old MV without any base read. The
    oracle is a full recompute over the merged state."""
    from pipelinewise_spark.operators.incremental_agg import rescope_groups

    t = _manifest_two_versions(spark, sf_dir)
    v = t.versions()
    old = t.read(spark, version=v[0])
    new = t.read(spark, version=v[-1])
    mv = old.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    # touched groups: any status appearing on either side of a change
    changed_keys = (
        new.join(old.select("o_orderkey", F.col("o_totalprice").alias("__o")),
                 "o_orderkey", "left")
        .filter(F.col("__o").isNull() | (F.col("__o") != F.col("o_totalprice")))
        .select("o_orderstatus")
        .distinct()
    )
    out = rescope_groups(
        mv, new, changed_keys, ["o_orderstatus"],
        {"lo": ("o_totalprice", "min"), "hi": ("o_totalprice", "max")},
    )
    return out.select("o_orderstatus", "n_rows", "lo", "hi")


@register(
    "snapshot_drift_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT (SELECT max(o_orderkey) + 1 FROM orders), 1.0),
    old_s AS (
        SELECT SUM(CAST(o_orderkey AS DECIMAL(28,6)))/COUNT(*) AS k_mean,
               SUM(CAST(o_totalprice AS DECIMAL(28,6)))/COUNT(*) AS p_mean
        FROM orders),
    new_s AS (
        SELECT SUM(CAST(o_orderkey AS DECIMAL(28,6)))/COUNT(*) AS k_mean,
               SUM(CAST(o_totalprice AS DECIMAL(28,6)))/COUNT(*) AS p_mean
        FROM v2),
    r AS (
        SELECT 'o_orderkey' AS "column",
               (SELECT k_mean FROM old_s) AS om,
               (SELECT k_mean FROM new_s) AS nm
        UNION ALL
        SELECT 'o_totalprice',
               (SELECT p_mean FROM old_s),
               (SELECT p_mean FROM new_s))
    SELECT "column",
           CAST(ROUND(om, 6) AS DOUBLE) AS old_mean,
           CAST(ROUND(nm, 6) AS DOUBLE) AS new_mean,
           CAST(ROUND(ABS(nm - om) / ABS(om), 6) AS DOUBLE) AS mean_shift,
           CAST(0.0 AS DOUBLE) AS old_null_rate,
           CAST(0.0 AS DOUBLE) AS new_null_rate,
           ABS(nm - om) / ABS(om) > 0.0005 AS drifted
    FROM r
    """,
)
def snapshot_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level drift between two snapshots (operators/drift.py): one
    aggregation pass per version, decimal-exact means, and explicit
    threshold flags — the post-load data-quality gate. The merged batch
    (+500 on 20 % of prices, one insert) shifts o_totalprice's mean past
    the 0.05 % threshold while o_orderkey stays put; the oracle recomputes
    both sides' stats from scratch."""
    from pipelinewise_spark.operators.drift import snapshot_drift

    t = _manifest_two_versions(spark, sf_dir)
    v = t.versions()
    old = t.read(spark, version=v[0])
    new = t.read(spark, version=v[-1])
    return snapshot_drift(
        old, new, ["o_orderkey", "o_totalprice"],
        mean_shift_threshold=0.0005,
    )


@register(
    "manifest_time_travel_orders",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def manifest_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (operators/manifest_table.py): after a MERGE
    creates v2, ``read(version=1)`` still returns the original table
    bit-for-bit — v1's manifest pins its immutable files, so history reads
    cost nothing beyond reading those files (the Iceberg/Delta VERSION AS OF
    contract). The oracle is simply the original orders table."""
    t = _manifest_two_versions(spark, sf_dir)
    first = t.versions()[0]
    return t.read(spark, version=first)


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0)
    SELECT o_orderkey, 'u' AS op,
           o_totalprice AS old_totalprice,
           o_totalprice + 500.0 AS new_totalprice
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT (SELECT max(o_orderkey) + 1 FROM orders), 'i',
           CAST(NULL AS DOUBLE), 1.0
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed analog: diff two manifest snapshots by full-outer
    PK join (v1 vs v2), classifying each key as insert / update / delete —
    how a lakehouse table emits downstream change streams without a log.
    The join shuffles on the PK once; unchanged rows are filtered before
    anything wide."""
    t = _manifest_two_versions(spark, sf_dir)
    v = t.versions()
    old = t.read(spark, version=v[0]).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("old_totalprice"),
    )
    new = t.read(spark, version=v[-1]).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("new_totalprice"),
    )
    j = old.join(new, old.k == new.k2, "full_outer")
    return (
        j.withColumn(
            "op",
            F.when(F.col("k").isNull(), F.lit("i"))
            .when(F.col("k2").isNull(), F.lit("d"))
            .when(
                F.col("old_totalprice") != F.col("new_totalprice"), F.lit("u")
            ),
        )
        .filter(F.col("op").isNotNull())
        .select(
            F.coalesce(F.col("k"), F.col("k2")).alias("o_orderkey"),
            "op",
            "old_totalprice",
            "new_totalprice",
        )
    )


@register(
    "exact_quantiles_lineitem",
    oracle="""
    WITH r AS (
        SELECT l_extendedprice AS v,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn,
               count(*) OVER () AS n
        FROM lineitem)
    SELECT q.quantile, r.v AS value
    FROM (VALUES (0.5), (0.9), (0.99)) q(quantile)
    JOIN r ON r.rn = GREATEST(1, CAST(ceil(q.quantile * r.n) AS BIGINT))
    """,
)
def exact_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of l_extendedprice (operators/rank.py:
    exact_quantiles): value at global rank ceil(q*N) under a total order —
    reproducible to the row, computed with the distributed-sort rank (range
    shuffle + per-partition windows + metadata offsets), never an
    Exchange SinglePartition. The approximate twin is approx_stats_lineitem;
    this one has an exact SQL oracle because its answer is exact."""
    from pipelinewise_spark.operators.rank import exact_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"],
        [0.5, 0.9, 0.99],
    )


@register(
    "group_quantiles_orders",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders)
    SELECT r.o_orderpriority, q.quantile, r.o_totalprice AS value
    FROM (VALUES (0.5), (0.9), (0.99)) q(quantile)
    JOIN r ON r.rn = GREATEST(1, CAST(ceil(q.quantile * r.n) AS BIGINT))
    """,
)
def group_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority exact p50/p90/p99 of order totals (operators/rank.py:
    exact_group_quantiles): one global range-partitioned rank over
    (priority, price, key) — groups are contiguous in rank space — plus a
    broadcast (groups x quantiles) target-rank join. Never a per-group
    window funneling a whole priority class through one task."""
    from pipelinewise_spark.operators.rank import exact_group_quantiles

    o = read_table(spark, sf_dir, "orders")
    return exact_group_quantiles(
        o, ["o_orderpriority"], "o_totalprice", ["o_orderkey"],
        [0.5, 0.9, 0.99],
    )


@register(
    "interpolated_quantiles_lineitem",
    oracle="""
    SELECT 0.25 AS quantile,
           CAST(CAST(ROUND(percentile_cont(0.25)
               WITHIN GROUP (ORDER BY l_extendedprice), 6)
               AS DECIMAL(18,6)) AS DOUBLE) AS value
    FROM lineitem
    UNION ALL
    SELECT 0.5, CAST(CAST(ROUND(percentile_cont(0.5)
               WITHIN GROUP (ORDER BY l_extendedprice), 6)
               AS DECIMAL(18,6)) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 0.75, CAST(CAST(ROUND(percentile_cont(0.75)
               WITHIN GROUP (ORDER BY l_extendedprice), 6)
               AS DECIMAL(18,6)) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 0.9, CAST(CAST(ROUND(percentile_cont(0.9)
               WITHIN GROUP (ORDER BY l_extendedprice), 6)
               AS DECIMAL(18,6)) AS DOUBLE) FROM lineitem
    """,
)
def interpolated_quantiles_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERCENTILE_CONT (linear interpolation between order statistics at
    the continuous rank 1 + q*(N-1)) with no single-reducer sort
    (operators/rank.py:exact_quantiles_interpolated) — the SQL-standard
    quantile the discrete ceil-rank twin (exact_quantiles_lineitem)
    deliberately is not. One distributed rank materialization serves all
    quantiles; each adds two broadcast-join target rows (floor/ceil)."""
    from pipelinewise_spark.operators.rank import (
        exact_quantiles_interpolated,
    )

    li = read_table(spark, sf_dir, "lineitem")
    out = exact_quantiles_interpolated(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"],
        [0.25, 0.5, 0.75, 0.9],
    )
    return out.select(
        "quantile",
        F.col("value").cast("decimal(18,6)").cast("double").alias("value"),
    )


@register(
    "group_interpolated_quantiles_orders",
    oracle="""
    SELECT o_orderpriority, q.quantile,
           CAST(CAST(ROUND(
               CASE q.quantile
                   WHEN 0.25 THEN percentile_cont(0.25)
                       WITHIN GROUP (ORDER BY o_totalprice)
                   WHEN 0.5 THEN percentile_cont(0.5)
                       WITHIN GROUP (ORDER BY o_totalprice)
                   ELSE percentile_cont(0.75)
                       WITHIN GROUP (ORDER BY o_totalprice)
               END, 6) AS DECIMAL(18,6)) AS DOUBLE) AS value
    FROM orders CROSS JOIN (VALUES (0.25), (0.5), (0.75)) q(quantile)
    GROUP BY o_orderpriority, q.quantile
    """,
)
def group_interpolated_quantiles_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority PERCENTILE_CONT of order totals (operators/rank.py:
    exact_group_quantiles_interpolated): one global range-partitioned rank
    serves every (group, quantile) pair; floor/ceil neighbor ranks derive
    as pure Column arithmetic on the per-group bounds (no driver loop) and
    resolve through one broadcast join. The grouped, interpolated member
    of the quantile family (discrete global / discrete grouped /
    interpolated global are its siblings)."""
    from pipelinewise_spark.operators.rank import (
        exact_group_quantiles_interpolated,
    )

    o = read_table(spark, sf_dir, "orders")
    out = exact_group_quantiles_interpolated(
        o, ["o_orderpriority"], "o_totalprice", ["o_orderkey"],
        [0.25, 0.5, 0.75],
    )
    return out.select(
        "o_orderpriority", "quantile",
        F.col("value").cast("decimal(18,6)").cast("double").alias("value"),
    )


@register(
    "binary_file_source_documents",
    oracle="""
    SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.bin' AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           md5(hex(encode(text))) AS content_md5
    FROM documents
    WHERE text IS NOT NULL AND doc_id % 5 = 0
    """,
)
def binary_file_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion end-to-end (sources/files.py:FileSource,
    format='binary' → Spark's binaryFile reader): the multimodal ingest
    path — every payload lands as one (path, length, content) row with
    the bytes as an opaque binary cell, ready for the mapInPandas decode
    seams (functions/multimodal.py). The fixture writes one .bin file per
    document (utf-8 text bytes, the deterministic stand-in for image/
    audio payloads); the oracle recomputes each file's name, byte length,
    and content md5 from the source table, so the comparison proves the
    read path byte-for-byte. At 100 TB this reader is how petabytes of
    media files enter the engine: file listing is driver-side metadata,
    content scan is executor-parallel, and binary cells stay columnar."""
    import os
    import tempfile

    from pipelinewise_spark.queries.fixturetime import fixture_timer
    from pipelinewise_spark.sources.files import FileSource

    # 1-in-5 sample: the proof is per-file byte fidelity, not volume —
    # at sf0.1 the full corpus would be 5000 tiny files whose task-
    # scheduling overhead dominates the timing without testing more
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") % 5 == 0)
    )
    # fixture: one binary file per document, written executor-side (a
    # driver loop over open() would serialize a 100 TB export)
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_bin_")
        bdir = os.path.join(tmp, "media")
        os.makedirs(bdir)

        def _write(batch):
            for row in batch:
                name = f"{row['doc_id']:08d}.bin"
                with open(os.path.join(bdir, name), "wb") as fh:
                    fh.write(row["text"].encode("utf-8"))

        docs.select("doc_id", "text").foreachPartition(_write)

    src = FileSource(path=bdir, format="binary", pattern=r"\.bin$")
    df = src.read(spark)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("length"),
        F.md5(F.hex(F.col("content"))).alias("content_md5"),
    )


@register(
    "incremental_join_view_orders",
    oracle="""
    WITH f AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 2 = 0
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0),
    d AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 11 <> 0)
    SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_acctbal
    FROM f JOIN d ON f.o_custkey = d.c_custkey
    """,
)
def incremental_join_view_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained JOIN view (operators/ivm_join.py): the
    orders ⋈ customer wide table is built once at T0, then kept current by
    a FACT change batch (deletes %7, +1000 updates %2, re-asserts) and a
    DIM change batch (customer deletes %11, +100 balance updates %3) — the
    base join is never recomputed; fact deltas join the dim broadcast-
    sized, dim deltas touch only the fact rows of changed keys. The
    oracle recomputes the full join over the final base states: the
    incrementally maintained view must land on it exactly."""
    import tempfile

    from pipelinewise_spark.operators.ivm_join import IncrementalJoinView
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    with fixture_timer():
        # ManifestTable + num_buckets = the scale publish path: deltas land
        # through the partition-pruned MERGE, untouched PK-hash buckets
        # carry over by manifest reference (tests/test_ivm_manifest.py
        # pins the file-level carry-over)
        view = IncrementalJoinView(
            ManifestTable(tempfile.mkdtemp(prefix="pws_ivmj_") + "/v"),
            fact_pk="o_orderkey",
            join_key="o_custkey",
            fact_cols=["o_totalprice"],
            dim_cols=["c_name", "c_acctbal"],
            num_buckets=16,
        )
        view.initialize(orders, customer)

    fact_delta = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("d"))
        .when(F.col("o_orderkey") % 2 == 0, F.lit("u"))
        .otherwise(F.lit("c"))
        .alias("_op"),
        F.col("o_orderkey").alias("_seq"),
        "o_orderkey", "o_custkey",
        F.when(
            (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 2 == 0),
            F.col("o_totalprice") + 1000.0,
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    # dim events only for touched keys; delete wins over update on overlap
    dim_delta = customer.filter(
        (F.col("o_custkey") % 11 == 0) | (F.col("o_custkey") % 3 == 0)
    ).select(
        F.when(F.col("o_custkey") % 11 == 0, F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("_op"),
        F.col("o_custkey").alias("_seq"),
        "o_custkey", "c_name",
        F.when(F.col("o_custkey") % 3 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    # post-delta base states, as a CDC target would hold them
    fact_now = orders.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice")),
    )
    view.apply_fact_delta(spark, fact_delta, customer)
    view.apply_dim_delta(spark, dim_delta, fact_now)
    return view.read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"
    )


@register(
    "hll_distinct_users_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
           TRUE AS estimate_within_2pct
    FROM events GROUP BY event_type
    """,
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch table (operators/sketches.py):
    per-(event_type, user-bucket) HLL sketches built once from the raw
    events, then rolled up to per-event_type distinct-user estimates by
    sketch UNION — the pre-aggregated distinct-counting layer that answers
    'unique users per X' at 100 TB by shuffling KB-sized sketches instead
    of rescanning raw data. lgK=14 → ~0.8 % standard error.

    Oracle contract (the estimate itself is a DataSketches value DuckDB
    cannot reproduce): the query ALSO computes the exact distinct count
    in Spark and emits (exact value, estimate-within-bound BOOLEAN); the
    oracle reproduces the exact values and pins the boolean TRUE, so a
    drifting sketch flips a hash-checked value instead of hiding behind a
    rows-only check. The HLL error bound holds under any partitioning
    (register-wise max union is order-insensitive), so the boolean is
    vanilla-session-safe; tests/test_r6_operators.py additionally pins
    mergeability and determinism."""
    from pipelinewise_spark.operators.sketches import (
        hll_rollup,
        hll_sketch_table,
    )

    events = read_table(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 8).cast("int")
    )
    sketches = hll_sketch_table(
        events, ["event_type", "bucket"], "user_id"
    )
    est = hll_rollup(sketches, ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_distinct_users",
        (
            F.abs(F.col("distinct_est") - F.col("exact_distinct_users"))
            <= F.lit(0.02) * F.col("exact_distinct_users")
        ).alias("estimate_within_2pct"),
    )


@register(
    "bucketed_merge_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 500.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)
def bucketed_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) MERGE (operators/bucketed.py): target and
    batch both persist as catalog tables bucketed+sorted on the PK, so
    the MERGE's PK equi-join runs bucket-pair-local with NO Exchange on
    either side (tests/test_bucketed.py pins the plan) — at 100 TB this
    converts every incremental flush from two full shuffles into zero.
    The reference's temp-table-then-MERGE reloads and re-sorts per flush;
    bucketing pays the sort once and reuses the layout across runs."""
    import uuid

    from pipelinewise_spark.operators.bucketed import (
        bucketed_merge,
        write_bucketed,
    )

    suffix = uuid.uuid4().hex[:8]
    tgt, bat = f"pws_bm_tgt_{suffix}", f"pws_bm_bat_{suffix}"
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with fixture_timer():
        write_bucketed(orders, tgt, ["o_orderkey"], num_buckets=8)
        batch = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
        )
        write_bucketed(batch, bat, ["o_orderkey"], num_buckets=8)
    return bucketed_merge(spark, tgt, bat, ["o_orderkey"])


@register(
    "winsorize_order_totals",
    oracle="""
    WITH b AS (
        SELECT CAST(ROUND(percentile_cont(0.05)
                   WITHIN GROUP (ORDER BY o_totalprice), 6) AS DOUBLE) AS lo,
               CAST(ROUND(percentile_cont(0.95)
                   WITHIN GROUP (ORDER BY o_totalprice), 6) AS DOUBLE) AS hi
        FROM orders)
    SELECT o_orderkey, o_totalprice,
           CAST(CAST(ROUND(least(greatest(o_totalprice, b.lo), b.hi), 6)
                AS DECIMAL(18,6)) AS DOUBLE) AS o_totalprice_clipped
    FROM orders, b
    """,
)
def winsorize_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization / outlier clipping (operators/rank.py:
    clip_to_quantiles): order totals clipped into their exact
    [p05, p95] PERCENTILE_CONT interval — the feature-preprocessing step
    before scaling. Bounds from one distributed rank; applied as a
    broadcast 1-row join, corpus-linear end to end."""
    from pipelinewise_spark.operators.rank import clip_to_quantiles

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    out = clip_to_quantiles(
        o, "o_totalprice", ["o_orderkey"], lower_q=0.05, upper_q=0.95
    )
    return out.select(
        "o_orderkey", "o_totalprice",
        F.round(F.col("o_totalprice_clipped"), 6)
        .cast("decimal(18,6)").cast("double")
        .alias("o_totalprice_clipped"),
    )


@register(
    "robust_scale_order_totals",
    oracle="""
    WITH b AS (
        SELECT CAST(ROUND(percentile_cont(0.5)
                   WITHIN GROUP (ORDER BY o_totalprice), 6) AS DOUBLE) AS med,
               CAST(ROUND(percentile_cont(0.75)
                   WITHIN GROUP (ORDER BY o_totalprice), 6) AS DOUBLE)
               - CAST(ROUND(percentile_cont(0.25)
                   WITHIN GROUP (ORDER BY o_totalprice), 6) AS DOUBLE) AS iqr
        FROM orders)
    SELECT o_orderkey, o_totalprice,
           CAST(CAST(ROUND((o_totalprice - b.med) / b.iqr, 6)
                AS DECIMAL(18,6)) AS DOUBLE) AS o_totalprice_scaled
    FROM orders, b
    """,
)
def robust_scale_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling: (value - median) / IQR — the
    outlier-insensitive normalization (sklearn RobustScaler semantics)
    every numeric feature pipeline applies before modeling. Median and
    quartiles come from ONE distributed-rank materialization
    (operators/rank.py:exact_quantiles_interpolated, PERCENTILE_CONT
    exact); the scale applies as a broadcast 1-row join, corpus-linear."""
    from pipelinewise_spark.operators.rank import (
        exact_quantiles_interpolated,
    )

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    qs = exact_quantiles_interpolated(
        o, "o_totalprice", ["o_orderkey"], [0.25, 0.5, 0.75]
    )
    b = qs.groupBy().agg(
        F.min(F.when(F.col("quantile") == 0.5, F.col("value"))).alias("med"),
        (
            F.min(F.when(F.col("quantile") == 0.75, F.col("value")))
            - F.min(F.when(F.col("quantile") == 0.25, F.col("value")))
        ).alias("iqr"),
    )
    return (
        o.crossJoin(F.broadcast(b))
        .select(
            "o_orderkey", "o_totalprice",
            F.round(
                (F.col("o_totalprice") - F.col("med")) / F.col("iqr"), 6
            )
            .cast("decimal(18,6)").cast("double")
            .alias("o_totalprice_scaled"),
        )
    )


@register(
    "export_roundtrip_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def export_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSync split-gzip CSV export end-to-end (operators/export.py,
    reference fastsync/commons/split_gzip.py): export the orders table as
    chunked gzip CSVs + completeness manifest, then read the export BACK
    through Spark's CSV reader — the oracle compares the roundtrip against
    the source table, so the export is proven value-faithful (doubles
    round-trip via shortest-repr text), not just well-formed. The manifest
    itself (file list + sizes + row count, written through the MetaFS seam
    so s3:// destinations work) is verified in-plan: the query asserts the
    manifest row count before returning."""
    import tempfile

    from pipelinewise_spark.operators.export import (
        export_split_gzip_csv,
        read_export_manifest,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dest = tempfile.mkdtemp(prefix="pws_exp_") + "/orders"
    manifest = export_split_gzip_csv(orders, dest, chunk_size_mb=1)
    back = read_export_manifest(dest)
    if back is None or back["rows"] != manifest["rows"]:
        raise AssertionError("export manifest mismatch")
    return (
        spark.read.option("header", "true")
        .schema(orders.schema)
        .csv(dest)
    )


@register(
    "analyze_stats_orders",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS okey_nulls,
           CAST(MIN(o_orderkey) AS VARCHAR) AS okey_min,
           CAST(MAX(o_orderkey) AS VARCHAR) AS okey_max,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS okey_exact_ndv,
           TRUE AS okey_ndv_within_2pct,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS status_nulls,
           CAST(MIN(o_orderstatus) AS VARCHAR) AS status_min,
           CAST(MAX(o_orderstatus) AS VARCHAR) AS status_max,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
               AS status_exact_ndv,
           TRUE AS status_ndv_within_2pct
    FROM orders
    """,
)
def analyze_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE statistics as a driver-checked contract
    (operators/manifest_table.py:analyze — the Delta/Iceberg ANALYZE +
    NDV-puffin analog): write orders into a ManifestTable, ANALYZE it,
    and emit the persisted stats — row count, per-column null count and
    min/max (exact values the oracle reproduces) plus NDV-within-2%%
    booleans against Spark-computed exact distinct counts (the NDV itself
    is a DataSketches HLL estimate DuckDB cannot reproduce; the bound is
    partitioning-invariant). Also asserts the freshness contract in-plan:
    a just-published ANALYZE must stamp the manifest version it publishes
    (r6 ADVICE #2)."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_an_") + "/t")
        t.overwrite(orders.select("o_orderkey", "o_orderstatus"))
    stats = t.analyze(spark, ["o_orderkey", "o_orderstatus"])
    if stats["version"] != t.current_manifest_name():
        raise AssertionError("fresh ANALYZE reads as stale")
    ok, st = stats["columns"]["o_orderkey"], stats["columns"]["o_orderstatus"]
    meta = local_frame(spark, 
        [(
            int(stats["rows"]),
            int(ok["nulls"]), str(ok["min"]), str(ok["max"]), int(ok["ndv"]),
            int(st["nulls"]), str(st["min"]), str(st["max"]), int(st["ndv"]),
        )],
        "n_rows long, okey_nulls long, okey_min string, okey_max string, "
        "okey_ndv long, status_nulls long, status_min string, "
        "status_max string, status_ndv long",
    )
    exact = orders.agg(
        F.count_distinct("o_orderkey").alias("okey_exact_ndv"),
        F.count_distinct("o_orderstatus").alias("status_exact_ndv"),
    )
    return meta.crossJoin(F.broadcast(exact)).select(
        "n_rows",
        "okey_nulls", "okey_min", "okey_max", "okey_exact_ndv",
        (
            F.abs(F.col("okey_ndv") - F.col("okey_exact_ndv"))
            <= F.lit(0.02) * F.col("okey_exact_ndv")
        ).alias("okey_ndv_within_2pct"),
        "status_nulls", "status_min", "status_max", "status_exact_ndv",
        (
            F.abs(F.col("status_ndv") - F.col("status_exact_ndv"))
            <= F.lit(0.02) * F.col("status_exact_ndv")
        ).alias("status_ndv_within_2pct"),
    )


@register(
    "mv_rewrite_orders",
    oracle="""
    SELECT o_orderpriority,
           CAST(CAST(ROUND(SUM(o_totalprice), 6) AS DECIMAL(18,6))
               AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS orders,
           CAST(CAST(ROUND(SUM(o_totalprice), 6) AS DECIMAL(18,6))
               AS DOUBLE) / count(*) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def mv_rewrite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation (operators/mv_router.py:RollupCatalog): two
    rollups of orders are materialized — (priority, status) fine grain
    and (priority) coarse — and a revenue-by-priority query is ROUTED to
    the coarse one (fewest dims ⇒ smallest scan); the result must equal
    aggregating the 100x-larger base, which is exactly what the oracle
    computes. The assert pins the routing decision itself; the plan-shape
    test (tests/test_mv_router.py) pins that the chosen rollup's files —
    not the base table — are what the plan scans."""
    import os
    import tempfile

    from pipelinewise_spark.operators.mv_router import Measure, RollupCatalog

    cat = RollupCatalog(lambda s: read_table(s, sf_dir, "orders"))
    cat.add_measure(Measure("revenue", "sum", "o_totalprice"))
    cat.add_measure(Measure("orders", "count"))
    cat.add_measure(
        Measure("avg_price", "avg",
                sum_measure="revenue", count_measure="orders")
    )

    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_mvr_")

        def writer(name):
            def w(frame):
                path = os.path.join(tmp, name)
                frame.write.mode("overwrite").parquet(path)
                return lambda s: s.read.parquet(path)
            return w

        cat.materialize_rollup(
            spark, "by_pri_status",
            ("o_orderpriority", "o_orderstatus"),
            ["revenue", "orders"], writer("ps"),
        )
        cat.materialize_rollup(
            spark, "by_pri", ("o_orderpriority",),
            ["revenue", "orders"], writer("p"),
        )

    chosen = cat.route(["o_orderpriority"], ["revenue", "orders"])
    assert chosen is not None and chosen.name == "by_pri", chosen
    out = cat.query(spark, ["o_orderpriority"], ["revenue", "orders"])
    rev = F.round(F.col("revenue"), 6).cast("decimal(18,6)").cast("double")
    return out.select(
        "o_orderpriority",
        rev.alias("revenue"),
        F.col("orders").cast("bigint").alias("orders"),
        (rev / F.col("orders")).alias("avg_price"),
    )


@register(
    "dv_delete_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE NOT coalesce(o_orderstatus = 'F' AND o_orderkey % 5 = 0, FALSE)
    """,
)
def dv_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE (operators/manifest_table.py:delete_where):
    a row-level delete against a partitioned fact table that rewrites ZERO
    data files — dead (file, position) pairs go to a parquet sidecar and
    reads anti-join them out map-side (vector broadcasts). The in-query
    assert pins the no-rewrite contract: the manifest's data-file set is
    byte-identical before and after the delete. Lifecycle (composition,
    merge/compact materialization, vacuum, clone) in
    tests/test_deletion_vectors.py."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_dv_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
    before = sorted(e["path"] for e in t._load_manifest()["files"])
    n = t.delete_where(
        spark, "o_orderstatus = 'F' AND o_orderkey % 5 = 0"
    )
    after = sorted(e["path"] for e in t._load_manifest()["files"])
    assert after == before, "DV delete must not rewrite data files"
    assert n > 0
    return t.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@register(
    "merge_on_read_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE NOT coalesce(o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0, FALSE)
    """,
)
def merge_on_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-v2 MERGE-ON-READ (operators/manifest_table.py:
    merge_on_read): an update batch (every 7th order, repriced) and a
    delete set (every 11th, unless updated) land as an appended batch
    file + a position-delete sidecar — the in-query assert pins that NO
    pre-existing data file was rewritten or dropped, the exact opposite
    cost model of the copy-on-write merge (bucketed_merge_orders /
    incremental_sync_orders family). The oracle is plain MERGE semantics
    over the base table."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_mor_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
    before = sorted(e["path"] for e in t._load_manifest()["files"])
    batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    dels = orders.filter(
        (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0)
    )
    stats = t.merge_on_read(spark, batch, ["o_orderkey"], deletes=dels)
    assert stats["superseded_rows"] > 0 and stats["appended_files"] > 0
    after = set(e["path"] for e in t._load_manifest()["files"])
    assert set(before) <= after, "MOR must not rewrite pre-existing files"
    return t.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@register(
    "star_rollup_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(CAST(ROUND(SUM(o_totalprice), 6) AS DECIMAL(18,6))
               AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def star_rollup_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-aware aggregate navigation (operators/mv_router.py:StarSchema):
    orders ⋈ customer ⋈ nation declared as a snowflake chain; a
    denormalized rollup at (n_name, o_orderpriority) grain is
    materialized, and a revenue-by-nation query ROUTES to it — answering
    a three-table join query from a 125-row pre-aggregate with no fact
    scan and no joins at serve time (the in-query asserts pin both the
    routing decision and the base fallback for an uncovered grain). The
    oracle computes the same result from the raw star."""
    import os
    import tempfile

    from pipelinewise_spark.operators.mv_router import (
        Dimension,
        Measure,
        RollupCatalog,
        StarSchema,
    )

    star = StarSchema(lambda s: read_table(s, sf_dir, "orders"))
    star.add_dimension(Dimension(
        "customer", lambda s: read_table(s, sf_dir, "customer"),
        fact_fk="o_custkey", dim_pk="c_custkey",
        attributes=("c_mktsegment", "c_nationkey"),
    ))
    star.add_dimension(Dimension(
        "nation", lambda s: read_table(s, sf_dir, "nation"),
        fact_fk="c_nationkey", dim_pk="n_nationkey",
        attributes=("n_name",),
    ))
    cat = RollupCatalog(star)
    cat.add_measure(Measure("revenue", "sum", "o_totalprice"))
    cat.add_measure(Measure("orders", "count"))

    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_star_")

        def writer(frame):
            path = os.path.join(tmp, "np")
            frame.write.mode("overwrite").parquet(path)
            return lambda s: s.read.parquet(path)

        cat.materialize_rollup(
            spark, "by_nation_priority", ("n_name", "o_orderpriority"),
            ["revenue", "orders"], writer,
        )

    assert cat.route(["n_name"], ["revenue", "orders"]).name \
        == "by_nation_priority"
    assert cat.route(["c_mktsegment"], ["revenue"]) is None  # base fallback
    out = cat.query(spark, ["n_name"], ["revenue", "orders"])
    return out.select(
        "n_name",
        F.round(F.col("revenue"), 6).cast("decimal(18,6)").cast("double")
        .alias("revenue"),
        F.col("orders").cast("bigint").alias("orders"),
    )


@register(
    "update_where_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 13 = 0
                THEN o_totalprice + 250.0 ELSE o_totalprice END
               AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def update_where_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE (operators/manifest_table.py:update_where):
    ``UPDATE ... SET o_totalprice = o_totalprice + 250 WHERE`` against a
    partitioned fact table rewrites ONLY the data files that contain a
    matching row — the predicate names one partition value, so every
    other partition's files carry over into the new snapshot BY
    REFERENCE (same paths; the in-query asserts pin it). This is Delta's
    UPDATE cost model: one answer-sized match scan, then a rewrite
    bounded by the matched file set, never the table. Reference
    behavior modeled: transformation-applied-in-place on a loaded
    target (transform_field family semantics as a table verb)."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_upd_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
    before = {e["path"] for e in t._load_manifest()["files"]}
    n = t.update_where(
        spark,
        "o_orderpriority = '1-URGENT' AND o_orderkey % 13 = 0",
        {"o_totalprice": F.col("o_totalprice") + 250.0},
    )
    after = {e["path"] for e in t._load_manifest()["files"]}
    carried = before & after
    assert n > 0
    assert carried, "untouched files must carry over by reference"
    assert before - after, "matched files must be rewritten, not patched"
    return t.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@register(
    "table_changes_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           'delete' AS _change_type, CAST(2 AS INTEGER) AS _commit_version
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice + 1000.0, 'insert', 2
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 3
    FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
    """,
)
def table_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (operators/manifest_table.py:changes_between —
    Delta CDF semantics derived from the manifest diff, no per-commit
    change files): orders lands at v1, a merge-on-read repricing batch
    (every 7th order, +1000) commits v2, a DV delete (every 11th,
    unless repriced) commits v3. ``changes_between(1)`` must emit the
    v2 batch rows as inserts, the v2 deletion-vectored old rows and the
    v3 DV'd rows as deletes — each stamped with the commit version that
    produced it, so an incremental consumer can checkpoint a version
    bookmark and treat the table as a stream source. Because both
    commits are MOR/DV (no file rewrites), the feed is row-exact — the
    oracle reproduces it as three selects over the base table. The
    replay invariant (v1 snapshot + feed == live table) is pinned in
    tests/test_table_verbs_r7.py."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_cdf_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
        batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
        t.merge_on_read(spark, batch, ["o_orderkey"])
        t.delete_where(
            spark, "o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0"
        )
    feed = t.changes_between(spark, 1)
    return feed.select(
        "o_orderkey", "o_totalprice", "_change_type",
        F.col("_commit_version").cast("int").alias("_commit_version"),
    )


@register(
    "rollback_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def rollback_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only RESTORE (operators/manifest_table.py:rollback_to —
    Iceberg rollback_to_snapshot / Delta RESTORE): a bad in-place
    repricing (update_where over every 'F' order) commits v2; rolling
    back publishes v3 whose file set IS v1's — no data moves, and the
    bad snapshot stays time-travelable until expired (asserted). The
    read after rollback must be byte-identical to the original load,
    which is exactly what the oracle checks."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_rb_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
        t.update_where(
            spark, "o_orderstatus = 'F'",
            {"o_totalprice": F.col("o_totalprice") * 2.0},
        )
    t.rollback_to(1)
    assert t.versions() == [1, 2, 3]
    m = t._load_manifest()
    assert m.get("operation") == "rollback"
    v1_files = {e["path"] for e in t._load_manifest(version=1)["files"]}
    assert {e["path"] for e in m["files"]} == v1_files
    return t.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@register(
    "cdf_incremental_mv_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT (SELECT max(o_orderkey) + 1 FROM orders), 'O', 1.0)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                AS DECIMAL(28,6)) AS DOUBLE) AS total_price
    FROM v2 GROUP BY o_orderstatus
    """,
)
def cdf_incremental_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV maintenance driven by the table's OWN change feed
    (operators/manifest_table.py:changes_between +
    operators/incremental_agg.py:apply_change_feed): the upsert batch
    lands MERGE-ON-READ, so the v1→v2 feed is row-exact and
    batch-sized — deletes are the deletion-vectored old rows, inserts
    the appended batch file — and the rollup folds it forward without
    re-reading EITHER snapshot (contrast incremental_mv_orders, whose
    feed comes from a full-outer self-diff of two whole snapshots:
    correct, but view-sized). This is the Delta/Iceberg streaming-MV
    loop: CDF versions are the bookmark, maintenance cost follows the
    batch. The oracle recomputes the aggregate from merged state."""
    import tempfile

    from pipelinewise_spark.operators.incremental_agg import (
        apply_change_feed,
        build_aggregate,
    )
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    with fixture_timer():
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_cmv_") + "/orders")
        t.overwrite(orders)
        max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
        batch = (
            orders.filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
            .unionByName(
                local_frame(spark, 
                    [(int(max_key) + 1, "O", 1.0)],
                    "o_orderkey long, o_orderstatus string, "
                    "o_totalprice double",
                )
            )
        )
        t.merge_on_read(spark, batch, ["o_orderkey"])
    mv = build_aggregate(
        t.read(spark, version=1),
        ["o_orderstatus"], {"total_price": "o_totalprice"},
    )
    feed = t.changes_between(spark, 1)
    is_del = F.col("_change_type") == "delete"
    changes = feed.select(
        F.when(is_del, F.lit("d")).otherwise(F.lit("i")).alias("op"),
        F.when(is_del, F.col("o_orderstatus")).alias("old_o_orderstatus"),
        F.when(is_del, F.col("o_totalprice")).alias("old_o_totalprice"),
        F.when(~is_del, F.col("o_orderstatus")).alias("new_o_orderstatus"),
        F.when(~is_del, F.col("o_totalprice")).alias("new_o_totalprice"),
    )
    out = apply_change_feed(
        mv, changes, ["o_orderstatus"], {"total_price": "o_totalprice"}
    )
    return out.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("total_price"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("total_price"),
    )


@register(
    "time_travel_as_of_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def time_travel_as_of_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF TIMESTAMP time travel (operators/manifest_table.py:
    version_as_of): every publish stamps ``committed_at`` (UTC,
    microseconds), and a timestamp read resolves to the newest snapshot
    at or before that instant on manifest metadata alone — Delta's
    ``TIMESTAMP AS OF`` / Iceberg's snapshot-for-timestamp. Orders land
    at v1, a DV delete commits v2; reading as-of v1's own commit stamp
    must return the FULL original table (the in-query asserts also pin
    that v2's stamp resolves to v2 and that a pre-table timestamp
    raises instead of silently resolving past expired history)."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders")
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_asof_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
        t.delete_where(spark, "o_orderkey % 2 = 0")
    s1 = t._load_manifest(version=1)["committed_at"]
    s2 = t._load_manifest(version=2)["committed_at"]
    assert t.version_as_of(s1) == 1 and t.version_as_of(s2) == 2
    try:
        t.version_as_of("1970-01-01 00:00:00")
        raise AssertionError("pre-table timestamp must raise")
    except ValueError:
        pass
    return t.read(spark, as_of=s1).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


@register(
    "merge_schema_drift_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CASE WHEN o.o_orderkey % 10 = 0
                     AND o.o_orderpriority = '1-URGENT'
                THEN o.o_totalprice + 50.0
                ELSE o.o_totalprice END AS o_totalprice,
           CASE WHEN o.o_orderkey % 10 = 0
                     AND o.o_orderpriority = '1-URGENT'
                THEN 'reprice-2026'
                ELSE NULL END AS o_adjust_reason
    FROM orders o
    """,
)
def merge_schema_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with automatic schema evolution (Delta autoMerge /
    reference add-column evolution, schema_evolution.py class, applied
    at the TABLE layer): an upsert batch carries a brand-new
    ``o_adjust_reason`` column; the merge widens the table schema,
    batch rows land with values, every pre-drift row reads as NULL —
    and untouched partitions' files carry over by reference unrewritten
    (asserted), so evolving a 100 TB table's schema costs only the
    touched partitions. Spark mechanics: per-file
    ``unionByName(allowMissingColumns=True)`` at read + the manifest
    carrying files of different physical schemas side by side."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_drift_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
    before = {e["path"] for e in t._load_manifest()["files"]}
    batch = (
        orders.filter(
            (F.col("o_orderkey") % 10 == 0)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 50.0)
        .withColumn("o_adjust_reason", F.lit("reprice-2026"))
    )
    t.merge(spark, batch, ["o_orderkey"])
    assert before & {
        e["path"] for e in t._load_manifest()["files"]
    }, "schema evolution must not rewrite untouched partitions"
    return t.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_adjust_reason"
    )


@register(
    "cdf_follow_mv_orders",
    oracle="""
    WITH vf AS (
        SELECT o_orderkey, o_orderstatus,
               (o_totalprice
                + CASE WHEN o_orderkey % 7 = 0 THEN 100.0 ELSE 0.0 END)
                + CASE WHEN o_orderkey % 5 = 0 THEN 200.0 ELSE 0.0 END
                   AS o_totalprice
        FROM orders
        WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0))
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                AS DECIMAL(28,6)) AS DOUBLE) AS total_price
    FROM vf GROUP BY o_orderstatus
    """,
)
def cdf_follow_mv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-poll incremental consumption of the table's change feed
    (streaming/table_feed.py:TableChangeConsumer): three commits land
    against orders — a MOR repricing (every 7th, +100), a DV delete
    (every 13th unless repriced), a second MOR repricing (every 5th,
    +200 on CURRENT prices) — and a consumer with a DURABLE version
    bookmark polls after each, folding every feed into the maintained
    revenue-by-status rollup via apply_change_feed. The in-query
    asserts pin the stream-source contract: each poll sees exactly the
    new commits, the bookmark advances only on commit, and a final
    poll returns None (no job runs). The folded MV must equal the
    oracle's recompute from final state — across polls, not just one
    fold (the cdf_incremental_mv_orders single-fold case
    generalized)."""
    import tempfile

    from pipelinewise_spark.operators.incremental_agg import (
        apply_change_feed,
        build_aggregate,
    )
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.streaming.table_feed import TableChangeConsumer

    with fixture_timer():
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t = ManifestTable(tempfile.mkdtemp(prefix="pws_follow_") + "/t")
        t.overwrite(orders)
    state = tempfile.mkdtemp(prefix="pws_follow_state_")
    consumer = TableChangeConsumer(t, state)
    assert consumer.bookmark() == 1 and consumer.poll(spark) is None
    mv = build_aggregate(
        t.read(spark, version=1),
        ["o_orderstatus"], {"total_price": "o_totalprice"},
    )

    def commit_wave(i: int) -> None:
        if i == 0:
            b = t.read(spark).filter(F.col("o_orderkey") % 7 == 0) \
                .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
            t.merge_on_read(spark, b, ["o_orderkey"])
        elif i == 1:
            t.delete_where(
                spark, "o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0"
            )
        else:
            b = t.read(spark).filter(F.col("o_orderkey") % 5 == 0) \
                .withColumn("o_totalprice", F.col("o_totalprice") + 200.0)
            t.merge_on_read(spark, b, ["o_orderkey"])

    is_del = F.col("_change_type") == "delete"
    for i in range(3):
        commit_wave(i)
        feed, head = consumer.poll(spark)
        assert head == i + 2
        changes = feed.select(
            F.when(is_del, F.lit("d")).otherwise(F.lit("i")).alias("op"),
            F.when(is_del, F.col("o_orderstatus"))
            .alias("old_o_orderstatus"),
            F.when(is_del, F.col("o_totalprice"))
            .alias("old_o_totalprice"),
            F.when(~is_del, F.col("o_orderstatus"))
            .alias("new_o_orderstatus"),
            F.when(~is_del, F.col("o_totalprice"))
            .alias("new_o_totalprice"),
        )
        mv = apply_change_feed(
            mv, changes, ["o_orderstatus"], {"total_price": "o_totalprice"}
        ).localCheckpoint()
        consumer.commit(head)
        assert consumer.bookmark() == head
    assert consumer.poll(spark) is None
    return mv.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("total_price"), 6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("total_price"),
    )


@register(
    "histogram_quantile_orders",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM orders)
    SELECT o_orderpriority,
           o_totalprice AS exact_median,
           TRUE AS within_bucket_width
    FROM r WHERE rn = CAST(CEIL(cnt * 0.5) AS BIGINT)
    """,
)
def histogram_quantile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketches
    (operators/sketches.py:histogram_sketch_table/rollup/quantile — the
    quantile companion to the HLL sketch tables): per-(priority, status)
    fixed-range bucket arrays are built in one map-side-combinable pass,
    ROLLED UP to per-priority by element-wise array addition (KB-sized
    shuffles, bit-identical to a direct build — exactly mergeable,
    pinned in tests), and the median estimated off the merged sketch.
    The contract is hash-checkable: the query emits Spark's own exact
    rank-based median plus the boolean guarantee
    ``exact <= estimate <= exact + bucket_width`` — the estimate still
    exercises the full sketch path, the row hashes exactly (the
    rows-only→contract-oracle pattern from VERDICT r6 #3)."""
    from pyspark.sql import Window

    from pipelinewise_spark.operators.sketches import (
        histogram_quantile,
        histogram_rollup,
        histogram_sketch_table,
    )

    lo, hi, nb = 0.0, 600_000.0, 4096
    orders = read_table(spark, sf_dir, "orders")
    fine = histogram_sketch_table(
        orders, ["o_orderpriority", "o_orderstatus"], "o_totalprice",
        lo, hi, nb,
    )
    est = histogram_quantile(
        histogram_rollup(fine, ["o_orderpriority"]), 0.5, lo, hi
    ).select("o_orderpriority", "quantile_est")

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    cw = Window.partitionBy("o_orderpriority")
    exact = (
        orders.withColumn("__rn", F.row_number().over(w))
        .withColumn("__c", F.count("*").over(cw))
        .filter(F.col("__rn") == F.ceil(F.col("__c") * 0.5))
        .select("o_orderpriority",
                F.col("o_totalprice").alias("exact_median"))
    )
    width = (hi - lo) / nb
    return exact.join(F.broadcast(est), "o_orderpriority").select(
        "o_orderpriority",
        "exact_median",
        (
            (F.col("quantile_est") >= F.col("exact_median"))
            & (F.col("quantile_est") <= F.col("exact_median") + width)
        ).alias("within_bucket_width"),
    )


@register(
    "cdf_sketch_maintenance_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)),
    r AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM v2)
    SELECT o_orderpriority,
           o_totalprice AS exact_median,
           TRUE AS maintained_equals_rebuild,
           TRUE AS within_bucket_width
    FROM r WHERE rn = CAST(CEIL(cnt * 0.5) AS BIGINT)
    """,
)
def cdf_sketch_maintenance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate statistics maintained from the table's change feed
    (manifest_table.py:changes_between + sketches.py:
    histogram_apply_feed): the per-priority price histogram built at v1
    folds a MOR repricing + DV delete commit forward — deletes SUBTRACT
    bucket counts (the fixed-range histogram is invertible, which
    HLL/KLL are not) — and the maintained sketch is asserted
    BIT-IDENTICAL to a fresh rebuild over the live table before the
    median contract is emitted. O(changes) work keeps a 100 TB table's
    column distribution current; the oracle pins the exact rank-based
    median of final state plus both boolean guarantees."""
    import tempfile

    from pyspark.sql import Window

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.sketches import (
        histogram_apply_feed,
        histogram_quantile,
        histogram_sketch_table,
    )

    lo, hi, nb = 0.0, 600_000.0, 4096
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_csm_")
        t = ManifestTable(root, ["o_orderpriority"])
        t.overwrite(orders)
        batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
        t.merge_on_read(spark, batch, ["o_orderkey"])
        t.delete_where(
            spark, "o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0"
        )
    sk = histogram_sketch_table(
        t.read(spark, version=1), ["o_orderpriority"], "o_totalprice",
        lo, hi, nb,
    )
    feed = t.changes_between(spark, 1)
    maintained = histogram_apply_feed(
        sk, feed, ["o_orderpriority"], "o_totalprice", lo, hi, nb
    )
    rebuilt = histogram_sketch_table(
        t.read(spark), ["o_orderpriority"], "o_totalprice", lo, hi, nb
    )
    eq = maintained.alias("a").join(
        rebuilt.alias("b"), "o_orderpriority"
    ).select(
        "o_orderpriority",
        (
            (F.col("a.hist_sketch") == F.col("b.hist_sketch"))
            & (F.col("a.n") == F.col("b.n"))
        ).alias("maintained_equals_rebuild"),
    )
    est = histogram_quantile(maintained, 0.5, lo, hi).select(
        "o_orderpriority", "quantile_est"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    cw = Window.partitionBy("o_orderpriority")
    exact = (
        t.read(spark)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__c", F.count("*").over(cw))
        .filter(F.col("__rn") == F.ceil(F.col("__c") * 0.5))
        .select("o_orderpriority",
                F.col("o_totalprice").alias("exact_median"))
    )
    width = (hi - lo) / nb
    return (
        exact.join(F.broadcast(eq), "o_orderpriority")
        .join(F.broadcast(est), "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_median",
            "maintained_equals_rebuild",
            (
                (F.col("quantile_est") >= F.col("exact_median"))
                & (F.col("quantile_est") <= F.col("exact_median") + width)
            ).alias("within_bucket_width"),
        )
    )


@register(
    "xml_source_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def xml_source_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML file-source end-to-end over Spark 4's NATIVE xml format (the
    spark-xml package was merged into core — no external jar): orders
    written as row-tagged XML, read back through the same FileSource
    seam as CSV/JSONL/binary with schema inference.  XML is a line-less
    format, so `_sdc_source_lineno` is (correctly) absent; file/bucket
    decoration rides the `_metadata` scan column like every other
    format.  Reference: tap-s3-csv handles delimited files only — this
    extends the same source contract to a format the reference never
    could."""
    import os
    import tempfile

    from pipelinewise_spark.sources.files import FileSource

    # fixture: writing the row-tagged source XML
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_xml_")
        path = os.path.join(tmp, "orders_xml")
        (
            read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .orderBy("o_orderkey")
            .coalesce(1)
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "order")
            .save(path)
        )
    src = FileSource(path=path, format="xml", options={"rowTag": "order"})
    df = src.read(spark, with_source_metadata=True)
    assert "_sdc_source_file" in df.columns
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@register(
    "cms_user_frequency_events",
    oracle="""
    WITH cnt AS (SELECT user_id, count(*) AS exact_cnt
                 FROM events GROUP BY user_id)
    SELECT user_id, exact_cnt,
           TRUE AS overcount_ok, TRUE AS within_eps
    FROM cnt ORDER BY exact_cnt DESC, user_id LIMIT 20
    """,
)
def cms_user_frequency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (operators/sketches.py:cms_*) —
    completes the mergeable-sketch triad (HLL distinct, histogram
    quantiles, CMS frequency).  The sketch builds in one scan; the 20
    heaviest users (deterministic (count, key) order) are point-queried
    against it.

    Oracle contract (xxhash64 cells are not SQL-reproducible): emit the
    exact counts plus two BOOLEANs — ``overcount_ok`` pins the hard CMS
    guarantee (estimate >= exact, always), ``within_eps`` the
    probabilistic one (estimate <= exact + e/width × N; deterministic
    for a fixed dataset+hash, verified at sf0.001/0.01/0.1).  DuckDB
    reproduces the exact counts and pins both booleans TRUE.
    tests/test_cms.py additionally pins exact mergeability
    (union-of-parts ≡ direct build, bit-identical — integer counters
    have no HLL-style mode promotion)."""
    import math

    from pipelinewise_spark.operators.sketches import (
        cms_estimate,
        cms_sketch_table,
    )

    depth, width = 5, 4096
    events = read_table(spark, sf_dir, "events")
    sketch = cms_sketch_table(events, [], "user_id", depth, width)
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
        .limit(20)
    )
    est = cms_estimate(sketch, top.select("user_id"), "user_id", depth, width)
    total = events.agg(F.count("*").alias("n_total"))
    eps = math.e / width
    return (
        top.join(est, "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "exact_cnt",
            (F.col("freq_est") >= F.col("exact_cnt")).alias("overcount_ok"),
            (
                F.col("freq_est")
                <= F.col("exact_cnt") + F.lit(eps) * F.col("n_total")
            ).alias("within_eps"),
        )
    )


@register(
    "cdf_cms_maintenance_orders",
    oracle="""
    WITH v2 AS (
        SELECT o_custkey FROM orders
        WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)),
    cnt AS (SELECT o_custkey, count(*) AS exact_cnt FROM v2 GROUP BY 1)
    SELECT o_custkey, exact_cnt,
           TRUE AS maintained_equals_rebuild, TRUE AS overcount_ok
    FROM cnt ORDER BY exact_cnt DESC, o_custkey LIMIT 10
    """,
)
def cdf_cms_maintenance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency sketch maintained from the table's change feed
    (manifest_table.py:changes_between + sketches.py:cms_apply_feed),
    completing the maintained-sketch family beside the CDF-fed histogram
    (cdf_sketch_maintenance_orders): the per-customer order-count CMS
    built at v1 folds a MOR repricing commit (delete+insert pairs with
    the SAME custkey — must cancel cell-exactly) and a DV delete commit
    (real −1s) forward, then is asserted BIT-IDENTICAL to a fresh
    rebuild over the live table.  The contract emits the 10 heaviest
    customers of FINAL state with exact counts, the rebuild-equality
    boolean, and the CMS overcount guarantee; the oracle reproduces the
    exact counts and pins both TRUE."""
    import tempfile

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.sketches import (
        cms_apply_feed,
        cms_estimate,
        cms_sketch_table,
    )

    depth, width = 5, 4096
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with fixture_timer():
        root = tempfile.mkdtemp(prefix="pws_ccm_")
        t = ManifestTable(root)
        t.overwrite(orders)
        batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
        t.merge_on_read(spark, batch, ["o_orderkey"])
        t.delete_where(spark, "o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0")
    sk = cms_sketch_table(
        t.read(spark, version=1), [], "o_custkey", depth, width
    )
    feed = t.changes_between(spark, 1)
    maintained = cms_apply_feed(sk, feed, "o_custkey", depth, width)
    rebuilt = cms_sketch_table(t.read(spark), [], "o_custkey", depth, width)
    same = (
        maintained.alias("m")
        .join(rebuilt.alias("r"), ["i", "col"], "full_outer")
        .select(
            (
                F.coalesce(F.col("m.cnt"), F.lit(0))
                == F.coalesce(F.col("r.cnt"), F.lit(0))
            ).alias("same")
        )
        .agg(F.min("same").alias("maintained_equals_rebuild"))
    )
    top = (
        t.read(spark)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("o_custkey"))
        .limit(10)
    )
    est = cms_estimate(
        maintained, top.select("o_custkey"), "o_custkey", depth, width
    )
    return (
        top.join(est, "o_custkey")
        .crossJoin(F.broadcast(same))
        .select(
            "o_custkey",
            "exact_cnt",
            "maintained_equals_rebuild",
            (F.col("freq_est") >= F.col("exact_cnt")).alias("overcount_ok"),
        )
    )


@register(
    "singer_stream_sync_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 1.0 AS o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def singer_stream_sync_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singer NDJSON capture interop (sources/singer.py:replay_capture)
    — the reference's lingua franca ingested end to end: a captured tap
    stdout stream (SCHEMA → StructType via the JSON-Schema bridge,
    RECORDs parsed DISTRIBUTED via from_json, STATE → bookmarks with
    the reference's flushed_state discipline —
    target_snowflake/__init__.py:122-416 persist_lines) replays through
    buffered flushes into a ManifestTable. The capture carries an
    initial half-load, a mid-capture STATE, then a full resync with
    every price bumped +1.0 — so cross-batch MERGE last-wins must
    leave exactly the bumped rows (the SQL oracle). Asserted in-query:
    a STATE arriving while records are buffered never advances the
    flushed bookmark until those records land (out-of-order STATE /
    flush-ordering), and the final state adopts the last STATE
    wholesale."""
    import json
    import os
    import tempfile

    from pipelinewise_spark.sources.singer import replay_capture

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        )
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singer_")
        rows = sorted(
            base.collect(), key=lambda r: r["o_orderkey"]
        )  # capture fixture — tap output is inherently ordered
        schema_msg = {
            "type": "SCHEMA", "stream": "orders",
            "schema": {"type": "object", "properties": {
                "o_orderkey": {"type": ["null", "integer"]},
                "o_custkey": {"type": ["null", "integer"]},
                "o_orderstatus": {"type": ["null", "string"]},
                "o_totalprice": {"type": ["null", "number"]},
                "o_orderpriority": {"type": ["null", "string"]},
            }},
            "key_properties": ["o_orderkey"],
        }

        def rec(r, bump):
            return {"type": "RECORD", "stream": "orders", "record": {
                "o_orderkey": r["o_orderkey"],
                "o_custkey": r["o_custkey"],
                "o_orderstatus": r["o_orderstatus"],
                "o_totalprice": r["o_totalprice"] + bump,
                "o_orderpriority": r["o_orderpriority"],
            }}

        def state(pos):
            return {"type": "STATE",
                    "value": {"bookmarks": {"orders": {"pos": pos}}}}

        lines = [schema_msg, state(0)]
        lines += [rec(r, 0.0) for r in rows if r["o_orderkey"] % 2 == 0]
        lines.append(state(1))  # arrives while records may be buffered
        lines += [rec(r, 1.0) for r in rows]  # full resync, price +1.0
        lines.append(state(2))
        cap = os.path.join(tmp, "cap.ndjson")
        with open(cap, "w") as fh:
            for o in lines:
                fh.write(json.dumps(o) + "\n")
        # scale-relative: a handful of real flushes at every sf
        batch = max(4, len(rows) // 6)

    res = replay_capture(
        spark, cap, os.path.join(tmp, "tgt"), batch_size_rows=batch
    )
    # flush-ordering contract: no mid-capture emit ever carries a
    # bookmark past the records that had not flushed yet, and the EOF
    # flush-all adopts the final STATE wholesale
    assert res.state == {"bookmarks": {"orders": {"pos": 2}}}
    assert all(
        s["bookmarks"]["orders"]["pos"] <= 1
        for s in res.emitted_states[:-1] if s is not None
    )
    assert res.n_flushes >= 3
    return res.tables["orders"].read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )


@register(
    "singer_activate_version_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(2 AS BIGINT) AS _sdc_table_version
    FROM orders WHERE o_orderkey % 5 = 0
    """,
)
def singer_activate_version_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Singer ACTIVATE_VERSION swap through the BULK capture path
    (sources/singer.py:load_capture — one distributed pass per stream:
    version filter + PK last-wins by capture position + MERGE):
    version-1 records load, ACTIVATE_VERSION(1) lands, then a full
    version-2 resync with ACTIVATE_VERSION(2) — rows seen only in
    version 1 must leave the table (the full-resync table swap,
    reference fastsync/ACTIVATE_VERSION semantics). Final table =
    exactly the version-2 records; bookmarks take the capture's final
    STATE."""
    import json
    import os
    import tempfile

    from pipelinewise_spark.plans.state import BookmarkStore
    from pipelinewise_spark.sources.singer import load_capture

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singerav_")
        rows = sorted(base.collect(), key=lambda r: r["o_orderkey"])
        schema_msg = {
            "type": "SCHEMA", "stream": "orders",
            "schema": {"type": "object", "properties": {
                "o_orderkey": {"type": ["null", "integer"]},
                "o_orderstatus": {"type": ["null", "string"]},
                "o_totalprice": {"type": ["null", "number"]},
            }},
            "key_properties": ["o_orderkey"],
        }

        def rec(r, version):
            return {"type": "RECORD", "stream": "orders", "version": version,
                    "record": {
                        "o_orderkey": r["o_orderkey"],
                        "o_orderstatus": r["o_orderstatus"],
                        "o_totalprice": r["o_totalprice"],
                    }}

        lines = [schema_msg]
        # version 1: only every other key — these must vanish post-swap
        lines += [rec(r, 1) for r in rows if r["o_orderkey"] % 2 == 0]
        lines.append({"type": "ACTIVATE_VERSION", "stream": "orders",
                      "version": 1})
        lines += [rec(r, 2) for r in rows]  # version 2: full resync
        lines.append({"type": "ACTIVATE_VERSION", "stream": "orders",
                      "version": 2})
        lines.append({"type": "STATE",
                      "value": {"bookmarks": {"orders": {"version": 2}}}})
        cap = os.path.join(tmp, "cap.ndjson")
        with open(cap, "w") as fh:
            for o in lines:
                fh.write(json.dumps(o) + "\n")

    bm = BookmarkStore(os.path.join(tmp, "state.json"))
    tables = load_capture(
        spark, cap, os.path.join(tmp, "tgt"), bookmarks=bm
    )
    assert bm.get("orders", "version") == 2
    return tables["orders"].read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("_sdc_table_version"),
    )


@register(
    "singer_capture_roundtrip_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey % 11 = 0
    """,
)
def singer_capture_roundtrip_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Singer capture EXPORT → LOAD roundtrip (sources/singer.py:
    write_capture + load_capture) — the interop is bidirectional: an
    engine table serializes to a standard tap-stdout NDJSON capture
    (SCHEMA via the StructType→JSON-Schema bridge, RECORD lines
    serialized JVM-side with a microsecond timestampFormat, pinned
    key order so captures are byte-reproducible) and loading that
    capture back reproduces the table EXACTLY — doubles, strings and
    TIMESTAMPs value-identical to the source parquet, which is what
    the SQL oracle checks. The export streams through
    toLocalIterator (one partition of finished line strings at a
    time); a capture is a single-file interop/archival artifact by
    contract, never the data path."""
    import os
    import tempfile

    from pipelinewise_spark.sources.singer import (
        load_capture,
        write_capture,
    )

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderdate")
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singerrt_")
    cap = os.path.join(tmp, "cap.ndjson")
    n = write_capture(base, cap, "orders", ["o_orderkey"])
    tables = load_capture(spark, cap, os.path.join(tmp, "tgt"))
    out = tables["orders"].read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    assert n == out.count()
    return out


@register(
    "singer_schema_drift_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(o_custkey AS BIGINT) AS o_custkey_20240101_0000,
           CASE WHEN o_orderkey % 3 = 0
                THEN 'C' || CAST(o_custkey AS VARCHAR) END
               AS o_custkey
    FROM orders WHERE o_orderkey % 13 = 0
    """,
)
def singer_schema_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-capture column TYPE change through the Singer replay path
    (sources/singer.py:replay_capture + operators/schema_evolution.py)
    — the reference's ``version_column`` semantics
    (target_snowflake/db_sync.py:849-870), triggered by a re-emitted
    SCHEMA exactly as wal2json/binlog schema refresh does
    (tap_postgres logical_replication.py:437-453): o_custkey is
    emitted as INTEGER, then the tap re-emits SCHEMA with it as
    STRING and re-sends every third key as 'C'||value. The target must
    end with the old column renamed ``o_custkey_<suffix>`` (all
    pre-drift values retained — including for re-sent PKs, whose
    merge only SETs the batch's columns) and a fresh string
    ``o_custkey`` populated only for the re-sent keys — the SQL
    oracle states exactly that."""
    import json
    import os
    import tempfile

    from pipelinewise_spark.sources.singer import replay_capture

    base = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_orderstatus", "o_custkey")
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singersd_")
        rows = sorted(base.collect(), key=lambda r: r["o_orderkey"])

        def schema_msg(cust_type):
            return {"type": "SCHEMA", "stream": "orders",
                    "schema": {"type": "object", "properties": {
                        "o_orderkey": {"type": ["null", "integer"]},
                        "o_orderstatus": {"type": ["null", "string"]},
                        "o_custkey": {"type": ["null", cust_type]},
                    }},
                    "key_properties": ["o_orderkey"]}

        lines = [schema_msg("integer")]
        lines += [{"type": "RECORD", "stream": "orders", "record": {
            "o_orderkey": r["o_orderkey"],
            "o_orderstatus": r["o_orderstatus"],
            "o_custkey": r["o_custkey"],
        }} for r in rows]
        lines.append(schema_msg("string"))  # the type drift
        lines += [{"type": "RECORD", "stream": "orders", "record": {
            "o_orderkey": r["o_orderkey"],
            "o_orderstatus": r["o_orderstatus"],
            "o_custkey": f"C{r['o_custkey']}",
        }} for r in rows if r["o_orderkey"] % 3 == 0]
        cap = os.path.join(tmp, "cap.ndjson")
        with open(cap, "w") as fh:
            for o in lines:
                fh.write(json.dumps(o) + "\n")
        batch = max(4, len(rows) // 6)  # several real flushes at any sf

    res = replay_capture(
        spark, cap, os.path.join(tmp, "tgt"), batch_size_rows=batch,
        version_suffix="20240101_0000",
    )
    return res.tables["orders"].read(spark).select(
        "o_orderkey", "o_orderstatus",
        "o_custkey_20240101_0000", "o_custkey",
    )


@register(
    "singer_multi_stream_capture",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(SUM(l.l_quantity) + 5 AS DOUBLE) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 31 = 0
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def singer_multi_stream_capture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE capture carrying TWO interleaved streams — the reference's
    parent/child tap pattern (a tap emits orders and their lineitems
    into the same stdout; target_snowflake/__init__.py:122-416 keeps
    one buffer PER STREAM and flushes each independently when ITS
    row_count fills). Replay routes each stream to its own target
    table (sources/singer.py:replay_capture); the child stream's
    composite PK (l_orderkey, l_lineno — a per-order line id the tap
    assigns, because the synthetic lineitem's l_linenumber is NOT
    unique within an order) merges a late +5 quantity correction for
    each order's FIRST line across flush boundaries — last-wins by
    capture position, per stream. The result joins the two TARGET
    tables; the oracle states the same join over the source parquet
    with the correction applied (exactly one line per order gets +5,
    so each group sum gains a flat 5 regardless of which line)."""
    import json
    import os
    import tempfile

    from pipelinewise_spark.sources.singer import replay_capture

    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 31 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    lines_df = (
        read_table(spark, sf_dir, "lineitem")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singerms_")
        orows = sorted(orders.collect(), key=lambda r: r["o_orderkey"])
        lrows = sorted(
            lines_df.collect(),
            key=lambda r: (r["l_orderkey"], r["l_linenumber"]),
        )
        # the tap assigns its own per-order line id: the synthetic
        # lineitem repeats l_linenumber within an order, so it is not
        # a PK component — enumerate deterministically instead
        by_order: dict[int, list] = {}
        for r in lrows:
            ls = by_order.setdefault(r["l_orderkey"], [])
            ls.append((len(ls) + 1, r))

        def schema_msg(stream, props, kp):
            return {"type": "SCHEMA", "stream": stream,
                    "schema": {"type": "object", "properties": props},
                    "key_properties": kp}

        def orec(r):
            return {"type": "RECORD", "stream": "orders", "record": {
                "o_orderkey": r["o_orderkey"],
                "o_orderstatus": r["o_orderstatus"],
            }}

        def lrec(lineno, r, bump=0.0):
            return {"type": "RECORD", "stream": "lineitem", "record": {
                "l_orderkey": r["l_orderkey"],
                "l_lineno": lineno,
                "l_quantity": r["l_quantity"] + bump,
            }}

        cap_lines = [
            schema_msg("orders", {
                "o_orderkey": {"type": ["null", "integer"]},
                "o_orderstatus": {"type": ["null", "string"]},
            }, ["o_orderkey"]),
            schema_msg("lineitem", {
                "l_orderkey": {"type": ["null", "integer"]},
                "l_lineno": {"type": ["null", "integer"]},
                "l_quantity": {"type": ["null", "number"]},
            }, ["l_orderkey", "l_lineno"]),
        ]
        # parent/child interleave: each order, then its lines
        for r in orows:
            cap_lines.append(orec(r))
            cap_lines.extend(
                lrec(no, x)
                for no, x in by_order.get(r["o_orderkey"], [])
            )
        # late child-stream correction: each order's FIRST line gets
        # +5, merged across flush boundaries by the composite PK
        cap_lines.extend(
            lrec(no, x, 5.0)
            for ls in by_order.values() for no, x in ls if no == 1
        )
        cap_lines.append({"type": "STATE", "value": {"bookmarks": {
            "orders": {"pos": 1}, "lineitem": {"pos": 1}}}})
        cap = os.path.join(tmp, "cap.ndjson")
        with open(cap, "w") as fh:
            for o in cap_lines:
                fh.write(json.dumps(o) + "\n")
        # both streams flush several times — lineitem ~4x more often
        batch = max(4, len(orows) // 2)

    res = replay_capture(
        spark, cap, os.path.join(tmp, "tgt"), batch_size_rows=batch
    )
    # independent per-stream buffers: the child stream fills ~4x as
    # often as the parent at the same batch_size_rows
    assert res.n_flushes >= 5, res.n_flushes
    assert res.state == {"bookmarks": {
        "orders": {"pos": 1}, "lineitem": {"pos": 1}}}
    o_tbl = res.tables["orders"].read(spark)
    l_tbl = res.tables["lineitem"].read(spark)
    return (
        o_tbl.join(l_tbl, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


@register(
    "singer_rotated_tail_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def singer_rotated_tail_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rotated capture EXPORT → TAIL-FOLLOW roundtrip: the producer
    side of the tail-follow contract (sources/singer.py:
    write_capture_rotated — sequentially named NDJSON files whose
    name-order concatenation is byte-identical to the single-file
    export) feeds the Structured-Streaming consumer (streaming/
    singer.py:sync_capture_dir, one file per micro-batch, sequence-
    guarded merges) and reproduces the table EXACTLY — the full
    ``engine → tap-stdout rotation → engine`` pipe loop the reference
    runs as `tap | target` (cli/commands.py:346-355). Rotation size is
    scale-relative so the run is multi-micro-batch at every sf."""
    import os
    import tempfile

    from pipelinewise_spark.sources.singer import write_capture_rotated
    from pipelinewise_spark.streaming.singer import sync_capture_dir

    base = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    )
    with fixture_timer():
        tmp = tempfile.mkdtemp(prefix="pws_singerrot_")
        n_rows = base.count()
        per_file = max(4, n_rows // 4)  # >=4 files at any sf
    capdir = os.path.join(tmp, "cap")
    n = write_capture_rotated(
        base, capdir, "customer", ["c_custkey"],
        records_per_file=per_file,
        state={"bookmarks": {"customer": {"done": True}}},
    )
    st = sync_capture_dir(
        spark, capdir, os.path.join(tmp, "tgt"),
        os.path.join(tmp, "ckpt"), max_files_per_trigger=1,
    )
    assert n == n_rows
    assert st.last_batch >= 2, "expected a multi-micro-batch run"
    assert st.bookmark == {"bookmarks": {"customer": {"done": True}}}
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    return ManifestTable(os.path.join(tmp, "tgt", "customer")).read(
        spark
    ).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
