"""Round-6 new operators: duplicated-span coverage, interpolated
quantiles, per-group distributed prefix sum / token-budget mixture —
semantics vs independent references and plan shapes vs the scale contract
(no SinglePartition exchange; offsets via broadcast join)."""

from __future__ import annotations

import contextlib
import io
import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from pipelinewise_spark.functions.curation import (
    group_prefix_sum,
    token_budget_mixture,
)
from pipelinewise_spark.functions.spans import duplicated_span_coverage
from pipelinewise_spark.operators.rank import exact_quantiles_interpolated


def _plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ------------------------------------------------- duplicated spans


def test_span_coverage_hand_case(spark):
    """Hand-computable corpus: docs 1+2 share one 4-token run; doc 3 is
    unique; doc 4 shares two OVERLAPPING runs with doc 5 (interval merge
    must not double count)."""
    docs = [
        (1, "a b c d x y z w"),
        (2, "p q a b c d r s"),
        (3, "unique tokens only here nothing repeats at all"),
        (4, "m n o p2 q2 r2 s2 t2 u2"),
        (5, "zz m n o p2 q2 r2 s2 t2 u2 yy"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_positions"], r["dup_fraction"])
        for r in duplicated_span_coverage(
            df, "doc_id", "text", window=4
        ).collect()
    }
    # doc1: windows at pos 0..4; shared with doc2: "a b c d" (doc1 pos 0,
    # doc2 pos 2) -> 4 covered positions
    assert got[1] == (8, 4, 0.5)
    assert got[2] == (8, 4, 0.5)
    assert got[3] == (8, 0, 0.0)
    # docs 4/5 share the full 9/11-token run "m n o p2 q2 r2 s2 t2 u2":
    # doc4 windows pos 0..5 all duplicated -> covers 0..8 = 9 positions
    assert got[4] == (9, 9, 1.0)
    assert got[5] == (11, 9, 9 / 11)


def test_span_coverage_plan_shape(spark, sf_dir):
    from pipelinewise_spark.sources.files import read_table

    d = read_table(spark, sf_dir, "documents")
    plan = _plan_of(duplicated_span_coverage(d, "doc_id", "text"))
    assert "SinglePartition" not in plan, plan
    assert "Generate" in plan  # the posexplode
    # the duplicate-detection agg is partial (map-side combinable)
    assert "partial_min" in plan or "partial" in plan.lower(), plan


# ------------------------------------------------- interpolated quantiles


def test_interpolated_quantiles_match_numpy(spark):
    import numpy as np

    vals = [float((i * 37) % 101) + (i % 7) * 0.25 for i in range(501)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    got = {
        r["quantile"]: r["value"]
        for r in exact_quantiles_interpolated(
            df, "v", ["id"], qs, num_partitions=8
        ).collect()
    }
    for q in qs:
        want = float(np.percentile(np.array(vals), q * 100,
                                   method="linear"))
        assert math.isclose(got[q], want, rel_tol=0, abs_tol=5e-7), (
            q, got[q], want,
        )


def test_interpolated_quantiles_plan_no_single_partition(spark):
    df = spark.range(1000).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
    plan = _plan_of(
        exact_quantiles_interpolated(df, "v", ["id"], [0.5], 8)
    )
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


# ----------------------------------- group prefix sum / mixture


def test_group_prefix_sum_matches_window(spark):
    """Groups deliberately straddle range partitions (16 partitions, 3
    groups): the fragment offsets must reassemble the exact per-group
    cumulative sums."""
    rows = [
        (f"g{i % 3}", i, (i * 13) % 29 + 1) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = group_prefix_sum(
        df, ["g"], ["id"], "v", out_col="cum", num_partitions=16
    )
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_group_prefix_sum_null_group(spark):
    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 5), ("a", 3, 7)],
        "g string, id long, v long",
    )
    got = {
        (r["g"], r["id"]): r["cum"]
        for r in group_prefix_sum(df, ["g"], ["id"], "v").collect()
    }
    assert got[(None, 1)] == 10 and got[(None, 2)] == 15
    assert got[("a", 3)] == 7


def test_token_budget_mixture_crossing_doc_included(spark):
    df = spark.createDataFrame(
        [("d1", 1, 40), ("d1", 2, 40), ("d1", 3, 40), ("d2", 4, 200)],
        "dom string, id long, toks long",
    )
    out = token_budget_mixture(
        df, "dom", ["id"], "toks", F.lit(100)
    ).collect()
    ids = {r["id"] for r in out}
    # d1: cum 40, 80, 120 — id=3 CROSSES the 100 budget (prior sum 80 <
    # 100) and is included; d2's single huge doc crosses from 0 and stays
    assert ids == {1, 2, 3, 4}
    # a fourth d1 doc would start at 120 >= 100 and be excluded
    df2 = df.unionByName(
        spark.createDataFrame([("d1", 9, 1)], "dom string, id long, toks long")
    )
    ids2 = {
        r["id"]
        for r in token_budget_mixture(
            df2, "dom", ["id"], "toks", F.lit(100)
        ).collect()
    }
    assert 9 not in ids2


def test_group_prefix_sum_plan_shape(spark):
    df = spark.createDataFrame(
        [(f"g{i % 5}", i, i % 7) for i in range(200)],
        "g string, id long, v long",
    )
    plan = _plan_of(group_prefix_sum(df, ["g"], ["id"], "v", num_partitions=8))
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_excise_matches_coverage_and_hand_case(spark):
    from pipelinewise_spark.functions.spans import excise_duplicated_spans

    docs = [
        (1, "a b c d x y z w"),
        (2, "p q a b c d r s"),
        (3, "unique tokens only here nothing repeats at all"),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in excise_duplicated_spans(df, "doc_id", "text", window=4)
        .collect()
    }
    assert got[1] == ("x y z w", 8, 4)
    assert got[2] == ("p q r s", 8, 4)
    assert got[3] == ("unique tokens only here nothing repeats at all", 8, 0)
    assert got[4] == (None, None, None)

    # n_removed equals the coverage operator's dup_positions on any corpus
    cov = {
        r["doc_id"]: r["dup_positions"]
        for r in duplicated_span_coverage(
            df, "doc_id", "text", window=4
        ).collect()
    }
    for i in (1, 2, 3):
        assert got[i][2] == cov[i]


def test_excise_fully_duplicated_doc_becomes_empty(spark):
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four")],
        "doc_id long, text string",
    )
    from pipelinewise_spark.functions.spans import excise_duplicated_spans

    got = {
        r["doc_id"]: r["clean_text"]
        for r in excise_duplicated_spans(df, "doc_id", "text", window=4)
        .collect()
    }
    assert got == {1: "", 2: ""}


def test_stream_curation_dedup_across_batches(spark, sf_dir):
    """The streamed curation result contains each passing doc exactly
    once even though every third doc was delivered twice across
    micro-batches."""
    from pipelinewise_spark.queries import QUERIES

    out = QUERIES["stream_curation_ingest_documents"](spark, sf_dir)
    rows = out.collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "stream dedupe leaked a duplicate"
    assert len(ids) > 0


# ------------------------------------------------- incremental join view


def _jv(spark, tmp_path):
    from pipelinewise_spark.operators.ivm_join import IncrementalJoinView
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    fact = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 200.0), (3, 20, 300.0), (4, 99, 400.0)],
        "fk long, k long, amount double",
    )  # fk=4 references dim key 99 which does NOT exist -> orphan at T0
    dim = spark.createDataFrame(
        [(10, "alice"), (20, "bob")], "k long, name string"
    )
    v = IncrementalJoinView(
        ManifestTable(str(tmp_path / "v")),
        fact_pk="fk", join_key="k",
        fact_cols=["amount"], dim_cols=["name"],
    )
    v.initialize(fact, dim)
    return v, fact, dim


def _rows(v, spark):
    return {
        r["fk"]: (r["k"], r["amount"], r["name"])
        for r in v.read(spark).collect()
    }


def test_ivm_join_fact_delta_update_delete_keymove(spark, tmp_path):
    v, fact, dim = _jv(spark, tmp_path)
    assert _rows(v, spark) == {
        1: (10, 100.0, "alice"), 2: (10, 200.0, "alice"),
        3: (20, 300.0, "bob"),
    }
    batch = spark.createDataFrame(
        [
            ("u", 10, 1, 10, 150.0),   # amount update
            ("d", 11, 2, 10, None),    # delete
            ("u", 12, 3, 10, 300.0),   # join-key MOVE 20 -> 10
            ("u", 13, 4, 99, 450.0),   # still orphaned (no dim 99)
            ("u", 5, 1, 10, 999.0),    # STALE (seq 5 < 10): last-wins drops
        ],
        "_op string, _seq long, fk long, k long, amount double",
    )
    v.apply_fact_delta(spark, batch, dim)
    assert _rows(v, spark) == {
        1: (10, 150.0, "alice"), 3: (10, 300.0, "alice"),
    }


def test_ivm_join_dim_delta_update_delete_insert_pulls_orphans(
    spark, tmp_path
):
    v, fact, dim = _jv(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            ("u", 1, 10, "ALICE"),  # rename propagates to both fk=1,2
            ("d", 2, 20, None),     # dim delete evicts fk=3
            ("c", 3, 99, "zoe"),    # INSERT pulls orphaned fk=4 INTO view
        ],
        "_op string, _seq long, k long, name string",
    )
    v.apply_dim_delta(spark, batch, fact)
    assert _rows(v, spark) == {
        1: (10, 100.0, "ALICE"), 2: (10, 200.0, "ALICE"),
        4: (99, 400.0, "zoe"),
    }


# ------------------------------------------------------- HLL sketches


def test_hll_rollup_within_error_and_mergeable(spark, sf_dir):
    from pipelinewise_spark.operators.sketches import (
        hll_rollup,
        hll_sketch_table,
    )
    from pipelinewise_spark.sources.files import read_table

    events = read_table(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 8).cast("int")
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    sketches = hll_sketch_table(events, ["event_type", "bucket"], "user_id")
    est = {
        r["event_type"]: r["distinct_est"]
        for r in hll_rollup(sketches, ["event_type"]).collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(2, 0.02 * n), (t, est[t], n)

    # mergeability: rolling the same sketch table all the way up equals
    # (within the envelope) sketching the whole column directly
    total_direct = events.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).cast("bigint").alias("n")
    ).collect()[0]["n"]
    total_merged = hll_rollup(
        sketches.withColumn("__all", F.lit(1)), ["__all"]
    ).collect()[0]["distinct_est"]
    assert abs(total_merged - total_direct) <= max(2, 0.01 * total_direct)


def test_hll_sketch_is_deterministic(spark, sf_dir):
    from pipelinewise_spark.queries import QUERIES

    a = sorted(
        map(tuple, QUERIES["hll_distinct_users_by_type"](
            spark, sf_dir).collect())
    )
    b = sorted(
        map(tuple, QUERIES["hll_distinct_users_by_type"](
            spark, sf_dir).collect())
    )
    assert a == b


# ------------------------------------------------------- ANALYZE stats


def test_manifest_analyze_stats(spark, sf_dir, tmp_path, capsys):
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.sources.files import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    t = ManifestTable(str(tmp_path / "orders"))
    t.overwrite(orders)
    assert t.table_stats() is None

    stats = t.analyze(spark)
    n = orders.count()
    assert stats["rows"] == n
    assert stats["columns"]["o_orderkey"]["nulls"] == 0
    # PK: NDV estimate within the HLL envelope of the exact count
    assert abs(stats["columns"]["o_orderkey"]["ndv"] - n) <= max(2, 0.02 * n)
    # low-cardinality column is exact at sketch scale
    assert stats["columns"]["o_orderstatus"]["ndv"] == 3
    assert stats["columns"]["o_totalprice"]["min"] is not None
    # persisted: a fresh handle reads them back, pinned to the version
    t2 = ManifestTable(str(tmp_path / "orders"))
    back = t2.table_stats()
    assert back is not None and back["rows"] == n
    assert back["version"] is not None

    # CLI verb prints the same stats
    from pipelinewise_spark.__main__ import main as cli_main

    rc = cli_main(
        ["analyze", str(tmp_path / "orders"), "--columns", "o_orderstatus"]
    )
    import json as _json

    out = _json.loads(capsys.readouterr().out)
    assert rc == 0 and out["columns"]["o_orderstatus"]["ndv"] == 3


def test_manifest_analyze_staleness_marker(spark, sf_dir, tmp_path):
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.sources.files import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = ManifestTable(str(tmp_path / "o2"))
    t.overwrite(orders.limit(100))
    t.analyze(spark)
    v_analyzed = t.table_stats()["version"]
    # table advances -> stats remain but their version marker is stale
    t.merge(
        spark,
        orders.limit(100).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        ),
        ["o_orderkey"],
    )
    st = t.table_stats()
    assert st is not None
    assert st["version"] == v_analyzed != t.current_manifest_name()


def test_ivm_join_fact_delta_plan_broadcasts_dim(spark, tmp_path):
    """The fact-delta maintenance join must broadcast the dim side (a
    typical dim fits; at 100 TB a huge dim falls back to sort-merge via
    AQE) and must not carry a SinglePartition exchange."""
    import contextlib
    import io

    from pipelinewise_spark.operators.ivm_join import IncrementalJoinView
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    fact = spark.range(1000).selectExpr(
        "id AS fk", "id % 50 AS k", "CAST(id AS DOUBLE) AS amount"
    )
    dim = spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS name")
    v = IncrementalJoinView(
        ManifestTable(str(tmp_path / "vp")), "fk", "k", ["amount"], ["name"]
    )
    v.initialize(fact, dim)
    batch = spark.createDataFrame(
        [("u", 1, 7, 7, 70.0)],
        "_op string, _seq long, fk long, k long, amount double",
    )
    # build the merged plan without publishing: replicate the internals
    from pipelinewise_spark.operators.dedupe import last_wins_dedupe
    from pipelinewise_spark.operators.merge import merge_upsert
    from pyspark.sql import functions as F

    d = last_wins_dedupe(batch, ["fk"], "_seq")
    upserts = v._join(d.filter(F.col("_op") != "d"), dim)
    merged = merge_upsert(v.read(spark), upserts, ["fk"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merged.explain("formatted")
    plan = buf.getvalue()
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


# ------------------------------------------- randomized brute-force


def _brute_span_coverage(docs, window):
    """Pure-Python reference: covered positions per doc."""
    from collections import defaultdict

    grams = defaultdict(set)  # gram -> {doc}
    toks = {i: (t or "").lower().strip().split() for i, t in docs}
    for i, ts in toks.items():
        for p in range(len(ts) - window + 1):
            grams[tuple(ts[p:p + window])].add(i)
    out = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - window + 1):
            if len(grams[tuple(ts[p:p + window])]) > 1:
                covered.update(range(p, p + window))
        out[i] = (len(ts), len(covered))
    return out


def test_span_coverage_randomized_vs_brute_force(spark):
    import random

    rng = random.Random(20260814)
    vocab = [f"w{j}" for j in range(30)]
    docs = []
    for i in range(60):
        n = rng.randint(1, 25)
        words = [rng.choice(vocab) for _ in range(n)]
        docs.append((i, " ".join(words)))
    # inject exact shared runs between random doc pairs
    for _ in range(10):
        a, b = rng.sample(range(60), 2)
        run = [rng.choice(vocab) for _ in range(6)]
        docs[a] = (a, docs[a][1] + " " + " ".join(run))
        docs[b] = (b, " ".join(run) + " " + docs[b][1])
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_positions"])
        for r in duplicated_span_coverage(
            df, "doc_id", "text", window=4
        ).collect()
    }
    want = _brute_span_coverage(docs, 4)
    assert got == want


def test_group_prefix_sum_randomized_vs_brute_force(spark):
    import random

    rng = random.Random(99)
    rows = [
        (rng.choice(["a", "b", "c", None]), i, rng.randint(1, 50))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r["g"], r["id"]): r["cum"]
        for r in group_prefix_sum(
            df, ["g"], ["id"], "v", num_partitions=13
        ).collect()
    }
    acc: dict = {}
    for g, i, v in sorted(rows, key=lambda r: r[1]):
        acc[g] = acc.get(g, 0) + v
        assert got[(g, i)] == acc[g], (g, i)


# ---------------------------------------------------- split-gzip export


def test_export_split_gzip_roundtrip(spark, sf_dir, tmp_path, capsys):
    import gzip
    import json as _json
    import os

    from pipelinewise_spark.operators.export import (
        export_split_gzip_csv,
        read_export_manifest,
    )
    from pipelinewise_spark.sources.files import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    dest = str(tmp_path / "exp")
    # tiny chunk target forces multi-chunk; max_chunks caps it
    m = export_split_gzip_csv(orders, dest, chunk_size_mb=1, max_chunks=4)
    assert m["rows"] == orders.count()
    assert 1 <= m["chunks"] <= 4
    gz = [f["name"] for f in m["files"]]
    assert gz and all(n.endswith(".csv.gz") for n in gz)
    assert read_export_manifest(dest)["rows"] == m["rows"]
    # files are REAL gzip with a header line each
    with gzip.open(os.path.join(dest, gz[0]), "rt") as fh:
        assert fh.readline().strip() == "o_orderkey,o_orderstatus,o_totalprice"
    # loader-side roundtrip: read back equals the source
    back = (
        spark.read.option("header", "true").csv(dest)
        .select(
            F.col("o_orderkey").cast("long"),
            "o_orderstatus",
            F.col("o_totalprice").cast("double"),
        )
    )
    assert back.count() == m["rows"]
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0

    # CLI verb over a parquet source dir
    from pipelinewise_spark.__main__ import main as cli_main

    src = str(tmp_path / "src_parquet")
    orders.write.parquet(src)
    rc = cli_main(
        ["export", src, str(tmp_path / "exp2"), "--chunk-size-mb", "1",
         "--max-chunks", "2"]
    )
    out = _json.loads(capsys.readouterr().out)
    assert rc == 0 and out["rows"] == m["rows"] and out["chunks"] <= 2


def test_cli_export_of_a_table_root_exports_the_live_rows(spark, tmp_path,
                                                          capsys):
    """``export`` on a table root reads the table: after a merge the export
    holds exactly ``read()``'s rows, never the superseded files the merge
    left on disk for older readers."""
    import json as _json

    from pipelinewise_spark.__main__ import main as cli_main
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    schema = "id long, val string"
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.merge(spark, spark.createDataFrame([(2, "B"), (3, "c")], schema),
            ["id"])
    dest = str(tmp_path / "exp")
    assert cli_main(["export", t.root, dest]) == 0
    out = _json.loads(capsys.readouterr().out)
    back = spark.read.option("header", "true").csv(dest).select(
        F.col("id").cast("long"), "val"
    )
    live = sorted(tuple(r) for r in t.read(spark).collect())
    assert live == [(1, "a"), (2, "B"), (3, "c")]
    assert sorted(tuple(r) for r in back.collect()) == live
    assert out["rows"] == len(live)


def test_contamination_coverage_hand_case(spark):
    from pipelinewise_spark.functions.spans import (
        contamination_span_coverage,
    )

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # quotes the full 8-token bench span -> 8/10 positions
            (1, "prefix words the secret eval answer is forty two exactly"),
            (2, "totally unrelated text with no overlap whatsoever here"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["contaminated_positions"], r["is_contaminated"]
        )
        for r in contamination_span_coverage(
            corpus, bench, "doc_id", "text", window=8, threshold=0.2
        ).collect()
    }
    assert got[1] == (10, 8, True)
    assert got[2] == (8, 0, False)
    # NULL text: positions coalesce to 0 (same as the oracle), the
    # fraction and flag stay NULL
    assert got[3] == (None, 0, None)


# --------------------------------------------- persisted LSH index


def test_persisted_lsh_index_matches_in_plan(spark, sf_dir, tmp_path):
    """Probing the materialized index yields exactly the pairs the in-plan
    derivation yields, and the index parameters are enforced."""
    import pytest

    from pipelinewise_spark.caching import release_caches
    from pipelinewise_spark.functions.dedup import (
        build_lsh_index,
        minhash_lsh_pairs_against,
        minhash_lsh_pairs_against_index,
    )
    from pipelinewise_spark.sources.files import read_table

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).limit(80)

    idx_path = str(tmp_path / "lsh_index")
    build_lsh_index(corpus, idx_path, "doc_id", "text")

    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_against_index(
            spark, idx_path, batch
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs_against(
            corpus, batch, "doc_id", "text"
        ).collect()
    )
    release_caches(spark)
    assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="built with"):
        minhash_lsh_pairs_against_index(
            spark, idx_path, batch, num_bands=4
        )
