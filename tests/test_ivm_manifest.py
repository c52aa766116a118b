"""Scale-safe IVM publish: IncrementalJoinView over a PK-bucketed
ManifestTable must apply deltas through the partition-pruned MERGE —
untouched bucket files carry over by manifest REFERENCE (same paths),
never rewritten — while landing on exactly the same view contents as the
unbucketed O(view) copy-on-write publish (r6 VERDICT "What's wrong #2")."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipelinewise_spark.operators.ivm_join import (
    BUCKET_COL,
    IncrementalJoinView,
)
from pipelinewise_spark.operators.manifest_table import ManifestTable


def _mk_view(spark, tmp_path, num_buckets=8):
    fact = spark.range(400).selectExpr(
        "id AS fk", "id % 20 AS k", "CAST(id AS DOUBLE) AS amount"
    )
    dim = spark.range(20).selectExpr(
        "id AS k", "concat('n', id) AS name"
    )
    v = IncrementalJoinView(
        ManifestTable(str(tmp_path / "v")),
        fact_pk="fk",
        join_key="k",
        fact_cols=["amount"],
        dim_cols=["name"],
        num_buckets=num_buckets,
    )
    v.initialize(fact, dim)
    return v, fact, dim


def _contents(v, spark):
    return {
        r["fk"]: (r["k"], r["amount"], r["name"])
        for r in v.read(spark).collect()
    }


def _file_paths(table: ManifestTable) -> set[str]:
    return {e["path"] for e in table._load_manifest()["files"]}


def test_pruned_fact_delta_matches_recompute_and_carries_files(
    spark, tmp_path
):
    v, fact, dim = _mk_view(spark, tmp_path)
    before = _file_paths(v.view_table)
    assert len(before) >= 2, "need multiple bucket files for a carry test"

    # one updated PK + one deleted PK -> at most two touched buckets
    batch = spark.createDataFrame(
        [("u", 1, 7, 7, 7000.0), ("d", 2, 8, 8, None)],
        "_op string, _seq long, fk long, k long, amount double",
    )
    v.apply_fact_delta(spark, batch, dim)

    expected = {
        r["fk"]: (r["k"], r["amount"], r["name"])
        for r in (
            fact.filter("fk <> 8")
            .withColumn(
                "amount",
                F.when(F.col("fk") == 7, 7000.0).otherwise(F.col("amount")),
            )
            .join(dim, "k")
            .collect()
        )
    }
    assert _contents(v, spark) == expected

    # every UNtouched bucket's files must carry over by exact path
    # (reference carry-over, no rewrite); only touched buckets change
    touched_buckets = {
        str(r[BUCKET_COL])
        for r in spark.createDataFrame([(7,), (8,)], "fk long")
        .withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col("fk")), F.lit(8))
        )
        .collect()
    }
    before_by_bucket = {
        e["path"]: e["partition"][BUCKET_COL]
        for e in v.view_table._load_manifest(
            v.view_table.versions()[0]
        )["files"]
    }
    after = _file_paths(v.view_table)
    rewritten = set(before_by_bucket) - after
    assert rewritten, "expected the touched buckets to be rewritten"
    bad = {p for p in rewritten if before_by_bucket[p] not in touched_buckets}
    assert not bad, (
        f"files outside the touched buckets were rewritten: {sorted(bad)[:3]}"
    )
    carried = set(before_by_bucket) & after
    assert carried, "no files carried over by reference"


def test_pruned_dim_delta_matches_recompute(spark, tmp_path):
    v, fact, dim = _mk_view(spark, tmp_path)
    # dim update on k=3, dim delete on k=5
    batch = spark.createDataFrame(
        [("u", 1, 3, "renamed"), ("d", 2, 5, None)],
        "_op string, _seq long, k long, name string",
    )
    v.apply_dim_delta(spark, batch, fact)
    expected = {
        r["fk"]: (r["k"], r["amount"], r["name"])
        for r in (
            fact.join(
                dim.filter("k <> 5").withColumn(
                    "name",
                    F.when(F.col("k") == 3, "renamed").otherwise(
                        F.col("name")
                    ),
                ),
                "k",
            ).collect()
        )
    }
    assert _contents(v, spark) == expected


def test_pruned_matches_fallback_publish(spark, tmp_path):
    """Same deltas through both publish paths -> identical view."""
    fact = spark.range(300).selectExpr(
        "id AS fk", "id % 10 AS k", "CAST(id * 2 AS DOUBLE) AS amount"
    )
    dim = spark.range(10).selectExpr("id AS k", "concat('d', id) AS name")
    fact_batch = spark.createDataFrame(
        [("u", 1, 11, 11, -1.0), ("d", 2, 12, 2, None), ("c", 3, 301, 3, 9.0)],
        "_op string, _seq long, fk long, k long, amount double",
    )
    dim_batch = spark.createDataFrame(
        [("d", 1, 4, None), ("u", 2, 6, "six")],
        "_op string, _seq long, k long, name string",
    )
    results = []
    for mk in (
        lambda p: (ManifestTable(str(p)), 4),
        lambda p: (ManifestTable(str(p)), None),
    ):
        table, nb = mk(tmp_path / f"t{len(results)}")
        v = IncrementalJoinView(
            table, "fk", "k", ["amount"], ["name"], num_buckets=nb
        )
        v.initialize(fact, dim)
        v.apply_fact_delta(spark, fact_batch, dim)
        fact_now = (
            fact.filter("fk <> 12")
            .withColumn(
                "amount",
                F.when(F.col("fk") == 11, -1.0).otherwise(F.col("amount")),
            )
            .unionByName(
                spark.createDataFrame([(301, 3, 9.0)], "fk long, k long, amount double")
            )
        )
        v.apply_dim_delta(spark, dim_batch, fact_now)
        results.append(_contents(v, spark))
    assert results[0] == results[1]
