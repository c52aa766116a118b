"""Regression tests for the round-1 advisor findings: hive partition
decoding in ManifestTable.merge, stacked masking rules in the SQL emitter,
bookmark literal escaping, and PK-less partial sync."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from pipelinewise_spark.functions.masking import apply_transformations
from pipelinewise_spark.functions.masking_sql import masked_select_list
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.sync import partial_sync
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.sources.files import read_table
from pipelinewise_spark.sources.jdbc import sql_literal
from tests.conftest import SF_DIR
from tests.oracle import duckdb_connection


def test_manifest_merge_escaped_and_null_partitions(spark, tmp_path):
    """Partition values with hive-escaped chars (':' -> %3A) and NULLs must
    match between batch and manifest — stale files may not survive a merge
    (duplicate PKs) just because the directory encoding differed."""
    t = ManifestTable(os.path.join(str(tmp_path), "t"))
    rows = [
        (1, "2026-01-01 00:00:00", 10.0),
        (2, "2026-01-01 00:00:00", 20.0),
        (3, "2026-01-02 00:00:00", 30.0),
        (4, None, 40.0),
        (5, None, 50.0),
    ]
    df = spark.createDataFrame(rows, "id int, pt string, v double")
    t.overwrite(df, partition_by=["pt"])
    m = t._load_manifest()
    parts = {e["partition"]["pt"] for e in m["files"]}
    # manifest stores logical (decoded) values, incl. the NULL sentinel
    assert "2026-01-01 00:00:00" in parts and None in parts

    batch = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 11.0), (4, None, 44.0)],
        "id int, pt string, v double",
    )
    t.merge(spark, batch, ["id"])
    got = {(r.id, r.pt): r.v for r in t.read(spark).collect()}
    assert len(got) == 5, "duplicate PKs — stale partition files survived"
    assert got[(1, "2026-01-01 00:00:00")] == 11.0
    assert got[(4, None)] == 44.0
    assert got[(3, "2026-01-02 00:00:00")] == 30.0


def test_stacked_masking_rules_sql_matches_spark(spark):
    """Two rules on one column: the SQL emitter must compose them in order
    exactly like apply_transformations' sequential withColumn chain."""
    transforms = [
        {"field_id": "c_mktsegment", "type": "MASK-STRING-SKIP-ENDS-2"},
        {
            "field_id": "c_mktsegment",
            "type": "MASK-HIDDEN",
            "when": [{"column": "c_nationkey", "equals": 3}],
        },
    ]
    customer = read_table(spark, SF_DIR, "customer")
    spark_rows = {
        r.c_custkey: r.c_mktsegment
        for r in apply_transformations(customer, transforms)
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    cols = masked_select_list(["c_custkey", "c_mktsegment"], transforms)
    select = ", ".join(
        name if expr == name else f"{expr} AS {name}" for name, expr in cols
    )
    con = duckdb_connection(SF_DIR)
    sql_rows = dict(con.execute(f"SELECT {select} FROM customer").fetchall())
    assert spark_rows == sql_rows


def test_sql_literal_escapes_quotes():
    assert sql_literal("o'brien") == "'o''brien'"
    assert sql_literal("x'; DROP TABLE t; --") == "'x''; DROP TABLE t; --'"
    assert sql_literal(True) == "TRUE"
    assert sql_literal(42) == "42"
    assert sql_literal(1.5) == "1.5"


def test_partial_sync_without_primary_keys(spark, tmp_path):
    """PK-less streams fall back to delete-range-then-append (the range
    resync contract), instead of raising from merge_upsert."""
    table = ManifestTable(os.path.join(str(tmp_path), "t"))
    spec = StreamSpec(
        tap_stream_id="s", table_name="t", replication_key="k",
        primary_keys=[], add_metadata_columns=False,
    )
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k int, v string"
    )
    table.overwrite(base)
    batch_src = spark.createDataFrame(
        [(3, "new3"), (4, "new4")], "k int, v string"
    )
    out = partial_sync(spark, batch_src, spec, table, start_value=3, end_value=5)
    got = {r.k: r.v for r in out.collect()}
    # range [3,5] replaced wholesale: 3,4 updated, 5 dropped, rest untouched
    assert got == {**{i: f"v{i}" for i in [0, 1, 2, 6, 7, 8, 9]},
                   3: "new3", 4: "new4"}


def test_cli_zorder_preserves_partition_spec(spark, tmp_path, capsys):
    """`optimize --zorder` through a FRESH CLI handle (partition_by=[])
    must keep the table's live partition spec — not silently rewrite it
    unpartitioned and lose pruning + the CDC partition-merge path."""
    import json

    from pipelinewise_spark.__main__ import main

    root = os.path.join(str(tmp_path), "zt")
    t = ManifestTable(root, partition_by=["p"])
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 2), float(i)) for i in range(40)],
        "id long, p string, v double",
    )
    t.overwrite(df, partition_by=["p"])

    assert main(["optimize", root, "--zorder", "id,v"]) == 0
    capsys.readouterr()
    t2 = ManifestTable(root)  # fresh handle, like the CLI's
    m = t2._load_manifest()
    assert m["partition_by"] == ["p"]
    assert all("p" in e["partition"] for e in m["files"])
    got = sorted(r["id"] for r in t2.read(spark).collect())
    assert got == list(range(40))
