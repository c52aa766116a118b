"""ManifestTable: partition-pruned MERGE must rewrite only touched
partitions, re-reference untouched files, and produce exactly the same table
contents as a full merge."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import merge_upsert
from pipelinewise_spark.sources.files import read_table


def _manifest(t: ManifestTable) -> dict:
    with open(os.path.join(t.root, t.current_manifest_name())) as fh:
        return json.load(fh)


def test_partition_pruned_merge_reuses_untouched_files(spark, sf_dir, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderstatus", F.col("o_orderstatus").cast("string")
    )
    t.overwrite(orders, partition_by=["o_orderstatus"])
    m1 = _manifest(t)
    files_by_part = {}
    for e in m1["files"]:
        files_by_part.setdefault(e["partition"]["o_orderstatus"], set()).add(
            e["path"]
        )
    assert set(files_by_part) == {"F", "O", "P"}

    # batch touches ONLY status 'O' rows
    batch = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 500.0)
    t.merge(spark, batch, ["o_orderkey"])

    m2 = _manifest(t)
    files2 = {}
    for e in m2["files"]:
        files2.setdefault(e["partition"]["o_orderstatus"], set()).add(e["path"])
    # untouched partitions carry over by reference; touched one is new
    assert files2["F"] == files_by_part["F"]
    assert files2["P"] == files_by_part["P"]
    assert files2["O"].isdisjoint(files_by_part["O"])

    # contents equal a full merge
    expected = merge_upsert(orders, batch, ["o_orderkey"])
    got = t.read(spark)
    assert got.count() == orders.count()
    diff = got.select(sorted(got.columns)).exceptAll(
        expected.select(sorted(got.columns))
    )
    assert diff.count() == 0

    # manifest-side pruning: reading one partition lists only its files
    only_f = t.read(spark, partitions={"o_orderstatus": ["F"]})
    assert only_f.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_manifest_merge_handles_new_partition_values(spark, sf_dir, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders")
    t.overwrite(orders, partition_by=["o_orderstatus"])

    # batch introduces a brand-new partition value
    batch = (
        orders.limit(10)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    )
    t.merge(spark, batch, ["o_orderkey"])
    got = t.read(spark)
    assert got.filter(F.col("o_orderstatus") == "X").count() == 10
    assert got.count() == orders.count() + 10


def test_time_travel_reads_historical_snapshot(spark, sf_dir, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders")
    t.overwrite(orders, partition_by=["o_orderstatus"])
    batch = orders.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    t.merge(spark, batch, ["o_orderkey"])
    assert t.versions() == [1, 2]

    v1_sum = t.read(spark, version=1).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    ).collect()[0][0]
    orig_sum = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    ).collect()[0][0]
    assert v1_sum == orig_sum
    v2_sum = t.read(spark).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    ).collect()[0][0]
    assert v2_sum > v1_sum


def test_compact_bounds_file_count_after_merges(spark, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "t"), partition_by=["pt"])
    d1 = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(50)],
        "id int, pt string, v double",
    )
    d2 = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(50, 100)],
        "id int, pt string, v double",
    )
    # two write batches into one snapshot — every partition holds files from
    # both (exactly what parallel tasks / successive merges produce at scale)
    t.overwrite(d1)
    m1 = t._load_manifest()
    e2 = t._write_files(d2, ["pt"])
    t._publish({**m1, "files": m1["files"] + e2}, op="append")
    m = t._load_manifest()
    per_part = {}
    for e in m["files"]:
        per_part.setdefault(e["partition"]["pt"], []).append(e["path"])
    assert all(len(v) >= 2 for v in per_part.values()), per_part

    before = {r.id: (r.pt, r.v) for r in t.read(spark).collect()}
    assert len(before) == 100
    n = t.compact(spark)
    assert n == 2
    m2 = t._load_manifest()
    per_part2 = {}
    for e in m2["files"]:
        per_part2[e["partition"]["pt"]] = per_part2.get(e["partition"]["pt"], 0) + 1
    assert all(c == 1 for c in per_part2.values()), per_part2
    after = {r.id: (r.pt, r.v) for r in t.read(spark).collect()}
    assert after == before

    # vacuum drops unreferenced data files but keeps the live snapshot whole
    t.vacuum(keep_manifests=1)
    again = {r.id: (r.pt, r.v) for r in t.read(spark).collect()}
    assert again == before


def test_minmax_file_skipping(spark, tmp_path):
    import pyspark.sql.functions as F

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    t = ManifestTable(str(tmp_path / "mt_skip"))
    df = spark.createDataFrame(
        [(i, float(i) / 7, f"u{i}") for i in range(1000)],
        "id long, v double, name string",
    )
    # range-partition on id: each of the 5 files covers a disjoint id range,
    # so footer stats can prove most files irrelevant for a narrow predicate
    t.overwrite(df.repartitionByRange(5, F.col("id")))

    all_entries, _ = t.select_entries()
    assert len(all_entries) == 5
    assert all("id" in e["stats"] for e in all_entries)

    hit, _ = t.select_entries(ranges={"id": (100, 120)})
    assert 1 <= len(hit) < 5, [e["stats"]["id"] for e in all_entries]

    # skipped read + residual filter == full read + filter
    got = sorted(
        r.id
        for r in t.read(spark, ranges={"id": (100, 120)})
        .filter(F.col("id").between(100, 120))
        .collect()
    )
    assert got == list(range(100, 121))

    # open bounds and missing-stats columns never skip
    assert len(t.select_entries(ranges={"id": (None, None)})[0]) == 5
    assert len(t.select_entries(ranges={"nosuch": (0, 1)})[0]) == 5

    # string stats skip too
    hit_s, _ = t.select_entries(ranges={"name": ("u100", "u100")})
    assert len(hit_s) < 5

    # timestamp-free sanity: stats survive merge (new files get stats)
    batch = spark.createDataFrame(
        [(5, 999.0, "u5-new")], "id long, v double, name string"
    )
    t.merge(spark, batch, ["id"])
    entries2, _ = t.select_entries()
    assert all("stats" in e for e in entries2)


def test_composite_spec_merge_prunes_on_tuples(spark, tmp_path):
    """With a 2-col partition spec, a batch touching (a=1,b=x) and (a=2,b=y)
    must NOT read or rewrite the cross-combinations (1,y) and (2,x) — the
    per-column-set formulation would."""
    t = ManifestTable(os.path.join(str(tmp_path), "t2"), partition_by=["a", "b"])
    base = spark.createDataFrame(
        [(i, i % 2 + 1, "x" if i % 4 < 2 else "y", float(i)) for i in range(40)],
        "id long, a int, b string, v double",
    )
    t.overwrite(base, partition_by=["a", "b"])
    m1 = _manifest(t)
    files1 = {}
    for e in m1["files"]:
        files1.setdefault(
            (e["partition"]["a"], e["partition"]["b"]), set()
        ).add(e["path"])
    assert set(files1) == {("1", "x"), ("1", "y"), ("2", "x"), ("2", "y")}

    batch = base.filter(
        ((F.col("a") == 1) & (F.col("b") == "x"))
        | ((F.col("a") == 2) & (F.col("b") == "y"))
    ).withColumn("v", F.col("v") + 100.0)

    # the pruned read must list only the two exact-tuple partitions
    rows = [{"a": "1", "b": "x"}, {"a": "2", "b": "y"}]
    entries, _ = t.select_entries(partition_rows=rows)
    touched = {(e["partition"]["a"], e["partition"]["b"]) for e in entries}
    assert touched == {("1", "x"), ("2", "y")}

    t.merge(spark, batch, ["id"])
    m2 = _manifest(t)
    files2 = {}
    for e in m2["files"]:
        files2.setdefault(
            (e["partition"]["a"], e["partition"]["b"]), set()
        ).add(e["path"])
    # cross-combinations carry over by reference, touched tuples rewritten
    assert files2[("1", "y")] == files1[("1", "y")]
    assert files2[("2", "x")] == files1[("2", "x")]
    assert files2[("1", "x")].isdisjoint(files1[("1", "x")])
    assert files2[("2", "y")].isdisjoint(files1[("2", "y")])

    expected = merge_upsert(base, batch, ["id"])
    got = t.read(spark).select("id", "v")
    diff = got.exceptAll(expected.select("id", "v"))
    assert diff.count() == 0 and got.count() == 40


def test_clone_to_point_in_time_and_independence(spark, sf_dir, tmp_path):
    """Deep clone: byte-copies a (possibly historical) snapshot + manifest;
    the clone reads identically, keeps partition pruning + stats, and
    vacuuming the source never breaks the clone."""
    src = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders")
    src.overwrite(orders, partition_by=["o_orderstatus"])
    batch = orders.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    src.merge(spark, batch, ["o_orderkey"])

    # clone version 1 = point-in-time backup of the pre-merge state
    backup = src.clone_to(os.path.join(str(tmp_path), "orders_v1"), version=1)
    assert backup.read(spark).count() == orders.count()
    s = backup.read(spark).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    ).collect()[0][0]
    o = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    ).collect()[0][0]
    assert s == o
    # partition spec carried: pruned read lists a strict file subset
    pruned, m = backup.select_entries({"o_orderstatus": ["F"]})
    assert 0 < len(pruned) < len(m["files"])

    # live clone, then source evolves + vacuums — clone is unaffected
    live = src.clone_to(os.path.join(str(tmp_path), "orders_live"))
    before = live.read(spark).count()
    src.merge(
        spark,
        orders.limit(10).withColumn("o_totalprice", F.lit(0.0)),
        ["o_orderkey"],
    )
    src.vacuum(keep_manifests=1)
    assert live.read(spark).count() == before


# ------------------------------------------------- CHECK constraints


def test_check_constraints_gate_every_write_path(spark, tmp_path):
    import pytest as _pytest

    from pipelinewise_spark.operators.manifest_table import (
        ConstraintViolation,
        ManifestTable,
    )

    schema = "id long, pt int, value double"
    t = ManifestTable(str(tmp_path / "t"), ["pt"])
    t.overwrite(spark.createDataFrame([(1, 0, 5.0), (2, 1, 7.0)], schema))
    t.add_constraint(spark, "positive_value", "value > 0")
    assert t.constraints() == {"positive_value": "value > 0"}

    bad = spark.createDataFrame([(3, 0, -1.0)], schema)
    with _pytest.raises(ConstraintViolation, match="positive_value"):
        t.merge(spark, bad, ["id"])
    with _pytest.raises(ConstraintViolation, match="positive_value"):
        t.merge_on_read(spark, bad, ["id"])
    with _pytest.raises(ConstraintViolation, match="positive_value"):
        t.overwrite(bad)
    # nothing was published by the failed writes
    assert t.read(spark).count() == 2

    # clean writes pass; the constraint survives the publish
    t.merge(spark, spark.createDataFrame([(3, 0, 1.0)], schema), ["id"])
    assert t.constraints() == {"positive_value": "value > 0"}
    assert t.read(spark).count() == 3

    # SQL CHECK NULL rule: a NULL predicate passes (CDC tombstones)
    t.merge(
        spark,
        spark.createDataFrame([(4, 1, None)], schema),
        ["id"],
    )
    assert t.read(spark).count() == 4

    t.drop_constraint("positive_value")
    t.overwrite(bad)  # gate gone
    assert t.read(spark).count() == 1


def test_add_constraint_rejects_violating_existing_data(spark, tmp_path):
    import pytest as _pytest

    from pipelinewise_spark.operators.manifest_table import (
        ConstraintViolation,
        ManifestTable,
    )

    t = ManifestTable(str(tmp_path / "t"), [])
    t.overwrite(
        spark.createDataFrame([(1, -5.0)], "id long, value double")
    )
    v = t.current_manifest_name()
    with _pytest.raises(ConstraintViolation):
        t.add_constraint(spark, "positive_value", "value > 0")
    assert t.current_manifest_name() == v  # not published
    assert t.constraints() == {}


def test_append_carries_files_by_reference(spark, tmp_path):
    """append (r8): new files land, EVERY existing file carries over by
    manifest reference (paths unchanged); CDF shows pure inserts; count
    metadata stays exact; constraints gate the incoming batch."""
    import pytest

    from pipelinewise_spark.operators.manifest_table import (
        ConstraintViolation,
    )

    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["p"])
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    t.overwrite(base)
    paths_before = {e["path"] for e in _manifest(t)["files"]}

    t.append(
        spark.range(20, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"),
        )
    )
    m = _manifest(t)
    assert m["operation"] == "append"
    assert paths_before <= {e["path"] for e in m["files"]}, "rewrote files"
    assert t.count_rows() == 30 and t.read(spark).count() == 30
    feed = t.changes_between(spark, 1)
    assert feed.filter("_change_type = 'delete'").count() == 0
    assert feed.filter("_change_type = 'insert'").count() == 10

    t.add_constraint(spark, "small", "k < 100")
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.range(500, 505).select(
                F.col("id").alias("k"), F.lit("0").alias("p")
            )
        )
    assert t.count_rows() == 30


def test_import_files_splits_staged_write_into_commits(spark, tmp_path):
    """import_files (r8, Iceberg add_files analog): one staged hive-
    partitioned write becomes N append commits in split-key order, data
    never copied; partition dicts exclude the split level; per-commit
    row deltas match the staged slices; stats-based pruning still works
    on imported entries."""
    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["p"])
    staged = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") % 2 + 1).alias("__c"),
    )
    staged.repartition("__c", "p").write.partitionBy("__c", "p").parquet(
        t.mfs.uri("data/staged")
    )
    names = t.import_files("data/staged", split_key="__c")
    assert len(names) == 2
    assert t.count_rows() == 60 and t.read(spark).count() == 60
    m = _manifest(t)
    assert m["operation"] == "import"
    assert all("__c" not in e["partition"] for e in m["files"])
    assert sorted(t.read(spark).columns) == ["k", "p"]
    # commit 1 = __c==1 slice (30 rows), commit 2 adds the other 30
    assert t.read(spark, version=1).count() == 30
    # file-skipping stats were captured from the imported footers
    entries, _ = t.select_entries(ranges={"k": (0, 1)})
    assert 0 < len(entries) < len(m["files"])


def test_import_files_double_digit_split_order(spark, tmp_path):
    """Split commits must land in NUMERIC order — 12 splits used to
    publish 1,10,11,12,2,... (lexicographic), corrupting the history
    every per-commit consumer (snapshot_row_deltas, time travel) reads."""
    import os

    from pipelinewise_spark.operators.manifest_table import ManifestTable

    df = spark.range(120).selectExpr(
        "id AS k", "CAST(id % 12 + 1 AS INT) AS __commit"
    )
    t = ManifestTable(os.path.join(str(tmp_path), "t"), [])
    df.repartition("__commit").write.partitionBy("__commit").parquet(
        t.mfs.uri("data/staged")
    )
    t.import_files("data/staged", split_key="__commit")
    snaps = t.meta(spark, "snapshots").orderBy("version").collect()
    assert len(snaps) == 12
    # each commit adds exactly 10 rows; cumulative totals must be strictly
    # increasing by 10 — only true when splits landed 1,2,...,12
    totals = [r["total_rows"] for r in snaps]
    assert totals == [10 * (i + 1) for i in range(12)]


def test_first_append_conflict_detected(spark, tmp_path):
    """Two concurrent FIRST appends: the sentinel turns the loser's blind
    publish into CommitConflict instead of silently dropping the winner's
    batch."""
    import os

    import pytest as _pytest

    from pipelinewise_spark.operators.manifest_table import (
        CommitConflict,
        EXPECT_ABSENT,
        ManifestTable,
    )

    path = os.path.join(str(tmp_path), "t2")
    a = ManifestTable(path, [])
    b = ManifestTable(path, [])
    df = spark.range(5).selectExpr("id AS k")
    # writer A snapshots "absent", writer B commits first
    entries_a = a._write_files(df, [])
    b.append(spark.range(7).selectExpr("id AS k"))
    with _pytest.raises(CommitConflict):
        a._publish(
            {"partition_by": [], "partition_types": {}, "files": entries_a},
            op="append",
            expected_parent=EXPECT_ABSENT,
        )
    # the surviving table is B's batch, untouched
    assert a.read(spark).count() == 7
