"""Round-7 continuation table verbs: copy-on-write UPDATE, rollback,
change data feed, and the optimistic-concurrency retry loop
(operators/manifest_table.py:update_where/rollback_to/changes_between/
commit_with_retries)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pipelinewise_spark.operators.manifest_table import (
    CommitConflict,
    ManifestTable,
    commit_with_retries,
)


def _df(spark, n=12):
    c = F.col("id")
    return spark.range(n).select(
        c.alias("k"),
        (c % 3).cast("string").alias("p"),
        (c * 2.0).alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["p"])
    t.overwrite(_df(spark))
    return t


# ------------------------------------------------------------ update_where
def test_update_where_values_and_pruning(spark, table):
    before = {e["path"] for e in table._load_manifest()["files"]}
    n = table.update_where(
        spark, "k >= 9", {"v": F.col("v") + 100}
    )
    assert n == 3  # k in {9, 10, 11}
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert rows[9] == 118.0 and rows[10] == 120.0 and rows[11] == 122.0
    assert rows[0] == 0.0 and rows[8] == 16.0
    after = {e["path"] for e in table._load_manifest()["files"]}
    # untouched partition files carry over BY REFERENCE: k>=9 spans all
    # three p values at n=12 (9->0, 10->1, 11->2) so instead assert the
    # rewrite touched only files that contained matches
    kept = before & after
    m = table._load_manifest()
    for e in m["files"]:
        if e["path"] in kept:
            # carried file: stats must prove no k >= 9
            assert float(e["stats"]["k"][1]) < 9


def test_update_where_prunes_untouched_partition(spark, table):
    before = {e["path"] for e in table._load_manifest()["files"]}
    # k == 4 lives only in partition p=1 (4 % 3)
    n = table.update_where(spark, "k = 4", {"v": F.lit(-1.0)})
    assert n == 1
    after = {e["path"] for e in table._load_manifest()["files"]}
    carried = before & after
    # every file NOT containing k=4 carries over untouched
    assert len(before - carried) >= 1
    assert len(after - before) >= 1
    assert table.read(spark).filter("k = 4").collect()[0]["v"] == -1.0


def test_update_where_no_match_publishes_nothing(spark, table):
    v0 = table.versions()
    assert table.update_where(spark, "k > 1000", {"v": F.lit(0.0)}) == 0
    assert table.versions() == v0


def test_update_where_expr_sees_pre_update_values(spark, table):
    table.update_where(spark, "k % 2 = 0", {"v": "v * 10 + k"})
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert rows[4] == 8.0 * 10 + 4
    assert rows[5] == 10.0  # untouched


def test_update_where_partition_column_moves_rows(spark, table):
    table.update_where(spark, "k = 7", {"p": F.lit("9")})
    got = table.read(spark).filter("k = 7").collect()[0]
    assert got["p"] == "9"
    # the row is served from the new partition directory
    m = table._load_manifest()
    assert any(e["partition"].get("p") == "9" for e in m["files"])


def test_update_where_composes_with_dv(spark, table):
    table.delete_where(spark, "k = 9")
    n = table.update_where(spark, "k >= 9", {"v": F.lit(0.0)})
    assert n == 2  # 9 is dead, only 10/11 match
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert 9 not in rows and rows[10] == 0.0 and rows[11] == 0.0


def test_update_where_respects_constraints(spark, table):
    from pipelinewise_spark.operators.manifest_table import (
        ConstraintViolation,
    )

    table.add_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(ConstraintViolation):
        table.update_where(spark, "k = 3", {"v": F.lit(-5.0)})


# ------------------------------------------------------------- rollback_to
def test_rollback_restores_and_preserves_history(spark, table):
    v1_rows = sorted(r["k"] for r in table.read(spark).collect())
    table.delete_where(spark, "k % 2 = 0")
    assert len(table.read(spark).collect()) == 6
    name = table.rollback_to(1)
    assert name.endswith("03.json")
    assert sorted(r["k"] for r in table.read(spark).collect()) == v1_rows
    # history preserved: the deleted state is still time-travelable
    assert table.read(spark, version=2).count() == 6
    ops = [
        self_m.get("operation")
        for self_m in (table._load_manifest(version=v) for v in table.versions())
    ]
    assert ops == ["overwrite", "delete", "rollback"]


def test_rollback_after_vacuum_raises(spark, table):
    table.overwrite(_df(spark, 6))  # v2 drops v1's files from the live set
    table.vacuum(keep_manifests=1)
    with pytest.raises(ValueError, match="vacuumed"):
        table.rollback_to(1)


# -------------------------------------------------------- changes_between
def test_cdf_append_and_dv_delete(spark, table):
    # v2: MOR batch (k 0/1 repriced) + v3: DV delete of k=5
    batch = _df(spark, 2).withColumn("v", F.col("v") + 100)
    table.merge_on_read(spark, batch, ["k"])
    table.delete_where(spark, "k = 5")
    feed = table.changes_between(spark, 1)
    got = {
        (r["k"], r["_change_type"], r["_commit_version"]): r["v"]
        for r in feed.collect()
    }
    # MOR commit: old rows 0/1 deletion-vectored (delete), batch inserted
    assert got[(0, "delete", 2)] == 0.0 and got[(0, "insert", 2)] == 100.0
    assert got[(1, "delete", 2)] == 2.0 and got[(1, "insert", 2)] == 102.0
    assert got[(5, "delete", 3)] == 10.0
    assert len(got) == 5


def test_cdf_skips_compaction(spark, table):
    table.merge_on_read(spark, _df(spark, 1).withColumn("v", F.lit(7.0)), ["k"])
    v_after_mor = max(table.versions())
    table.compact(spark, min_files=2)
    feed = table.changes_between(spark, v_after_mor)
    assert feed.count() == 0


def test_cdf_replay_reconstructs_snapshot(spark, table):
    """Folding the feed onto the v_from snapshot reproduces the live
    table — the invariant every incremental consumer relies on."""
    table.merge_on_read(
        spark, _df(spark, 3).withColumn("v", F.col("v") * 10), ["k"]
    )
    table.delete_where(spark, "k >= 10")
    base = table.read(spark, version=1).select("k", "p", "v")
    feed = table.changes_between(spark, 1)
    dels = feed.filter("_change_type = 'delete'").select("k", "p", "v")
    ins = feed.filter("_change_type = 'insert'").select("k", "p", "v")
    replayed = base.exceptAll(dels).unionByName(ins)
    live = table.read(spark).select("k", "p", "v")
    assert replayed.exceptAll(live).count() == 0
    assert live.exceptAll(replayed).count() == 0


def test_cdf_from_zero_is_full_insert_history(spark, table):
    feed = table.changes_between(spark, 0)
    assert feed.filter("_change_type = 'insert'").count() == 12
    assert feed.filter("_change_type = 'delete'").count() == 0


def test_cdf_expired_ancestor_raises(spark, table):
    table.delete_where(spark, "k = 1")
    with pytest.raises(ValueError, match="ancestor"):
        table.changes_between(spark, 7)


# --------------------------------------------------- commit_with_retries
def test_commit_with_retries_wins_after_conflict(spark, table, monkeypatch):
    orig_publish = ManifestTable._publish
    state = {"raced": False}

    def racing_publish(self, manifest, op="commit", expected_parent=None):
        if op == "update" and not state["raced"]:
            state["raced"] = True
            ManifestTable(self.root).merge(
                spark, _df(spark, 13).filter(F.col("k") >= 12), ["k"]
            )
        return orig_publish(
            self, manifest, op=op, expected_parent=expected_parent
        )

    monkeypatch.setattr(ManifestTable, "_publish", racing_publish)
    n = commit_with_retries(
        lambda: table.update_where(spark, "k = 2", {"v": F.lit(99.0)})
    )
    assert n == 1
    monkeypatch.undo()
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    # both the racing writer's row and the retried update landed
    assert rows[12] == 24.0 and rows[2] == 99.0


def test_commit_with_retries_exhausts(monkeypatch):
    calls = {"n": 0}

    def always_conflict():
        calls["n"] += 1
        raise CommitConflict("synthetic")

    with pytest.raises(CommitConflict):
        commit_with_retries(always_conflict, attempts=3)
    assert calls["n"] == 3


# ------------------------- URI-escaping regression (r7): partition values
# with spaces/escapes percent-encode in _metadata.file_path while manifest
# entry paths are on-disk form; DV association, update_where's touched-file
# match, and the CDF's per-entry dv lists must all still line up.
def test_dv_association_survives_special_char_partitions(spark, tmp_path):
    df = spark.range(12).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "NOT SPECIFIED")
        .otherwise("a:b c")
        .alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["p"])
    t.overwrite(df)
    n = t.delete_where(spark, "k % 3 = 0")
    assert n == 4  # k in {0,3,6,9}
    m = t._load_manifest()
    dv_rows = sum(e.get("dv_rows", 0) for e in m["files"])
    assert dv_rows == 4, "every DV'd file must be associated in the manifest"
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        1, 2, 4, 5, 7, 8, 10, 11,
    ]
    feed = t.changes_between(spark, 1)
    dels = sorted(
        r["k"] for r in feed.filter("_change_type = 'delete'").collect()
    )
    assert dels == [0, 3, 6, 9]


def test_update_where_touches_special_char_partitions(spark, tmp_path):
    df = spark.range(8).select(
        F.col("id").alias("k"),
        F.lit("NOT SPECIFIED").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["p"])
    t.overwrite(df)
    n = t.update_where(spark, "k >= 6", {"v": F.col("v") + 100})
    assert n == 2
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[6] == 106.0 and rows[7] == 107.0 and rows[0] == 0.0


# ------------------------------------------------- schema evolution (r7)
def test_merge_schema_evolution_adds_column(spark, table):
    """Delta autoMerge semantics: a batch carrying a NEW column widens
    the table schema; rows from pre-drift files read as NULL, and
    untouched partitions' files are NOT rewritten."""
    before = {e["path"] for e in table._load_manifest()["files"]}
    batch = spark.range(2).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.lit(99.0).alias("v"),
        F.lit("tagged").alias("note"),
    )
    table.merge(spark, batch, ["k"])
    out = table.read(spark)
    assert "note" in out.columns
    rows = {r["k"]: (r["v"], r["note"]) for r in out.collect()}
    assert rows[0] == (99.0, "tagged") and rows[1] == (99.0, "tagged")
    assert rows[5] == (10.0, None)  # pre-drift row null-filled
    after = {e["path"] for e in table._load_manifest()["files"]}
    # partition p=2 had no batch rows: its file carries over by reference
    assert before & after, "untouched partitions must not rewrite"


def test_merge_on_read_schema_evolution(spark, table):
    batch = spark.range(1).select(
        F.col("id").alias("k"),
        F.lit("0").alias("p"),
        F.lit(-1.0).alias("v"),
        F.lit(7).cast("long").alias("score"),
    )
    table.merge_on_read(spark, batch, ["k"])
    out = table.read(spark)
    rows = {r["k"]: r["score"] for r in out.collect()}
    assert rows[0] == 7 and rows[1] is None
    assert len(rows) == 12


# ---------------------------------------------------- TableChangeConsumer
def test_table_change_consumer_resume_and_replay(spark, table, tmp_path):
    from pipelinewise_spark.streaming.table_feed import TableChangeConsumer

    state = str(tmp_path / "state")
    c = TableChangeConsumer(table, state)
    assert c.bookmark() == 1 and c.poll(spark) is None

    table.delete_where(spark, "k = 3")
    feed, head = c.poll(spark)
    assert head == 2 and feed.count() == 1
    # crash BEFORE commit: a fresh consumer on the same state replays
    c2 = TableChangeConsumer(table, state)
    feed2, head2 = c2.poll(spark)
    assert head2 == 2 and feed2.count() == 1
    c2.commit(head2)
    assert c2.poll(spark) is None
    # restart AFTER commit: bookmark durable, nothing redelivered
    c3 = TableChangeConsumer(table, state)
    assert c3.bookmark() == 2 and c3.poll(spark) is None
    with pytest.raises(ValueError, match="backwards"):
        c3.commit(1)


def test_table_change_consumer_full_history_start(spark, table, tmp_path):
    from pipelinewise_spark.streaming.table_feed import TableChangeConsumer

    c = TableChangeConsumer(table, str(tmp_path / "s"), start_version=0)
    feed, head = c.poll(spark)
    assert head == 1 and feed.count() == 12
    assert feed.filter("_change_type = 'insert'").count() == 12


def test_count_rows_metadata_only(spark, table):
    assert table.count_rows() == 12
    table.delete_where(spark, "k % 4 = 0")  # DV path: dv_rows accounting
    assert table.count_rows() == 9
    table.merge_on_read(
        spark, _df(spark, 2).withColumn("v", F.lit(0.0)), ["k"]
    )  # supersedes k 0(dead),1 -> +2 appended, +1 newly dead
    assert table.count_rows() == table.read(spark).count()
    assert table.count_rows(version=1) == 12


def test_consumer_crash_replay_is_exactly_once_with_idempotent_publish(
    spark, table, tmp_path
):
    """The poll→fold→publish→commit loop survives a crash between
    publish and bookmark-commit: the replayed poll re-folds the SAME
    feed and the idempotent publish (overwrite keyed by head version)
    converges instead of double-applying — the write-once epoch
    pattern on the consumer side."""
    from pipelinewise_spark.streaming.table_feed import TableChangeConsumer

    gold = ManifestTable(os.path.join(str(tmp_path), "gold"))
    state = str(tmp_path / "state")

    def fold_and_publish(consumer) -> int | None:
        polled = consumer.poll(spark)
        if polled is None:
            return None
        feed, head = polled
        agg = (
            table.read(spark)
            .groupBy("p")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        )
        # publish derived state for this head (idempotent: same head ->
        # same contents; overwrite is the converging publish)
        gold.overwrite(agg.withColumn("head", F.lit(head)))
        return head

    c1 = TableChangeConsumer(table, state)
    table.delete_where(spark, "k % 2 = 0")
    head = fold_and_publish(c1)
    assert head == 2
    # CRASH before c1.commit(head): new consumer re-polls the same feed
    c2 = TableChangeConsumer(table, state)
    head2 = fold_and_publish(c2)
    assert head2 == 2
    c2.commit(head2)
    # convergence: gold reflects the post-delete table exactly once
    rows = {r["p"]: (r["s"], r["n"]) for r in gold.read(spark).collect()}
    live = {
        r["p"]: (r["s"], r["n"])
        for r in table.read(spark).groupBy("p")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    assert rows == live
    assert TableChangeConsumer(table, state).poll(spark) is None


def test_update_where_on_hidden_transform_partitions(spark, tmp_path):
    """CoW UPDATE against a days(ts)-partitioned table: matched files
    rewrite into the SAME derived directories, untouched days carry by
    reference, and the hidden dir column never leaks into the data."""
    df = spark.createDataFrame(
        [(i, f"2026-01-{(i % 3) + 1:02d} 10:00:00", float(i))
         for i in range(12)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    t = ManifestTable(os.path.join(str(tmp_path), "t"), ["days(ts)"])
    t.overwrite(df)
    before = {e["path"] for e in t._load_manifest()["files"]}
    n = t.update_where(
        spark, "ts = TIMESTAMP '2026-01-02 10:00:00'",
        {"v": F.col("v") * 10},
    )
    assert n == 4  # k in {1,4,7,10}
    after = {e["path"] for e in t._load_manifest()["files"]}
    assert before & after, "other days' files must carry by reference"
    out = t.read(spark)
    assert set(out.columns) == {"k", "ts", "v"}
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows[1] == 10.0 and rows[4] == 40.0 and rows[0] == 0.0


# ----------------------- r7 code-review regressions (parent chain / CDF)
def test_metadata_commits_keep_parent_chain_intact(spark, table):
    """Constraint/retention/bloom/analyze publishes reuse the loaded
    manifest dict; _publish must recompute parent/committed_at/operation
    or the CDF walk wedges and commits inherit the prior commit's stamp.
    Each names its own operation."""
    table.merge(spark, _df(spark, 2).withColumn("v", F.lit(5.0)), ["k"])
    table.add_constraint(spark, "k_nn", "k IS NOT NULL")
    table.set_retention("v", keep_days=3650)
    table.drop_constraint("k_nn")
    table.add_bloom_filters(spark, ["k"])
    table.analyze(spark)
    chain = {
        v: table._load_manifest(version=v) for v in table.versions()
    }
    assert [chain[v].get("operation") for v in sorted(chain)] == [
        "overwrite", "merge", "constraint", "set-retention",
        "constraint", "bloom", "analyze",
    ]
    for v in sorted(chain)[1:]:
        assert chain[v]["parent"] == f"manifest-{v - 1:08d}.json"
    stamps = [chain[v]["committed_at"] for v in sorted(chain)]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    # a consumer bookmarked mid-chain can still walk the feed
    feed = table.changes_between(spark, 2)
    assert feed.count() == 0  # metadata commits emit no row events


def test_cdf_rollback_emits_resurrection_inserts(spark, table):
    table.delete_where(spark, "k = 3")
    table.rollback_to(1)
    feed = table.changes_between(spark, 1)
    got = {(r["k"], r["_change_type"], r["_commit_version"])
           for r in feed.collect()}
    assert (3, "delete", 2) in got and (3, "insert", 3) in got
    assert len(got) == 2
    # replay invariant holds across the rollback
    base = {r["k"] for r in table.read(spark, version=1).collect()}
    live = {r["k"] for r in table.read(spark).collect()}
    assert base == live


def test_version_as_of_seconds_precision_query(spark, table):
    table.delete_where(spark, "k = 1")
    s1 = table._load_manifest(version=1)["committed_at"]
    # query at seconds precision for the exact commit second: the commit
    # AT that second (any microsecond part) must not be excluded when
    # its fractional part is zero, and the padded comparison is stable
    assert table.version_as_of(s1) == 1
    sec = s1[:19]
    v = table.version_as_of(sec) if s1.endswith(".000000") else None
    if v is not None:
        assert v == 1
    # zero-fraction stamp vs seconds query: simulate deterministically
    m1 = table._load_manifest(version=1)
    m1["committed_at"] = "2020-01-01 00:00:00.000000"
    import json as _json

    table.mfs.write_text(_json.dumps(m1), "manifest-00000001.json")
    assert table.version_as_of("2020-01-01 00:00:00") == 1


def test_scoped_compaction_optimize_where(spark, table):
    """OPTIMIZE ... WHERE: only the scoped partition compacts; files of
    other fragmented partitions carry over untouched, and no file is
    ever dropped by scoping."""
    # fragment all three partitions with two MOR waves
    for delta in (100.0, 200.0):
        table.merge_on_read(
            spark, _df(spark).withColumn("v", F.col("v") + delta), ["k"]
        )
    m0 = table._load_manifest()
    per = {}
    for e in m0["files"]:
        per.setdefault(e["partition"]["p"], []).append(e["path"])
    assert all(len(v) >= 3 for v in per.values())
    n = table.compact(spark, min_files=2, partitions={"p": ["1"]})
    assert n == 1
    m1 = table._load_manifest()
    after = {}
    for e in m1["files"]:
        after.setdefault(e["partition"]["p"], []).append(e["path"])
    assert set(after["0"]) == set(per["0"])  # untouched, by reference
    assert set(after["2"]) == set(per["2"])
    assert set(after["1"]).isdisjoint(per["1"]) and len(after["1"]) == 1
    # values unchanged
    rows = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert rows == {k: 2.0 * k + 200.0 for k in range(12)}


def test_scoped_compaction_rejects_non_partition_columns(spark, table):
    with pytest.raises(ValueError, match="not partition columns"):
        table.compact(spark, partitions={"day": ["x"]})


def test_version_as_of_coarse_granularities(spark, table):
    import json as _json

    m1 = table._load_manifest(version=1)
    m1["committed_at"] = "2026-03-05 00:00:00.000000"
    table.mfs.write_text(_json.dumps(m1), "manifest-00000001.json")
    assert table.version_as_of("2026-03-05") == 1          # date-only
    assert table.version_as_of("2026-03-05 00:00") == 1    # minute
    assert table.version_as_of("2026-04") == 1             # next month
    with pytest.raises(ValueError):
        # a prefix denotes its EARLIEST instant: '2026-03' = March 1
        # midnight, which precedes the March 5 commit
        table.version_as_of("2026-03")
