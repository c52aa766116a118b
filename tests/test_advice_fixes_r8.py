"""Round-8 ADVICE fixes, pinned by test.

1. _file_stats: a row group lacking stats for a column drops that column
   from the file's bounds PERMANENTLY (a later row group with stats must
   not re-add partial bounds that would let range skipping prune a file
   whose stats-less row group holds matching rows).
2. Metadata-only verbs (analyze, add_constraint, drop_constraint,
   set_retention, add_bloom_filters) conflict-check with expected_parent:
   a data commit landing during the verb raises CommitConflict instead of
   being silently reverted by the stale file list.
3. _publish race: manifest names are allocated create-exclusive, so a
   racing writer can never overwrite a committed snapshot; blind
   concurrent publishes all keep their manifests.
4. Protobuf map<bool, v>: decode stringifies keys JSON-style
   ('true'/'false'), absent key/value entries decode to proto3 defaults,
   and encode round-trips bool keys without crashing.
5. compliance.forget(): a predicate matching zero rows performs NO
   history purge (snapshot history and time travel survive a typo'd
   WHERE); force_history_purge=True restores the old behavior.
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
import pytest

from pipelinewise_spark.operators.compliance import forget
from pipelinewise_spark.operators.manifest_table import (
    CommitConflict,
    ManifestTable,
)
from pipelinewise_spark.streaming.serialization import (
    decode_message,
    encode_message,
    parse_proto,
)

# ------------------------------------------------------- 1. _file_stats


def test_file_stats_drop_is_permanent_across_row_groups(tmp_path):
    """A row group whose string value is too large for parquet min/max
    (truncation can't produce a valid upper bound) carries no statistics;
    a later clean row group must NOT re-add bounds covering only itself —
    a point lookup for the big value would wrongly range-skip the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(str(tmp_path), "t")
    t = ManifestTable(root, [])
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "two_groups.parquet")
    schema = pa.schema([("k", pa.int64()), ("s", pa.string())])
    big = "￿" * 40000  # stats omitted: truncated max can't round up
    with pq.ParquetWriter(path, schema) as w:
        w.write_table(pa.table({"k": [1], "s": [big]}, schema=schema))
        w.write_table(pa.table({"k": [2], "s": ["abc"]}, schema=schema))

    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 2, "fixture must produce two row groups"
    g1 = md.row_group(0).column(1).statistics
    assert g1 is None or not g1.has_min_max, (
        "fixture expectation: oversized-value row group carries no min/max"
    )

    stats, n = t._file_stats("two_groups.parquet")
    assert n == 2
    assert "k" in stats and stats["k"] == [1, 2]
    # before the fix: stats["s"] == ["abc", "abc"] — and an `s = big`
    # lookup would wrongly range-skip this file
    assert "s" not in stats


# ----------------------------------- 2. metadata verbs conflict-check


def _fresh_table(spark, tmp_path, name):
    root = os.path.join(str(tmp_path), name)
    t = ManifestTable(root, [])
    t.overwrite(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    return t


def test_analyze_conflicts_instead_of_reverting_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    t = _fresh_table(spark, tmp_path, "a")
    racer = ManifestTable(t.mfs.root_uri, [])
    real_read = ManifestTable.read

    def read_then_race(self, spark_, **kw):
        df = real_read(self, spark_, **kw)
        if self is t and not getattr(self, "_raced", False):
            self._raced = True
            racer.delete_where(spark_, "k = 3")  # lands mid-ANALYZE
        return df

    monkeypatch.setattr(ManifestTable, "read", read_then_race)
    with pytest.raises(CommitConflict):
        t.analyze(spark)
    # the concurrent delete SURVIVED — nothing reverted it
    monkeypatch.undo()
    assert t.read(spark).filter(F.col("k") == 3).count() == 0


def test_add_constraint_conflicts_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    t = _fresh_table(spark, tmp_path, "c")
    racer = ManifestTable(t.mfs.root_uri, [])
    real_enforce = ManifestTable._enforce

    def enforce_then_race(self, df, cons=None):
        real_enforce(self, df, cons)
        if cons and "nonneg" in cons and not getattr(self, "_raced", False):
            self._raced = True
            racer.delete_where(spark, "k = 5")

    monkeypatch.setattr(ManifestTable, "_enforce", enforce_then_race)
    with pytest.raises(CommitConflict):
        t.add_constraint(spark, "nonneg", "v >= 0")
    monkeypatch.undo()
    assert t.read(spark).filter(F.col("k") == 5).count() == 0
    assert "nonneg" not in t.constraints()
    # the verb retries cleanly against the new head (commit_with_retries
    # contract: verbs reload at call time)
    t.add_constraint(spark, "nonneg", "v >= 0")
    assert "nonneg" in t.constraints()


def test_set_retention_and_drop_constraint_pass_expected_parent(
    spark, tmp_path, monkeypatch
):
    t = _fresh_table(spark, tmp_path, "r")
    racer = ManifestTable(t.mfs.root_uri, [])
    real_load = ManifestTable._load_manifest
    race_key = {"k": 1}

    def load_then_race(self, version=None):
        m = real_load(self, version)
        if self is t and not getattr(self, "_raced", False):
            self._raced = True
            racer.delete_where(spark, f"k = {race_key['k']}")
        return m

    monkeypatch.setattr(ManifestTable, "_load_manifest", load_then_race)
    with pytest.raises(CommitConflict):
        t.set_retention("v", 30)
    monkeypatch.undo()
    assert t.read(spark).filter(F.col("k") == 1).count() == 0
    assert t.retention() is None

    t.add_constraint(spark, "c1", "v >= 0")
    t._raced = False
    race_key["k"] = 2  # fresh key: the k=1 rows are already gone
    monkeypatch.setattr(ManifestTable, "_load_manifest", load_then_race)
    with pytest.raises(CommitConflict):
        t.drop_constraint("c1")
    monkeypatch.undo()
    assert "c1" in t.constraints()  # drop conflicted, constraint survives


# --------------------------------------------- 3. _publish exclusivity


def test_manifest_allocation_is_create_exclusive(tmp_path, spark, monkeypatch):
    t = _fresh_table(spark, tmp_path, "x")
    # freeze the allocator at the next name, then have a "racer" write that
    # file between allocation and our write — the loser must conflict, not
    # silently overwrite the racer's committed manifest
    name = t._next_manifest_name()
    monkeypatch.setattr(ManifestTable, "_next_manifest_name", lambda self: name)
    t.mfs.write_text('{"files": []}', name)
    with pytest.raises(CommitConflict, match="racing writer"):
        t._publish({"partition_by": [], "files": []}, op="commit")
    assert t.mfs.read_text(name) == '{"files": []}', "racer's manifest clobbered"


def test_concurrent_blind_publishes_never_overwrite(tmp_path, spark):
    t = _fresh_table(spark, tmp_path, "y")
    base = len(t.versions())
    errs: list[Exception] = []

    def spin(n):
        h = ManifestTable(t.mfs.root_uri, [])
        for _ in range(10):
            m = h._load_manifest()
            # blind publish (no expected_parent): last-wins pointer is
            # fine, but every allocated manifest must survive on disk
            while True:
                try:
                    h._publish(dict(m), op=f"w{n}")
                    break
                except CommitConflict:
                    continue

    threads = [threading.Thread(target=spin, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    vs = t.versions()
    assert len(vs) == base + 40, "a racing writer overwrote a manifest"
    assert len(set(vs)) == len(vs)


# ------------------------------------------------- 4. protobuf bool maps


def test_protobuf_bool_key_map_roundtrip():
    sch = parse_proto(
        """
        syntax = "proto3";
        message M { map<bool, int64> flags = 1; }
        """
    )
    obj = {"flags": {"true": 7, "false": 2}}
    enc = encode_message(obj, sch)
    assert decode_message(enc, sch) == obj  # JSON-style keys, not 'True'


def test_protobuf_map_entry_missing_key_value_defaults():
    sch = parse_proto(
        """
        syntax = "proto3";
        message M {
          map<bool, int64> flags = 1;
          map<int32, string> names = 2;
        }
        """
    )
    # hand-craft entries omitting fields: field 1 wire 2, empty entry body
    # → key and value both absent → proto3 defaults
    empty_flag_entry = bytes([0x0A, 0x00])  # flags: entry with no fields
    assert decode_message(empty_flag_entry, sch) == {"flags": {"false": 0}}
    # names entry with only a value ('x') → key defaults to 0
    entry_body = bytes([0x12, 0x01]) + b"x"  # field 2 (value), len 1
    buf = bytes([0x12, len(entry_body)]) + entry_body
    assert decode_message(buf, sch) == {"names": {"0": "x"}}


# ------------------------------------------------ 5. forget() zero rows


def test_forget_zero_matches_preserves_history(spark, tmp_path):
    t = _fresh_table(spark, tmp_path, "f")
    t.merge(spark, spark.range(2).select(
        F.col("id").alias("k"), F.lit(999).alias("v")), ["k"])
    versions_before = t.versions()
    assert len(versions_before) >= 2

    out = forget(spark, t, "k = 424242")  # typo'd predicate: no match
    assert out["deleted_rows"] == 0
    assert out["expired_snapshots"] == []
    assert t.versions() == versions_before, "history was destroyed on no-op"

    # explicit opt-in still purges (resume after a crashed first attempt)
    out2 = forget(spark, t, "k = 424242", force_history_purge=True)
    assert out2["deleted_rows"] == 0
    assert len(t.versions()) == 1
