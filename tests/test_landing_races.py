"""Every read-then-rewrite landing path publishes against the manifest it
read. Each test lets a second handle append row 9 between the first
handle's read and its publish — as the first handle's write job starts,
which is when Spark actually reads the rows being rewritten — and
expects ``CommitConflict`` with row 9 still live, never a silent loss.
The last-wins ``overwrite`` is the one verb that does not conflict; it
commits only the constraints its rows were checked against."""

from __future__ import annotations

import os

import pytest

from pipelinewise_spark.operators.manifest_table import (
    CommitConflict,
    ManifestTable,
)
from pipelinewise_spark.operators.sync import partial_sync
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.sources.singer import _write_segment

_SCHEMA = "id long, v string"


def _race(monkeypatch, table, racer, method="_write_files") -> None:
    """Run ``racer()`` once, just before ``table`` first calls ``method``
    — by default as it writes its first data dir (between the rewrite's
    read and its publish)."""
    real = getattr(ManifestTable, method)
    raced = []

    def call_after_race(self, *args, **kwargs):
        if self is table and not raced:
            raced.append(True)
            racer()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ManifestTable, method, call_after_race)


def _ids(spark, root) -> list[int]:
    return sorted(r.id for r in ManifestTable(root).read(spark).collect())


@pytest.fixture
def root(spark, tmp_path):
    """A table of rows 1 and 2, and the path of it."""
    path = os.path.join(str(tmp_path), "t")
    ManifestTable(path).overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA)
    )
    return path


def _append_row_9(spark, root):
    return lambda: ManifestTable(root).append(
        spark.createDataFrame([(9, "racer")], _SCHEMA)
    )


def test_unpartitioned_merge_conflicts_on_a_racing_commit(
    spark, root, monkeypatch
):
    t = ManifestTable(root)
    _race(monkeypatch, t, _append_row_9(spark, root))
    with pytest.raises(CommitConflict):
        t.merge(spark, spark.createDataFrame([(2, "B")], _SCHEMA), ["id"])
    assert _ids(spark, root) == [1, 2, 9]


def test_two_merges_creating_one_table_conflict(
    spark, tmp_path, monkeypatch
):
    path = os.path.join(str(tmp_path), "fresh")
    first, second = ManifestTable(path), ManifestTable(path)
    _race(monkeypatch, first, lambda: second.merge(
        spark, spark.createDataFrame([(9, "racer")], _SCHEMA), ["id"]
    ))
    with pytest.raises(CommitConflict):
        first.merge(
            spark, spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA),
            ["id"],
        )
    assert _ids(spark, path) == [9]


def test_singer_pk_flush_conflicts_on_a_racing_commit(
    spark, root, monkeypatch
):
    t = ManifestTable(root)
    _race(monkeypatch, t, _append_row_9(spark, root))
    with pytest.raises(CommitConflict):
        _write_segment(
            spark, t, spark.createDataFrame([(2, "B")], _SCHEMA), ["id"]
        )
    assert _ids(spark, root) == [1, 2, 9]


def test_singer_version_column_rewrite_conflicts_on_a_racing_commit(
    spark, root, monkeypatch
):
    """A string -> long change of ``v`` versions the column: the
    evolution rewrite is the read-then-overwrite that races."""
    t = ManifestTable(root)
    _race(monkeypatch, t, _append_row_9(spark, root))
    with pytest.raises(CommitConflict):
        _write_segment(
            spark, t, spark.createDataFrame([(2, 7)], "id long, v long"),
            ["id"], version_suffix="old",
        )
    assert _ids(spark, root) == [1, 2, 9]
    assert ManifestTable(root).read(spark).columns == ["id", "v"]


@pytest.mark.parametrize("hard_delete", [False, True], ids=["merge", "range_replace"])
def test_partial_sync_conflicts_on_a_racing_commit(
    spark, root, monkeypatch, hard_delete
):
    t = ManifestTable(root)
    spec = StreamSpec(
        tap_stream_id="s", replication_key="id", primary_keys=["id"],
        hard_delete=hard_delete, add_metadata_columns=False,
    )
    _race(monkeypatch, t, _append_row_9(spark, root))
    with pytest.raises(CommitConflict):
        partial_sync(
            spark, spark.createDataFrame([(2, "B")], _SCHEMA), spec, t,
            start_value=2, end_value=2,
        )
    assert _ids(spark, root) == [1, 2, 9]


def test_set_partition_spec_conflicts_on_a_racing_commit(
    spark, root, monkeypatch
):
    t = ManifestTable(root)
    _race(monkeypatch, t, _append_row_9(spark, root), method="_read_entries")
    with pytest.raises(CommitConflict):
        t.set_partition_spec(spark, ["v"])
    assert _ids(spark, root) == [1, 2, 9]
    assert ManifestTable(root)._load_manifest()["partition_by"] == []
    assert t.partition_by == []


def test_last_wins_overwrite_keeps_only_constraints_it_checked(
    spark, root, monkeypatch
):
    t = ManifestTable(root)
    _race(monkeypatch, t, lambda: ManifestTable(root).add_constraint(
        spark, "no_bad", "v <> 'bad'"
    ))
    t.overwrite(spark.createDataFrame([(2, "bad")], _SCHEMA))
    live = ManifestTable(root)
    rows = live.read(spark)
    for name, pred in live.constraints().items():
        assert rows.filter(f"NOT ({pred})").count() == 0, name
    assert live.constraints() == {}
    assert sorted(tuple(r) for r in rows.collect()) == [(2, "bad")]
