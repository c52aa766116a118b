"""INCREMENTAL / CDC into a ManifestTable must be partition-pruned: a batch
touching one partition may not rewrite the others — their files carry over
by reference into the new snapshot (the VERDICT r1 scale defect)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import append_only
from pipelinewise_spark.operators.sync import incremental_sync
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.plans.state import BookmarkStore
from pipelinewise_spark.sources.files import read_table
from pipelinewise_spark.streaming.cdc import apply_change_batch


def _files_by_partition(t: ManifestTable) -> dict:
    with open(os.path.join(t.root, t.current_manifest_name())) as fh:
        m = json.load(fh)
    out: dict = {}
    for e in m["files"]:
        out.setdefault(tuple(sorted(e["partition"].items())), set()).add(e["path"])
    return out


def test_incremental_sync_manifest_carries_untouched_files(spark, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "t"), partition_by=["pt"])
    spec = StreamSpec(
        tap_stream_id="t", replication_method="INCREMENTAL",
        replication_key="k", primary_keys=["k"], add_metadata_columns=False,
    )
    state = BookmarkStore(os.path.join(str(tmp_path), "state.json"))

    base = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(100)],
        "k int, pt string, v double",
    )
    # run 1: initial load (no bookmark) — overwrite, partitioned by pt
    incremental_sync(spark, base, spec, t, state)
    f1 = _files_by_partition(t)
    assert state.get("t", "replication_key_value") == 99

    # run 2: source grew — 10 new rows, all in partition B (keys > bookmark),
    # plus the boundary row 99 re-read by the inclusive >= filter
    src2 = base.unionByName(
        spark.createDataFrame(
            [(100 + i, "B", 1000.0 + i) for i in range(10)],
            "k int, pt string, v double",
        )
    )
    incremental_sync(spark, src2, spec, t, state)
    f2 = _files_by_partition(t)

    ka, kb = (("pt", "A"),), (("pt", "B"),)
    assert f2[ka] == f1[ka], "untouched partition A was rewritten"
    assert f2[kb].isdisjoint(f1[kb]), "touched partition B not rewritten"
    assert state.get("t", "replication_key_value") == 109

    got = {r.k: (r.pt, r.v) for r in t.read(spark).collect()}
    assert len(got) == 110
    assert got[105] == ("B", 1005.0)
    assert got[42] == ("A", 42.0)


def test_cdc_apply_batch_manifest_partition_pruned(spark, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "t"), partition_by=["pt"])
    base = spark.createDataFrame(
        [(i, "A" if i < 50 else "B", float(i)) for i in range(100)],
        "id int, pt string, v double",
    )
    spec = StreamSpec(tap_stream_id="t", primary_keys=["id"], hard_delete=True)
    t.overwrite(base)
    f1 = _files_by_partition(t)

    # change events touch only partition B: one update, one delete
    batch = spark.createDataFrame(
        [("u", 1, "2026-01-02 00:00:00", 60, "B", 600.0),
         ("d", 2, "2026-01-02 00:00:00", 70, "B", 70.0)],
        "_op string, _seq long, _event_ts string, id int, pt string, v double",
    )
    apply_change_batch(t, batch, spec)
    f2 = _files_by_partition(t)
    ka, kb = (("pt", "A"),), (("pt", "B"),)
    assert f2[ka] == f1[ka], "untouched partition A was rewritten"
    assert f2[kb].isdisjoint(f1[kb])

    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[60] == 600.0
    assert 70 not in got, "hard delete not applied"
    assert got[0] == 0.0 and len(got) == 99


def test_incremental_sync_no_pk_appends_to_manifest(spark, tmp_path):
    """A PK-less INCREMENTAL run into a ManifestTable commits only the
    batch's new files: every prior entry carries over by path, and the
    rows equal ``append_only`` of the prior snapshot and the batch."""
    t = ManifestTable(os.path.join(str(tmp_path), "t"))
    spec = StreamSpec(
        tap_stream_id="t", replication_method="INCREMENTAL",
        replication_key="k", add_metadata_columns=False,
    )
    state = BookmarkStore(os.path.join(str(tmp_path), "state.json"))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k int, v double"
    )
    assert incremental_sync(spark, base, spec, t, state) == 20
    v1 = t.versions()[-1]
    paths1 = {e["path"] for e in t._load_manifest()["files"]}

    new = spark.createDataFrame(
        [(20 + i, 100.0 + i) for i in range(5)], "k int, v double"
    )
    # the inclusive >= filter re-reads boundary row 19 alongside the new rows
    assert incremental_sync(spark, base.unionByName(new), spec, t, state) == 6
    paths2 = {e["path"] for e in t._load_manifest()["files"]}
    assert paths1 < paths2

    batch = base.filter(F.col("k") == 19).unionByName(new)
    want = append_only(t.read(spark, version=v1), batch)
    assert sorted(t.read(spark).collect()) == sorted(want.collect())
    assert state.get("t", "replication_key_value") == 24
