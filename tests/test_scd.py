"""SCD Type 2 operator invariants (operators/scd.py).

The oracle comparison for the two registered queries lives in the shared
query sweep; these tests pin the operator-level contract no single oracle
scenario exercises: interval well-formedness, replay idempotence, the
no-op checksum rule, multi-batch chaining, and the PIT join's boundary
semantics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pipelinewise_spark.operators.scd import (
    IS_CURRENT,
    VALID_FROM,
    VALID_TO,
    scd2_apply,
    scd2_init,
    scd2_pit_join,
    scd2_snapshot,
)

PK = ["k"]
TS0, TS1, TS2 = (
    "2026-01-01 00:00:00",
    "2026-02-01 00:00:00",
    "2026-03-01 00:00:00",
)


def _batch(spark, rows, ts):
    df = spark.createDataFrame(
        rows, "k long, attr string, _sdc_deleted_at string"
    )
    return df.withColumn(
        "_sdc_deleted_at", F.col("_sdc_deleted_at").cast("timestamp")
    ).withColumn("_eff", F.lit(ts).cast("timestamp"))


def _apply(cur, batch):
    return scd2_apply(cur, batch, PK, "_eff")


@pytest.fixture()
def hist2(spark):
    """Two chained batches: k=1 changes twice, k=2 changes once then is
    deleted, k=3 never changes, k=4 arrives in batch 2."""
    cur = scd2_init(
        _batch(
            spark,
            [(1, "a", None), (2, "b", None), (3, "c", None)],
            TS0,
        ),
        "_eff",
    ).drop("_eff")
    h1 = _apply(
        cur, _batch(spark, [(1, "a2", None), (2, "b2", None)], TS1)
    ).localCheckpoint()
    cur1 = h1.filter(F.col(IS_CURRENT))
    closed1 = h1.filter(~F.col(IS_CURRENT))
    h2 = _apply(
        cur1,
        _batch(spark, [(1, "a3", None), (2, "b2", TS2), (4, "d", None)], TS2),
    )
    return h2.unionByName(closed1).localCheckpoint()


def test_versions_and_intervals(hist2):
    rows = {
        (r["k"], r["attr"]): r for r in hist2.collect()
    }
    assert set(rows) == {
        (1, "a"), (1, "a2"), (1, "a3"),
        (2, "b"), (2, "b2"),
        (3, "c"), (4, "d"),
    }
    # exactly one open version per live PK; deleted PK 2 has none
    open_keys = [k for (k, _), r in rows.items() if r[IS_CURRENT]]
    assert sorted(open_keys) == [1, 3, 4]
    # every closed interval ends where the next begins (contiguity)
    assert rows[(1, "a")][VALID_TO] == rows[(1, "a2")][VALID_FROM]
    assert rows[(1, "a2")][VALID_TO] == rows[(1, "a3")][VALID_FROM]
    # tombstone closes without reopening
    assert rows[(2, "b2")][VALID_TO] is not None
    assert not rows[(2, "b2")][IS_CURRENT]
    # untouched row keeps its original open interval
    assert rows[(3, "c")][VALID_FROM].isoformat(sep=" ") == TS0
    assert rows[(3, "c")][VALID_TO] is None


def test_noop_reassert_and_replay_idempotent(spark):
    cur = scd2_init(
        _batch(spark, [(1, "a", None), (2, "b", None)], TS0), "_eff"
    ).drop("_eff")
    b = _batch(spark, [(1, "a", None), (2, "b2", None)], TS1)
    h1 = _apply(cur, b).localCheckpoint()
    # k=1 re-asserted unchanged -> NO new version
    assert h1.filter(F.col("k") == 1).count() == 1
    assert h1.count() == 3
    # replaying the same batch against the new current slice is a no-op
    # (values equal now; the strict-newer guard also blocks same-ts rows)
    h2 = _apply(h1.filter(F.col(IS_CURRENT)), b)
    assert h2.filter(~F.col(IS_CURRENT)).count() == 0  # nothing newly closed
    assert (
        h2.count()
        == h1.filter(F.col(IS_CURRENT)).count()
    )


def test_stale_batch_never_regresses(spark):
    cur = scd2_init(_batch(spark, [(1, "new", None)], TS1), "_eff").drop(
        "_eff"
    )
    stale = _batch(spark, [(1, "old", None)], TS0)  # effective BEFORE open
    h = _apply(cur, stale)
    rows = h.collect()
    assert len(rows) == 1 and rows[0]["attr"] == "new"


def test_snapshot_and_pit_boundaries(spark, hist2):
    # snapshot strictly between TS1 and TS2 sees the middle versions
    snap = {
        r["k"]: r["attr"]
        for r in scd2_snapshot(hist2, "2026-02-15 00:00:00").collect()
    }
    assert snap == {1: "a2", 2: "b2", 3: "c"}
    # boundary is half-open: AT TS1 the new version is already valid
    snap_t1 = {
        r["k"]: r["attr"] for r in scd2_snapshot(hist2, TS1).collect()
    }
    assert snap_t1[1] == "a2" and snap_t1[2] == "b2"
    facts = spark.createDataFrame(
        [(1, TS0), (1, TS1), (1, TS2), (2, TS2), (9, TS2)],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    j = scd2_pit_join(facts, hist2, PK, "ts").collect()
    got = {(r["k"], r["ts"].isoformat(sep=" ")): r["attr"] for r in j}
    assert got[(1, TS0)] == "a"
    assert got[(1, TS1)] == "a2"
    assert got[(1, TS2)] == "a3"
    # fact after the delete, and a key with no history: NULL dim columns
    assert got[(2, TS2)] is None
    assert got[(9, TS2)] is None


def test_tracked_subset_is_type1_for_untracked(spark):
    cur = scd2_init(
        spark.createDataFrame([(1, "a", "x")], "k long, t2 string, t1 string")
        .withColumn("_eff", F.lit(TS0).cast("timestamp")),
        "_eff",
    ).drop("_eff")
    # only t2 is tracked: changing t1 alone must NOT version...
    b1 = spark.createDataFrame(
        [(1, "a", "y")], "k long, t2 string, t1 string"
    ).withColumn("_eff", F.lit(TS1).cast("timestamp"))
    h1 = scd2_apply(cur, b1, PK, "_eff", tracked_cols=["t2"])
    assert h1.count() == 1 and h1.first()["t1"] == "x"  # carried as-is
    # ...but a t2 change mints a version that takes the batch's t1 too
    b2 = spark.createDataFrame(
        [(1, "a2", "y")], "k long, t2 string, t1 string"
    ).withColumn("_eff", F.lit(TS1).cast("timestamp"))
    h2 = scd2_apply(cur, b2, PK, "_eff", tracked_cols=["t2"])
    got = {r["t2"]: r for r in h2.collect()}
    assert got["a2"][IS_CURRENT] and got["a2"]["t1"] == "y"
    assert not got["a"][IS_CURRENT]


def test_pit_join_plan_broadcasts_dim_no_nested_loop(spark, sf_dir):
    from pipelinewise_spark.queries import QUERIES

    df = QUERIES["scd2_pit_revenue_by_segment"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the dim-key equi-join must surface (hash join, dim broadcast), with
    # the validity interval as a post-filter — never a nested-loop join
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_streaming_scd2_epoch_replay_does_not_duplicate(spark, tmp_path):
    """A foreachBatch epoch replayed after a crash rewrites the SAME
    closed-log epoch directory and re-folds the same batch — history
    must be byte-identical, not doubled."""
    import os

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.plans.spec import StreamSpec
    from pipelinewise_spark.streaming.cdc import envelope_schema
    from pipelinewise_spark.streaming.scd import (
        apply_scd2_batch,
        read_closed_log,
    )
    import pyspark.sql.types as T

    payload = T._parse_datatype_string("k long, attr string")
    spec = StreamSpec(
        tap_stream_id="t", primary_keys=["k"], hard_delete=True
    )
    current = ManifestTable(os.path.join(str(tmp_path), "cur"))
    closed = os.path.join(str(tmp_path), "closed")

    def ev(rows, ts):
        return spark.createDataFrame(
            [(op, k, ts, k, a) for op, k, a in rows],
            envelope_schema(payload),
        )

    apply_scd2_batch(
        current, closed, ev([("c", 1, "a"), ("c", 2, "b")], TS0), spec, 0
    )
    b1 = ev([("u", 1, "a2"), ("d", 2, "b")], TS1)
    apply_scd2_batch(current, closed, b1, spec, 1)
    snap1 = sorted(
        (r["k"], r["attr"]) for r in read_closed_log(spark, closed).collect()
    )
    cur1 = sorted((r["k"], r["attr"]) for r in current.read(spark).collect())
    # crash-replay of epoch 1: same batch, same epoch id
    apply_scd2_batch(current, closed, b1, spec, 1)
    assert sorted(
        (r["k"], r["attr"]) for r in read_closed_log(spark, closed).collect()
    ) == snap1
    assert sorted(
        (r["k"], r["attr"]) for r in current.read(spark).collect()
    ) == cur1
    assert snap1 == [(1, "a"), (2, "b")] and cur1 == [(1, "a2")]


# ---------------------------------------------------------------- property
from hypothesis import given, settings, strategies as st  # noqa: E402

# one wave = {key: value or None(tombstone)}; keys from a small pool so
# chains actually form; waves apply at strictly increasing timestamps
_WAVE = st.dictionaries(
    st.integers(min_value=1, max_value=5),
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
    min_size=1, max_size=4,
)
_TS = ["2026-01-01 00:00:00", "2026-02-01 00:00:00",
       "2026-03-01 00:00:00", "2026-04-01 00:00:00"]


@given(st.lists(_WAVE, min_size=1, max_size=3))
@settings(max_examples=10, deadline=None)
def test_scd2_apply_matches_reference_fold(spark, waves):
    cur = None
    closed_rows = []
    for ts, wave in zip(_TS, waves):
        b = _batch(
            spark,
            [
                (k, v if v is not None else "x",
                 ts if v is None else None)
                for k, v in sorted(wave.items())
            ],
            ts,
        )
        if cur is None:
            cur = scd2_init(b, "_eff").drop("_eff").localCheckpoint()
            continue
        folded = _apply(cur, b).localCheckpoint()
        closed_rows += [
            (r["k"], r["attr"],
             r[VALID_FROM].isoformat(sep=" "),
             r[VALID_TO].isoformat(sep=" "))
            for r in folded.filter(~F.col(IS_CURRENT)).collect()
        ]
        cur = folded.filter(F.col(IS_CURRENT)).localCheckpoint()
    # reference: wave 0 is the init load (tombstones dropped, rest open)
    init = {
        k: (v, _TS[0]) for k, v in sorted(waves[0].items()) if v is not None
    }
    ref_cur, ref_closed = init, []
    for ts, wave in zip(_TS[1:], waves[1:]):
        for k, v in sorted(wave.items()):
            live = ref_cur.get(k)
            if v is None:
                if live is not None:
                    ref_closed.append((k, live[0], live[1], ts))
                    del ref_cur[k]
            elif live is None:
                ref_cur[k] = (v, ts)
            elif live[0] != v and ts > live[1]:
                ref_closed.append((k, live[0], live[1], ts))
                ref_cur[k] = (v, ts)
    got_cur = {
        r["k"]: (r["attr"], r[VALID_FROM].isoformat(sep=" "))
        for r in cur.collect()
    }
    assert got_cur == ref_cur
    assert sorted(closed_rows) == sorted(ref_closed)


def test_closed_epoch_marker_is_engine_owned(spark, tmp_path):
    """r13: the session disables Hadoop _SUCCESS markers (committer
    overhead), so the closed-increment write-once protocol must ride the
    engine's own _COMMITTED file."""
    import os

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.plans.spec import StreamSpec
    from pipelinewise_spark.streaming.cdc import envelope_schema
    from pipelinewise_spark.streaming.scd import apply_scd2_batch
    import pyspark.sql.types as T

    payload = T._parse_datatype_string("k long, attr string")
    spec = StreamSpec(tap_stream_id="t", primary_keys=["k"],
                      hard_delete=True)
    current = ManifestTable(os.path.join(str(tmp_path), "cur"))
    closed = os.path.join(str(tmp_path), "closed")
    ev = spark.createDataFrame(
        [("c", 1, TS0, 1, "a")], envelope_schema(payload)
    )
    apply_scd2_batch(current, closed, ev, spec, 0)
    ev1 = spark.createDataFrame(
        [("u", 1, TS1, 1, "a2")], envelope_schema(payload)
    )
    apply_scd2_batch(current, closed, ev1, spec, 1)
    epoch1 = os.path.join(closed, "epoch=1")
    assert os.path.exists(os.path.join(epoch1, "_COMMITTED"))
    # the point of the engine marker: Hadoop's is gone under the session
    # committer settings, and the protocol must not depend on it
    assert not os.path.exists(os.path.join(epoch1, "_SUCCESS"))
