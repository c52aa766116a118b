"""StreamingRollup: per-batch folds mirror the MERGE's own semantics —
stale events (seq guard) contribute nothing, deletes leave the rollup,
re-inserts after soft delete come back, redelivered events are no-ops."""

from __future__ import annotations

import os
import tempfile
from decimal import Decimal

from pyspark.sql import functions as F

from pipelinewise_spark.operators.sdc import add_sdc_columns
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.streaming.cdc import apply_change_batch
from pipelinewise_spark.streaming.mv import StreamingRollup

_ENV = (
    "_op string, _seq long, _event_ts string, "
    "id long, grp string, val double"
)


def _mv(rollup, spark):
    return {
        r["grp"]: (r["n_rows"], float(r["total"]))
        for r in rollup.read(spark).collect()
    }


def test_rollup_tracks_merge_semantics(spark):
    tmp = tempfile.mkdtemp(prefix="pws_mvtest_")
    spec = StreamSpec(tap_stream_id="t", primary_keys=["id"], hard_delete=False)
    table = ManifestTable(os.path.join(tmp, "t"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, grp string, val double",
    )
    table.overwrite(
        add_sdc_columns(base, extracted_at="2026-01-01", batched_at="2026-01-01")
        .withColumn("_sdc_seq", F.lit(0).cast("long"))
    )
    rollup = StreamingRollup(
        ManifestTable(os.path.join(tmp, "mv")), ["grp"], {"total": "val"}
    )
    rollup.initialize(table.read(spark))
    assert _mv(rollup, spark) == {"a": (2, 30.0), "b": (1, 30.0)}

    def fold(rows):
        batch = spark.createDataFrame(rows, _ENV)
        rollup.on_batch(spark, table, batch, spec.primary_keys)
        apply_change_batch(table, batch, spec)

    # batch 1: update id=1 (10->15), delete id=3, insert id=4 into b
    fold([
        ("u", 10, "2026-01-02", 1, "a", 15.0),
        ("d", 11, "2026-01-02", 3, "b", None),
        ("c", 12, "2026-01-02", 4, "b", 7.0),
    ])
    assert _mv(rollup, spark) == {"a": (2, 35.0), "b": (1, 7.0)}

    # batch 2: STALE update of id=1 (seq 5 < persisted 10) — discarded by
    # the merge guard, must also not touch the rollup; plus redelivery of
    # the id=4 insert (old == new -> zero delta)
    fold([
        ("u", 5, "2026-01-02", 1, "a", 99.0),
        ("c", 12, "2026-01-02", 4, "b", 7.0),
    ])
    assert _mv(rollup, spark) == {"a": (2, 35.0), "b": (1, 7.0)}

    # batch 3: re-insert id=3 after its soft delete (comes back live),
    # and a group-moving update id=2 a->b
    fold([
        ("c", 20, "2026-01-03", 3, "b", 31.0),
        ("u", 21, "2026-01-03", 2, "b", 20.0),
    ])
    assert _mv(rollup, spark) == {"a": (1, 15.0), "b": (3, 58.0)}

    # rollup == recompute over the live target, decimal-exact
    live = table.read(spark).filter(F.col("_sdc_deleted_at").isNull())
    expect = {
        r["grp"]: (r["n"], float(r["s"]))
        for r in live.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("val").cast("decimal(28,6)")).alias("s"))
        .collect()
    }
    assert _mv(rollup, spark) == expect


def test_rollup_replay_is_idempotent_with_epoch(spark):
    """foreachBatch is at-least-once: replaying an epoch whose rollup
    publish already landed (crash before the target merge) must NOT fold
    the deltas twice. Covers both replay shapes: sidecar recorded (normal),
    and publish-landed-but-sidecar-lost (the non-atomic window)."""
    tmp = tempfile.mkdtemp(prefix="pws_mvreplay_")
    spec = StreamSpec(tap_stream_id="t", primary_keys=["id"], hard_delete=False)
    table = ManifestTable(os.path.join(tmp, "t"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, grp string, val double"
    )
    table.overwrite(
        add_sdc_columns(base, extracted_at="2026-01-01", batched_at="2026-01-01")
        .withColumn("_sdc_seq", F.lit(0).cast("long"))
    )
    rollup = StreamingRollup(
        ManifestTable(os.path.join(tmp, "mv")), ["grp"], {"total": "val"}
    )
    rollup.initialize(table.read(spark))

    batch = spark.createDataFrame(
        [("u", 10, "2026-01-02", 1, "a", 15.0)], _ENV
    )
    # epoch 1 folds, then "crashes" before the merge; the replay re-runs
    # on_batch against the SAME pre-merge target
    rollup.on_batch(spark, table, batch, spec.primary_keys, epoch=1)
    assert _mv(rollup, spark) == {"a": (1, 15.0), "b": (1, 20.0)}
    rollup.on_batch(spark, table, batch, spec.primary_keys, epoch=1)  # replay
    assert _mv(rollup, spark) == {"a": (1, 15.0), "b": (1, 20.0)}
    apply_change_batch(table, batch, spec)

    # non-atomic window: publish landed but the sidecar write was lost —
    # simulate by rolling the sidecar back to the previous epoch
    batch2 = spark.createDataFrame(
        [("u", 20, "2026-01-03", 2, "b", 25.0)], _ENV
    )
    rollup.on_batch(spark, table, batch2, spec.primary_keys, epoch=2)
    assert _mv(rollup, spark) == {"a": (1, 15.0), "b": (1, 25.0)}
    import json as _json

    sidecar = rollup._epoch_path()
    st = _json.load(open(sidecar))
    with open(sidecar, "w") as fh:
        _json.dump({"epoch": 1, "mv_version": "stale-version"}, fh)
    rollup.on_batch(spark, table, batch2, spec.primary_keys, epoch=2)  # replay
    assert _mv(rollup, spark) == {"a": (1, 15.0), "b": (1, 25.0)}
    # and the sidecar healed itself to epoch 2
    assert _json.load(open(sidecar))["epoch"] == 2
    apply_change_batch(table, batch2, spec)

    # a genuinely NEW epoch still folds
    batch3 = spark.createDataFrame(
        [("c", 30, "2026-01-04", 3, "a", 5.0)], _ENV
    )
    rollup.on_batch(spark, table, batch3, spec.primary_keys, epoch=3)
    assert _mv(rollup, spark) == {"a": (2, 20.0), "b": (1, 25.0)}


def test_rollup_crash_between_publish_and_merge_end_to_end(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 #7: kill-and-replay through a REAL checkpointed stream.
    The driver crashes in batch 1 AFTER the rollup publish but BEFORE the
    target merge; restarting with the same checkpoint replays batch 1 —
    the epoch guard must skip the re-fold while the merge still lands, and
    the final rollup must equal a full recompute over the live target."""
    import pyspark.sql.types as T
    from pyspark.sql.streaming import StreamingQueryException

    from pipelinewise_spark.streaming import cdc as cdc_mod
    from pipelinewise_spark.streaming.cdc import run_cdc_stream

    tmp = str(tmp_path)
    events_dir = os.path.join(tmp, "events")
    os.makedirs(events_dir)
    spec = StreamSpec(tap_stream_id="t", primary_keys=["id"],
                      hard_delete=False)
    table = ManifestTable(os.path.join(tmp, "t"))
    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(10 * i)) for i in range(1, 9)],
        "id long, grp string, val double",
    )
    table.overwrite(
        add_sdc_columns(base, extracted_at="2026-01-01",
                        batched_at="2026-01-01")
        .withColumn("_sdc_seq", F.lit(0).cast("long"))
    )
    rollup = StreamingRollup(
        ManifestTable(os.path.join(tmp, "mv")), ["grp"], {"total": "val"}
    )
    rollup.initialize(table.read(spark))

    # 4 event files at 2/trigger -> 2 micro-batches: updates + one delete
    # + one insert, interleaved so both batches touch both groups
    changes = [
        ("u", 10, 1, "a", 11.0), ("u", 11, 2, "b", 21.0),
        ("d", 12, 3, "a", None), ("c", 13, 9, "b", 5.0),
    ]
    rows = spark.createDataFrame(
        [(op, seq, "2026-01-02", i, g, v) for op, seq, i, g, v in changes],
        _ENV,
    )
    rows.repartition(4).write.mode("overwrite").json(events_dir)

    payload = T._parse_datatype_string("id long, grp string, val double")
    real_apply = cdc_mod.apply_change_batch
    crashed = {"done": False}

    def crashing_apply(table_, batch_, spec_, **kw):
        # crash exactly once, in the SECOND micro-batch, after the rollup
        # fold for that epoch has published
        if not crashed["done"] and crashing_apply.calls >= 1:
            crashed["done"] = True
            raise RuntimeError("injected crash between publish and merge")
        crashing_apply.calls += 1
        return real_apply(table_, batch_, spec_, **kw)

    crashing_apply.calls = 0
    monkeypatch.setattr(cdc_mod, "apply_change_batch", crashing_apply)

    ckpt = os.path.join(tmp, "_checkpoint")
    try:
        run_cdc_stream(
            spark, events_dir, payload, spec, table,
            checkpoint_dir=ckpt, max_files_per_trigger=2, rollup=rollup,
        )
        raise AssertionError("injected crash did not fire")
    except StreamingQueryException:
        pass
    assert crashed["done"]

    # restart with the same checkpoint: the failed epoch replays; the
    # guard must not double-fold while the merge lands this time
    monkeypatch.setattr(cdc_mod, "apply_change_batch", real_apply)
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=ckpt, max_files_per_trigger=2, rollup=rollup,
    )

    live = table.read(spark).filter(F.col("_sdc_deleted_at").isNull())
    expect = {
        r["grp"]: (r["n"], float(r["s"]))
        for r in live.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("val").cast("decimal(28,6)")).alias("s"))
        .collect()
    }
    assert _mv(rollup, spark) == expect
    # every change applied exactly once: 8 base - 1 delete + 1 insert live
    assert live.count() == 8
