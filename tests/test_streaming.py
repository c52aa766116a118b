"""Streaming/CDC behaviors beyond the oracle check: checkpoint resume,
hard-delete, multi-batch ordering."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T

from pipelinewise_spark.operators.sdc import add_sdc_columns
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.queries.pipeline import T0, T1
from pipelinewise_spark.sources.files import read_table
from pipelinewise_spark.streaming.cdc import run_cdc_stream

PAYLOAD = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


def _mk_events(spark, tmp, rows):
    events_dir = os.path.join(tmp, "events")
    schema = (
        "_op string, _seq long, _event_ts string, o_orderkey long, "
        "o_totalprice double"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").json(
        events_dir
    )
    return events_dir


def test_cdc_hard_delete_and_checkpoint_resume(spark, tmp_path):
    tmp = str(tmp_path)
    spec = StreamSpec(tap_stream_id="t", primary_keys=["o_orderkey"],
                      hard_delete=True)
    table = ManifestTable(os.path.join(tmp, "t"))
    ckpt = os.path.join(tmp, "ckpt")

    events_dir = _mk_events(spark, tmp, [
        ("c", 1, T0, 1, 10.0),
        ("c", 2, T0, 2, 20.0),
        ("u", 3, T0, 2, 25.0),   # last-wins within batch
    ])
    run_cdc_stream(spark, events_dir, PAYLOAD, spec, table, ckpt)
    got = {r.o_orderkey: r.o_totalprice for r in table.read(spark).collect()}
    assert got == {1: 10.0, 2: 25.0}

    # second batch: delete key 1 — hard delete removes the row; checkpoint
    # means the first file is NOT reprocessed
    _mk_events(spark, tmp, [("d", 4, T1, 1, 10.0)])
    run_cdc_stream(spark, events_dir, PAYLOAD, spec, table, ckpt)
    rows = table.read(spark).collect()
    assert {r.o_orderkey for r in rows} == {2}
    assert rows[0].o_totalprice == 25.0

    # replaying with a FRESH checkpoint reprocesses everything; the merge is
    # idempotent so the end state is identical
    run_cdc_stream(spark, events_dir, PAYLOAD, spec, table,
                   os.path.join(tmp, "ckpt2"))
    assert {r.o_orderkey for r in table.read(spark).collect()} == {2}


def test_cdc_multi_batch_file_order(spark, tmp_path):
    """maxFilesPerTrigger=1 → one micro-batch per file, applied in order."""
    tmp = str(tmp_path)
    spec = StreamSpec(tap_stream_id="t", primary_keys=["o_orderkey"])
    table = ManifestTable(os.path.join(tmp, "t"))
    events_dir = _mk_events(spark, tmp, [("c", 1, T0, 1, 10.0)])
    import time
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    _mk_events(spark, tmp, [("u", 2, T1, 1, 99.0)])
    run_cdc_stream(spark, events_dir, PAYLOAD, spec, table,
                   os.path.join(tmp, "ckpt"), max_files_per_trigger=1)
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].o_totalprice == 99.0
    assert rows[0]._sdc_deleted_at is None


def test_cdc_out_of_order_across_batches(spark, tmp_path):
    """Replayed/late events in a LATER micro-batch must not roll rows back:
    the _sdc_seq guard in the MERGE keeps the newest version (within-batch
    ordering is last-wins dedupe; across batches only the guard protects)."""
    import time

    tmp = str(tmp_path)
    spec = StreamSpec(tap_stream_id="t", primary_keys=["o_orderkey"])
    table = ManifestTable(os.path.join(tmp, "t"))
    events_dir = _mk_events(spark, tmp, [
        ("c", 1, T0, 1, 10.0),
        ("u", 5, T1, 1, 50.0),
    ])
    time.sleep(1.1)
    _mk_events(spark, tmp, [("u", 3, T1, 1, 30.0)])  # stale replay
    time.sleep(1.1)
    _mk_events(spark, tmp, [("d", 7, T1, 1, 50.0)])  # soft delete
    time.sleep(1.1)
    _mk_events(spark, tmp, [("u", 6, T1, 1, 60.0)])  # stale pre-delete update
    run_cdc_stream(spark, events_dir, PAYLOAD, spec, table,
                   os.path.join(tmp, "ckpt"), max_files_per_trigger=1)
    rows = table.read(spark).collect()
    assert len(rows) == 1
    r = rows[0]
    # the stale seq-3 update never landed; the seq-7 tombstone survived the
    # stale seq-6 update
    assert r.o_totalprice == 50.0
    assert r._sdc_seq == 7
    assert r._sdc_deleted_at is not None


def test_interval_join_boundary_semantics(spark):
    from datetime import datetime

    import pyspark.sql.functions as F

    from pipelinewise_spark.streaming.joins import interval_join

    from datetime import timedelta

    def ts(m):
        return datetime(2024, 1, 1) + timedelta(minutes=m)

    clicks = spark.createDataFrame(
        [(1, 100, ts(0)), (2, 101, ts(0))], "u long, cid long, cts timestamp"
    )
    purchases = spark.createDataFrame(
        [
            (1, 200, ts(0)),    # same instant: included (>= lower)
            (1, 201, ts(60)),   # exactly upper bound: included (<=)
            (1, 202, ts(61)),   # one past: excluded
            (2, 203, ts(30)),   # different user than click 100
        ],
        "pu long, pid long, pts timestamp",
    )
    got = sorted(
        (r["cid"], r["pid"])
        for r in interval_join(
            clicks, purchases, ("u", "pu"), "cts", "pts",
            upper="1 hour", watermark="1 hour",
        ).collect()
    )
    assert got == [(100, 200), (100, 201), (101, 203)]
    # streaming frames produce a streaming joined frame
    assert not clicks.isStreaming
