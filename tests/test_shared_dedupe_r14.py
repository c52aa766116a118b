"""Shared dedupe (streaming/cdc.py): with a rollup attached,
run_cdc_stream dedupes each micro-batch ONCE and pins it for both
consumers (rollup fold + merge). The target and the rollup must land on
the rows the change feed implies, including under in-batch PK
duplicates (the case the last-wins window exists for) and a delete
followed by a re-assert of the same PK."""

from __future__ import annotations

import os

import pyspark.sql.types as T
from pyspark.sql import functions as F

from pipelinewise_spark.operators.sdc import add_sdc_columns
from pipelinewise_spark.operators.table import ParquetTable
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.streaming.cdc import run_cdc_stream
from pipelinewise_spark.streaming.mv import StreamingRollup

_ENV = (
    "_op string, _seq long, _event_ts string, "
    "id long, grp string, val double"
)


def test_shared_dedupe_lands_expected_rows(spark, tmp_path):
    root = str(tmp_path)
    events_dir = os.path.join(root, "events")
    os.makedirs(events_dir)
    spec = StreamSpec(
        tap_stream_id="t", primary_keys=["id"], hard_delete=False
    )
    table = ParquetTable(os.path.join(root, "t"))
    # ids 1..6: odd ids in grp a, even in grp b, val = 10 * id
    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(10 * i)) for i in range(1, 7)],
        "id long, grp string, val double",
    )
    table.overwrite(
        add_sdc_columns(
            base, extracted_at="2026-01-01", batched_at="2026-01-01"
        ).withColumn("_sdc_seq", F.lit(0).cast("long"))
    )
    rollup = StreamingRollup(
        ParquetTable(os.path.join(root, "mv")), ["grp"], {"total": "val"}
    )
    rollup.initialize(table.read(spark))

    # in-batch PK duplicates: id=1 updated twice (seq 10 then 14 — the
    # 14 must win); id=2 deleted at seq 11 and re-asserted at seq 15,
    # whichever micro-batch each event lands in
    changes = [
        ("u", 10, 1, "a", 11.0), ("u", 14, 1, "a", 99.0),
        ("d", 11, 2, "b", None), ("c", 12, 7, "a", 5.0),
        ("u", 13, 4, "b", 41.0), ("c", 15, 2, "b", 7.0),
    ]
    rows = spark.createDataFrame(
        [(op, seq, "2026-01-02", i, g, v) for op, seq, i, g, v in changes],
        _ENV,
    )
    rows.repartition(4).write.mode("overwrite").json(events_dir)

    payload = T._parse_datatype_string("id long, grp string, val double")
    run_cdc_stream(
        spark, events_dir, payload, spec, table,
        checkpoint_dir=os.path.join(root, "_checkpoint"),
        max_files_per_trigger=2,  # 2 micro-batches over 4 files
        rollup=rollup,
    )

    live = sorted(
        (r["id"], r["grp"], r["val"])
        for r in table.read(spark)
        .filter(F.col("_sdc_deleted_at").isNull())
        .collect()
    )
    assert live == [
        (1, "a", 99.0), (2, "b", 7.0), (3, "a", 30.0), (4, "b", 41.0),
        (5, "a", 50.0), (6, "b", 60.0), (7, "a", 5.0),
    ]
    mv = sorted(
        (r["grp"], r["n_rows"], float(r["total"]))
        for r in rollup.read(spark).collect()
    )
    # a: 99 + 30 + 50 + 5; b: 7 + 41 + 60
    assert mv == [("a", 4, 184.0), ("b", 3, 108.0)]
