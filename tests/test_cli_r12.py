"""Round-12 CLI verbs: export-capture / import-capture — the Singer
interop loop from the command line (export a table as a tap-stdout
capture, load it back, byte-level contract held end to end)."""

from __future__ import annotations

import json

from pipelinewise_spark.__main__ import main as cli_main
from pipelinewise_spark.operators.manifest_table import ManifestTable


def test_cli_capture_loop(capsys, spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(60)],
        "id long, name string, amount double",
    )
    src = str(tmp_path / "src")
    ManifestTable(src).overwrite(df)
    cap = str(tmp_path / "cap.ndjson")

    rc = cli_main([
        "export-capture", src, "--out", cap,
        "--stream", "t1", "--pk", "id", "--version", "3",
    ])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["records"] == 60

    tgt = str(tmp_path / "tgt")
    rc = cli_main(["import-capture", cap, tgt])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 60}
    back = ManifestTable(f"{tgt}/t1").read(spark)
    got = sorted(
        map(tuple, back.select("id", "name", "amount").collect())
    )
    assert got == sorted(map(tuple, df.collect()))

    # replay path with a state file
    tgt2 = str(tmp_path / "tgt2")
    st = str(tmp_path / "state.json")
    rc = cli_main([
        "import-capture", cap, tgt2, "--replay",
        "--batch-size", "25", "--state", st,
    ])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 60}
    assert out["n_flushes"] >= 2  # 60 rows / 25-row flushes


def test_cli_rank_drift_verb(capsys, spark, tmp_path):
    """rank-drift drains a StreamingKSMonitor state dir: shifted
    segment pages (exit 1), KS + MW rows reported from ONE state."""
    from pyspark.sql import functions as F

    from pipelinewise_spark.operators.drift import StreamingKSMonitor

    ref = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("seg"),
        (F.col("id") % 100 + 1).cast("double").alias("v"),
    )
    cur = spark.range(3000, 6000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("seg"),
        F.when((F.col("id") % 3) == 1,
               (F.col("id") % 100 + 31).cast("double"))
        .otherwise((F.col("id") % 100 + 1).cast("double")).alias("v"),
    )
    sd = str(tmp_path / "st")
    mon = StreamingKSMonitor(ref, "v", ["k"], "seg", sd, n_buckets=64)
    mon.on_batch(cur, 0)

    rc = cli_main(["rank-drift", sd, "--mw"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1  # segment '1' pages
    ks = {r["segment"]: r for r in out["ks"]}
    mw = {r["segment"]: r for r in out["mw"]}
    assert ks["1"]["significant"] and mw["1"]["drifted"]
    assert not ks["0"]["significant"] and not mw["0"]["drifted"]
    assert out["epoch_hwm"] == 0 and out["n_buckets"] == 64

    # not a monitor dir: helpful SystemExit
    import pytest

    with pytest.raises(SystemExit, match="_ks_state"):
        cli_main(["rank-drift", str(tmp_path / "nope")])
