"""The replay-quarantine CLI verb: dead-letter rows re-drive through
validation under a FIXED schema, repaired rows MERGE into the target,
the remainder stays quarantined — the loop quarantine_split opens,
closed from the command line."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pipelinewise_spark.__main__ import main as cli_main
from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.validation import (
    compile_json_schema,
    quarantine_split,
)


def _schema(vmax):
    return {
        "type": "object",
        "required": ["k"],
        "properties": {
            "k": {"type": ["integer"]},
            "value": {"type": ["number", "null"],
                      "minimum": 0, "maximum": vmax},
        },
    }


def _seed(spark, tmp_path, versioned):
    # rows 0..50 valid under vmax=50; 51..79 (29 rows) repairable under vmax=100;
    # one row (value=150) is invalid even after the fix
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(80)] + [(99, 150.0)],
        "k long, value double",
    )
    valid, dlq = quarantine_split(df, compile_json_schema(_schema(50)))
    target = str(tmp_path / "tgt")
    ManifestTable(target).overwrite(valid)
    q = str(tmp_path / "dlq")
    if versioned:
        ManifestTable(q).overwrite(dlq)
    else:
        dlq.write.mode("overwrite").parquet(q)
    fixed = str(tmp_path / "fixed_schema.json")
    with open(fixed, "w") as fh:
        json.dump(_schema(100), fh)
    return target, q, fixed


def test_replay_into_versioned_quarantine(capsys, spark, tmp_path):
    target, q, fixed = _seed(spark, tmp_path, versioned=True)
    rc = cli_main([
        "replay-quarantine", q, "--schema", fixed,
        "--table", target, "--pk", "k",
    ])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1  # value=150 remains quarantined
    assert out["replayed"] == 29 and out["still_invalid"] == 1
    t = ManifestTable(target).read(spark)
    assert t.count() == 81 - 1  # 0..79 landed; 150-row still out
    assert t.filter(F.col("value") > 50).count() == 29
    # the quarantine itself was atomically rewritten to the remainder
    rem = ManifestTable(q).read(spark)
    assert rem.count() == 1
    # fully relaxed schema drains it -> exit 0
    drained = str(tmp_path / "relaxed.json")
    with open(drained, "w") as fh:
        json.dump(_schema(1000), fh)
    rc2 = cli_main([
        "replay-quarantine", q, "--schema", drained,
        "--table", target, "--pk", "k",
    ])
    out2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0 and out2["still_invalid"] == 0
    assert ManifestTable(target).read(spark).count() == 81


def test_replay_plain_parquet_quarantine(capsys, spark, tmp_path):
    target, q, fixed = _seed(spark, tmp_path, versioned=False)
    rc = cli_main([
        "replay-quarantine", q, "--schema", fixed,
        "--table", target, "--pk", "k",
    ])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1 and out["replayed"] == 29
    assert out["remaining"].endswith("_remaining")
    rem = spark.read.parquet(out["remaining"])
    assert rem.count() == 1 and "_dlq_record" in rem.columns


def test_replay_rejects_non_quarantine_input(spark, tmp_path):
    import pytest

    df = spark.range(5)
    p = str(tmp_path / "notdlq")
    df.write.parquet(p)
    sch = str(tmp_path / "s.json")
    with open(sch, "w") as fh:
        json.dump(_schema(10), fh)
    with pytest.raises(SystemExit, match="_dlq_record"):
        cli_main([
            "replay-quarantine", p, "--schema", sch,
            "--table", str(tmp_path / "t"), "--pk", "k",
        ])


def test_replay_preserves_original_payload_for_remainder(
    capsys, spark, tmp_path
):
    """r13 (ADVICE): a row still invalid after a replay attempt keeps
    its ORIGINAL _dlq_record — never a to_json(from_json(...)) round
    trip, which nulls unparseable fields and drops fields outside the
    attempted schema. A later, correctly-fixed schema must still be
    able to recover everything the source emitted."""
    orig = ('{"k": 1, "value": 150.0, "extra": "keep-me", '
            '"weird": [1, 2]}')
    dlq = spark.createDataFrame(
        [(orig, ["value_max"])],
        "_dlq_record string, violations array<string>",
    )
    q = str(tmp_path / "dlq")
    ManifestTable(q).overwrite(dlq)
    target = str(tmp_path / "tgt")
    ManifestTable(target).overwrite(
        spark.createDataFrame([], "k long, value double")
    )
    # first attempt: schema STILL too tight (max 100) and missing the
    # extra/weird fields — the row must stay quarantined, byte-intact
    fixed1 = str(tmp_path / "fixed1.json")
    with open(fixed1, "w") as fh:
        json.dump(_schema(100), fh)
    rc = cli_main([
        "replay-quarantine", q, "--schema", fixed1,
        "--table", target, "--pk", "k",
    ])
    capsys.readouterr()
    assert rc == 1
    remaining = ManifestTable(q).read(spark).collect()
    assert len(remaining) == 1
    assert remaining[0]["_dlq_record"] == orig  # pristine, not degraded
    # second attempt: a genuinely right schema (max 200) drains it
    fixed2 = str(tmp_path / "fixed2.json")
    schema2 = _schema(200)
    schema2["properties"]["extra"] = {"type": ["string", "null"]}
    with open(fixed2, "w") as fh:
        json.dump(schema2, fh)
    rc = cli_main([
        "replay-quarantine", q, "--schema", fixed2,
        "--table", target, "--pk", "k",
    ])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["replayed"] == 1 and out["still_invalid"] == 0
    repaired = ManifestTable(target).read(spark).collect()
    assert {(r["k"], r["value"], r["extra"]) for r in repaired} == {
        (1, 150.0, "keep-me")
    }
