"""Tail-follow Singer capture source (streaming/singer.py): a growing
capture directory consumed by Structured Streaming, multi-micro-batch
stream ≡ batch load_capture on the same capture, crash/replay
idempotence, checkpointed resume, flushed-state bookmark discipline.

Reference contract: ``tap | target`` pipe (cli/commands.py:346-355) +
persist_lines flushed_state (target_snowflake/__init__.py:122-416).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.operators.table import ParquetTable
from pipelinewise_spark.sources.singer import load_capture
from pipelinewise_spark.streaming.singer import (
    CaptureStreamState,
    apply_capture_batch,
    sync_capture_dir,
)

PROPS = {
    "id": {"type": ["null", "integer"]},
    "name": {"type": ["null", "string"]},
    "amount": {"type": ["null", "number"]},
}


def _schema(stream="t1", props=None, keys=("id",)):
    return json.dumps({
        "type": "SCHEMA", "stream": stream,
        "schema": {"type": "object", "properties": props or PROPS},
        "key_properties": list(keys),
    })


def _rec(id_, name, amount, stream="t1", version=None):
    o = {"type": "RECORD", "stream": stream,
         "record": {"id": id_, "name": name, "amount": amount}}
    if version is not None:
        o["version"] = version
    return json.dumps(o)


def _state(bookmarks):
    return json.dumps({"type": "STATE", "value": {"bookmarks": bookmarks}})


def _capdir(tmp_path, files):
    d = tmp_path / "cap"
    d.mkdir(exist_ok=True)
    for name, lines in files:
        (d / name).write_text("\n".join(lines) + "\n")
    return str(d)


def _rows(spark, root, stream="t1"):
    return {
        r["id"]: (r["name"], r["amount"])
        for r in ParquetTable(f"{root}/{stream}").read(spark).collect()
    }


def test_stream_equals_bulk_load(spark, tmp_path):
    """Multi-micro-batch streaming consumption reproduces the batch
    load_capture result exactly on the same capture — last-wins by
    global capture position across batch boundaries."""
    files = [
        ("cap-000001.ndjson", [
            _schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        ]),
        ("cap-000002.ndjson", [
            _rec(3, "c", 3.0), _rec(1, "a2", 10.0),
            _state({"t1": {"pos": 1}}),
        ]),
        ("cap-000003.ndjson", [
            _rec(2, "b2", 20.0), _rec(4, "d", 4.0),
            _state({"t1": {"pos": 2}}),
        ]),
    ]
    capdir = _capdir(tmp_path, files)
    st = sync_capture_dir(
        spark, capdir, str(tmp_path / "stream_tgt"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    # one big file through the batch path
    single = tmp_path / "single.ndjson"
    single.write_text(
        "\n".join(line for _, ls in files for line in ls) + "\n"
    )
    load_capture(spark, str(single), str(tmp_path / "bulk_tgt"))
    got_stream = _rows(spark, str(tmp_path / "stream_tgt"))
    got_bulk = _rows(spark, str(tmp_path / "bulk_tgt"))
    assert got_stream == got_bulk == {
        1: ("a2", 10.0), 2: ("b2", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)
    }
    # flushed-state discipline: the final sidecar bookmark is the
    # max-position STATE, adopted only after its batch landed
    assert st.bookmark == {"bookmarks": {"t1": {"pos": 2}}}
    assert st.last_batch >= 2  # maxFilesPerTrigger=1 -> >=3 batches


def test_stream_resume_from_checkpoint(spark, tmp_path):
    """New files landing after a bounded run are picked up by the next
    run from the SAME checkpoint — tail-follow resume; already-applied
    files are not reprocessed (schema carried by the sidecar)."""
    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [_schema(), _rec(1, "a", 1.0)]),
    ])
    tgt, ck = str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    st = sync_capture_dir(spark, capdir, tgt, ck)
    assert _rows(spark, tgt) == {1: ("a", 1.0)}
    first_batch = st.last_batch
    # the tap keeps writing: a new file with an update + an insert
    _capdir(tmp_path, [
        ("cap-000002.ndjson", [
            _rec(1, "a2", 10.0), _rec(2, "b", 2.0),
            _state({"t1": {"pos": 9}}),
        ]),
    ])
    st2 = sync_capture_dir(spark, capdir, tgt, ck)
    assert st2.last_batch > first_batch
    assert _rows(spark, tgt) == {1: ("a2", 10.0), 2: ("b", 2.0)}
    assert st2.bookmark == {"bookmarks": {"t1": {"pos": 9}}}


def test_batch_replay_is_idempotent(spark, tmp_path):
    """A crash-replayed micro-batch (same files re-applied) leaves the
    table unchanged: PK merges are guarded on _sdc_sequence, appends
    anti-join on it."""
    lines = [_schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0)]
    f = tmp_path / "cap-000001.ndjson"
    f.write_text("\n".join(lines) + "\n")
    batch = (
        spark.read.text(str(f))
        .select(
            "value",
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.file_block_start").alias("__block"),
        )
    )
    tgt = str(tmp_path / "tgt")
    st = apply_capture_batch(
        spark, batch, tgt, CaptureStreamState()
    )
    before = _rows(spark, tgt)
    # crash before the checkpoint committed: the SAME batch re-runs
    # against the already-updated table and the stale sidecar
    apply_capture_batch(spark, batch, tgt, CaptureStreamState())
    # and once more against the advanced sidecar
    apply_capture_batch(spark, batch, tgt, st)
    assert _rows(spark, tgt) == before == {1: ("a", 1.0), 2: ("b", 2.0)}
    # no duplicate snapshot rows under the replay
    n = ParquetTable(f"{tgt}/t1").read(spark).count()
    assert n == 2


def test_out_of_order_file_delivery_cannot_roll_back(spark, tmp_path):
    """If the file source lists a LATER file into an EARLIER batch, the
    sequence guard keeps the final state last-wins by capture position
    — applying cap-000002 then cap-000001 ends identical to in-order."""
    f1 = tmp_path / "cap-000001.ndjson"
    f1.write_text("\n".join([_schema(), _rec(1, "old", 1.0)]) + "\n")
    f2 = tmp_path / "cap-000002.ndjson"
    f2.write_text("\n".join([_rec(1, "new", 2.0)]) + "\n")

    def batch_of(path):
        return (
            spark.read.text(str(path))
            .select(
                "value",
                F.col("_metadata.file_path").alias("__file"),
                F.col("_metadata.file_block_start").alias("__block"),
            )
        )

    tgt = str(tmp_path / "tgt")
    # seed the schema from file 1's SCHEMA line first (contract: a
    # record's SCHEMA precedes it in capture order), then deliver the
    # DATA out of order: file 2's update before file 1's insert
    st = CaptureStreamState()
    st = apply_capture_batch(spark, batch_of(f1), tgt, st)
    st = apply_capture_batch(spark, batch_of(f2), tgt, st)
    # replay file 1 again AFTER file 2 (the out-of-order/replay case):
    # its older row must NOT roll back the newer value
    st = apply_capture_batch(spark, batch_of(f1), tgt, st)
    assert _rows(spark, tgt) == {1: ("new", 2.0)}


def test_stream_schema_drift_versions_column(spark, tmp_path):
    """Mid-stream type drift routes through version_column exactly like
    the batch paths (reference db_sync.py:849-870)."""
    props_v2 = {"id": {"type": ["null", "integer"]},
                "name": {"type": ["null", "string"]},
                "amount": {"type": ["null", "string"]}}
    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [_schema(), _rec(1, "a", 1.5)]),
        ("cap-000002.ndjson", [
            _schema(props=props_v2),
            json.dumps({"type": "RECORD", "stream": "t1",
                        "record": {"id": 2, "name": "b",
                                   "amount": "2.5 EUR"}}),
        ]),
    ])
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, version_suffix="20240101_0000",
    )
    out = ParquetTable(str(tmp_path / "tgt" / "t1")).read(spark)
    assert dict(out.dtypes)["amount"] == "string"
    got = {r["id"]: (r["amount_20240101_0000"], r["amount"])
           for r in out.collect()}
    assert got == {1: (1.5, None), 2: (None, "2.5 EUR")}


def test_stream_activate_version_purges(spark, tmp_path):
    """ACTIVATE_VERSION arriving in a later micro-batch purges
    older-version rows already in the table (full-resync swap)."""
    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [
            _schema(),
            _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        ]),
        ("cap-000002.ndjson", [
            _rec(2, "B", 20.0, version=2), _rec(3, "C", 30.0, version=2),
            json.dumps({"type": "ACTIVATE_VERSION", "stream": "t1",
                        "version": 2}),
        ]),
    ])
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert _rows(spark, str(tmp_path / "tgt")) == {
        2: ("B", 20.0), 3: ("C", 30.0)
    }


def test_stream_record_before_schema_raises(spark, tmp_path):
    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [_rec(1, "a", 1.0)]),
    ])
    with pytest.raises(Exception, match="before its SCHEMA"):
        sync_capture_dir(
            spark, capdir, str(tmp_path / "tgt"),
            str(tmp_path / "ckpt"),
        )


def _append_batch(spark, path):
    return spark.read.text(str(path)).select(
        "value",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_block_start").alias("__block"),
    )


@pytest.mark.parametrize("target_format", ["parquet", "mor"])
def test_stream_append_only_idempotent(spark, tmp_path, target_format):
    """No-PK streams append with a sequence anti-join: duplicates in
    the DATA stay (two identical records are two rows), a replayed
    batch adds nothing (and, on a MOR target, commits no version), and
    a later batch's new records append."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    schema = json.dumps({"type": "SCHEMA", "stream": "t1",
                         "schema": {"type": "object", "properties": PROPS},
                         "key_properties": []})
    f1 = tmp_path / "cap-000001.ndjson"
    f1.write_text("\n".join(
        [schema, _rec(1, "a", 1.0), _rec(1, "a", 1.0)]) + "\n")
    f2 = tmp_path / "cap-000002.ndjson"
    f2.write_text("\n".join([_rec(2, "b", 2.0), _rec(3, "c", 3.0)]) + "\n")
    tgt = str(tmp_path / "tgt")
    table = (ManifestTable if target_format == "mor" else ParquetTable)(
        f"{tgt}/t1"
    )

    def apply(path, st):
        return apply_capture_batch(
            spark, _append_batch(spark, path), tgt, st,
            primary_key_required=False, target_format=target_format,
        )

    def rows():
        return sorted(
            (r["id"], r["name"], r["amount"])
            for r in table.read(spark).collect()
        )

    st = apply(f1, CaptureStreamState())
    versions = table.versions() if target_format == "mor" else None
    st = apply(f1, st)
    assert rows() == [(1, "a", 1.0), (1, "a", 1.0)]
    if target_format == "mor":
        assert table.versions() == versions
    st = apply(f2, st)
    apply(f2, st)
    assert rows() == [
        (1, "a", 1.0), (1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)
    ]


def test_import_capture_cli_tail(spark, tmp_path, capsys):
    """The CLI face of tail-follow: import-capture --tail consumes a
    capture directory and resumes from the checkpoint next run."""
    from pipelinewise_spark.__main__ import main as cli_main

    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [_schema(), _rec(1, "a", 1.0)]),
    ])
    tgt, ck = str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    rc = cli_main(["import-capture", capdir, tgt,
                   "--tail", "--checkpoint", ck])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 1}
    _capdir(tmp_path, [
        ("cap-000002.ndjson", [_rec(2, "b", 2.0)]),
    ])
    rc = cli_main(["import-capture", capdir, tgt,
                   "--tail", "--checkpoint", ck])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 2}


def test_write_capture_rotated_feeds_tail_follow(spark, tmp_path):
    """The rotated writer (sources/singer.py:write_capture_rotated) is
    the tail-follow PRODUCER: its directory streams back to the exact
    source table, and concatenating its files in name order is
    byte-identical to the single-file export."""
    import os

    from pipelinewise_spark.sources.singer import (
        write_capture,
        write_capture_rotated,
    )

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) + 0.25) for i in range(10)],
        "id long, name string, amount double",
    )
    capdir = str(tmp_path / "cap")
    n = write_capture_rotated(
        df, capdir, "t1", ["id"], records_per_file=3,
        state={"bookmarks": {"t1": {"pos": 10}}},
    )
    assert n == 10
    names = sorted(os.listdir(capdir))
    assert names == [f"cap-{i:06d}.ndjson" for i in range(1, 5)]
    single = str(tmp_path / "single.ndjson")
    write_capture(
        df, single, "t1", ["id"],
        state={"bookmarks": {"t1": {"pos": 10}}},
    )
    concat = "".join(
        open(os.path.join(capdir, f)).read() for f in names
    )
    assert concat == open(single).read()
    st = sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    assert st.bookmark == {"bookmarks": {"t1": {"pos": 10}}}
    got = {
        r["id"]: (r["name"], r["amount"])
        for r in ParquetTable(str(tmp_path / "tgt" / "t1"))
        .read(spark).collect()
    }
    assert got == {i: (f"n{i}", float(i) + 0.25) for i in range(10)}


# ---------------------------------------------------------------- MOR


def _mor_rows(spark, root, stream="t1"):
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    return {
        r["id"]: (r["name"], r["amount"])
        for r in ManifestTable(f"{root}/{stream}").read(spark).collect()
    }


def test_stream_mor_equals_parquet_mode(spark, tmp_path):
    """target_format='mor' produces exactly the rows the copy-on-write
    parquet mode does on the same capture — merge-on-read is a storage
    strategy, not a semantics change."""
    files = [
        ("cap-000001.ndjson", [
            _schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        ]),
        ("cap-000002.ndjson", [
            _rec(3, "c", 3.0), _rec(1, "a2", 10.0),
            _state({"t1": {"pos": 1}}),
        ]),
        ("cap-000003.ndjson", [
            _rec(2, "b2", 20.0), _rec(4, "d", 4.0),
        ]),
    ]
    capdir = _capdir(tmp_path, files)
    st = sync_capture_dir(
        spark, capdir, str(tmp_path / "mor_tgt"),
        str(tmp_path / "ckpt_mor"), max_files_per_trigger=1,
        target_format="mor",
    )
    sync_capture_dir(
        spark, capdir, str(tmp_path / "pq_tgt"),
        str(tmp_path / "ckpt_pq"), max_files_per_trigger=1,
    )
    assert st.last_batch >= 2
    assert (
        _mor_rows(spark, str(tmp_path / "mor_tgt"))
        == _rows(spark, str(tmp_path / "pq_tgt"))
        == {1: ("a2", 10.0), 2: ("b2", 20.0), 3: ("c", 3.0),
            4: ("d", 4.0)}
    )


def test_stream_mor_does_not_rewrite_earlier_files(spark, tmp_path):
    """The point of MOR: a later micro-batch deletion-vectors and
    appends — the data files batch 1 wrote are still live manifest
    entries afterwards (no partition rewrite)."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    files = [
        ("cap-000001.ndjson", [
            _schema(),
            *[_rec(i, f"n{i}", float(i)) for i in range(1, 50)],
        ]),
        ("cap-000002.ndjson", [_rec(1, "upd", 99.0)]),
    ]
    capdir = _capdir(tmp_path, files)
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
        target_format="mor",
    )
    t = ManifestTable(str(tmp_path / "tgt" / "t1"))
    entries, _ = t.select_entries()
    assert len(t.versions()) >= 2
    # batch-1 files survive batch 2 (they carry a DV, not a rewrite)
    assert len(entries) >= 2
    assert any(e.get("dv") for e in entries), entries
    got = _mor_rows(spark, str(tmp_path / "tgt"))
    assert got[1] == ("upd", 99.0) and len(got) == 49


def test_stream_mor_batch_replay_idempotent(spark, tmp_path):
    """A crash-replayed micro-batch applied twice against MOR targets
    leaves the same final content (sequence-guarded supersede)."""
    files = [
        ("cap-000001.ndjson", [
            _schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        ]),
        ("cap-000002.ndjson", [_rec(1, "a2", 10.0)]),
    ]
    capdir = _capdir(tmp_path, files)
    root = str(tmp_path / "tgt")
    ck = str(tmp_path / "ckpt")
    sync_capture_dir(
        spark, capdir, root, ck, max_files_per_trigger=1,
        target_format="mor",
    )
    # replay the LAST batch's lines by hand against the current state
    batch = spark.createDataFrame(
        [(_rec(1, "a2", 10.0), f"{capdir}/cap-000002.ndjson", 0)],
        "value string, __file string, __block long",
    )
    st = CaptureStreamState.load(ck)
    apply_capture_batch(spark, batch, root, st, target_format="mor")
    got = _mor_rows(spark, root)
    assert got == {1: ("a2", 10.0), 2: ("b", 2.0)}


def test_stream_mor_activate_version_purges(spark, tmp_path):
    """ACTIVATE_VERSION in MOR mode purges older-version rows via
    deletion vectors (delete_where), not a table rewrite."""
    files = [
        ("cap-000001.ndjson", [
            _schema(),
            _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        ]),
        ("cap-000002.ndjson", [
            _rec(1, "a2", 10.0, version=2),
            json.dumps({"type": "ACTIVATE_VERSION", "stream": "t1",
                        "version": 2}),
        ]),
    ]
    capdir = _capdir(tmp_path, files)
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
        target_format="mor",
    )
    got = _mor_rows(spark, str(tmp_path / "tgt"))
    assert got == {1: ("a2", 10.0)}  # id=2 (v1 only) purged by the swap


def test_stream_mor_schema_drift_falls_back_then_resumes(spark, tmp_path):
    """A mid-stream column TYPE change in MOR mode routes through the
    one-off copy-on-write version_column rewrite, then later batches
    resume the MOR fast path on the evolved schema."""
    drift_props = {
        "id": {"type": ["null", "integer"]},
        "name": {"type": ["null", "string"]},
        "amount": {"type": ["null", "string"]},  # number -> string
    }
    files = [
        ("cap-000001.ndjson", [
            _schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        ]),
        ("cap-000002.ndjson", [
            _schema(props=drift_props), _rec(1, "a2", "high"),
        ]),
        ("cap-000003.ndjson", [_rec(3, "c", "low")]),
    ]
    capdir = _capdir(tmp_path, files)
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"),
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
        target_format="mor", version_suffix="20240101",
    )
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    rows = {
        r["id"]: (r["name"], r["amount"], r["amount_20240101"])
        for r in ManifestTable(
            str(tmp_path / "tgt" / "t1")
        ).read(spark).collect()
    }
    assert rows == {
        1: ("a2", "high", 1.0),   # re-sent post-drift; old value kept
        2: ("b", None, 2.0),      # pre-drift only: versioned column
        3: ("c", "low", None),    # post-drift via the resumed MOR path
    }


def test_stream_mor_rejects_unknown_format(spark, tmp_path):
    with pytest.raises(ValueError, match="target_format"):
        apply_capture_batch(
            spark,
            spark.createDataFrame(
                [], "value string, __file string, __block long"
            ),
            str(tmp_path / "t"),
            CaptureStreamState(),
            target_format="delta",
        )


def test_import_capture_cli_tail_mor(spark, tmp_path, capsys):
    """--target-format mor on the CLI tail verb: counts come from the
    ManifestTable and resume works across invocations."""
    from pipelinewise_spark.__main__ import main as cli_main

    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [_schema(), _rec(1, "a", 1.0)]),
    ])
    tgt, ck = str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    rc = cli_main(["import-capture", capdir, tgt,
                   "--tail", "--checkpoint", ck,
                   "--target-format", "mor"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 1}
    _capdir(tmp_path, [
        ("cap-000002.ndjson", [_rec(1, "a2", 9.0), _rec(2, "b", 2.0)]),
    ])
    rc = cli_main(["import-capture", capdir, tgt,
                   "--tail", "--checkpoint", ck,
                   "--target-format", "mor"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 2}
    assert _mor_rows(spark, tgt) == {1: ("a2", 9.0), 2: ("b", 2.0)}


def test_cli_tail_schema_only_stream_counts_zero(spark, tmp_path, capsys):
    """A SCHEMA-only stream (standard taps emit SCHEMA for every
    selected stream at startup, rows may come later) must not crash
    the summary — it reports 0."""
    from pipelinewise_spark.__main__ import main as cli_main

    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [
            _schema(), _schema(stream="empty"), _rec(1, "a", 1.0),
        ]),
    ])
    rc = cli_main(["import-capture", capdir, str(tmp_path / "tgt"),
                   "--tail", "--checkpoint", str(tmp_path / "ckpt")])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["streams"] == {"t1": 1, "empty": 0}


def test_stream_late_older_file_cannot_regress_registry(spark, tmp_path):
    """Out-of-order FILE delivery: an older file's SCHEMA/AV processed
    AFTER a newer file's governs its own batch but cannot regress the
    persisted registry (sequence-guarded adoption, the bookmark rule
    applied to the whole control plane)."""
    v2_props = dict(PROPS, extra={"type": ["null", "string"]})
    new_line = json.dumps({
        "type": "RECORD", "stream": "t1",
        "record": {"id": 7, "name": "late-epoch", "amount": 1.0,
                   "extra": "kept"},
    })
    root, ck = str(tmp_path / "tgt"), str(tmp_path / "ckpt")

    def batch_of(fname, lines):
        return spark.createDataFrame(
            [(line, f"{root}/{fname}", i) for i, line in enumerate(lines)],
            "value string, __file string, __block long",
        )

    st = CaptureStreamState()
    # newer file first (schema v2 + a record)
    st = apply_capture_batch(
        spark,
        batch_of("cap-000002.ndjson",
                 [_schema(props=v2_props), _rec(1, "a", 1.0)]),
        root, st)
    # older file listed late (schema v1 + a record)
    st = apply_capture_batch(
        spark,
        batch_of("cap-000001.ndjson",
                 [_schema(), _rec(2, "b", 2.0)]),
        root, st)
    assert "extra" in st.schemas["t1"]["properties"], (
        "registry regressed to the older SCHEMA"
    )
    # a subsequent record with no SCHEMA line parses under v2
    st = apply_capture_batch(
        spark, batch_of("cap-000003.ndjson", [new_line]), root, st)
    rows = {r["id"]: r.asDict() for r in ParquetTable(
        f"{root}/t1").read(spark).collect()}
    assert rows[7]["extra"] == "kept"


def test_stream_late_older_activate_version_is_subsumed(spark, tmp_path):
    """A late-listed OLDER ACTIVATE_VERSION must not regress the
    adopted activation (it would re-admit purged versions in later
    segments)."""
    root, ck = str(tmp_path / "tgt"), str(tmp_path / "ckpt")

    def batch_of(fname, lines):
        return spark.createDataFrame(
            [(line, f"{root}/{fname}", i) for i, line in enumerate(lines)],
            "value string, __file string, __block long",
        )

    av = lambda v: json.dumps(
        {"type": "ACTIVATE_VERSION", "stream": "t1", "version": v})
    st = CaptureStreamState()
    st = apply_capture_batch(
        spark,
        batch_of("cap-000002.ndjson",
                 [_schema(), _rec(1, "a", 1.0, version=2), av(2)]),
        root, st)
    # older file late: records of version 1 + AV(1)
    st = apply_capture_batch(
        spark,
        batch_of("cap-000001.ndjson",
                 [_rec(9, "old", 9.0, version=1), av(1)]),
        root, st)
    assert st.activations["t1"] == 2
    rows = {r["id"] for r in ParquetTable(
        f"{root}/t1").read(spark).collect()}
    assert rows == {1}, "version-1 stragglers must stay purged"


def test_stream_mor_compact_every(spark, tmp_path):
    """compact_every folds the per-batch MOR files + DVs back into
    clean files inside the tail loop — rows identical, file count
    reduced, checkpoint/resume unaffected."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    files = [
        ("cap-000001.ndjson",
         [_schema()] + [_rec(i, f"n{i}", float(i)) for i in range(1, 40)]),
        ("cap-000002.ndjson", [_rec(i, "u", 0.5) for i in range(1, 10)]),
        ("cap-000003.ndjson", [_rec(i, "v", 0.25) for i in range(5, 15)]),
        ("cap-000004.ndjson", [_rec(40, "new", 40.0)]),
    ]
    capdir = _capdir(tmp_path, files)
    sync_capture_dir(
        spark, capdir, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, target_format="mor", compact_every=2,
    )
    t = ManifestTable(str(tmp_path / "tgt" / "t1"))
    entries, _ = t.select_entries()
    # 4 MOR batches would leave >=4 files + DVs; compaction folded them
    assert len(entries) <= 2, [e["path"] for e in entries]
    assert not any(e.get("dv") for e in entries), "DV debt not folded"
    got = _mor_rows(spark, str(tmp_path / "tgt"))
    assert len(got) == 40
    assert got[7] == ("v", 0.25) and got[1] == ("u", 0.5)
    assert got[40] == ("new", 40.0)


def test_compact_every_requires_mor(spark, tmp_path):
    from pipelinewise_spark.streaming.singer import start_capture_stream

    with pytest.raises(ValueError, match="compact_every"):
        start_capture_stream(
            spark, str(tmp_path / "cap"), str(tmp_path / "t"),
            str(tmp_path / "ck"), compact_every=2,
        )


# test_stream_equals_bulk_load's three files plus one that opens two
# more streams beside t1
_FOUR_FILES = [
    ("cap-000001.ndjson", [_schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0)]),
    ("cap-000002.ndjson", [
        _rec(3, "c", 3.0), _rec(1, "a2", 10.0), _state({"t1": {"pos": 1}}),
    ]),
    ("cap-000003.ndjson", [
        _rec(2, "b2", 20.0), _rec(4, "d", 4.0), _state({"t1": {"pos": 2}}),
    ]),
    ("cap-000004.ndjson", [
        _schema("t2"), _rec(1, "x", 1.0, stream="t2"),
        _schema("t3"), _rec(1, "y", 2.0, stream="t3"),
        _rec(5, "e", 5.0),
    ]),
]


def test_stream_batch_jobs_do_not_grow_with_streams(
    spark, tmp_path, monkeypatch, started_jobs
):
    """Outside its segment writes a micro-batch starts at most 3 Spark
    jobs (numbering and caching the batch, the control-line collect, the
    grouped aggregate), the same number for three streams as for one:
    the RECORD-before-SCHEMA check and empty-segment skips are decided
    on the driver, not probed per stream or segment."""
    from pipelinewise_spark.streaming import singer as tail

    inside = []
    real = tail._write_segment

    def counting(*args, **kwargs):
        before = started_jobs()
        real(*args, **kwargs)
        inside.append(started_jobs() - before)

    monkeypatch.setattr(tail, "_write_segment", counting)
    capdir = _capdir(tmp_path, _FOUR_FILES)
    tgt = str(tmp_path / "tgt")
    state = CaptureStreamState()
    outside = []
    for name, _ in _FOUR_FILES:
        inside.clear()
        before = started_jobs()
        state = apply_capture_batch(
            spark, _append_batch(spark, f"{capdir}/{name}"), tgt, state
        )
        outside.append(started_jobs() - before - sum(inside))
    assert outside[0] <= 3
    assert outside == [outside[0]] * len(_FOUR_FILES)
    assert _rows(spark, tgt) == {
        1: ("a2", 10.0), 2: ("b2", 20.0), 3: ("c", 3.0), 4: ("d", 4.0),
        5: ("e", 5.0),
    }
    assert _rows(spark, tgt, "t2") == {1: ("x", 1.0)}
    assert _rows(spark, tgt, "t3") == {1: ("y", 2.0)}


def test_stream_control_line_cap(spark, tmp_path):
    """``max_control_lines`` caps a micro-batch's control-line collect:
    one line over the cap refuses the batch before anything lands; at
    the cap the batch applies."""
    capdir = _capdir(tmp_path, [("cap-000001.ndjson", [
        _schema(), _rec(1, "a", 1.0),
        _state({"t1": {"pos": 1}}), _state({"t1": {"pos": 2}}),
    ])])
    batch = _append_batch(spark, f"{capdir}/cap-000001.ndjson")
    tgt = str(tmp_path / "tgt")
    with pytest.raises(ValueError, match="micro-batch has more than 2 "):
        apply_capture_batch(
            spark, batch, tgt, CaptureStreamState(), max_control_lines=2
        )
    assert not ParquetTable(f"{tgt}/t1").exists()
    st = apply_capture_batch(
        spark, batch, tgt, CaptureStreamState(), max_control_lines=3
    )
    assert _rows(spark, tgt) == {1: ("a", 1.0)}
    assert st.bookmark == {"bookmarks": {"t1": {"pos": 2}}}


@pytest.mark.parametrize("target_format", ["parquet", "mor"])
def test_stream_segment_predating_activation_lands_nothing(
    spark, tmp_path, target_format
):
    """A segment whose records all predate the ACTIVATE_VERSION in force
    is skipped exactly: no write, so a missing table is not created and
    a MOR table gains no version; a newer record still lands."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    def _av(stream, version):
        return json.dumps({"type": "ACTIVATE_VERSION", "stream": stream,
                           "version": version})

    capdir = _capdir(tmp_path, [
        ("cap-000001.ndjson", [
            _schema(), _rec(1, "a", 1.0, version=2), _av("t1", 2),
            _schema("t2"), _av("t2", 2),
        ]),
        ("cap-000002.ndjson", [
            _rec(2, "b", 2.0, version=1),
            _rec(1, "x", 9.0, stream="t2", version=1),
        ]),
        ("cap-000003.ndjson", [_rec(3, "c", 3.0, version=2)]),
    ])
    tgt = str(tmp_path / "tgt")
    table_cls = ManifestTable if target_format == "mor" else ParquetTable
    t1, t2 = table_cls(f"{tgt}/t1"), table_cls(f"{tgt}/t2")

    def apply(name, state):
        return apply_capture_batch(
            spark, _append_batch(spark, f"{capdir}/{name}"), tgt, state,
            target_format=target_format,
        )

    def rows():
        return {r["id"]: r["name"] for r in t1.read(spark).collect()}

    state = apply("cap-000001.ndjson", CaptureStreamState())
    versions = t1.versions() if target_format == "mor" else None
    state = apply("cap-000002.ndjson", state)
    assert rows() == {1: "a"}
    assert not t2.exists()
    if target_format == "mor":
        assert t1.versions() == versions
    apply("cap-000003.ndjson", state)
    assert rows() == {1: "a", 3: "c"}
