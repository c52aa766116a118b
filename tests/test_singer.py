"""Singer NDJSON capture interop (sources/singer.py): bulk one-pass
load, faithful persist_lines replay (flush ordering, flushed_state,
in-batch PK last-wins, schema-change flush), ACTIVATE_VERSION swaps.

Reference contract: singer-connectors/target-snowflake/
target_snowflake/__init__.py:122-416 (persist_lines / flush_streams).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.sources.singer import (
    load_capture,
    replay_capture,
    scan_control_plane,
)

SCHEMA_PROPS = {
    "id": {"type": ["null", "integer"]},
    "name": {"type": ["null", "string"]},
    "amount": {"type": ["null", "number"]},
}


def _schema(stream="t1", props=None, keys=("id",)):
    return json.dumps({
        "type": "SCHEMA", "stream": stream,
        "schema": {"type": "object", "properties": props or SCHEMA_PROPS},
        "key_properties": list(keys),
    })


def _rec(id_, name, amount, stream="t1", version=None, extra=None):
    r = {"id": id_, "name": name, "amount": amount}
    if extra:
        r.update(extra)
    o = {"type": "RECORD", "stream": stream, "record": r,
         "time_extracted": "2024-03-01T00:00:00"}
    if version is not None:
        o["version"] = version
    return json.dumps(o)


def _state(bookmarks):
    return json.dumps({"type": "STATE", "value": {"bookmarks": bookmarks}})


def _activate(version, stream="t1"):
    return json.dumps(
        {"type": "ACTIVATE_VERSION", "stream": stream, "version": version}
    )


def _write(tmp_path, lines, name="cap.ndjson"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_scan_control_plane_requires_key_properties(spark, tmp_path):
    cap = _write(tmp_path, [json.dumps({
        "type": "SCHEMA", "stream": "t1",
        "schema": {"type": "object", "properties": SCHEMA_PROPS},
        "key_properties": [],
    })])
    with pytest.raises(ValueError, match="key_properties"):
        scan_control_plane(spark, cap)


def test_load_capture_last_wins_merge_and_bookmarks(spark, tmp_path):
    from pipelinewise_spark.plans.state import BookmarkStore

    cap = _write(tmp_path, [
        _schema(),
        _rec(1, "a", 1.5), _rec(2, "b", 2.5), _rec(3, "c", 3.5),
        _state({"t1": {"replication_key_value": 3}}),
        _rec(3, "c2", 30.5),  # later line wins for id=3
        _rec(4, "d", 4.5),
        _state({"t1": {"replication_key_value": 4}}),
    ])
    bm = BookmarkStore(str(tmp_path / "state.json"))
    tables = load_capture(spark, cap, str(tmp_path / "tgt"), bookmarks=bm)
    got = {
        r["id"]: (r["name"], r["amount"])
        for r in tables["t1"].read(spark).collect()
    }
    assert got == {1: ("a", 1.5), 2: ("b", 2.5), 3: ("c2", 30.5),
                   4: ("d", 4.5)}
    assert bm.get("t1", "replication_key_value") == 4
    # _sdc lineage columns ride along
    cols = tables["t1"].read(spark).columns
    assert "_sdc_extracted_at" in cols and "_sdc_table_version" in cols


def test_load_capture_activate_version_swap(spark, tmp_path):
    cap = _write(tmp_path, [
        _schema(),
        _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        _rec(3, "c", 3.0, version=1),
        _activate(1),
        _rec(2, "B", 20.0, version=2), _rec(3, "C", 30.0, version=2),
        _rec(4, "D", 40.0, version=2),
        _activate(2),
    ])
    tables = load_capture(spark, cap, str(tmp_path / "tgt"))
    got = {r["id"]: r["name"] for r in tables["t1"].read(spark).collect()}
    assert got == {2: "B", 3: "C", 4: "D"}  # version-1-only rows gone


def test_replay_flush_ordering_and_flushed_state(spark, tmp_path):
    """The out-of-order STATE pin: a STATE arriving while records are
    buffered must NOT advance the flushed state until those records
    land; the EOF flush-all adopts the candidate wholesale."""
    cap = _write(tmp_path, [
        _schema(),
        _state({"t1": {"pos": 0}}),           # nothing pending -> flushed
        _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        _state({"t1": {"pos": 2}}),           # 2 pending -> NOT flushed yet
        _rec(3, "c", 3.0),                    # row_count=3 -> FLUSH
        _rec(3, "c2", 30.0),                  # cross-batch update
        _rec(4, "d", 4.0), _rec(4, "d2", 40.0),  # in-batch dup: 1 new PK
        _state({"t1": {"pos": 4}}),           # pending -> not flushed
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=3
    )
    assert res.n_flushes == 2
    # first emit (the mid-capture flush) carries pos=2 — never pos=4
    assert res.emitted_states[0]["bookmarks"]["t1"] == {"pos": 2}
    assert all(
        s["bookmarks"]["t1"]["pos"] < 4 for s in res.emitted_states[:-1]
    )
    # EOF flush-all adopts the final candidate state wholesale
    assert res.state == {"bookmarks": {"t1": {"pos": 4}}}
    got = {
        r["id"]: (r["name"], r["amount"])
        for r in res.tables["t1"].read(spark).collect()
    }
    # id=3: cross-batch MERGE last wins; id=4: in-batch dict last wins
    assert got == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("c2", 30.0),
                   4: ("d2", 40.0)}


def test_replay_schema_change_flushes_previous_records(spark, tmp_path):
    props2 = dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})
    cap = _write(tmp_path, [
        _schema(),
        _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        _schema(props=props2),                 # changed -> flush first
        _rec(3, "c", 3.0, extra={"tag": "x"}),
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=100
    )
    assert res.n_flushes == 2
    out = res.tables["t1"].read(spark)
    assert "tag" in out.columns
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got == {1: None, 2: None, 3: "x"}


def test_replay_activate_version(spark, tmp_path):
    cap = _write(tmp_path, [
        _schema(),
        _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        _rec(3, "c", 3.0, version=1),
        _activate(1),
        _rec(2, "B", 20.0, version=2), _rec(3, "C", 30.0, version=2),
        _rec(4, "D", 40.0, version=2),
        _activate(2),
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=2
    )
    got = {r["id"]: r["name"] for r in res.tables["t1"].read(spark).collect()}
    assert got == {2: "B", 3: "C", 4: "D"}


def test_replay_multi_stream_independent_flush(spark, tmp_path):
    s2_props = {"k": {"type": ["null", "integer"]},
                "v": {"type": ["null", "string"]}}
    cap = _write(tmp_path, [
        _schema("t1"),
        _schema("t2", props=s2_props, keys=("k",)),
        _rec(1, "a", 1.0, stream="t1"),
        json.dumps({"type": "RECORD", "stream": "t2",
                    "record": {"k": 10, "v": "x"}}),
        _state({"t1": {"pos": 1}, "t2": {"pos": 10}}),
        _rec(2, "b", 2.0, stream="t1"),        # t1 row_count=2 -> flush t1
        json.dumps({"type": "RECORD", "stream": "t2",
                    "record": {"k": 11, "v": "y"}}),
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=2
    )
    # the t1 flush advanced ONLY t1's bookmark (t2 still buffered)
    first = next(s for s in res.emitted_states if s is not None)
    assert first["bookmarks"].get("t1") == {"pos": 1}
    assert res.tables["t1"].read(spark).count() == 2
    assert res.tables["t2"].read(spark).count() == 2


def test_record_before_schema_raises(spark, tmp_path):
    cap = _write(tmp_path, [_rec(1, "a", 1.0)])
    with pytest.raises(ValueError, match="before its SCHEMA"):
        replay_capture(spark, cap, str(tmp_path / "tgt"))


def test_null_pk_component_raises(spark, tmp_path):
    cap = _write(tmp_path, [_schema(), _rec(None, "a", 1.0)])
    with pytest.raises(ValueError, match="primary-key component"):
        replay_capture(spark, cap, str(tmp_path / "tgt"))


def test_write_capture_roundtrip_and_reproducible(spark, tmp_path):
    """write_capture -> load_capture reproduces the table exactly
    (timestamps at microsecond precision), and two writes of the same
    frame are byte-identical (pinned record order)."""
    from datetime import datetime

    from pipelinewise_spark.sources.singer import write_capture

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) + 0.25,
          datetime(2024, 3, 1, 12, 30, 15, 123456 + i))
         for i in range(40)],
        "id long, name string, amount double, ts timestamp",
    )
    cap = str(tmp_path / "cap.ndjson")
    n = write_capture(df, cap, "t1", ["id"],
                      state={"bookmarks": {"t1": {"pos": 40}}})
    assert n == 40
    tables = load_capture(spark, cap, str(tmp_path / "tgt"))
    got = sorted(
        map(tuple, tables["t1"].read(spark)
            .select("id", "name", "amount", "ts").collect())
    )
    want = sorted(map(tuple, df.collect()))
    assert got == want  # microsecond-exact roundtrip
    cap2 = str(tmp_path / "cap2.ndjson")
    write_capture(df.repartition(7), cap2, "t1", ["id"],
                  state={"bookmarks": {"t1": {"pos": 40}}})
    assert open(cap).read() == open(cap2).read()  # byte-reproducible


def test_write_capture_versioned_resync(spark, tmp_path):
    from pipelinewise_spark.sources.singer import write_capture

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    cap = str(tmp_path / "cap.ndjson")
    write_capture(df, cap, "t1", ["id"], version=7)
    lines = [json.loads(x) for x in open(cap).read().splitlines()]
    assert lines[0]["type"] == "SCHEMA"
    assert all(x["version"] == 7 for x in lines[1:11])
    assert lines[11] == {"type": "ACTIVATE_VERSION", "stream": "t1",
                         "version": 7}
    tables = load_capture(spark, cap, str(tmp_path / "tgt"))
    out = tables["t1"].read(spark)
    assert out.count() == 10
    assert out.select("_sdc_table_version").distinct().collect()[0][0] == 7


def test_write_capture_refuses_lossy_keys(spark, tmp_path):
    from pipelinewise_spark.sources.singer import write_capture

    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
    )
    with pytest.raises(ValueError, match="not unique"):
        write_capture(dup, str(tmp_path / "c1"), "t", ["id"])
    nul = spark.createDataFrame(
        [(None, "a"), (2, "c")], "id long, v string"
    )
    with pytest.raises(ValueError, match="NULL key"):
        write_capture(nul, str(tmp_path / "c2"), "t", ["id"])


def test_corrupt_capture_line_fails_loudly(spark, tmp_path):
    """A truncated/typeless line must raise, not silently vanish (a tap
    killed mid-write produces partial JSON lines)."""
    cap = _write(tmp_path, [_schema(), '{"broken": true}'])
    with pytest.raises(ValueError, match="missing 'type'"):
        scan_control_plane(spark, cap)


def test_missing_key_properties_allowed_when_not_required(spark, tmp_path):
    """A SCHEMA with NO key_properties field at all (legal Singer for
    append-only streams) loads under primary_key_required=False."""
    cap = _write(tmp_path, [
        json.dumps({"type": "SCHEMA", "stream": "t1",
                    "schema": {"type": "object",
                               "properties": SCHEMA_PROPS}}),
        _rec(1, "a", 1.0), _rec(1, "a", 1.0),  # dup rows both append
    ])
    tables = load_capture(
        spark, cap, str(tmp_path / "tgt"), primary_key_required=False
    )
    assert tables["t1"].read(spark).count() == 2


def test_bulk_activate_version_purges_preexisting_table(spark, tmp_path):
    """Day-2 full resync: ACTIVATE_VERSION must drop older-version rows
    ALREADY IN the target table, not just filter the capture's own
    records (parity with the replay path's table rewrite)."""
    tgt = str(tmp_path / "tgt")
    day1 = _write(tmp_path, [
        _schema(),
        *[_rec(i, f"v1_{i}", float(i), version=1) for i in range(1, 11)],
        _activate(1),
    ], name="day1.ndjson")
    load_capture(spark, day1, tgt)
    day2 = _write(tmp_path, [
        _schema(),
        *[_rec(i, f"v2_{i}", float(i), version=2) for i in range(1, 6)],
        _activate(2),
    ], name="day2.ndjson")
    tables = load_capture(spark, day2, tgt)
    got = {r["id"]: r["name"] for r in tables["t1"].read(spark).collect()}
    # keys 6..10 were version-1-only: the swap removed them
    assert got == {i: f"v2_{i}" for i in range(1, 6)}


def test_replay_typed_pk_identity_no_separator_collision(spark, tmp_path):
    """r13: the replay dedupe key is TYPED (from_json over the PK subset
    + to_json), so composite string PKs containing the old separator
    byte stay distinct — ("x\\x1fy", "z") vs ("x", "y\\x1fz") are two
    rows, exactly as load_capture's typed last-wins (and the reference
    target's PK dict) would keep them."""
    props = {"a": {"type": ["null", "string"]},
             "b": {"type": ["null", "string"]},
             "v": {"type": ["null", "integer"]}}

    def rec(a, b, v):
        return json.dumps({"type": "RECORD", "stream": "t1",
                           "record": {"a": a, "b": b, "v": v}})

    cap = _write(tmp_path, [
        _schema(props=props, keys=("a", "b")),
        rec("x\x1fy", "z", 1),
        rec("x", "y\x1fz", 2),
    ])
    res = replay_capture(spark, cap, str(tmp_path / "tgt"))
    rows = {(r["a"], r["b"]): r["v"]
            for r in res.tables["t1"].read(spark).collect()}
    assert rows == {("x\x1fy", "z"): 1, ("x", "y\x1fz"): 2}


def test_replay_max_records_guard(spark, tmp_path):
    """r13: faithful replay holds one (lineno, stream, pk) tuple per
    record on the driver, so it refuses captures beyond max_records
    with guidance to use load_capture (the one-pass scale path)."""
    cap = _write(tmp_path, [
        _schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0), _rec(3, "c", 3.0),
    ])
    with pytest.raises(ValueError, match="use load_capture"):
        replay_capture(spark, cap, str(tmp_path / "tgt"), max_records=2)
    # lifting the guard explicitly replays fine
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), max_records=None
    )
    assert res.tables["t1"].read(spark).count() == 3


def test_scan_control_plane_state_volume_guard(spark, tmp_path):
    """r13: CDC taps can emit a STATE per record — scan_control_plane
    refuses an unbounded control-plane collect, and states='last'
    (the bulk-load mode) keeps only the final STATE regardless."""
    lines = [_schema()]
    for i in range(1, 21):
        lines.append(_rec(i, f"n{i}", float(i)))
        lines.append(_state({"t1": {"pos": i}}))
    cap = _write(tmp_path, lines)
    with pytest.raises(ValueError, match="control"):
        scan_control_plane(spark, cap, max_control_lines=5)
    plan = scan_control_plane(spark, cap, states="last")
    states = [m for m in plan.messages if m["type"] == "STATE"]
    assert len(states) == 1
    assert states[0]["value"] == {"bookmarks": {"t1": {"pos": 20}}}


def test_load_capture_state_heavy_bookmarks_final(spark, tmp_path):
    """A STATE-per-record capture bulk-loads without the driver ever
    collecting the STATE stream; bookmarks take the final STATE."""
    from pipelinewise_spark.plans.state import BookmarkStore

    lines = [_schema()]
    for i in range(1, 31):
        lines.append(_rec(i, f"n{i}", float(i)))
        lines.append(_state({"t1": {"pos": i}}))
    cap = _write(tmp_path, lines)
    bm = BookmarkStore(str(tmp_path / "state.json"))
    tables = load_capture(spark, cap, str(tmp_path / "tgt"), bookmarks=bm)
    assert tables["t1"].read(spark).count() == 30
    assert bm.get("t1", "pos") == 30


def test_write_capture_no_keys_append_only(spark, tmp_path):
    """r13: key_properties=[] with no order_by exports without sorting
    (append-only capture) instead of raising on a zero-column orderBy;
    the capture round-trips through the no-PK load path."""
    from pipelinewise_spark.sources.singer import write_capture

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "id long, name string"
    )
    cap = str(tmp_path / "cap.ndjson")
    n = write_capture(df, cap, "t1", key_properties=[])
    assert n == 3
    tables = load_capture(
        spark, cap, str(tmp_path / "tgt"), primary_key_required=False
    )
    got = sorted(
        (r["id"], r["name"]) for r in tables["t1"].read(spark).collect()
    )
    assert got == [(1, "a"), (1, "a"), (2, "b")]


def test_import_capture_cli_no_pk_required(spark, tmp_path):
    """r13: the CLI exposes primary_key_required=False as
    --no-pk-required so append-only captures import without touching
    Python."""
    from pipelinewise_spark.__main__ import main as cli_main

    cap = _write(tmp_path, [
        json.dumps({"type": "SCHEMA", "stream": "t1",
                    "schema": {"type": "object",
                               "properties": SCHEMA_PROPS},
                    "key_properties": []}),
        _rec(1, "a", 1.0), _rec(1, "a", 1.0),
    ])
    root = str(tmp_path / "tgt")
    rc = cli_main(["import-capture", cap, root, "--no-pk-required"])
    assert rc == 0
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    assert ManifestTable(f"{root}/t1").read(spark).count() == 2


def test_replay_type_change_versions_column(spark, tmp_path):
    """r13: a re-emitted SCHEMA changing an existing column's TYPE
    incompatibly routes through version_column (reference
    db_sync.py:849-870): the old column renames to <name>_<suffix>
    (data retained), a fresh column of the new type takes its place —
    exactly what a wal2json/binlog schema refresh emits. A PK re-sent
    after the change keeps its OLD value in the versioned column and
    gains the new-typed value in the fresh one."""
    props_v1 = {"id": {"type": ["null", "integer"]},
                "flag": {"type": ["null", "integer"]}}
    props_v2 = {"id": {"type": ["null", "integer"]},
                "flag": {"type": ["null", "string"]}}

    def rec(id_, flag):
        return json.dumps({"type": "RECORD", "stream": "t1",
                           "record": {"id": id_, "flag": flag}})

    cap = _write(tmp_path, [
        _schema(props=props_v1),
        rec(1, 10), rec(2, 20), rec(3, 30),
        _schema(props=props_v2),            # type drift -> flush + evolve
        rec(2, "S20"), rec(4, "S40"),
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=100,
        version_suffix="20240101_0000",
    )
    out = res.tables["t1"].read(spark)
    assert set(out.columns) >= {"id", "flag", "flag_20240101_0000"}
    assert dict(out.dtypes)["flag"] == "string"
    assert dict(out.dtypes)["flag_20240101_0000"] == "bigint"
    got = {r["id"]: (r["flag_20240101_0000"], r["flag"])
           for r in out.collect()}
    assert got == {
        1: (10, None),      # pre-drift only: data retained, fresh NULL
        2: (20, "S20"),     # re-sent: old value kept + new value
        3: (30, None),
        4: (None, "S40"),   # post-drift only
    }


def test_load_capture_day2_type_change_versions_column(spark, tmp_path):
    """r13: the BULK path evolves a PRE-EXISTING table the same way
    when a later capture's schema changed a column type."""
    props_v2 = {"id": {"type": ["null", "integer"]},
                "name": {"type": ["null", "string"]},
                "amount": {"type": ["null", "string"]}}  # number -> string
    tgt = str(tmp_path / "tgt")
    day1 = _write(tmp_path, [
        _schema(), _rec(1, "a", 1.5), _rec(2, "b", 2.5),
    ], name="day1.ndjson")
    load_capture(spark, day1, tgt)
    day2 = _write(tmp_path, [
        json.dumps({"type": "SCHEMA", "stream": "t1",
                    "schema": {"type": "object", "properties": props_v2},
                    "key_properties": ["id"]}),
        json.dumps({"type": "RECORD", "stream": "t1",
                    "record": {"id": 2, "name": "B", "amount": "2.5 EUR"}}),
    ], name="day2.ndjson")
    tables = load_capture(
        spark, day2, tgt, version_suffix="20240202_0000"
    )
    out = tables["t1"].read(spark)
    assert dict(out.dtypes)["amount"] == "string"
    assert dict(out.dtypes)["amount_20240202_0000"] == "double"
    got = {r["id"]: (r["amount_20240202_0000"], r["amount"], r["name"])
           for r in out.collect()}
    assert got == {1: (1.5, None, "a"), 2: (2.5, "2.5 EUR", "B")}


def test_type_change_on_pk_refused(spark, tmp_path):
    """A type change on a primary-key column cannot version (the merge
    identity would break) — loud refusal, never a silent mismatch."""
    tgt = str(tmp_path / "tgt")
    day1 = _write(tmp_path, [_schema(), _rec(1, "a", 1.0)],
                  name="day1.ndjson")
    load_capture(spark, day1, tgt)
    day2 = _write(tmp_path, [
        json.dumps({"type": "SCHEMA", "stream": "t1",
                    "schema": {"type": "object", "properties": {
                        "id": {"type": ["null", "string"]},
                        "name": {"type": ["null", "string"]},
                        "amount": {"type": ["null", "number"]}}},
                    "key_properties": ["id"]}),
        json.dumps({"type": "RECORD", "stream": "t1",
                    "record": {"id": "one", "name": "a", "amount": 1.0}}),
    ], name="day2.ndjson")
    with pytest.raises(ValueError, match="primary-key"):
        load_capture(spark, day2, tgt)


def test_load_capture_day2_add_column_drift(spark, tmp_path):
    """Add-column drift (the compatible case) stays the plain
    union-of-columns NULL-fill — no versioning."""
    tgt = str(tmp_path / "tgt")
    day1 = _write(tmp_path, [_schema(), _rec(1, "a", 1.0)],
                  name="day1.ndjson")
    load_capture(spark, day1, tgt)
    props2 = dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})
    day2 = _write(tmp_path, [
        _schema(props=props2),
        _rec(2, "b", 2.0, extra={"tag": "x"}),
    ], name="day2.ndjson")
    tables = load_capture(spark, day2, tgt)
    out = tables["t1"].read(spark)
    assert not [c for c in out.columns if c.startswith("tag_")]
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got == {1: None, 2: "x"}


def test_export_capture_to_live_singer_target(spark, tmp_path):
    """r13 stretch (env-gated): the byte-reproducible capture actually
    drives a REAL Singer target. Set PWS_SINGER_TARGET_CMD to any
    installed target executable (e.g. 'target-jsonl -c cfg.json'); the
    exported capture pipes into it and the target must exit 0 having
    consumed every message. Skipped (honestly) when no target is
    installed in the environment — see COVERAGE.md."""
    import shlex
    import subprocess

    from pipelinewise_spark.sources.singer import write_capture

    cmd = os.environ.get("PWS_SINGER_TARGET_CMD")
    if not cmd:
        pytest.skip("no Singer target installed "
                    "(set PWS_SINGER_TARGET_CMD)")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)],
        "id long, name string, amount double",
    )
    cap = str(tmp_path / "cap.ndjson")
    write_capture(
        df, cap, "t1", ["id"],
        state={"bookmarks": {"t1": {"pos": 2}}},
    )
    with open(cap, "rb") as fh:
        proc = subprocess.run(
            shlex.split(cmd), stdin=fh, capture_output=True,
            cwd=str(tmp_path), timeout=120,
        )
    assert proc.returncode == 0, proc.stderr.decode()[:500]
    # a conforming target emits the flushed STATE on stdout at EOF
    out_lines = [
        ln for ln in proc.stdout.decode().splitlines() if ln.strip()
    ]
    assert any('"pos": 2' in ln or '"pos":2' in ln for ln in out_lines)


def test_replay_chunked_record_index_same_result(spark, tmp_path):
    """r13: the record index collects one chunk_lines window at a time
    — a chunk size smaller than the capture (here 3 lines per window,
    forcing ~7 windows across flush and schema boundaries) must replay
    byte-identically to the unchunked walk: same tables, same flush
    count, same emitted states."""
    props2 = dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})
    lines = [
        _schema(),
        _state({"t1": {"pos": 0}}),
        _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        _state({"t1": {"pos": 2}}),
        _rec(3, "c", 3.0),
        _rec(3, "c2", 30.0),
        _rec(4, "d", 4.0), _rec(4, "d2", 40.0),
        _schema(props=props2),
        _rec(5, "e", 5.0, extra={"tag": "x"}),
        _activate(7),
        _state({"t1": {"pos": 5}}),
    ]
    cap1 = _write(tmp_path, lines, name="cap1.ndjson")
    cap2 = _write(tmp_path, lines, name="cap2.ndjson")
    big = replay_capture(
        spark, cap1, str(tmp_path / "tgt_big"), batch_size_rows=3
    )
    small = replay_capture(
        spark, cap2, str(tmp_path / "tgt_small"), batch_size_rows=3,
        chunk_lines=3,
    )
    assert small.n_flushes == big.n_flushes
    assert small.state == big.state
    assert small.emitted_states == big.emitted_states

    def snap(res):
        return sorted(
            tuple(r) for r in res.tables["t1"].read(spark)
            .select("id", "name", "amount", "tag").collect()
        )

    assert snap(small) == snap(big)


_PK_AS_STRING = dict(SCHEMA_PROPS, id={"type": ["null", "string"]})

_LEAK_CASES = {
    "max_records": (
        [_schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
         _rec(3, "c", 3.0)],
        {"max_records": 2}, "use load_capture",
    ),
    "record_before_schema": (
        [_rec(1, "a", 1.0), _schema()], {}, "before its SCHEMA",
    ),
    "null_pk": (
        [_schema(), _rec(1, "a", 1.0), _rec(None, "b", 2.0)], {},
        "primary-key component",
    ),
    "no_key_properties": (
        [_schema(keys=()), _rec(1, "a", 1.0)],
        {"primary_key_required": False}, "has no key_properties",
    ),
    # refused inside a flush, mid-walk
    "flush_error": (
        [_schema(), _rec(1, "a", 1.0),
         _schema(props=_PK_AS_STRING), _rec("one", "b", 2.0)],
        {}, "primary-key column",
    ),
    "success": (
        [_schema(), _rec(1, "a", 1.0), _rec(2, "b", 2.0),
         _schema(props=dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})),
         _rec(2, "b2", 20.0, extra={"tag": "x"}),
         _state({"t1": {"pos": 3}})],
        {"batch_size_rows": 1}, None,
    ),
}


@pytest.mark.parametrize("case", sorted(_LEAK_CASES))
def test_replay_releases_every_cache(spark, tmp_path, case):
    """Replay persists the numbered capture lines and one parse per
    (stream, SCHEMA epoch); every exit, each refusal included, releases
    all of them."""
    lines, kwargs, error = _LEAK_CASES[case]
    cap = _write(tmp_path, lines)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    if error is None:
        res = replay_capture(spark, cap, str(tmp_path / "tgt"), **kwargs)
        assert res.n_flushes == 3
        assert sorted(
            tuple(r) for r in res.tables["t1"].read(spark)
            .select("id", "name", "tag").collect()
        ) == [(1, "a", None), (2, "b2", "x")]
    else:
        with pytest.raises(ValueError, match=error):
            replay_capture(spark, cap, str(tmp_path / "tgt"), **kwargs)
    assert persistent().size() == before


def test_replay_numbers_the_capture_once(spark, tmp_path, monkeypatch):
    """One replay reads and numbers the capture once, however many
    streams, SCHEMA epochs and flushes it has: every pass derives from
    the one cached lines frame."""
    from pipelinewise_spark.sources import singer

    calls = []
    real = singer.capture_lines

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(singer, "capture_lines", counting)
    props2 = dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})
    cap = _write(tmp_path, [
        _schema(), _schema(stream="t2"),
        _rec(1, "a", 1.0), _rec(1, "x", 9.0, stream="t2"),
        _rec(2, "b", 2.0),
        _state({"t1": {"pos": 2}, "t2": {"pos": 1}}),
        _schema(props=props2),
        _rec(1, "a2", 10.0, extra={"tag": "y"}),
        _rec(2, "y", 8.0, stream="t2"),
    ])
    res = replay_capture(spark, cap, str(tmp_path / "tgt"), batch_size_rows=2)
    assert calls == [cap]
    assert res.n_flushes == 3
    assert sorted(
        tuple(r) for r in res.tables["t1"].read(spark)
        .select("id", "name", "tag").collect()
    ) == [(1, "a2", "y"), (2, "b", None)]
    assert sorted(
        tuple(r) for r in res.tables["t2"].read(spark)
        .select("id", "name").collect()
    ) == [(1, "x"), (2, "y")]


@pytest.mark.parametrize(
    "merge_strategy", [None, "merge_on_read"], ids=["parquet", "mor"]
)
def test_load_capture_reads_the_capture_once(
    spark, tmp_path, monkeypatch, merge_strategy
):
    """A bulk load reads and numbers the capture once for its control
    plane and every stream, and releases that cache."""
    from pipelinewise_spark.sources import singer

    calls = []
    real = singer.capture_lines

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(singer, "capture_lines", counting)
    cap = _write(tmp_path, [
        _schema(), _schema(stream="t2"),
        _rec(1, "a", 1.0, version=1), _rec(1, "x", 9.0, stream="t2"),
        _rec(2, "b", 2.0, version=1), _rec(1, "a2", 10.0, version=2),
        _state({"t1": {"pos": 2}}),
        _rec(2, "y", 8.0, stream="t2"), _activate(2),
        _state({"t1": {"pos": 3}, "t2": {"pos": 2}}),
    ])
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    out = load_capture(
        spark, cap, str(tmp_path / "tgt"), merge_strategy=merge_strategy
    )
    assert calls == [cap]
    assert persistent().size() == before
    assert sorted(
        tuple(r) for r in out["t1"].read(spark)
        .select("id", "name", "amount", "_sdc_table_version").collect()
    ) == [(1, "a2", 10.0, 2)]
    assert sorted(
        tuple(r) for r in out["t2"].read(spark)
        .select("id", "name", "amount").collect()
    ) == [(1, "x", 9.0), (2, "y", 8.0)]


def test_warm_replay_compiles_no_classes(spark, tmp_path):
    """The session's generated-class cache holds a whole replay's
    classes: a second replay of the same capture compiles none. This
    three-stream capture with SCHEMA re-emits and 11 flushes compiles
    over 140 classes, more than Spark's default cache of 100 entries,
    under which the second replay recompiled 131 of them."""
    props2 = dict(SCHEMA_PROPS, tag={"type": ["null", "string"]})
    props3 = dict(
        SCHEMA_PROPS, ok={"type": ["null", "boolean"]},
        at={"type": ["null", "string"], "format": "date-time"},
    )
    lines = [_schema(), _schema(stream="t2"),
             _schema(stream="t3", props=props3)]
    for i in range(1, 13):
        lines += [_rec(i, f"a{i}", float(i)),
                  _rec(i, f"x{i}", 9.0 + i, stream="t2"),
                  _rec(i, "n", 1.0, stream="t3")]
        if i == 6:
            lines += [_state({"t1": {"pos": i}}), _schema(props=props2),
                      _schema(stream="t2", props=props2)]
        if i % 4 == 0:
            lines.append(_rec(i - 1, f"fix{i}", 0.5,
                              extra={"tag": "f"} if i > 6 else None))
    cap = _write(tmp_path, lines)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME().getCount

    def replay(name):
        res = replay_capture(
            spark, cap, str(tmp_path / name), batch_size_rows=4
        )
        assert res.n_flushes == 11
        return sorted(
            tuple(r) for r in res.tables["t1"].read(spark)
            .select("id", "name", "tag").collect()
        )

    first = replay("a")
    before = compiled()
    assert replay("b") == first
    assert compiled() == before


# ------------------------------------------------------------ replay MOR


def _replay_rows(res, spark, stream="t1"):
    return {
        r["id"]: (r["name"], r["amount"])
        for r in res.tables[stream].read(spark).collect()
    }


def test_replay_mor_equals_parquet_mode(spark, tmp_path):
    """merge_strategy='merge_on_read' replay produces exactly the
    copy-on-write rows on a flush-heavy capture — storage strategy, not
    semantics."""
    lines = [_schema()]
    lines += [_rec(i, f"n{i}", float(i)) for i in range(1, 21)]
    lines += [_rec(i, f"u{i}", i + 100.0) for i in range(1, 21, 2)]
    lines.append(_state({"t1": {"pos": 9}}))
    cap = _write(tmp_path, lines)
    pq = replay_capture(
        spark, cap, str(tmp_path / "pq"), batch_size_rows=6
    )
    mr = replay_capture(
        spark, cap, str(tmp_path / "mor"), batch_size_rows=6,
        merge_strategy="merge_on_read",
    )
    assert mr.n_flushes == pq.n_flushes >= 4
    assert mr.state == pq.state == {"bookmarks": {"t1": {"pos": 9}}}
    assert _replay_rows(mr, spark) == _replay_rows(pq, spark)


def test_replay_mor_does_not_rewrite_earlier_flushes(spark, tmp_path):
    """A later flush deletion-vectors the earlier flush's files instead
    of rewriting them — the delta-bound write path."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    lines = [_schema()]
    lines += [_rec(i, f"n{i}", float(i)) for i in range(1, 31)]
    lines += [_rec(1, "upd", 999.0)]
    cap = _write(tmp_path, lines)
    res = replay_capture(
        spark, cap, str(tmp_path / "mor"), batch_size_rows=30,
        merge_strategy="merge_on_read",
    )
    t = ManifestTable(str(tmp_path / "mor" / "t1"))
    entries, _ = t.select_entries()
    assert any(e.get("dv") for e in entries), entries
    got = _replay_rows(res, spark)
    assert got[1] == ("upd", 999.0) and len(got) == 30


def test_replay_mor_activate_version_purges(spark, tmp_path):
    lines = [
        _schema(),
        _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        _activate(1),
        _rec(1, "a2", 10.0, version=2),
        _activate(2),
    ]
    cap = _write(tmp_path, lines)
    res = replay_capture(
        spark, cap, str(tmp_path / "mor"), batch_size_rows=100,
        merge_strategy="merge_on_read",
    )
    assert _replay_rows(res, spark) == {1: ("a2", 10.0)}


def test_replay_mor_type_drift_falls_back_to_cow(spark, tmp_path):
    """The partial-SET semantics a versioned column needs are exactly
    what MOR's verbatim append cannot express — the drifted table
    permanently routes through the copy-on-write merge (the live
    schema carries the versioned column the batches lack)."""
    drift = dict(SCHEMA_PROPS, amount={"type": ["null", "string"]})
    lines = [
        _schema(),
        _rec(1, "a", 1.0), _rec(2, "b", 2.0),
        _schema(props=drift),
        _rec(1, "a2", "high"),
    ]
    cap = _write(tmp_path, lines)
    res = replay_capture(
        spark, cap, str(tmp_path / "mor"), batch_size_rows=100,
        merge_strategy="merge_on_read", version_suffix="20240101",
    )
    rows = {
        r["id"]: (r["name"], r["amount"], r["amount_20240101"])
        for r in res.tables["t1"].read(spark).collect()
    }
    assert rows == {
        1: ("a2", "high", 1.0),
        2: ("b", None, 2.0),
    }


def test_replay_mor_rejects_unknown_format(spark, tmp_path):
    cap = _write(tmp_path, [_schema(), _rec(1, "a", 1.0)])
    with pytest.raises(ValueError, match="unknown merge_strategy"):
        replay_capture(
            spark, cap, str(tmp_path / "t"), merge_strategy="iceberg"
        )


# ------------------------------------------------- r13 review fixes


def test_replay_microsecond_timestamp_pk_flush_accounting(spark, tmp_path):
    """µs-distinct timestamp PK components must count as DISTINCT new
    PKs in the buffer (the typed merge keeps them distinct): four
    same-millisecond keys = four buffer entries = two size-2 flushes.
    A dedupe key built with to_json's default ms-truncating timestamp
    format would collapse them all onto one entry."""
    props = {
        "ts": {"type": ["null", "string"], "format": "date-time"},
        "v": {"type": ["null", "number"]},
    }

    def trec(us, v):
        return json.dumps({"type": "RECORD", "stream": "t1", "record": {
            "ts": f"2024-01-01T12:00:00.00000{us}", "v": v}})

    cap = _write(tmp_path, [
        _schema(props=props, keys=("ts",)),
        trec(1, 1.0), trec(2, 2.0), trec(3, 3.0), trec(4, 4.0),
    ])
    res = replay_capture(
        spark, cap, str(tmp_path / "tgt"), batch_size_rows=2
    )
    assert res.n_flushes == 2, res.n_flushes
    assert res.tables["t1"].read(spark).count() == 4


def test_load_capture_mor_equals_parquet(spark, tmp_path):
    """Bulk load with merge_strategy='merge_on_read': an incremental load
    into a pre-existing table lands as a MOR delta with identical final
    rows to the copy-on-write default — and the earlier load's files
    survive."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    cap1 = _write(tmp_path, [
        _schema(), *[_rec(i, f"n{i}", float(i)) for i in range(1, 30)],
    ], name="cap1.ndjson")
    cap2 = _write(tmp_path, [
        _schema(), _rec(1, "upd", 99.0), _rec(99, "new", 9.0),
    ], name="cap2.ndjson")
    for strategy, root in ((None, "pq"), ("merge_on_read", "mr")):
        load_capture(spark, cap1, str(tmp_path / root),
                     merge_strategy=strategy)
        load_capture(spark, cap2, str(tmp_path / root),
                     merge_strategy=strategy)

    pq = {
        r["id"]: (r["name"], r["amount"])
        for r in ManifestTable(
            str(tmp_path / "pq" / "t1")).read(spark).collect()
    }
    mr = {
        r["id"]: (r["name"], r["amount"])
        for r in ManifestTable(
            str(tmp_path / "mr" / "t1")).read(spark).collect()
    }
    assert mr == pq and mr[1] == ("upd", 99.0) and mr[99] == ("new", 9.0)
    entries, _ = ManifestTable(str(tmp_path / "mr" / "t1")).select_entries()
    assert any(e.get("dv") for e in entries), entries


def test_load_capture_mor_activate_version_purges(spark, tmp_path):
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    cap1 = _write(tmp_path, [
        _schema(), _rec(1, "a", 1.0, version=1),
        _rec(2, "b", 2.0, version=1), _activate(1),
    ], name="cap1.ndjson")
    cap2 = _write(tmp_path, [
        _schema(), _rec(1, "a2", 10.0, version=2), _activate(2),
    ], name="cap2.ndjson")
    for cap in (cap1, cap2):
        load_capture(spark, cap, str(tmp_path / "mr"),
                     merge_strategy="merge_on_read")
    rows = {
        r["id"]: r["name"]
        for r in ManifestTable(
            str(tmp_path / "mr" / "t1")).read(spark).collect()
    }
    assert rows == {1: "a2"}


@pytest.mark.parametrize(
    "merge_strategy", [None, "merge_on_read"], ids=["parquet", "mor"]
)
def test_load_capture_no_pk_day2_append_and_activate(
    spark, tmp_path, merge_strategy
):
    """A no-PK stream loaded into an existing table appends the day-2
    rows; a later full-resync capture's ACTIVATE_VERSION removes every
    older-version row already in the table."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    def load(name, lines):
        load_capture(
            spark, _write(tmp_path, [_schema(keys=()), *lines], name=name),
            str(tmp_path / "tgt"), primary_key_required=False,
            merge_strategy=merge_strategy,
        )

    table = ManifestTable(str(tmp_path / "tgt" / "t1"))

    def rows():
        return sorted(
            (r["id"], r["name"], r["amount"], r["_sdc_table_version"])
            for r in table.read(spark).collect()
        )

    load("day1.ndjson", [_rec(1, "a", 1.0, version=1),
                         _rec(2, "b", 2.0, version=1)])
    load("day2.ndjson", [_rec(3, "c", 3.0, version=1),
                         _rec(1, "a", 1.0, version=1)])
    assert rows() == [
        (1, "a", 1.0, 1), (1, "a", 1.0, 1), (2, "b", 2.0, 1),
        (3, "c", 3.0, 1),
    ]
    load("resync.ndjson", [_rec(1, "a2", 10.0, version=2),
                           _rec(4, "d", 4.0, version=2), _activate(2)])
    assert rows() == [(1, "a2", 10.0, 2), (4, "d", 4.0, 2)]


def test_write_capture_rotated_rejects_nonpositive_rotation(spark, tmp_path):
    from pipelinewise_spark.sources.singer import write_capture_rotated

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="records_per_file"):
        write_capture_rotated(
            df, str(tmp_path / "cap"), "t1", ["id"], records_per_file=0
        )


def test_capture_status(spark, tmp_path, capsys):
    """capture-status: per-stream counts/epochs/keys/version + final
    STATE from one grouped pass + the capped control plane."""
    from pipelinewise_spark.__main__ import main as cli_main
    from pipelinewise_spark.sources.singer import capture_status

    drift = dict(SCHEMA_PROPS, amount={"type": ["null", "string"]})
    cap = _write(tmp_path, [
        _schema(),
        _rec(1, "a", 1.0, version=1), _rec(2, "b", 2.0, version=1),
        _activate(1),
        _schema(props=drift),                # second epoch
        _rec(1, "a2", "x", version=2),
        _activate(2),
        _schema(stream="t2", keys=("id",)),  # schema-only stream
        _state({"t1": {"pos": 7}}),
    ])
    st = capture_status(spark, cap)
    assert st["streams"]["t1"] == {
        "records": 3, "schema_epochs": 2, "key_properties": ["id"],
        "last_version": 2,
    }
    assert st["streams"]["t2"] == {
        "records": 0, "schema_epochs": 1, "key_properties": ["id"],
        "last_version": None,
    }
    assert st["message_counts"] == {
        "ACTIVATE_VERSION": 2, "RECORD": 3, "SCHEMA": 3, "STATE": 1,
    }
    assert st["state"] == {"bookmarks": {"t1": {"pos": 7}}}
    rc = cli_main(["capture-status", cap])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["streams"]["t1"]["records"] == 3


def test_load_capture_refuses_records_without_any_schema(spark, tmp_path):
    """A stream whose RECORDs have no SCHEMA anywhere in the capture is
    refused, not silently dropped; records before a LATER SCHEMA of
    their stream still load (the bulk face is order-insensitive)."""
    cap = _write(tmp_path, [
        _schema(), _rec(1, "a", 1.0), _rec(1, "x", 9.0, stream="t2"),
    ])
    with pytest.raises(
        ValueError,
        match="RECORD for stream 't2' before its SCHEMA \\(no SCHEMA",
    ):
        load_capture(spark, cap, str(tmp_path / "tgt"))
    late = _write(tmp_path, [
        _rec(1, "x", 9.0, stream="t2"), _schema(), _schema(stream="t2"),
        _rec(1, "a", 1.0),
    ], name="late.ndjson")
    out = load_capture(spark, late, str(tmp_path / "tgt2"))
    assert [
        tuple(r) for r in out["t2"].read(spark).select("id", "name").collect()
    ] == [(1, "x")]
