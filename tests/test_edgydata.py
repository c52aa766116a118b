"""The reference's `edgydata` torture fixture, end-to-end.

Mirrors /root/reference/tests/db/tap_mysql_data.sql:26-33 (and the PG
variant tap_postgres_data.sql:16-25): reserved-word table/column names,
unicode (Thai/CJK), embedded quotes/backslashes/NUL/tabs/newlines, JSON
edge values, TIME values — pushed through the FULL sync path (full_table
sync → masking → flattening → ParquetTable snapshot) and read back
byte-identical, including by DuckDB (cross-engine parquet readability,
the reference's source/target-equivalence assertion style).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.operators.sync import full_table_sync
from pipelinewise_spark.operators.table import ParquetTable
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.plans.state import BookmarkStore

# the reference fixture's value set, verbatim in spirit
EDGY_ROWS = [
    # (order, c_varchar, group, case, cjson, c_time)
    (1, "Hello world, Καλημέρα κόσμε, コンニチハ", 10, "A", "[]", "23:55:01"),
    (2, "Chinese: 和毛泽东 <<重上井冈山>>. 严永欣, 一九六五年五月", None, "A",
     "{}", "12:00:00"),
    (3, 'Special Characters: [\"\\,!@£$%^&*()]\\\\', 10, "B",
     '[{"key": "ValueOne", "actions": []}, {"key": "ValueTwo", "actions": []}]',
     "00:00:00"),
    (4, "\tmulti\nline\ntext\twith\ttabs", 20, "B",
     '{"key": "value with \\"quotes\\""}', "00:30:00"),
    (5, "sornormal", 20, "C", '{"nested": {"a": [1, 2, 3]}}', "23:59:59"),
    (6, "NUL byte \x00 inside", None, "E", None, None),
    (7, "ภาษาไทยคืออะไรเป็นยังไง", 30, "E", '"bare string"', "01:02:03"),
    (8, None, None, None, None, None),
]

EDGY_COLS = ["order", "c_varchar", "group", "case", "cjson", "c_time"]


@pytest.fixture()
def edgy(spark):
    return spark.createDataFrame(
        EDGY_ROWS,
        "`order` long, c_varchar string, `group` long, `case` string, "
        "cjson string, c_time string",
    )


def test_edgydata_full_sync_roundtrip(spark, edgy, tmp_path):
    """Reserved-word columns + every edge value survive the atomic
    full-table sync and come back exactly."""
    spec = StreamSpec(tap_stream_id="edgydata", primary_keys=["order"])
    table = ParquetTable(str(tmp_path / "edgydata"))
    state = BookmarkStore(str(tmp_path / "state.json"))
    rows_in = full_table_sync(
        spark, edgy, spec, table, state,
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    assert rows_in == len(EDGY_ROWS)
    out = table.read(spark)
    got = {
        r["order"]: tuple(r[c] for c in EDGY_COLS)
        for r in out.select(*EDGY_COLS).collect()
    }
    want = {r[0]: r for r in EDGY_ROWS}
    assert set(got) == set(want)
    for k in want:
        assert got[k][1:] == want[k][1:], (got[k], want[k])
    # lineage columns present
    assert "_sdc_extracted_at" in out.columns
    # version bookmark recorded (ACTIVATE_VERSION analog)
    assert state.get("edgydata", "version") is not None


def test_edgydata_duckdb_cross_engine_read(spark, edgy, tmp_path):
    """The published snapshot must be readable by a different engine with
    identical values — the interop contract of a lakehouse target."""
    spec = StreamSpec(tap_stream_id="edgydata", primary_keys=["order"])
    table = ParquetTable(str(tmp_path / "edgydata"))
    full_table_sync(
        spark, edgy, spec, table,
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    snap = table.current_snapshot()
    rows = duckdb.sql(
        f"""SELECT "order", c_varchar, "group", "case", cjson, c_time
            FROM '{os.path.join(snap, "*.parquet")}'
            WHERE "order" IN (1, 2, 3, 7) ORDER BY "order" """
    ).fetchall()
    want = {r[0]: r for r in EDGY_ROWS}
    for row in rows:
        assert tuple(row) == want[row[0]], row


def test_edgydata_mask_and_flatten(spark, edgy):
    """§2.3 masks and §2.2 flattening operate on reserved-word and JSON
    columns: HASH the varchar, flatten the JSON's nested key."""
    from pipelinewise_spark.functions.masking import apply_transformations

    masked = apply_transformations(
        edgy,
        [
            {"field_id": "c_varchar", "type": "HASH"},
            {
                "field_id": "c_time", "type": "MASK-HIDDEN",
                "when": [{"column": "case", "equals": "C"}],
            },
        ],
    )
    rows = {r["order"]: r for r in masked.collect()}
    assert rows[1]["c_varchar"] != EDGY_ROWS[0][1]
    assert len(rows[1]["c_varchar"]) == 64  # sha256 hex
    assert rows[5]["c_time"] == "hidden"  # case C row masked
    assert rows[1]["c_time"] == "23:55:01"  # untouched
    assert rows[8]["c_varchar"] is None  # NULL stays NULL under HASH

    # JSON field extraction works on the edge JSON values
    j = edgy.select(
        "order",
        F.get_json_object("cjson", "$.nested.a[1]").alias("x"),
    ).collect()
    vals = {r["order"]: r["x"] for r in j}
    assert vals[5] == "2"


def test_no_pk_append_path_with_reserved_words(spark, tmp_path):
    """PK-less stream (reference no_pk_table): the append path loads under
    primary_key_required=false and a second batch appends, never merges."""
    from pipelinewise_spark.plans.spec import PipelineSpec
    from pipelinewise_spark.runner import PipelineRunner

    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, cvarchar string"
    )
    df2 = spark.createDataFrame([(1, "a2")], "id long, cvarchar string")
    spec = PipelineSpec(
        pipeline_id="p", target_path=str(tmp_path),
        streams=[
            StreamSpec(
                tap_stream_id="no_pk_table",
                replication_method="FULL_TABLE",
            )
        ],
        options={"primary_key_required": False},
    )
    runner = PipelineRunner(spark, spec)
    r1 = runner.run_stream(
        spec.stream("no_pk_table"), df1,
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    assert (r1.rows_in, r1.target_rows) == (2, 2)
    # FULL_TABLE re-run replaces (ACTIVATE_VERSION semantics)
    r2 = runner.run_stream(
        spec.stream("no_pk_table"), df2,
        extracted_at="2026-01-02 00:00:00", batched_at="2026-01-02 00:00:00",
    )
    assert (r2.rows_in, r2.target_rows) == (1, 1)
