"""End-to-end pipeline runner: YAML → compiled spec → multi-stream run with
bookmarks, masking, and a second incremental run picking up only new rows."""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.plans.yaml_config import compile_yaml
from pipelinewise_spark.runner import PipelineRunner
from pipelinewise_spark.schema.jsonschema import (
    json_schema_to_struct,
    merge_schemas,
    struct_to_json_schema,
)
from pipelinewise_spark.sources.files import read_table

YAML = """
id: tpch_to_lake
target_path: "{target}"
schemas:
  - source_schema: public
    tables:
      - table_name: nation
        replication_method: FULL_TABLE
        primary_keys: [n_nationkey]
      - table_name: orders
        replication_method: INCREMENTAL
        replication_key: o_orderdate
        primary_keys: [o_orderkey]
        transformations:
          - column: o_orderpriority
            type: MASK-HIDDEN
            when:
              - column: o_orderstatus
                equals: F
"""


def test_yaml_pipeline_end_to_end(spark, sf_dir, tmp_path):
    spec = compile_yaml(YAML.format(target=str(tmp_path)))
    assert [s.tap_stream_id for s in spec.streams] == [
        "public-nation", "public-orders"
    ]
    runner = PipelineRunner(spark, spec)

    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < "1997-01-01")

    r1 = runner.run(
        {"public-nation": nation, "public-orders": early},
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    src = f"'{sf_dir}/orders.parquet'"
    n_nation, n_early, n_orders, n_tail = duckdb.sql(f"""
        SELECT (SELECT count(*) FROM '{sf_dir}/nation.parquet'),
               (SELECT count(*) FROM {src}
                 WHERE o_orderdate < TIMESTAMP '1997-01-01'),
               (SELECT count(*) FROM {src}),
               (SELECT count(*) FROM {src} WHERE o_orderdate >= (
                  SELECT max(o_orderdate) FROM {src}
                   WHERE o_orderdate < TIMESTAMP '1997-01-01'))
    """).fetchone()
    assert (r1[0].rows_in, r1[0].target_rows) == (n_nation, n_nation)
    assert (r1[1].rows_in, r1[1].target_rows) == (n_early, n_early)
    assert r1[1].bookmark["replication_key"] == "o_orderdate"

    # second incremental run: full source, bookmark filters to the tail
    r2 = runner.run_stream(
        spec.stream("public-orders"), orders,
        extracted_at="2026-02-01 00:00:00", batched_at="2026-02-01 00:00:00",
    )
    # rows_in is the tail batch (>= re-reads the boundary rows);
    # target_rows is the merged total
    assert (r2.rows_in, r2.target_rows) == (n_tail, n_orders)

    out = runner.table_for(spec.stream("public-orders")).read(spark)
    masked = out.filter(F.col("o_orderstatus") == "F").select(
        "o_orderpriority"
    ).distinct().collect()
    assert [r.o_orderpriority for r in masked] == ["hidden"]


def test_json_schema_bridge_roundtrip():
    js = {
        "type": "object",
        "properties": {
            "id": {"type": ["null", "integer"]},
            "amount": {"type": ["null", "number"], "multipleOf": 0.01},
            "ratio": {"type": ["null", "number"]},
            "ok": {"type": ["null", "boolean"]},
            "created_at": {"type": ["null", "string"], "format": "date-time"},
            "payload": {"type": ["null", "string"], "format": "binary"},
            "doc": {"type": ["null", "object"]},
            "tags": {"type": ["null", "array"],
                     "items": {"type": ["null", "string"]}},
            "ragged": {"type": ["null", "array"],
                       "items": {"$ref": "#/definitions/sdc_recursive"}},
        },
    }
    st = json_schema_to_struct(js)
    kinds = {f.name: f.dataType.simpleString() for f in st.fields}
    assert kinds == {
        "id": "bigint", "amount": "decimal(38,2)", "ratio": "double",
        "ok": "boolean", "created_at": "timestamp", "payload": "binary",
        "doc": "string", "tags": "array<string>", "ragged": "string",
    }
    # float-compat mode reproduces the reference's decimal→float lossiness
    st2 = json_schema_to_struct(js, float_compat=True)
    assert st2["amount"].dataType.simpleString() == "double"
    back = struct_to_json_schema(st)
    assert back["properties"]["amount"]["multipleOf"] == 0.01
    assert back["properties"]["created_at"]["format"] == "date-time"


def test_schema_diff_flags():
    import pyspark.sql.types as T

    old = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("gone", T.StringType()),
    ])
    new = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),      # is-modified
        T.StructField("c", T.DoubleType()),     # is-new
    ])
    d = merge_schemas(old, new)
    assert d.added == ["c"]
    assert d.modified == [("b", "string", "bigint")]
    assert d.removed == ["gone"]
    assert d.changed


def test_primary_key_required_guard(spark, sf_dir, tmp_path):
    import pytest
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec

    spec = PipelineSpec(
        pipeline_id="p", target_path=str(tmp_path),
        streams=[StreamSpec(tap_stream_id="events",
                            replication_method="INCREMENTAL",
                            replication_key="ts")],
    )
    runner = PipelineRunner(spark, spec)
    events = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="primary_key_required"):
        runner.run_stream(spec.stream("events"), events)

    # explicitly allowing PK-less streams takes the append path
    spec.streams[0].options["primary_key_required"] = False
    r = runner.run_stream(spec.stream("events"), events,
                          extracted_at="2026-01-01", batched_at="2026-01-01")
    assert (r.rows_in, r.target_rows) == (events.count(), events.count())


def test_table_for_rejects_unknown_table_format(spark, tmp_path):
    import pytest
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec

    def table_for(fmt):
        spec = PipelineSpec(
            pipeline_id="p", target_path=str(tmp_path),
            streams=[StreamSpec(tap_stream_id="nation",
                                primary_keys=["n_nationkey"],
                                options={"table_format": fmt})],
        )
        return PipelineRunner(spark, spec).table_for(spec.stream("nation"))

    # every target is a ManifestTable: 'manifest' is the one accepted
    # spelling, and the retired 'parquet' layout is rejected like a typo
    assert type(table_for("manifest")) is ManifestTable
    for fmt in ("manifests", "parquet"):
        with pytest.raises(ValueError, match=f"table_format '{fmt}'.*"
                           "'manifest' is the only accepted value"):
            table_for(fmt)


def test_selected_columns_projection(spark, sf_dir, tmp_path):
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec

    spec = PipelineSpec(
        pipeline_id="p", target_path=str(tmp_path),
        streams=[StreamSpec(tap_stream_id="nation",
                            primary_keys=["n_nationkey"],
                            selected_columns=["n_nationkey", "n_name"])],
    )
    runner = PipelineRunner(spark, spec)
    runner.run_stream(spec.stream("nation"),
                      read_table(spark, sf_dir, "nation"),
                      extracted_at="2026-01-01", batched_at="2026-01-01")
    out = runner.table_for(spec.stream("nation")).read(spark)
    assert set(out.columns) == {
        "n_nationkey", "n_name",
        "_sdc_extracted_at", "_sdc_batched_at", "_sdc_deleted_at",
    }


def test_parallel_run_matches_sequential(spark, sf_dir, tmp_path):
    """fastsync_parallelism fan-out: concurrent stream submission produces
    the same tables and bookmarks as the sequential loop."""
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec

    sources = {
        "nation": read_table(spark, sf_dir, "nation"),
        "region": read_table(spark, sf_dir, "region"),
        "supplier": read_table(spark, sf_dir, "supplier"),
    }
    spec = PipelineSpec(
        pipeline_id="p", target_path=os.path.join(str(tmp_path), "t"),
        options={"fastsync_parallelism": 3},
        streams=[
            StreamSpec(tap_stream_id=k, primary_keys=[pk],
                       add_metadata_columns=False)
            for k, pk in [("nation", "n_nationkey"), ("region", "r_regionkey"),
                          ("supplier", "s_suppkey")]
        ],
    )
    runner = PipelineRunner(spark, spec)
    results = {
        r.tap_stream_id: (r.rows_in, r.target_rows)
        for r in runner.run(sources)
    }
    assert results == {
        k: (sources[k].count(), sources[k].count()) for k in sources
    }


def test_autoresync_size_guard(spark, sf_dir, tmp_path):
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec
    import pytest

    src = read_table(spark, sf_dir, "lineitem")
    spec = PipelineSpec(
        pipeline_id="p", target_path=os.path.join(str(tmp_path), "t"),
        options={"allowed_resync_max_size_mb": 0.001},
        streams=[StreamSpec(tap_stream_id="lineitem",
                            primary_keys=["l_orderkey", "l_linenumber"])],
    )
    runner = PipelineRunner(spark, spec)
    with pytest.raises(ValueError, match="allowed_resync_max_size_mb"):
        runner.run({"lineitem": src})

    # force_resync overrides the guard
    spec.options["force_resync"] = True
    out = PipelineRunner(spark, spec).run({"lineitem": src})
    assert (out[0].rows_in, out[0].target_rows) == (src.count(), src.count())


def test_cli_discover_catalog(capsys, sf_dir):
    import json

    from pipelinewise_spark.__main__ import main

    assert main(["discover", sf_dir, "--schema-name", "tpch"]) == 0
    cat = json.loads(capsys.readouterr().out)
    by_table = {s["table_name"]: s for s in cat["streams"]}
    assert "orders" in by_table and "documents" in by_table
    orders = by_table["orders"]
    assert orders["tap_stream_id"] == "tpch-orders"
    props = orders["schema"]["properties"]
    assert "o_orderkey" in props and "type" in props["o_orderkey"]
    assert orders["metadata"][0]["metadata"]["selected"] is True


def test_alert_sender_dispatch_on_stream_failure(spark, tmp_path, sf_dir):
    from pipelinewise_spark.alerts import AlertSender
    from pipelinewise_spark.plans.spec import PipelineSpec
    from pipelinewise_spark.runner import PipelineRunner
    from pipelinewise_spark.sources.files import read_table

    # unknown handler type fails at construction, not at failure time
    try:
        AlertSender({"pagerduty": {}})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "invalid alert handler" in str(e)

    spec = PipelineSpec.from_dict({
        "pipeline_id": "alerting",
        "target_path": str(tmp_path),
        "options": {"alert_handlers": {"log": {"level": "ERROR"}}},
        "streams": [{
            "tap_stream_id": "public-orders",
            "table_name": "orders",
            "replication_method": "INCREMENTAL",
            "replication_key": "o_orderdate",
            # PK-less + pk_required default -> run_stream raises
        }],
    })
    runner = PipelineRunner(spark, spec)
    got: list[str] = []
    runner.alerts.add(got.append)

    orders = read_table(spark, sf_dir, "orders")
    try:
        runner.run({"public-orders": orders})
        raise AssertionError("expected failure")
    except Exception:
        pass
    assert len(got) == 1 and "public-orders" in got[0] and "alerting" in got[0]

    # a crashing handler never masks the pipeline error or other handlers
    def boom(_msg):
        raise RuntimeError("handler down")
    runner.alerts._handlers.insert(0, boom)
    got.clear()
    try:
        runner.run({"public-orders": orders})
    except Exception:
        pass
    assert len(got) == 1


def test_cli_optimize_zorder_bloom_vacuum(capsys, spark, sf_dir, tmp_path):
    import json

    from pipelinewise_spark.__main__ import main
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.sources.files import read_table

    root = str(tmp_path / "orders_opt")
    t = ManifestTable(root)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.overwrite(orders.repartition(4))
    n_before = orders.count()

    assert main([
        "optimize", root,
        "--zorder", "o_custkey,o_totalprice",
        "--bloom", "o_orderkey",
        "--vacuum",
    ]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["zorder"] == ["o_custkey", "o_totalprice"]
    assert rep["bloom"] == ["o_orderkey"]

    t2 = ManifestTable(root)
    assert t2.read(spark).count() == n_before
    entries, _ = t2.select_entries()
    assert any("o_orderkey" in e.get("bloom", {}) for e in entries)


def test_cli_init_validate_run_status_reset(capsys, spark, sf_dir, tmp_path):
    """The operational verb cycle the reference CLI exposes: init scaffolds
    a runnable YAML, validate accepts it, run loads both streams, status
    reports live versions + bookmarks, reset-state clears a bookmark."""
    import json as _json
    import os as _os

    from pipelinewise_spark.__main__ import main

    yml = _os.path.join(str(tmp_path), "pipe.yml")
    assert main(["init", yml]) == 0
    capsys.readouterr()
    # re-init must refuse to overwrite
    assert main(["init", yml]) == 1
    capsys.readouterr()

    # point target_path into tmp (the sample uses a relative ./lake)
    text = open(yml).read().replace(
        "target_path: ./lake", f"target_path: {tmp_path}/lake"
    )
    open(yml, "w").write(text)

    assert main(["validate", "--config", yml]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out == {"valid": True, "errors": []}

    assert main(["run", "--config", yml, "--source-dir", sf_dir]) == 0
    printed = {
        r["stream"]: (r["rows_in"], r["target_rows"])
        for r in map(_json.loads, capsys.readouterr().out.splitlines())
    }
    n = {
        t: duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/{t}.parquet'").fetchone()[0]
        for t in ("orders", "customer")
    }
    assert printed == {
        "public-orders": (n["orders"], n["orders"]),
        "public-customer": (n["customer"], n["customer"]),
    }

    assert main(["status", "--config", yml]) == 0
    st = _json.loads(capsys.readouterr().out)
    by = {s["stream"]: s for s in st["streams"]}
    assert by["public-orders"]["exists"] and by["public-customer"]["exists"]
    assert by["public-orders"]["bookmark"]["replication_key"] == "o_orderdate"
    for s in by.values():
        root = f"{tmp_path}/lake/{s['table']}"
        assert s["version"] == ManifestTable(root).current_manifest_name()
        assert s["table_stats"] is None

    # ANALYZE output shows in status, not stale against the live version
    orders_root = f"{tmp_path}/lake/{by['public-orders']['table']}"
    assert main(["analyze", orders_root]) == 0
    capsys.readouterr()
    assert main(["status", "--config", yml]) == 0
    st = _json.loads(capsys.readouterr().out)
    by = {s["stream"]: s for s in st["streams"]}
    assert by["public-orders"]["table_stats"] == {
        "rows": n["orders"],
        "analyzed_version": by["public-orders"]["version"],
        "stale": False,
    }
    assert by["public-customer"]["table_stats"] is None

    state_path = f"{tmp_path}/lake/_state.json"
    assert main(["reset-state", state_path, "--stream", "public-orders"]) == 0
    assert _json.loads(capsys.readouterr().out) == {"cleared": ["public-orders"]}
    assert main(["status", "--config", yml]) == 0
    st2 = _json.loads(capsys.readouterr().out)
    by2 = {s["stream"]: s for s in st2["streams"]}
    assert by2["public-orders"]["bookmark"] is None
    # table itself untouched by the state reset
    assert by2["public-orders"]["exists"]


def test_cli_validate_rejects_bad_specs(capsys, tmp_path):
    import json as _json
    import os as _os

    from pipelinewise_spark.__main__ import main

    yml = _os.path.join(str(tmp_path), "bad.yml")
    open(yml, "w").write(
        """
id: bad
target_path: ./lake
schemas:
  - source_schema: public
    tables:
      - table_name: orders
        replication_method: INCREMENTAL
      - table_name: events
        replication_method: LOG_BASED
      - table_name: customer
        replication_method: FULL_TABLE
        columns: [c_name]
        primary_keys: [c_custkey]
        transformations:
          - column: c_acctbal
            type: SET-NULL
"""
    )
    assert main(["validate", "--config", yml]) == 1
    out = _json.loads(capsys.readouterr().out)
    assert not out["valid"]
    joined = "\n".join(out["errors"])
    assert "INCREMENTAL requires replication_key" in joined
    assert "LOG_BASED requires primary_keys" in joined
    assert "primary keys excluded by column selection" in joined
    assert "transformation on unselected column" in joined


def test_run_reports_from_the_write(spark, sf_dir, tmp_path, started_jobs):
    """A run starts only its writes and the bookmark aggregate: the per-
    stream report comes from footer counts, and a ManifestTable handle
    reads its own unpartitioned commit without an inference job."""
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec

    spec = PipelineSpec(
        pipeline_id="p", target_path=str(tmp_path),
        streams=[
            StreamSpec(tap_stream_id="nation", primary_keys=["n_nationkey"]),
            StreamSpec(tap_stream_id="orders", primary_keys=["o_orderkey"],
                       replication_method="INCREMENTAL",
                       replication_key="o_orderdate",
                       options={"table_format": "manifest"}),
        ],
    )
    # source schema inference runs here, outside the counted run
    sources = {t: read_table(spark, sf_dir, t) for t in ("nation", "orders")}
    runner = PipelineRunner(spark, spec)

    before = started_jobs()
    results = runner.run(
        sources,
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    # nation write (1) + orders write (1) + the orders bookmark/count
    # aggregate over the pinned batch (2: AQE runs its partial aggregate
    # and its final aggregate as separate jobs)
    assert started_jobs() - before == 4

    n = {t: df.count() for t, df in sources.items()}
    assert [(r.rows_in, r.target_rows) for r in results] == [
        (n["nation"], n["nation"]), (n["orders"], n["orders"]),
    ]
    tables = [runner.table_for(s) for s in spec.streams]
    before = started_jobs()
    assert [t.count_rows() for t in tables] == [n["nation"], n["orders"]]
    assert started_jobs() - before == 0
