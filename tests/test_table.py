"""ManifestTable, the one table class: atomic publish, readers isolated
from in-flight writes, vacuum, partition pruning, recorded read schemas,
the ``merge`` contract, and static guards that nothing in the package
dispatches on table class again and that the replication paths land
batches only through the table's verbs."""

from __future__ import annotations

import ast
import contextlib
import datetime
import decimal
import io
import json
import os
import pathlib

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import merge_upsert
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.session import scoped_conf
from pipelinewise_spark.streaming.cdc import apply_change_batch
from pipelinewise_spark.sources.files import read_table


def test_atomic_publish_and_vacuum(spark, sf_dir, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "nation"))
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read(spark)

    nation = read_table(spark, sf_dir, "nation")
    t.overwrite(nation)
    assert t.read(spark).count() == nation.count()

    # readers pinned to the OLD manifest keep reading it while a new one
    # is built: the version pointer only moves on publish
    old = t.current_manifest_name()
    old_files = [e["path"] for e in t._load_manifest()["files"]]
    t.overwrite(nation.limit(5))
    assert t.current_manifest_name() != old
    assert t.read(spark).count() == 5
    assert ManifestTable(t.root).read(spark, version=1).count() == (
        nation.count()
    )

    t.overwrite(nation.limit(3))
    t.vacuum(keep_manifests=1)
    assert t.versions() == [3]
    assert not any(os.path.exists(os.path.join(t.root, f)) for f in old_files)
    assert t.read(spark).count() == 3


def test_partitioned_snapshot_prunes(spark, sf_dir, tmp_path):
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders")
    t.overwrite(orders, partition_by=["o_orderstatus"])

    df = t.read(spark).filter(F.col("o_orderstatus") == "F")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert df.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_schema_cache_matches_inference(spark, sf_dir, tmp_path):
    """read() serves the written schema the commit recorded — it must be
    identical to what footer inference returns (nullable-widened), and
    a NEW commit must never be served a stale entry."""
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders").limit(100)
    t.overwrite(orders)
    cached = t.read(spark).schema
    assert [cached] == list(_inferred_schemas(spark, t).values())

    # second overwrite with a DIFFERENT schema: the read follows the pointer
    t.overwrite(orders.withColumn("extra", F.lit(1)))
    assert "extra" in t.read(spark).columns
    assert [t.read(spark).schema] == list(
        _inferred_schemas(spark, t).values()
    )

    # a FRESH handle (nothing remembered) reads identical data and schema
    t2 = ManifestTable(t.root)
    assert t2.read(spark).schema == t.read(spark).schema
    assert t2.read(spark).count() == 100


def test_parquet_count_rows_matches_read_count(spark, sf_dir, tmp_path):
    """Metadata ``count_rows`` equals a scan's count after an overwrite,
    a hard-delete merge and a partitioned overwrite."""
    t = ManifestTable(os.path.join(str(tmp_path), "orders"))
    with pytest.raises(FileNotFoundError):
        t.count_rows()
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "_sdc_deleted_at", F.lit(None).cast("timestamp")
    )
    t.overwrite(orders.repartition(3))
    assert t.count_rows() == t.read(spark).count() == orders.count()

    gone = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "_sdc_deleted_at", F.current_timestamp()
    )
    t.merge(spark, gone, ["o_orderkey"], hard_delete=True)
    assert t.count_rows() == t.read(spark).count() == (
        orders.count() - gone.count()
    )

    t.overwrite(orders, partition_by=["o_orderpriority"])
    assert t.count_rows() == t.read(spark).count() == orders.count()


def test_old_snapshot_layout_root_raises_a_clear_error(spark, tmp_path):
    """A root written by the retired snap-N layout (``_VERSION`` naming a
    ``snap-N`` directory) fails with a ValueError that says to reload,
    not with an OSError about reading a directory."""
    root = tmp_path / "old"
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        str(root / "snap-00000001")
    )
    (root / "_VERSION").write_text("snap-00000001")
    t = ManifestTable(str(root))
    for verb in (lambda: t.read(spark), t.count_rows):
        with pytest.raises(ValueError, match="snap-N table layout.*"
                           "fresh FULL_TABLE run"):
            verb()


def _identifiers(node):
    """The names a node spells: a Name, an attribute, a parameter or
    keyword, a def/class name or an import alias."""
    for field in ("id", "attr", "arg", "name", "asname"):
        value = getattr(node, field, None)
        if isinstance(value, str):
            yield value.rsplit(".", 1)[-1]


def test_no_dispatch_on_table_class():
    """Every target is a ManifestTable: outside ``operators/table.py``
    (the perfbench-facing subclass) the package names no ParquetTable,
    never asks ``isinstance(..., ManifestTable)``, and has no
    ``target_format`` switch."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipelinewise_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            names = set(_identifiers(node))
            if "ParquetTable" in names and rel != "operators/table.py":
                found.append(f"{rel}:{node.lineno} ParquetTable")
            if "target_format" in names:
                found.append(f"{rel}:{node.lineno} target_format")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "isinstance"
                and len(node.args) == 2
                and any(
                    "ManifestTable" in _identifiers(n)
                    for n in ast.walk(node.args[1])
                )
            ):
                found.append(f"{rel}:{node.lineno} isinstance ManifestTable")
    assert found == []


def test_landing_paths_go_through_table_verbs():
    """The replication paths land batches only through the table's verbs:
    ``operators/sync.py``, ``sources/singer.py`` and ``streaming/cdc.py``
    call neither ``merge_upsert`` nor ``append_only``, and every
    ``.overwrite(`` in them except FULL_TABLE's last-wins swap passes the
    ``expected_parent`` it read."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipelinewise_spark"
    found = []
    for rel in ("operators/sync.py", "sources/singer.py", "streaming/cdc.py"):
        tree = ast.parse((pkg / rel).read_text(), rel)
        for top in tree.body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                name = (
                    set(_identifiers(node.func))
                    if isinstance(node.func, (ast.Name, ast.Attribute))
                    else set()
                )
                for banned in sorted({"merge_upsert", "append_only"} & name):
                    found.append(f"{rel}:{node.lineno} {banned}")
                if (
                    "overwrite" in name
                    and owner != "full_table_sync"
                    and "expected_parent" not in {k.arg for k in node.keywords}
                ):
                    found.append(f"{rel}:{node.lineno} blind overwrite")
    assert found == []


def test_read_unions_write_dirs_in_commit_order(spark, tmp_path, monkeypatch):
    """Write dirs union in the order the manifest lists them (commit
    order), not by their random ids: with ids patched so the appended
    dir sorts first, the first dir's columns still lead."""
    import itertools
    import types

    from pipelinewise_spark.operators import manifest_table

    countdown = itertools.count(0xFFF, -1)
    monkeypatch.setattr(manifest_table, "uuid", types.SimpleNamespace(
        uuid4=lambda: types.SimpleNamespace(
            hex=f"{next(countdown):012x}" + "0" * 20
        )
    ))
    root = os.path.join(str(tmp_path), "t")
    t = ManifestTable(root)
    t.overwrite(spark.createDataFrame([(1, "x")], "a long, b string"))
    t.append(spark.createDataFrame([("y", 2)], "c string, a long"))
    bases = list(dict.fromkeys(
        e["base"] for e in t._load_manifest()["files"]
    ))
    assert sorted(bases) == bases[::-1]
    assert ManifestTable(root).read(spark).columns == ["a", "b", "c"]


def _live_bases(t, version=None):
    return {e["base"] for e in t._load_manifest(version)["files"]}


def _recorded_schemas(t):
    """The live manifest's ``schemas`` map, parsed."""
    with open(os.path.join(t.root, t.current_manifest_name())) as fh:
        m = json.load(fh)
    return {
        b: T.StructType.fromJson(json.loads(js))
        for b, js in m["schemas"].items()
    }


def _inferred_schemas(spark, t):
    """Footer inference's answer for each live write dir, asked the way a
    read asks it: partition values untyped."""
    by_base = {}
    for e in t.select_entries()[0]:
        by_base.setdefault(e["base"], []).append(t.mfs.uri(e["path"]))
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    with scoped_conf(spark, {key: "false"}):
        return {
            b: spark.read.option("basePath", t.mfs.uri(b)).parquet(*fs).schema
            for b, fs in by_base.items()
        }


def _strip_recorded_schemas(root):
    """Make a table look as if written before commits recorded schemas."""
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith("manifest-"):
            with open(path) as fh:
                m = json.load(fh)
            m.pop("schemas", None)
            with open(path, "w") as fh:
                json.dump(m, fh)


def _fields(schema):
    return [f.jsonValue() for f in schema.fields]


def test_manifest_write_schema_matches_inference(spark, tmp_path, started_jobs):
    """Every ManifestTable write records the read schema footer inference
    would return, field by field (order, nullability, metadata), for
    unpartitioned and partitioned writes alike: the writing handle reads
    its commits without an inference job and a fresh handle reads the
    schema, rows and partition types a handle without the record infers."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("s", T.StructType([
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.StringType()),
        ]), False),
        T.StructField("arr", T.ArrayType(T.IntegerType(), False)),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType(), False)),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
    ])
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5)
    rows = [
        (i, (i, "x"), [i], {"k": float(i)}, decimal.Decimal("1.250"), ts, ts)
        for i in (1, 2, 3)
    ]
    t = ManifestTable(os.path.join(str(tmp_path), "t"))
    t.overwrite(spark.createDataFrame(rows[:2], schema))
    t.append(spark.createDataFrame(rows[2:], schema))

    before = started_jobs()
    remembered = t.read(spark).schema
    assert started_jobs() - before == 0
    inferred = ManifestTable(t.root).read(spark).schema
    assert remembered == inferred
    assert inferred["id"].nullable  # widened, as inference widens it
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    assert {b: _fields(s) for b, s in _recorded_schemas(t).items()} == {
        b: _fields(s) for b, s in _inferred_schemas(spark, t).items()
    }

    # partition columns of every type, a NULL partition value, hidden
    # transforms, field metadata, and an added column in a later write dir
    part_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True, {"comment": "payload"}),
        T.StructField("p_date", T.DateType()),
        T.StructField("p_ts", T.TimestampType()),
        T.StructField("p_ntz", T.TimestampNTZType()),
        T.StructField("p_str", T.StringType()),
        T.StructField("p_int", T.IntegerType()),
        T.StructField("p_dec", T.DecimalType(10, 2)),
    ])
    day = datetime.date(2026, 3, 4)
    part_rows = [
        (1, "a", day, ts, ts, "x y", 7, decimal.Decimal("1.50")),
        (2, "b", day, ts, ts, "z", -1, decimal.Decimal("-2.25")),
        (3, "c", None, None, None, None, None, None),
    ]
    typed = {
        "p_date": T.DateType(), "p_ts": T.TimestampType(),
        "p_ntz": T.TimestampNTZType(), "p_str": T.StringType(),
        "p_int": T.IntegerType(), "p_dec": T.DecimalType(10, 2),
    }
    specs = [
        list(typed),
        ["months(p_date)", "days(p_ts)"],
        ["p_int", "months(p_ntz)"],
    ]
    for i, spec in enumerate(specs):
        t = ManifestTable(os.path.join(str(tmp_path), f"p{i}"), spec)
        t.overwrite(spark.createDataFrame(part_rows[:2], part_schema))
        t.append(
            spark.createDataFrame(part_rows[2:], part_schema)
            .withColumn("extra", F.lit(9))
        )
        recorded = _recorded_schemas(t)
        assert set(recorded) == _live_bases(t)
        assert {b: _fields(s) for b, s in recorded.items()} == {
            b: _fields(s) for b, s in _inferred_schemas(spark, t).items()
        }, spec

        fresh = ManifestTable(t.root)
        before = started_jobs()
        df = fresh.read(spark)
        assert started_jobs() - before == 0, spec
        got = sorted(
            tuple(r) for r in df.select(*part_schema.names, "extra").collect()
        )
        for c, dt in typed.items():  # partition_types casts still apply
            assert df.schema[c].dataType == dt, (spec, c)
        assert df.schema["v"].metadata == {"comment": "payload"}
        assert got == sorted(
            (*r, None) for r in part_rows[:2]
        ) + [(*part_rows[2], 9)]

        _strip_recorded_schemas(t.root)
        before = started_jobs()
        legacy = ManifestTable(t.root).read(spark)
        assert started_jobs() - before > 0  # the inference fallback ran
        assert _fields(legacy.schema) == _fields(df.schema), spec
        assert sorted(
            tuple(r)
            for r in legacy.select(*part_schema.names, "extra").collect()
        ) == got


#: kind -> table factory
_FRESH_READ_TABLES = {
    "manifest": ManifestTable,
    "manifest_identity": lambda root: ManifestTable(root, ["grp"]),
    "manifest_months": lambda root: ManifestTable(root, ["months(d)"]),
    "manifest_days": lambda root: ManifestTable(root, ["days(ts)"]),
}
_FRESH_SCHEMA = "id long, grp string, d date, ts timestamp, val double"


@pytest.mark.parametrize("kind", sorted(_FRESH_READ_TABLES))
def test_fresh_handle_reads_without_inference(spark, tmp_path, kind,
                                               started_jobs):
    """``read`` on a fresh handle starts no Spark job before its action
    after every write verb: the commit recorded the read schema, so no
    footer is inferred (a cold consumer or CLI process reading a table
    the engine wrote)."""
    make = _FRESH_READ_TABLES[kind]
    root = os.path.join(str(tmp_path), "t")
    day = datetime.date(2026, 1, 1)
    expected = {}

    def frame(rows):
        expected.update((i, v) for i, _, _, v in rows)
        return spark.createDataFrame(
            [
                (i, g, day + datetime.timedelta(days=k),
                 datetime.datetime(2026, 1, 1) + datetime.timedelta(days=k),
                 v)
                for i, g, k, v in rows
            ],
            _FRESH_SCHEMA,
        )

    def check(verb):
        fresh = make(root)
        before = started_jobs()
        df = fresh.read(spark)
        assert started_jobs() - before == 0, verb
        assert sorted((r.id, r.val) for r in df.collect()) == sorted(
            expected.items()
        ), verb

    t = make(root)
    t.overwrite(frame([(1, "a", 0, 1.0), (2, "a", 0, 2.0), (3, "b", 40, 3.0)]))
    check("overwrite")
    t.append(frame([(4, "b", 40, 4.0), (5, "c", 70, 5.0)]))
    check("append")
    make(root).merge(spark, frame([(1, "a", 0, 10.0), (6, "d", 100, 6.0)]),
                     ["id"])
    check("merge")
    make(root).merge_on_read(spark, frame([(2, "a", 0, 20.0)]), ["id"])
    check("merge_on_read")
    make(root).delete_where(spark, "id = 3")
    del expected[3]
    assert any(e.get("dv") for e in t.select_entries()[0])
    check("delete_where")
    assert make(root).compact(spark, min_files=2) > 0
    check("compact")


def test_recorded_schemas_follow_the_live_files(spark, tmp_path,
                                                started_jobs):
    """The manifest's schema map covers exactly the live write dirs after
    every verb that republishes an older or copied file set: rollback
    (from a fresh handle, so the map comes from the loaded manifest),
    clone, compact, vacuum and snapshot expiry."""
    root = os.path.join(str(tmp_path), "t")
    schema = "id long, grp string, val double"

    def rows(df):
        return sorted(tuple(r) for r in df.select("id", "grp", "val").collect())

    def fresh_read(r=root):
        before = started_jobs()
        df = ManifestTable(r).read(spark)
        assert started_jobs() - before == 0
        return rows(df)

    t = ManifestTable(root, ["grp"])
    v1 = [(1, "a", 1.0), (2, "b", 2.0)]
    v2 = [(3, "a", 3.0)]
    t.overwrite(spark.createDataFrame(v1, schema))
    t.append(spark.createDataFrame(v2, schema))
    t.overwrite(spark.createDataFrame([(9, "z", 9.0)], schema))
    assert set(_recorded_schemas(t)) == _live_bases(t)
    assert len(_live_bases(t)) == 1

    ManifestTable(root).rollback_to(2)
    assert set(_recorded_schemas(t)) == _live_bases(t) == _live_bases(t, 2)
    assert fresh_read() == sorted(v1 + v2)

    clone = t.clone_to(os.path.join(str(tmp_path), "clone"))
    assert set(_recorded_schemas(clone)) == _live_bases(clone)
    assert fresh_read(clone.root) == sorted(v1 + v2)

    assert ManifestTable(root).compact(spark, min_files=2) == 1
    assert set(_recorded_schemas(t)) == _live_bases(t)
    t.vacuum(keep_manifests=1)
    t.expire_snapshots(older_than="9999-12-31 00:00:00")
    assert t.versions() == [int(t.current_manifest_name()[9:17])]
    assert set(_recorded_schemas(t)) == _live_bases(t)
    assert fresh_read() == sorted(v1 + v2)


def test_tables_without_recorded_schemas_read_through_inference(
    spark, tmp_path, started_jobs
):
    """A table written before commits recorded read schemas (no manifest
    map) still reads, live and by time travel, the rows and schema it
    reads with the record."""
    schema = "id long, grp string, val double"
    base = [(1, "a", 1.0), (2, "b", 2.0)]
    batch = [(2, "b", 20.0), (3, "c", 3.0)]
    merged = [(1, "a", 1.0), (2, "b", 20.0), (3, "c", 3.0)]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    m = ManifestTable(os.path.join(str(tmp_path), "m"), ["grp"])
    m.overwrite(spark.createDataFrame(base, schema))
    m.merge(spark, spark.createDataFrame(batch, schema), ["id"])
    u = ManifestTable(os.path.join(str(tmp_path), "u"))
    u.overwrite(spark.createDataFrame(base, schema))
    u.merge(spark, spark.createDataFrame(batch, schema), ["id"])
    recorded = {
        "m": ManifestTable(m.root).read(spark).schema,
        "m1": ManifestTable(m.root).read(spark, version=1).schema,
        "u": ManifestTable(u.root).read(spark).schema,
    }

    for root in (m.root, u.root):
        _strip_recorded_schemas(root)
    for key, make, got in [
        ("m", lambda: ManifestTable(m.root).read(spark), merged),
        ("m1", lambda: ManifestTable(m.root).read(spark, version=1), base),
        ("u", lambda: ManifestTable(u.root).read(spark), merged),
    ]:
        before = started_jobs()
        df = make()
        assert started_jobs() - before > 0, key  # inferred
        assert df.schema == recorded[key], key
        assert rows(df.select("id", "grp", "val")) == got, key


def test_merge_opening_a_partition_reads_no_footer(spark, tmp_path,
                                                   started_jobs):
    """A partitioned merge whose batch opens a new partition value reads
    an empty slice; its schema comes from the recorded map, not from
    inferring one live file."""
    schema = "id long, grp string, val double"
    root = os.path.join(str(tmp_path), "t")
    ManifestTable(root, ["grp"]).overwrite(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema)
    )
    t = ManifestTable(root)
    slice_jobs = []
    read = t.read

    def counted(*args, **kwargs):
        before = started_jobs()
        out = read(*args, **kwargs)
        slice_jobs.append(started_jobs() - before)
        return out

    t.read = counted
    t.merge(spark, spark.createDataFrame([(3, "new", 3.0)], schema), ["id"])
    assert slice_jobs == [0]
    assert sorted(tuple(r) for r in ManifestTable(root).read(spark).select(
        "id", "grp", "val").collect()) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, "new", 3.0)]


# --------------------------------------------------------- merge contract
_MERGE_SCHEMA = (
    "id long, grp string, val double, _sdc_deleted_at timestamp, "
    "_sdc_seq long"
)
_BASE = [
    (1, "a", 1.0, None, 1), (2, "a", 2.0, None, 1),
    (3, "b", 3.0, None, 1), (4, "b", 4.0, None, 5),
]
_GONE = datetime.datetime(2026, 1, 2)
#: case -> (batch rows, merge kwargs, expected live (id, val) rows)
_MERGE_CASES = {
    "upsert": (
        [(2, "a", 20.0, None, 2), (5, "b", 5.0, None, 2)], {},
        [(1, 1.0), (2, 20.0), (3, 3.0), (4, 4.0), (5, 5.0)],
    ),
    "soft_delete": (
        [(1, "a", 1.0, _GONE, 2)], {},
        [(2, 2.0), (3, 3.0), (4, 4.0)],
    ),
    "hard_delete": (
        [(1, "a", 1.0, _GONE, 2), (3, "b", 30.0, None, 2)],
        {"hard_delete": True},
        [(2, 2.0), (3, 30.0), (4, 4.0)],
    ),
    # id=4's target row is at seq 5: the seq-3 replay must not roll it back
    "stale_replay": (
        [(4, "b", -4.0, None, 3), (3, "b", 33.0, None, 3)],
        {"guard_col": "_sdc_seq"},
        [(1, 1.0), (2, 2.0), (3, 33.0), (4, 4.0)],
    ),
}
_MERGE_TABLES = {
    "manifest": ManifestTable,
    "manifest_partitioned": lambda root: ManifestTable(root, ["grp"]),
}


def _merge_rows(df):
    cols = [f.name for f in T._parse_datatype_string(_MERGE_SCHEMA).fields]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("case", sorted(_MERGE_CASES))
@pytest.mark.parametrize("kind", sorted(_MERGE_TABLES))
def test_merge_contract_matches_merge_upsert(spark, tmp_path, kind, case):
    """Unpartitioned and partitioned tables share one ``merge`` contract:
    the published table equals ``merge_upsert`` over the same frames."""
    rows, kwargs, live = _MERGE_CASES[case]
    base = spark.createDataFrame(_BASE, _MERGE_SCHEMA)
    batch = spark.createDataFrame(rows, _MERGE_SCHEMA)
    t = _MERGE_TABLES[kind](os.path.join(str(tmp_path), "t"))
    t.overwrite(base)
    t.merge(spark, batch, ["id"], **kwargs)
    got = _merge_rows(t.read(spark))
    assert got == _merge_rows(merge_upsert(base, batch, ["id"], **kwargs))
    assert sorted((r[0], r[2]) for r in got if r[3] is None) == live


def test_unknown_merge_strategy_raises(spark, tmp_path):
    spec = StreamSpec(
        tap_stream_id="t", primary_keys=["id"],
        options={"merge_strategy": "merge-on-read"},
    )
    batch = spark.createDataFrame(
        [("c", 1, "2026-01-02", 1, 1.0)],
        "_op string, _seq long, _event_ts string, id long, val double",
    )
    t = ManifestTable(os.path.join(str(tmp_path), "t"))
    with pytest.raises(ValueError, match="unknown merge_strategy"):
        apply_change_batch(t, batch, spec)
    assert not t.exists()


_SCOPED_CONFS = (
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
)


def _jobs_started_by(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts. A sentinel job in a second
    group runs after fn: the listener reports jobs in start order, so once
    the sentinel shows, every job fn started has been counted."""
    import time
    import uuid

    sc = spark.sparkContext
    group, sentinel = (f"{n}-{uuid.uuid4().hex[:8]}" for n in ("fn", "sent"))
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_known_paths_read_lists_on_the_driver(spark, tmp_path):
    """A write dir holding more than Spark's parallel-listing threshold
    (32 paths) of files is read without a listing job: the manifest names
    every file, so a warm read (schema cached), with or without a
    deletion vector, starts no Spark job at all. Both confs the read
    scopes are back at their prior values after every read, a refused
    one included."""

    def confs():
        # None: not set in the session, so Spark's default applies
        return {k: spark.conf.get(k, None) for k in _SCOPED_CONFS}

    prior = confs()
    t = ManifestTable(os.path.join(str(tmp_path), "t"))
    t.overwrite(
        spark.range(200)
        .select("id", (F.col("id") % 7).alias("v"))
        .repartition(40)
    )
    entries, _ = t.select_entries()
    assert len({e["base"] for e in entries}) == 1 and len(entries) > 32

    def rows():
        return sorted(tuple(r) for r in t.read(spark).collect())

    assert rows() == [(i, i % 7) for i in range(200)]  # warms the schema
    assert confs() == prior
    assert _jobs_started_by(spark, lambda: t.read(spark)) == 0
    assert confs() == prior

    t.delete_where(spark, F.col("v") == 0)
    assert any(e.get("dv") for e in t.select_entries()[0])
    assert _jobs_started_by(spark, lambda: t.read(spark)) == 0
    assert confs() == prior
    assert rows() == [(i, i % 7) for i in range(200) if i % 7]

    # a partitioned write of no rows publishes a manifest with no files
    empty = ManifestTable(
        os.path.join(str(tmp_path), "empty"), partition_by=["v"]
    )
    empty.overwrite(spark.createDataFrame([], "id long, v long"))
    with pytest.raises(ValueError, match="empty manifest"):
        empty.read(spark)
    assert confs() == prior


def test_known_paths_conf_is_local_only(spark, tmp_path):
    """Serial listing is chosen only for local paths beyond Spark's
    threshold; any other scheme keeps Spark's setting."""
    from pipelinewise_spark.operators.fsio import LISTING_THRESHOLD, MetaFS

    threshold = int(spark.conf.get(LISTING_THRESHOLD))
    local = MetaFS(str(tmp_path))
    assert local.known_paths_conf(spark, threshold) == {}
    assert local.known_paths_conf(spark, threshold + 1) == {
        LISTING_THRESHOLD: str(threshold + 1)
    }
    assert MetaFS("mock:///t").known_paths_conf(spark, 4096) == {}


@pytest.mark.parametrize("recorded", [True, False])
def test_null_partition_slice_keeps_the_write_dir_schema(spark, tmp_path,
                                                         recorded):
    """Reading only a write dir's NULL partition first must not change
    how the handle reads the rest of that dir: inference types an
    all-NULL partition key as void, and a handle that remembered that
    for the dir read every other value of it as NULL."""
    root = os.path.join(str(tmp_path), "t")
    ManifestTable(root, ["p"]).overwrite(
        spark.createDataFrame([(1, "x"), (2, None)], "id long, p string")
    )
    if not recorded:
        _strip_recorded_schemas(root)
    t = ManifestTable(root)
    assert t.read(spark, partitions={"p": [None]}).collect() == [(2, None)]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "x"), (2, None)
    ]
