"""ParquetTable: atomic publish, readers isolated from in-flight writes,
vacuum, partition pruning; the ``merge`` contract both table classes
share."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import io
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from pipelinewise_spark.operators.manifest_table import ManifestTable
from pipelinewise_spark.operators.merge import merge_upsert
from pipelinewise_spark.operators.table import ParquetTable
from pipelinewise_spark.plans.spec import StreamSpec
from pipelinewise_spark.streaming.cdc import apply_change_batch
from pipelinewise_spark.sources.files import read_table


def test_atomic_publish_and_vacuum(spark, sf_dir, tmp_path):
    t = ParquetTable(os.path.join(str(tmp_path), "nation"))
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read(spark)

    nation = read_table(spark, sf_dir, "nation")
    t.overwrite(nation)
    assert t.read(spark).count() == nation.count()

    # readers resolve the OLD snapshot while a new one is built: the version
    # pointer only moves on publish
    old_snap = t.current_snapshot()
    t.overwrite(nation.limit(5))
    assert t.current_snapshot() != old_snap
    assert t.read(spark).count() == 5
    assert os.path.exists(old_snap)  # still readable by in-flight readers

    t.overwrite(nation.limit(3))
    t.vacuum(keep=1)
    snaps = [d for d in os.listdir(t.root) if d.startswith("snap-")]
    assert len(snaps) == 1
    assert t.read(spark).count() == 3


def test_partitioned_snapshot_prunes(spark, sf_dir, tmp_path):
    t = ParquetTable(os.path.join(str(tmp_path), "orders"))
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
    """r13: read() serves the cached written schema for unpartitioned
    snapshots — it must be byte-identical to what footer inference
    returns (nullable-widened), and a NEW snapshot must never be served
    a stale cache entry."""
    t = ParquetTable(os.path.join(str(tmp_path), "orders"))
    orders = read_table(spark, sf_dir, "orders").limit(100)
    t.overwrite(orders)
    cached = t.read(spark).schema
    inferred = spark.read.parquet(t.current_snapshot()).schema
    assert cached == inferred

    # second overwrite with a DIFFERENT schema: cache follows the pointer
    t.overwrite(orders.withColumn("extra", F.lit(1)))
    assert "extra" in t.read(spark).columns
    assert t.read(spark).schema == spark.read.parquet(
        t.current_snapshot()
    ).schema

    # a FRESH instance (no cache) reads identical data and schema
    t2 = ParquetTable(t.root)
    assert t2.read(spark).schema == t.read(spark).schema
    assert t2.read(spark).count() == 100


def test_schema_cache_partitioned_not_cached(spark, sf_dir, tmp_path):
    """Partitioned snapshots re-infer (hive layout reorders partition
    columns and types them from directory names)."""
    t = ParquetTable(os.path.join(str(tmp_path), "orders_part"))
    orders = read_table(spark, sf_dir, "orders").limit(100)
    t.overwrite(orders, partition_by=["o_orderpriority"])
    # inference puts the partition column last; cached-from-df would not
    assert t.read(spark).schema == spark.read.parquet(
        t.current_snapshot()
    ).schema
    assert t.read(spark).count() == 100


def test_parquet_count_rows_matches_read_count(spark, sf_dir, tmp_path):
    """Footer-sum ``count_rows`` equals a scan's count after an overwrite,
    a hard-delete merge and a partitioned overwrite."""
    t = ParquetTable(os.path.join(str(tmp_path), "orders"))
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


def test_manifest_write_schema_matches_inference(spark, tmp_path, started_jobs):
    """An unpartitioned ManifestTable remembers each write's schema, widened
    as inference widens it: the writing handle reads its commits without an
    inference job and gets exactly the schema a fresh handle infers."""
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
    "parquet": ParquetTable,
    "manifest": ManifestTable,
    "manifest_partitioned": lambda root: ManifestTable(root, ["grp"]),
}


def _merge_rows(df):
    cols = [f.name for f in T._parse_datatype_string(_MERGE_SCHEMA).fields]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("case", sorted(_MERGE_CASES))
@pytest.mark.parametrize("kind", sorted(_MERGE_TABLES))
def test_merge_contract_matches_merge_upsert(spark, tmp_path, kind, case):
    """Both table classes expose one ``merge`` verb with one contract:
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


def test_merge_on_read_strategy_needs_manifest_table(spark, tmp_path):
    spec = StreamSpec(
        tap_stream_id="t", primary_keys=["id"],
        options={"merge_strategy": "merge_on_read"},
    )
    batch = spark.createDataFrame(
        [("c", 1, "2026-01-02", 1, 1.0)],
        "_op string, _seq long, _event_ts string, id long, val double",
    )
    t = ParquetTable(os.path.join(str(tmp_path), "t"))
    with pytest.raises(ValueError, match="merge_strategy"):
        apply_change_batch(t, batch, spec)
    assert not t.exists()


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
