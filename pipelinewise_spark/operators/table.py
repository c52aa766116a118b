"""ParquetTable — snapshot-versioned parquet table with atomic publish.

The reference publishes atomically via load-to-temp-table + ``ALTER TABLE ...
SWAP WITH`` (/root/reference/pipelinewise/fastsync/commons/target_snowflake.py:448-469).
Delta/Iceberg give this for free; since this environment has plain parquet, we
implement the same guarantee with snapshot directories and a version pointer:

    <root>/<table>/
        _VERSION            # text file: name of the live snapshot dir
        snap-00000001/      # immutable parquet snapshot
        snap-00000002/
        _schema-snap-00000002.json  # its read schema (unpartitioned only)

A writer materializes a complete new ``snap-N`` directory, then atomically
replaces ``_VERSION`` (tmp + rename). Readers resolve ``_VERSION`` once and
read an immutable directory — object-store friendly (no dir renames), and
readers never observe partial data. This is exactly the lakehouse
table-format trick (Iceberg metadata pointer) in miniature.

An unpartitioned snapshot's read schema is written beside it before the
swap, so a fresh handle reads without a footer-inference job; it sits
outside the snapshot dir, which holds data files only.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipelinewise_spark.operators.merge import append_only, merge_upsert

_VERSION_FILE = "_VERSION"


def _as_nullable(dt: T.DataType) -> T.DataType:
    """The file-relation normal form Spark's parquet inference returns:
    every field (recursively) nullable. Caching a written frame's schema
    for later reads must match inference exactly, so apply the same
    widening."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _as_nullable(f.dataType), True, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


class ParquetTable:
    def __init__(self, root: str):
        self.root = root
        # snapshot dir -> StructType: a transaction loop (capture replay,
        # CDC apply, SCD folds) reads the snapshot it just wrote once per
        # flush; without this every read pays a footer-inference job
        # (~0.3s of driver+job fixed cost on the bench host, per flush).
        # Keyed by the immutable snap dir, so an external writer (a new
        # snapshot) can never be served a stale schema.
        self._schema_cache: dict[str, T.StructType] = {}

    # ------------------------------------------------------------- metadata
    def _version_path(self) -> str:
        return os.path.join(self.root, _VERSION_FILE)

    def current_snapshot(self) -> str | None:
        vp = self._version_path()
        if not os.path.exists(vp):
            return None
        with open(vp, encoding="utf-8") as fh:
            name = fh.read().strip()
        return os.path.join(self.root, name) if name else None

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    def _schema_path(self, snap: str) -> str:
        # not "snap-*": _next_snapshot_dir parses a number out of those
        return os.path.join(self.root, f"_schema-{os.path.basename(snap)}.json")

    def _next_snapshot_dir(self) -> str:
        os.makedirs(self.root, exist_ok=True)
        existing = [
            d for d in os.listdir(self.root) if d.startswith("snap-")
        ]
        n = 1 + max((int(d.split("-")[1]) for d in existing), default=0)
        return os.path.join(self.root, f"snap-{n:08d}")

    def _publish(self, snap_dir: str) -> None:
        os.makedirs(self.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(os.path.basename(snap_dir))
        os.replace(tmp, self._version_path())

    # ------------------------------------------------------------------ IO
    def read(self, spark: SparkSession) -> DataFrame:
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table has no published snapshot: {self.root}")
        cached = self._schema_cache.get(snap)
        if cached is None and os.path.exists(self._schema_path(snap)):
            with open(self._schema_path(snap), encoding="utf-8") as fh:
                cached = T.StructType.fromJson(json.load(fh))
        if cached is not None:
            self._schema_cache = {snap: cached}
            return spark.read.schema(cached).parquet(snap)
        # partitioned, or written before snapshots recorded their schema:
        # remember what inference said, so repeat reads of the SAME
        # immutable snapshot (per-micro-batch folds) skip the footer job
        df = spark.read.parquet(snap)
        self._schema_cache = {snap: df.schema}
        return df

    def schema(self, spark: SparkSession) -> T.StructType | None:
        return self.read(spark).schema if self.exists() else None

    def count_rows(self) -> int:
        """Live row count from the snapshot's parquet footers, read on the
        driver: no data pages and no Spark job (``ManifestTable.count_rows``'s
        contract). Hive-partitioned snapshots are walked recursively."""
        import pyarrow.parquet as pq

        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table has no published snapshot: {self.root}")
        return sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, files in os.walk(snap)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Full-refresh publish (ACTIVATE_VERSION / atomic swap semantics).

        ``partition_by`` hive-partitions the snapshot so downstream reads
        prune partitions (at 100 TB: partition facts by ingest date / status;
        the reader shows PartitionFilters instead of scanning everything).
        """
        snap = self._next_snapshot_dir()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap)
        if partition_by:
            # hive layout moves partition cols to the tail and their read
            # types come from directory-name inference — don't guess, let
            # the first read infer
            self._schema_cache = {}
        else:
            schema = _as_nullable(df.schema)
            with open(self._schema_path(snap), "w", encoding="utf-8") as fh:
                fh.write(schema.json())
            self._schema_cache = {snap: schema}
        self._publish(snap)
        return snap

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        primary_keys: Sequence[str],
        hard_delete: bool = False,
        guard_col: str | None = None,
    ) -> None:
        """Copy-on-write PK MERGE (``ManifestTable.merge``'s contract):
        the whole table is read, merged with the batch and republished.

        The count-less PK repartition lets AQE size the rewrite by bytes,
        so the table lands as few right-sized files per merge instead of
        shuffle-partition-many tiny ones that every later merge re-lists
        (the write-shape rule)."""
        merged = merge_upsert(
            self.read(spark), batch, primary_keys,
            hard_delete=hard_delete, guard_col=guard_col,
        )
        self.overwrite(merged.repartition(*[F.col(c) for c in primary_keys]))

    def append(self, df: DataFrame) -> str:
        """No-PK append (``ManifestTable.append``'s contract): the live rows
        and the batch are unioned by name and republished copy-on-write."""
        if not self.exists():
            return self.overwrite(df)
        return self.overwrite(append_only(self.read(df.sparkSession), df))

    def vacuum(self, keep: int = 2) -> None:
        """Drop all but the newest ``keep`` snapshots (old readers beware)."""
        snaps = sorted(
            d for d in os.listdir(self.root) if d.startswith("snap-")
        )
        live = os.path.basename(self.current_snapshot() or "")
        for d in snaps[:-keep]:
            if d != live:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(self._schema_path(d))
