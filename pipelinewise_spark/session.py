"""SparkSession factory with scale-oriented defaults.

Single place where engine-wide configuration is decided so that tests, bench
and the driver contract all run identical plans.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Defaults that are settable on a RUNNING session (SQL confs via
#: ``spark.conf.set``; ``spark.hadoop.*`` keys, prefix stripped, via the
#: Hadoop configuration). ``get_spark`` bakes them in at build time; a
#: session built elsewhere (a plain ``SparkSession.builder`` session) gets
#: the same values applied per query by ``__spark_entry__.py``. All are
#: value-neutral.
RUNTIME_CONF = {
    # Coalesce by TARGET SIZE, not core count (the Spark docs' own
    # production recommendation): with the default parallelismFirst=true
    # AQE refuses to coalesce below defaultParallelism, so every
    # KB-sized shuffle (merge transactions, metadata frames, report
    # assemblies) still schedules 32 near-empty tasks. Size-first
    # coalescing collapses those to 1-2 tasks while leaving genuinely
    # large shuffles wide (advisory size caps each partition). The
    # advisory default is deliberately small for the local bench box so
    # mid-size aggregates keep multi-core parallelism; production
    # clusters should raise it to 64-256m via SPARK_GRAFT_ADVISORY_MB
    # (guide: 100 MB-1 GB per partition at scale).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
        os.environ.get("SPARK_GRAFT_ADVISORY_MB", "8") + "m"
    ),
    # Output-commit cost: v1 commits rename every task's output TWICE
    # (task dir -> job attempt dir -> destination), serially on the
    # driver; v2 renames once at task commit. Engine writes land in
    # fresh snapshot/version directories that are only made visible by
    # an atomic manifest/pointer publish afterwards, so a failed job's
    # partial files are invisible garbage (vacuum sweeps them), and the
    # _SUCCESS marker is redundant with that publish protocol. Measured
    # on the bench host: a 32-file write+read transaction drops 2.74s
    # -> 0.96s with these two.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs":
        "false",
    # Spark 4.1's checkpoint-file checksums leave their
    # ChecksumCheckpointFileManager threads alive after a streaming query
    # stops (~40 threads per bounded run, measured): a long multi-query
    # session accumulates hundreds of dead-pool threads and every
    # subsequent query slows ~2x under the scheduler/GC-root load. The
    # checksums also add one sidecar write per checkpoint commit. Engine
    # default is OFF — bounded fixture streams re-run from source on
    # corruption; durability-critical deployments can re-enable per
    # session (the sidecars are additive and ignored when off).
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}

#: Defaults chosen for a local[32] dev box; on a real cluster the same knobs
#: scale by overriding via ``extra_conf`` (e.g. shuffle partitions ≈ 2-3× total
#: cores, maxPartitionBytes 128-256 MB). AQE re-coalesces at runtime either way.
_DEFAULT_CONF = {
    # deterministic timestamps across engines (DuckDB oracle is tz-naive UTC)
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOT set (r14, measured): excluding InferFiltersFromGenerate. The
    # rule adds `size(e) > 0 AND isnotnull(e)` below explode(e) and
    # pushdown substitutes the full expression into the scan filter,
    # re-evaluating computed token/shingle arrays 2x per row at the scan.
    # A plan-diff scan found 12 affected queries, but the interleaved A/B
    # over all of them geomeaned 0.99 (0.89-1.08 both directions) — the
    # duplicate evaluation parallelizes in wide scan stages and is noise
    # at bench scale. The one confirmed blowup (a single-task scan stage
    # BELOW the widening exchange) was extend_lsh_index, fixed locally by
    # pinning the shingle frame (functions/dedup.py).
    # a local[32] box: keep shuffles wide enough to parallelize, small enough
    # to avoid tiny-task overhead at sf<=0.1
    "spark.sql.shuffle.partitions": "32",
    # Arrow for every pandas interchange (pandas UDFs, toPandas)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 100 TB stance: never silently truncate broadcast; 64 MB threshold lets
    # dims (region/nation/supplier/part at our SFs) broadcast while big facts shuffle
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # parquet: vectorized reader + pushdown are defaults, stated for clarity
    "spark.sql.parquet.filterPushdown": "true",
    # tolerate TIMESTAMP(NANOS) parquet (read as long; sources convert to µs)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The generated-class cache is one LRU per JVM, 100 entries by
    # default. One Singer replay compiles 103 classes, so every later
    # replay in a long-lived process recompiled 35-72 of them (measured
    # on a 4-vCPU host); at 2,000 a warm replay compiles none. Generated
    # classes average 1.9 KB of bytecode, so a full cache is a few MB.
    # Static: only session start can set it.
    "spark.sql.codegen.cache.maxEntries": "2000",
    **RUNTIME_CONF,
    # quieter local runs
    "spark.ui.enabled": "false",
    # the status store tracks jobs/stages/executions even with the UI off;
    # a long single session (bench: 119 queries; a production daemon:
    # unbounded) otherwise accumulates listener state on the driver heap
    "spark.sql.ui.retainedExecutions": "8",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "2000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "pipelinewise-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime confs for the ``with`` body only: every key gets its
    prior value back on every exit, an exception included (a key that
    was not set is unset again, so it keeps following Spark's default)."""
    prior = {key: spark.conf.get(key, None) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
