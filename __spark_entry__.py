"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)`` — flagship query (TPC-H-Q1-shaped pricing summary) on
  /root/testdata/sf0.001.
- ``queries()`` — every implemented operator/query from SURVEY.md §2 (and the
  beyond-reference LLM-data operators), keyed by name.
- ``oracle_sql()`` — DuckDB-equivalent SQL for each query (same column names;
  aggregates aliased identically on both sides).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pipelinewise_spark.caching import release_caches  # noqa: E402
from pipelinewise_spark.queries import ORACLES, QUERIES  # noqa: E402
from pipelinewise_spark.session import RUNTIME_CONF  # noqa: E402


_HADOOP_PREFIX = "spark.hadoop."
_warned_conf_keys: set[str] = set()


def _warn_conf_skip(key: str, exc: Exception) -> None:
    """Log (once per key) when an optimization setting cannot be applied —
    the queries still run correctly, just without that optimization."""
    if key not in _warned_conf_keys:
        _warned_conf_keys.add(key)
        print(
            f"[__spark_entry__] skipped optional conf {key}: "
            f"{type(exc).__name__}: {exc}",
            file=sys.stderr,
        )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full training-data curation pipeline (gopher filter →
    PII scrub → exact dedup → token-budget shards) as one declarative plan
    on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["curation_pipeline_documents"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable first releases the PREVIOUS query's operator-registered
    caches (see pipelinewise_spark/caching.py): the driver runs many
    queries in one session, and without the sweep persisted intermediates
    (LSH shingle sets etc.) accumulate in executor storage across the run.
    The sweep happens before plan construction, so it never unpersists the
    frames the current query is about to register.
    """

    def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_caches(spark)
            # Callers may run these under a VANILLA session: apply the
            # engine's runtime-settable defaults (session.py RUNTIME_CONF)
            # before any streaming fixture starts. Each setting gets its
            # own narrow guard so one unsupported key can't silently skip
            # the rest; a skipped setting is logged once per process.
            # Static confs in session._DEFAULT_CONF (such as the sized
            # codegen cache) are not applied here: Spark refuses to change
            # a static conf on a running session, so a vanilla session
            # keeps Spark's defaults for them.
            hadoop_conf = None
            for key, val in RUNTIME_CONF.items():
                try:
                    if key.startswith(_HADOOP_PREFIX):
                        if hadoop_conf is None:
                            hadoop_conf = (
                                spark.sparkContext._jsc.hadoopConfiguration()
                            )
                        hadoop_conf.set(key[len(_HADOOP_PREFIX):], val)
                    else:
                        spark.conf.set(key, val)
                except Exception as exc:
                    _warn_conf_skip(key, exc)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each entry in ``queries()``."""
    return dict(ORACLES)
