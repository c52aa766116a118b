"""The three replication workloads and their DuckDB oracles.

Each workload drives the engine only through its public entry points:
``PipelineRunner.run`` on a ``compile_yaml`` spec, ``run_cdc_stream`` and
``replay_capture``. A workload has these parts:

- ``setup()``: write the seeded inputs and preload the target;
- ``stage(i)``: untimed preparation of step ``i`` (a change file landing);
- ``step(i)``: one timed unit of work; returns the rows it applied;
- ``step_root(i)``: the target root step ``i`` writes under;
- ``targets()``: the live target tables, for the consumer read and
  ``live_bytes()``;
- ``check(con)``: compare every target with a DuckDB computation over the
  same inputs; returns {table: mismatched rows}.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow as pa

import inputs

EXTRACTED_AT = "2024-06-01 12:00:00"


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> int:
    return con.execute(sql).fetchone()[0]


def compare(con, expected_sql: str, actual: pa.Table) -> int:
    """Rows present on one side and not the other (multiset difference,
    both directions). Actual columns are matched by name and cast to the
    expected column types (a value that does not cast becomes NULL and so
    mismatches); a missing or extra column counts as every row."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {expected_sql}")
    con.register("act_raw", actual)
    cols = con.execute("DESCRIBE exp").fetchall()
    if sorted(c[0] for c in cols) != sorted(actual.column_names):
        n = _rows(con, "SELECT count(*) FROM exp") + actual.num_rows
        return max(n, 1)
    proj = ", ".join(f'TRY_CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in cols)
    names = ", ".join(f'"{c}"' for c, *_ in cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE act AS SELECT {proj} FROM act_raw")
    con.unregister("act_raw")
    return _rows(con, f"""
        SELECT (SELECT count(*) FROM (SELECT {names} FROM exp
                                      EXCEPT ALL SELECT {names} FROM act))
             + (SELECT count(*) FROM (SELECT {names} FROM act
                                      EXCEPT ALL SELECT {names} FROM exp))
    """)


def dir_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def table_bytes(table) -> int:
    """Bytes of the files a target table's live snapshot references."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    if isinstance(table, ManifestTable):
        name = table.current_manifest_name()
        with open(os.path.join(table.root, name), encoding="utf-8") as fh:
            entries = json.load(fh)["files"]
        rels = [e["path"] for e in entries] + [
            dv for e in entries for dv in e.get("dv", [])]
        return sum(os.path.getsize(os.path.join(table.root, r)) for r in rels)
    return dir_bytes(table.current_snapshot())[0]


class Workload:
    name = ""
    #: default input scale, 1.0 = TPC-H sf0.1 row counts
    SCALE = 0.1
    #: untimed steps before timing starts (JIT, caches, lazy set-up)
    WARM_STEPS = 1
    #: fewest timed steps in a run, so every run's median sits at the same
    #: place on the JVM's warm-up curve
    MIN_STEPS = 1

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.seed = seed
        self.sizes = inputs.Sizes(scale)
        self.input_bytes = 0   # source bytes one step consumes

    def describe(self) -> dict:
        """Input sizes, printed with the metrics."""
        return {}

    def stage(self, i: int) -> None:
        """Untimed preparation of step ``i``."""

    def step_root(self, i: int) -> str:
        """The target root step ``i`` writes under."""
        raise NotImplementedError

    def changed_rows(self) -> int:
        """Target rows the last step changed (write-amplification base)."""
        raise NotImplementedError

    def live_bytes(self) -> int:
        """Bytes of the live snapshots of every target table. Old snapshots
        are left out, so the figure does not grow with the step count."""
        return sum(table_bytes(t) for t in self.targets().values())


# ------------------------------------------------------------- full_load
FULL_LOAD_YAML = """
id: perfbench_full_load
target_path: "{target}"
schemas:
  - source_schema: tpch
    tables:
      - table_name: lineitem
        replication_method: FULL_TABLE
        transformations:
          - {{column: l_partkey, type: HASH}}
          - {{column: l_tax, type: SET-NULL}}
          - {{column: l_shipdate, type: MASK-DATE}}
      - table_name: customer
        replication_method: FULL_TABLE
        transformations:
          - column: c_name
            type: HASH
            when:
              - {{column: c_mktsegment, equals: BUILDING}}
      - table_name: orders
        replication_method: INCREMENTAL
        replication_key: o_orderdate
        primary_keys: [o_orderkey]
        options: {{table_format: manifest}}
"""

_SDC = (
    f"TIMESTAMP '{EXTRACTED_AT}' AS _sdc_extracted_at, "
    f"TIMESTAMP '{EXTRACTED_AT}' AS _sdc_batched_at, "
    "CAST(NULL AS TIMESTAMP) AS _sdc_deleted_at"
)

FULL_LOAD_ORACLE = {
    "lineitem": f"""
        SELECT l_orderkey, sha256(CAST(l_partkey AS VARCHAR)) AS l_partkey,
               l_suppkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, CAST(NULL AS DOUBLE) AS l_tax, l_returnflag,
               l_linestatus,
               date_trunc('year', l_shipdate)
                 + (l_shipdate - date_trunc('day', l_shipdate)) AS l_shipdate,
               {_SDC}
        FROM src_lineitem""",
    "customer": f"""
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN sha256(c_name) ELSE c_name END AS c_name,
               c_nationkey, c_acctbal, c_mktsegment, {_SDC}
        FROM src_customer""",
    "orders": f"SELECT *, {_SDC} FROM src_orders",
}


class FullLoad(Workload):
    """One ``PipelineRunner.run`` of a three-stream spec, no bookmarks."""

    name = "full_load"
    SCALE = 0.06
    WARM_STEPS = 2
    MIN_STEPS = 5

    def setup(self) -> None:
        from pipelinewise_spark.plans.yaml_config import compile_yaml

        self.tables = inputs.tpch_tables(self.seed, self.sizes)
        self.paths = {}
        for t, tbl in self.tables.items():
            path = os.path.join(self.work, "src", f"{t}.parquet")
            self.input_bytes += inputs.write_parquet(tbl, path)
            self.paths[t] = path
        self.streams = compile_yaml(FULL_LOAD_YAML.format(target="")).streams
        self.sources = {
            f"tpch-{t}": self.spark.read.parquet(p)
            for t, p in self.paths.items()
        }
        self.rows_per_step = sum(t.num_rows for t in self.tables.values())
        self.target = None

    def describe(self) -> dict:
        return {t: tbl.num_rows for t, tbl in self.tables.items()}

    def step_root(self, i: int) -> str:
        return os.path.join(self.work, f"target-{i}")

    def step(self, i: int) -> int:
        from pipelinewise_spark.plans.yaml_config import compile_yaml
        from pipelinewise_spark.runner import PipelineRunner

        prev, self.target = self.target, self.step_root(i)
        spec = compile_yaml(FULL_LOAD_YAML.format(target=self.target))
        PipelineRunner(self.spark, spec).run(
            self.sources, extracted_at=EXTRACTED_AT, batched_at=EXTRACTED_AT
        )
        if prev is not None:
            shutil.rmtree(prev)
        return self.rows_per_step

    def changed_rows(self) -> int:
        return self.rows_per_step

    def targets(self):
        from pipelinewise_spark.operators.manifest_table import ManifestTable
        from pipelinewise_spark.operators.table import ParquetTable

        return {
            "lineitem": ParquetTable(os.path.join(self.target, "lineitem")),
            "customer": ParquetTable(os.path.join(self.target, "customer")),
            "orders": ManifestTable(os.path.join(self.target, "orders")),
        }

    def check(self, con) -> dict[str, int]:
        for t, p in self.paths.items():
            con.execute(
                f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM '{p}'")
        return {
            t: compare(con, FULL_LOAD_ORACLE[t],
                       tbl.read(self.spark).toArrow())
            for t, tbl in self.targets().items()
        }

    def prepare_exec_s(self, timer) -> float:
        """Executor cost of select/mask/lineage: a no-op sink over
        ``prepare_batch(src)`` minus one over ``src``, summed over streams."""
        from pipelinewise_spark.operators.sync import prepare_batch

        total = 0.0
        for s in self.streams:
            src = self.sources[s.tap_stream_id]
            prepared = prepare_batch(src, s, extracted_at=EXTRACTED_AT,
                                     batched_at=EXTRACTED_AT)
            total += timer(prepared) - timer(src)
        return total


# ----------------------------------------------------------- cdc_trickle
CDC_YAML = """
id: perfbench_cdc
target_path: "{target}"
schemas:
  - source_schema: tpch
    tables:
      - table_name: orders
        replication_method: LOG_BASED
        primary_keys: [o_orderkey]
"""

CDC_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority,
           CAST(_event_ts AS TIMESTAMP) AS _sdc_extracted_at,
           CAST(_event_ts AS TIMESTAMP) AS _sdc_batched_at,
           CASE WHEN _op = 'd' THEN CAST(_event_ts AS TIMESTAMP) END
               AS _sdc_deleted_at,
           _seq AS _sdc_seq
    FROM read_json('{events}/*.jsonl', format = 'newline_delimited',
                   columns = {{_op: 'VARCHAR', _seq: 'BIGINT',
                              _event_ts: 'VARCHAR', o_orderkey: 'BIGINT',
                              o_custkey: 'BIGINT', o_orderstatus: 'VARCHAR',
                              o_totalprice: 'DOUBLE', o_orderdate: 'VARCHAR',
                              o_orderpriority: 'VARCHAR'}})
    QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC) = 1
"""


class CdcTrickle(Workload):
    """A LOG_BASED daemon in steady state: one small change file lands, then
    one AvailableNow ``run_cdc_stream`` on a persistent checkpoint."""

    name = "cdc_trickle"
    SCALE = 0.05
    # the preload runs the stream once; two more cycles bring the merge to
    # its steady cost
    WARM_STEPS = 2
    MIN_STEPS = 7

    def setup(self) -> None:
        from pyspark.sql import types as T

        from pipelinewise_spark.operators.manifest_table import ManifestTable
        from pipelinewise_spark.plans.state import BookmarkStore
        from pipelinewise_spark.plans.yaml_config import compile_yaml

        orders = inputs.tpch_tables(self.seed, self.sizes)["orders"]
        self.n_orders = orders.num_rows
        # about 1% of the table per cycle, keys from the newest 4%
        self.per_cycle = max(20, self.n_orders // 100)
        self.feed = inputs.ChangeFeed(self.seed, orders,
                                      window=max(60, self.n_orders // 25))
        self.events = os.path.join(self.work, "events")
        os.makedirs(self.events)
        self.root = os.path.join(self.work, "target")
        self.spec = compile_yaml(CDC_YAML.format(target=self.root)).streams[0]
        self.table = ManifestTable(os.path.join(self.root, "orders"),
                                   partition_by=["months(o_orderdate)"])
        self.state = BookmarkStore(os.path.join(self.root, "_state.json"))
        self.checkpoint = os.path.join(self.work, "checkpoint")
        self.payload = T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ])
        # preload: the initial snapshot arrives as one insert per row
        self._land(0, self.feed.snapshot_events(orders))
        self.step(0)

    def _land(self, i: int, events: pa.Table) -> None:
        path = os.path.join(self.events, f"changes-{i:06d}.jsonl")
        self.input_bytes = inputs.write_jsonl(events, path)
        self._keys = len(set(events.column("o_orderkey").to_pylist()))

    def describe(self) -> dict:
        return {"orders": self.n_orders, "events_per_cycle": self.per_cycle}

    def stage(self, i: int) -> None:
        self._land(i, self.feed.cycle_events(self.per_cycle,
                                             self.sizes.customer))

    def step_root(self, i: int) -> str:
        return self.root

    def step(self, i: int) -> int:
        from pipelinewise_spark.streaming import cdc

        cdc.run_cdc_stream(self.spark, self.events, self.payload, self.spec,
                           self.table, self.checkpoint, state=self.state)
        return self.per_cycle

    def changed_rows(self) -> int:
        return self._keys

    def targets(self):
        return {"orders": self.table}

    def check(self, con) -> dict[str, int]:
        return {"orders": compare(con, CDC_ORACLE.format(events=self.events),
                                  self.table.read(self.spark).toArrow())}


# --------------------------------------------------------- singer_replay
SINGER_ORACLE = {
    "orders": """
        SELECT CAST(NULL AS BIGINT) AS _sdc_table_version,
               CAST(NULL AS TIMESTAMP) AS _sdc_extracted_at,
               CAST(r->>'o_orderkey' AS BIGINT) AS o_orderkey,
               CAST(r->>'o_custkey' AS BIGINT) AS o_custkey,
               r->>'o_orderstatus' AS o_orderstatus,
               CAST(r->>'o_totalprice' AS DOUBLE) AS o_totalprice,
               r->>'o_orderpriority' AS o_orderpriority,
               r->>'o_channel' AS o_channel
        FROM recs WHERE stream = 'orders'
        QUALIFY row_number() OVER (PARTITION BY r->>'o_orderkey'
                                   ORDER BY lineno DESC) = 1""",
    "lineitem": """
        SELECT CAST(NULL AS BIGINT) AS _sdc_table_version,
               CAST(NULL AS TIMESTAMP) AS _sdc_extracted_at,
               CAST(r->>'l_orderkey' AS BIGINT) AS l_orderkey,
               CAST(r->>'l_linenumber' AS BIGINT) AS l_linenumber,
               CAST(r->>'l_quantity' AS BIGINT) AS l_quantity,
               CAST(r->>'l_extendedprice' AS DOUBLE) AS l_extendedprice,
               r->>'l_returnflag' AS l_returnflag
        FROM recs WHERE stream = 'lineitem'
        QUALIFY row_number() OVER (
            PARTITION BY r->>'l_orderkey', r->>'l_linenumber'
            ORDER BY lineno DESC) = 1""",
}


class SingerReplay(Workload):
    """A faithful ``persist_lines`` replay of a two-stream Singer capture
    into a fresh target per step. There is no warm-up step: a Singer target
    is a fresh process per sync, so its first replay is the one users wait
    for, and a cold replay repeats as closely as a warm one."""

    name = "singer_replay"
    WARM_STEPS = 0
    FLUSHES_PER_STREAM = 2

    def setup(self) -> None:
        n_orders = max(40, self.sizes.orders // 30)
        self.capture = os.path.join(self.work, "capture.jsonl")
        self.counts = inputs.singer_capture(
            self.seed, n_orders, 4 * n_orders, self.capture)
        self.input_bytes = self.counts.pop("bytes")
        # a stream flushes when its buffer holds batch_size_rows new keys
        self.batch_rows = (
            self.counts["lineitem"] // self.FLUSHES_PER_STREAM + 1)
        self.root = None

    def describe(self) -> dict:
        return self.counts | {"batch_size_rows": self.batch_rows}

    def step_root(self, i: int) -> str:
        return os.path.join(self.work, f"target-{i}")

    def step(self, i: int) -> int:
        from pipelinewise_spark.plans.state import BookmarkStore
        from pipelinewise_spark.sources import singer

        prev, self.root = self.root, self.step_root(i)
        self.result = singer.replay_capture(
            self.spark, self.capture, self.root,
            batch_size_rows=self.batch_rows,
            bookmarks=BookmarkStore(os.path.join(self.root, "_state.json")),
        )
        if prev is not None:
            shutil.rmtree(prev)
        return self.counts["records"]

    def changed_rows(self) -> int:
        return self.counts["records"] - self.counts["corrections"]

    def targets(self):
        return dict(self.result.tables)

    def check(self, con) -> dict[str, int]:
        with open(self.capture, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        con.register("capture_lines", pa.table(
            {"lineno": range(1, len(lines) + 1), "line": lines}))
        con.execute("""
            CREATE OR REPLACE TEMP TABLE recs AS
            SELECT lineno, line->>'stream' AS stream, line->'record' AS r
            FROM (SELECT lineno, CAST(line AS JSON) AS line
                  FROM capture_lines)
            WHERE line->>'type' = 'RECORD'""")
        tables = self.targets()
        # a stream with no target table fails its check outright
        return {
            t: compare(con, sql, tables[t].read(self.spark).toArrow())
            if t in tables else 1
            for t, sql in SINGER_ORACLE.items()
        }


WORKLOADS = {w.name: w for w in (FullLoad, CdcTrickle, SingerReplay)}
