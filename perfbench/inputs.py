"""Seeded TPC-H-shaped inputs for the replication benchmark.

Everything here is numpy + pyarrow: the engine only ever sees the files
these functions write. The same seed and sizes always give the same bytes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")
_FIRST_DAY = np.datetime64("1992-01-01", "D")
_N_DAYS = 2400  # about 80 months of order dates
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)


@dataclass(frozen=True)
class Sizes:
    """Row counts at a scale factor (1.0 = TPC-H sf0.1 row counts)."""

    scale: float

    @property
    def orders(self) -> int:
        return max(200, int(150_000 * self.scale))

    @property
    def customer(self) -> int:
        return max(50, int(15_000 * self.scale))

    @property
    def lineitem(self) -> int:
        return max(800, int(600_000 * self.scale))


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return _FIRST_DAY + rng.integers(0, _N_DAYS, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n),
        "o_orderdate": pa.array(_days(rng, n).astype("datetime64[us]")),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    # shipdates carry a time of day so MASK-DATE's keep-the-clock rule shows
    ship = _days(rng, n).astype("datetime64[us]") + rng.integers(
        0, 86_400, n
    ).astype("timedelta64[s]")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(ship),
    })


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def tpch_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    return {
        "orders": orders_table(rng, sizes.orders, sizes.customer),
        "customer": customer_table(rng, sizes.customer),
        "lineitem": lineitem_table(rng, sizes.lineitem, sizes.orders),
    }


# ------------------------------------------------------------ CDC events
def _ts_str(us: np.ndarray) -> list[str]:
    """ISO-8601 strings (``T`` separator, microseconds)."""
    return [str(t) for t in (_EPOCH_US + us.astype("timedelta64[us]"))]


class ChangeFeed:
    """CDC change-event generator over an ``orders`` table.

    Event ``_seq`` is global and increasing; ``_event_ts`` follows it.
    Keys come from the most recent ``window`` orders by order date, so a
    cycle touches a few month partitions, not all of them. Inserts take
    fresh keys and a recent date, so the hot window moves forward as the
    table grows. ``o_orderdate`` never changes for a key (it is the
    partition source column).
    """

    def __init__(self, seed: int, orders: pa.Table, window: int):
        self.rng = np.random.default_rng(seed + 7919)
        dates = orders.column("o_orderdate").to_numpy().astype("datetime64[us]")
        keys = orders.column("o_orderkey").to_numpy()
        recent = np.argsort(dates, kind="stable")[-window:]
        self.hot_keys = list(keys[recent])
        self.hot_dates = list(dates[recent])
        self.next_key = int(keys.max()) + 1
        self.max_date = dates.max()
        self.window = window
        self.seq = 0
        self.ts_us = int(
            (np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH_US)
            .astype(np.int64)
        )

    def snapshot_events(self, orders: pa.Table) -> pa.Table:
        """The initial snapshot as one insert event per row."""
        return self._envelope(
            ["c"] * orders.num_rows,
            orders.column("o_orderkey").to_numpy(),
            orders.column("o_custkey").to_numpy(),
            orders.column("o_orderstatus").to_numpy(zero_copy_only=False),
            orders.column("o_totalprice").to_numpy(),
            orders.column("o_orderdate").to_numpy().astype("datetime64[us]"),
            orders.column("o_orderpriority").to_numpy(zero_copy_only=False),
        )

    def cycle_events(self, n: int, n_cust: int) -> pa.Table:
        """``n`` events: 80% updates, 10% inserts, 10% soft deletes."""
        rng = self.rng
        kinds = rng.choice(np.array(["u", "c", "d"]), n, p=[0.8, 0.1, 0.1])
        keys = np.empty(n, dtype=np.int64)
        dates = np.empty(n, dtype="datetime64[us]")
        for i, k in enumerate(kinds):
            if k == "c":
                keys[i] = self.next_key
                self.next_key += 1
                dates[i] = self.max_date - np.timedelta64(
                    int(rng.integers(0, 20)), "D"
                ).astype("timedelta64[us]")
                self.hot_keys.append(keys[i])
                self.hot_dates.append(dates[i])
            else:
                j = len(self.hot_keys) - self.window + int(
                    rng.integers(0, self.window)
                )
                keys[i] = self.hot_keys[j]
                dates[i] = self.hot_dates[j]
        return self._envelope(
            list(kinds), keys,
            rng.integers(0, n_cust, n, dtype=np.int64),
            rng.choice(np.array(["O", "F", "P"]), n),
            _money(rng, 900.0, 500_000.0, n),
            dates,
            rng.choice(_PRIORITIES, n),
        )

    def _envelope(self, ops, keys, cust, status, price, dates, prio):
        n = len(ops)
        seqs = np.arange(self.seq + 1, self.seq + n + 1, dtype=np.int64)
        self.seq += n
        ts = self.ts_us + seqs * 1000
        return pa.table({
            "_op": ops,
            "_seq": seqs,
            "_event_ts": _ts_str(ts),
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": np.asarray(cust, dtype=np.int64),
            "o_orderstatus": np.asarray(status),
            "o_totalprice": np.asarray(price, dtype=np.float64),
            "o_orderdate": _ts_str(
                (np.asarray(dates, dtype="datetime64[us]") - _EPOCH_US)
                .astype(np.int64)
            ),
            "o_orderpriority": np.asarray(prio),
        })


def write_jsonl(table: pa.Table, path: str) -> int:
    """Write rows as JSON lines via a temp name and an atomic rename, so a
    file-source stream never sees a half-written file. Returns bytes."""
    tmp = path + ".tmp"
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    with open(tmp, "w", encoding="utf-8") as fh:
        for row in zip(*data):
            fh.write(json.dumps(dict(zip(cols, row))))
            fh.write("\n")
    os.replace(tmp, path)
    return os.path.getsize(path)


# ---------------------------------------------------------- Singer capture
def singer_capture(
    seed: int, n_orders: int, n_lines: int, path: str
) -> dict[str, int]:
    """A Singer NDJSON capture: parent ``orders`` and child ``lineitem``
    RECORDs interleaved, a mid-capture ``orders`` SCHEMA re-emit that adds
    ``o_channel``, about 10% late corrections (records re-sent for keys
    already emitted), and a STATE every 200 orders. Returns counts."""
    rng = np.random.default_rng(seed + 104_729)
    orders_schema = {
        "type": "object",
        "properties": {
            "o_orderkey": {"type": "integer"},
            "o_custkey": {"type": ["null", "integer"]},
            "o_orderstatus": {"type": ["null", "string"]},
            "o_totalprice": {"type": ["null", "number"]},
            "o_orderpriority": {"type": ["null", "string"]},
        },
    }
    evolved = json.loads(json.dumps(orders_schema))
    evolved["properties"]["o_channel"] = {"type": ["null", "string"]}
    line_schema = {
        "type": "object",
        "properties": {
            "l_orderkey": {"type": "integer"},
            "l_linenumber": {"type": "integer"},
            "l_quantity": {"type": ["null", "integer"]},
            "l_extendedprice": {"type": ["null", "number"]},
            "l_returnflag": {"type": ["null", "string"]},
        },
    }
    per_order = max(1, n_lines // n_orders)
    n_fix = n_orders // 10
    # late corrections re-send an already-emitted order after its lines
    fixes_at = set(rng.choice(np.arange(n_orders // 5, n_orders), n_fix,
                              replace=False).tolist())
    evolve_at = n_orders // 2
    out: list[str] = []
    counts = {"records": 0, "orders": 0, "lineitem": 0, "corrections": 0}

    def emit(o: dict) -> None:
        out.append(json.dumps(o))

    def order_rec(k: int, schema_evolved: bool) -> dict:
        rec = {
            "o_orderkey": k,
            "o_custkey": int(rng.integers(0, 15_000)),
            "o_orderstatus": str(rng.choice(["O", "F", "P"])),
            "o_totalprice": float(np.round(rng.uniform(900, 500_000), 2)),
            "o_orderpriority": str(rng.choice(_PRIORITIES)),
        }
        if schema_evolved:
            rec["o_channel"] = str(rng.choice(["web", "store", "phone"]))
        return {"type": "RECORD", "stream": "orders", "record": rec}

    emit({"type": "SCHEMA", "stream": "orders", "schema": orders_schema,
          "key_properties": ["o_orderkey"]})
    emit({"type": "SCHEMA", "stream": "lineitem", "schema": line_schema,
          "key_properties": ["l_orderkey", "l_linenumber"]})
    is_evolved = False
    for k in range(n_orders):
        if k == evolve_at:
            emit({"type": "SCHEMA", "stream": "orders", "schema": evolved,
                  "key_properties": ["o_orderkey"]})
            is_evolved = True
        emit(order_rec(k, is_evolved))
        counts["orders"] += 1
        for ln in range(1, per_order + 1):
            emit({"type": "RECORD", "stream": "lineitem", "record": {
                "l_orderkey": k, "l_linenumber": ln,
                "l_quantity": int(rng.integers(1, 51)),
                "l_extendedprice": float(np.round(rng.uniform(900, 1e5), 2)),
                "l_returnflag": str(rng.choice(["A", "N", "R"])),
            }})
            counts["lineitem"] += 1
        if k in fixes_at:
            emit(order_rec(int(rng.integers(0, k)), is_evolved))
            counts["corrections"] += 1
        if k % 200 == 199:
            emit({"type": "STATE", "value": {"bookmarks": {
                "orders": {"o_orderkey": k}}}})
    emit({"type": "STATE", "value": {"bookmarks": {
        "orders": {"o_orderkey": n_orders - 1}}}})
    counts["records"] = counts["orders"] + counts["lineitem"] + counts[
        "corrections"]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
        fh.write("\n")
    counts["bytes"] = os.path.getsize(path)
    return counts
