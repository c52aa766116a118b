"""Streaming OHLC bar maintenance — mergeable per-bar state.

The batch OHLC query (queries/analytics.py:ohlc_daily_events) is one
`min_by`/`max_by` aggregate.  The streaming version cannot rely on a
watermarked window aggregate alone: append mode never emits the final
(still-open) bar of a bounded run, and update mode re-emits partials the
sink must reconcile anyway.  So the stream folds through foreachBatch
into a bars table using a **mergeable bar state** — each bar carries the
(ts, id)-keyed open/close structs, hi/lo, count, and an exact decimal
volume sum.  The combine is associative AND commutative (open = the
struct with the smallest (ts, id) key, regardless of arrival order), so:

- out-of-order and late events fold correctly with NO watermark and no
  state eviction deadline — a bar is never "closed" to corrections;
- restart replays are harmless when batches are idempotent upserts by
  bar key (same input batch → same partial → same merged bar);
- the same combine serves hierarchical rollup (minute bars → hour bars →
  day bars) because bar states merge exactly like event partials.

Scale: each micro-batch shuffles BATCH rows into at most |touched bars|
partials, then joins answer-sized partials against answer-sized state.
The state table here is an unpartitioned ManifestTable rewritten per
batch copy-on-write — bar tables are answer-sized ((keys × periods), not
event-scale); for bar cardinalities where a full rewrite hurts, a
partitioned table's pruned MERGE (operators/manifest_table.py:merge) is
the drop-in upgrade, exactly as the IVM family does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# open/close carry their ordering key INSIDE the struct (ts, id, value) so
# plain struct comparison picks the earlier/later observation
_BAR_COLS = ["o", "c", "high", "low", "n_events", "vol"]


def bar_partials(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    value_col: str,
    key_cols: list[str],
    period: str = "day",
) -> DataFrame:
    """One row per (key, period-bucket) with mergeable bar state."""
    okey = F.struct(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.col(value_col).alias("value"),
    )
    return df.groupBy(
        *key_cols,
        F.date_trunc(period, F.col(ts_col)).cast("date").alias("bar_date"),
    ).agg(
        F.min(okey).alias("o"),
        F.max(okey).alias("c"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(12,2)"))
        .cast("decimal(30,2)")
        .alias("vol"),
    )


def merge_bars(state: DataFrame, partial: DataFrame, keys: list[str]) -> DataFrame:
    """Combine two bar-state frames (full outer on the bar key).  Either
    side may lack any given bar; the combine is field-wise associative +
    commutative, so merge order and arrival order never matter."""
    s = state.select(
        *keys, *[F.col(c).alias(f"s_{c}") for c in _BAR_COLS]
    )
    p = partial.select(
        *keys, *[F.col(c).alias(f"p_{c}") for c in _BAR_COLS]
    )

    def pick(col: str, later: bool) -> Column:
        a, b = F.col(f"s_{col}"), F.col(f"p_{col}")
        cmp = (b > a) if later else (b < a)
        return (
            F.when(a.isNull(), b)
            .when(b.isNull(), a)
            .when(cmp, b)
            .otherwise(a)
            .alias(col)
        )

    return s.join(p, keys, "full_outer").select(
        *keys,
        pick("o", later=False),
        pick("c", later=True),
        F.greatest("s_high", "p_high").alias("high"),
        F.least("s_low", "p_low").alias("low"),
        (
            F.coalesce("s_n_events", F.lit(0))
            + F.coalesce("p_n_events", F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("s_vol"), F.lit(0).cast("decimal(30,2)"))
            + F.coalesce(F.col("p_vol"), F.lit(0).cast("decimal(30,2)"))
        )
        .cast("decimal(30,2)")
        .alias("vol"),
    )


def finalize_bars(bars: DataFrame, keys: list[str]) -> DataFrame:
    """Bar state → presentation columns (the batch query's exact shape)."""
    return bars.select(
        *keys,
        F.col("o.value").alias("open"),
        "high",
        "low",
        F.col("c.value").alias("close"),
        "n_events",
        F.round(F.col("vol"), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("total_value"),
    )
