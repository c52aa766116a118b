"""Lineage (_sdc_*) metadata columns.

Every synced table gains ``_sdc_extracted_at``, ``_sdc_batched_at``,
``_sdc_deleted_at`` — reference:
/root/reference/pipelinewise/fastsync/commons/utils.py:13-15 (column list),
/root/reference/singer-connectors/target-snowflake/target_snowflake/stream_utils.py:104-113
(value semantics: extracted_at = tap extraction time, batched_at = load time,
deleted_at = CDC delete event time, else NULL).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SDC_EXTRACTED_AT = "_sdc_extracted_at"
SDC_BATCHED_AT = "_sdc_batched_at"
SDC_DELETED_AT = "_sdc_deleted_at"
SDC_COLUMNS = [SDC_EXTRACTED_AT, SDC_BATCHED_AT, SDC_DELETED_AT]


def _ts(value: dt.datetime | str | None) -> Column:
    if value is None:
        return F.current_timestamp()
    return F.lit(value).cast("timestamp")


def add_sdc_columns(
    df: DataFrame,
    extracted_at: dt.datetime | str | None = None,
    batched_at: dt.datetime | str | None = None,
    deleted_at_col: str | None = None,
) -> DataFrame:
    """Append the three lineage columns.

    Pass explicit ``extracted_at``/``batched_at`` for deterministic output
    (tests/oracles); default is ``current_timestamp()``. ``deleted_at_col``
    names an existing event-time column to use for deletes (CDC path).
    """
    deleted = (
        F.col(deleted_at_col).cast("timestamp")
        if deleted_at_col
        else F.lit(None).cast("timestamp")
    )
    return (
        df.withColumn(SDC_EXTRACTED_AT, _ts(extracted_at))
        .withColumn(SDC_BATCHED_AT, _ts(batched_at))
        .withColumn(SDC_DELETED_AT, deleted)
    )
