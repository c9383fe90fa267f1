"""Hypertable-style time-bucket rollups (continuous-aggregate pattern).

Pre-aggregate an event stream at a fine granularity once; answer coarser
time-bucket queries by re-aggregating the rollup instead of the raw table.
At 100 TB the rollup is smaller than the raw stream by the bucket
cardinality factor, so dashboards re-hitting coarse windows never re-scan
raw data — the TimescaleDB continuous-aggregate idea expressed as plain
DataFrames. All aggregates kept are algebraic (count/sum/min/max), so
coarse buckets compose exactly from fine ones; avg is derived at read
as sum/count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import epoch_seconds

ALGEBRAIC = {"count", "sum", "min", "max"}


def time_bucket(col, seconds: int):
    """Epoch-floor bucket start (matches ANSI ``to_timestamp(floor(epoch/s)*s)``).

    NTZ-safe: routes through ``epoch_seconds`` rather than a direct
    ``cast("double")``, which Spark rejects on TIMESTAMP_NTZ inputs."""
    return F.timestamp_seconds(
        F.floor(epoch_seconds(col) / seconds) * seconds
    )


def build_rollup(
    df: DataFrame,
    ts_col: str,
    dims: list,
    value_col: str,
    bucket_seconds: int = 60,
) -> DataFrame:
    """Fine-grained rollup: one row per (bucket, dims) with the algebraic
    aggregate set (count/sum/min/max of ``value_col``)."""
    return (
        df.groupBy(
            time_bucket(ts_col, bucket_seconds).alias("bucket"),
            *[F.col(d) for d in dims],
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(28,6)")).alias("val_sum"),
            F.min(value_col).alias("val_min"),
            F.max(value_col).alias("val_max"),
        )
    )


def reaggregate(
    rollup: DataFrame,
    bucket_seconds: int,
    dims: list | None = None,
) -> DataFrame:
    """Answer a coarser-bucket query from a fine rollup (no raw scan).

    ``bucket_seconds`` must be a multiple of the rollup's granularity;
    ``dims`` defaults to keeping all rollup dimensions, pass a subset to
    also roll those up.
    """
    all_dims = [c for c in rollup.columns if c not in ("bucket", "n", "val_sum", "val_min", "val_max")]
    keep = all_dims if dims is None else dims
    return (
        rollup.groupBy(
            time_bucket("bucket", bucket_seconds).alias("bucket"),
            *[F.col(d) for d in keep],
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("val_sum").alias("val_sum"),
            F.min("val_min").alias("val_min"),
            F.max("val_max").alias("val_max"),
        )
        .withColumn(
            "val_avg",
            # NO rounding: val_sum is exact decimal on every engine, so
            # casting it to double and dividing is ONE IEEE operation —
            # bit-identical everywhere. Any fixed-decimal rounding here
            # hits structural ties (2-dp values / power-of-two-ish n)
            # whose half-up direction differs between exact-decimal and
            # double arithmetic across engines.
            F.col("val_sum").cast("double") / F.col("n"),
        )
    )
