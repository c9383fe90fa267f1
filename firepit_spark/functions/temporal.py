"""Temporal joins Spark lacks as built-ins: as-of join and range join.

* ``asof_join`` — match each left row to the latest right row with
  ``right_ts <= left_ts`` per key. Implemented with the union+window
  carry-forward shape: one shuffle on the key, no per-row search, no
  cross product — the formulation that survives a 100x scale-up (a naive
  inequality join would be a per-key cross product).
* ``range_join`` — match events to enclosing [start, end] intervals.
  With join keys it is an equi-join plus a range filter (Catalyst handles
  it); keyless intervals are bucketized so each event joins only the
  interval fragments sharing its time bucket, bounding fan-out by
  (interval span / bucket width) instead of |intervals|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import epoch_seconds


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left rows with the most recent right row at-or-before their time.

    Right value columns come back suffixed; rows with no prior right row
    (or outside ``tolerance_seconds``) keep nulls — left join semantics.
    """
    keys = [on] if isinstance(on, str) else list(on)
    left_cols = [c for c in left.columns if c not in keys and c != left_ts]
    right_vals = [c for c in right.columns if c not in keys and c != right_ts]

    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.col(f"`{c}`") for c in left_cols],
        *[F.lit(None).alias(f"{c}{suffix}") for c in right_vals],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(f"`{c}`").alias(f"{c}{suffix}") for c in right_vals],
        F.col(right_ts).alias("__rts"),
    )
    u = l.unionByName(r)
    # right rows sort before left rows at equal timestamps, so a left row
    # sees a same-instant right row (ASOF >= semantics)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(F.col(f"`{c}{suffix}`"), ignorenulls=True).over(w).alias(f"{c}{suffix}")
        for c in right_vals
    ]
    rts = F.last(F.col("__rts"), ignorenulls=True).over(w).alias("__rts")
    out = (
        u.select(*keys, "__ts", "__is_left", *left_cols, *carried, rts)
        .filter(F.col("__is_left") == 1)
    )
    if tolerance_seconds is not None:
        within = (
            epoch_seconds(F.col("__ts")) - epoch_seconds(F.col("__rts"))
        ) <= tolerance_seconds
        out = out.select(
            *keys,
            "__ts",
            *left_cols,
            *[
                F.when(within, F.col(f"`{c}{suffix}`")).alias(f"{c}{suffix}")
                for c in right_vals
            ],
        )
    else:
        out = out.select(*keys, "__ts", *left_cols, *[f"{c}{suffix}" for c in right_vals])
    return out.withColumnRenamed("__ts", left_ts)


def range_join(
    events: DataFrame,
    intervals: DataFrame,
    event_ts: str,
    start_col: str = "start",
    end_col: str = "end",
    keys: list | None = None,
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Events joined to the intervals that contain them.

    With ``keys`` the range predicate rides an equi-join. Without keys the
    intervals are exploded into ``bucket_seconds`` fragments and the bucket
    id becomes the equi key — never a nested-loop cross product.
    """
    cond_in = (F.col(event_ts) >= F.col(start_col)) & (
        F.col(event_ts) <= F.col(end_col)
    )
    if keys:
        return events.join(intervals, on=keys, how=how).filter(cond_in)
    b = F.lit(bucket_seconds)
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(epoch_seconds(start_col) / b).cast("long"),
                F.floor(epoch_seconds(end_col) / b).cast("long"),
            )
        ),
    )
    ev = events.withColumn(
        "__bucket", F.floor(epoch_seconds(event_ts) / b).cast("long")
    )
    return ev.join(iv, "__bucket", how).filter(cond_in).drop("__bucket")


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign inactivity-gap session ids: a new session starts whenever a
    key's gap since its previous event exceeds ``gap_seconds``.

    Returns the input plus ``sess_id`` (1-based, per key, in time order)
    — the library core behind the q20 entry. One window keyed on ``key_col``
    (lag + running sum in the same frame, single sort-shuffle);
    ``tiebreak_col`` makes equal-timestamp ordering deterministic.
    NTZ-safe via :func:`firepit_spark.functions.epoch_seconds`.
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds}")
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    ep = epoch_seconds(F.col(ts_col))
    gap = F.when(
        F.lag(ep).over(w).isNull() | ((ep - F.lag(ep).over(w)) > float(gap_seconds)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return events.withColumn(
        "sess_id",
        F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
