"""Mergeable count-min sketch: approximate per-key frequencies in fixed
space, for hot-key detection at corpus scale.

Exact key counts need a groupBy over every distinct key — at 100 TB the
hot-key *question* ("which join keys exceed 1% of rows?") shouldn't cost a
full-cardinality shuffle. A count-min sketch is a (depth x width) counter
grid: each row hashes every key into one of ``width`` buckets and the
estimate is the minimum over rows — an upper bound on the true count that
overshoots by at most ~2n/width with probability 1 - 2^-depth.

Shapes chosen for Spark rather than a single-machine library:

* The sketch IS a DataFrame ``(row, bucket, n)`` — built with one
  explode + groupBy whose key space is depth*width (fixed, small), not
  the data's key cardinality; no driver-side state, no UDAF.
* Sketches MERGE by summing counters (union + groupBy) — partial sketches
  from shards/days/streams compose exactly, same as the rollup family.
* Hashes are the md5-derived 60-bit family used across the repo
  (engine-portable, stable across sessions), so a sketch persisted to
  parquet today answers queries in any later job.

``hot_keys(df, col, candidates)`` closes the loop with skew.py: estimate
candidate keys' frequencies against a sketch and pick salting targets
without a second full scan of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from firepit_spark.functions import pin


def _row_hash(col: Column, row: int, width: int) -> Column:
    """Bucket of ``col`` under the ``row``-th universal hash: md5 of the
    salted key, first 15 hex digits, mod width.

    NULL keys hash like the sentinel string below instead of propagating
    NULL: without this, NULL rows would land in NULL cells that
    ``cms_query``'s equi-join can never match, and a hot NULL key — the
    classic skew culprit — would estimate 0 and escape ``hot_keys``.
    """
    key = F.coalesce(col.cast("string"), F.lit("\x00__cms_null__"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{row}:"), key)), 1, 15),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width)).cast("int")


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a count-min sketch of ``key_col``: DataFrame
    ``(row, bucket, n)`` with ``depth * width`` possible cells. One
    narrow shuffle keyed on the (bounded) cell id."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _row_hash(F.col(key_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (depth, width): counters add."""
    it = iter(sketches)
    out = next(it)
    for s in it:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("n").alias("n"))


def cms_query(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Estimated count per key of ``keys[key_col]``: min over rows of the
    matching counters. ``keys`` is a (small) candidate frame — the sketch
    side is depth*width rows at most, so both join sides stay tiny."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _row_hash(F.col(key_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select(key_col, "c.row", "c.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .fillna(0, subset=["n"])
        .groupBy(key_col)
        .agg(F.min("n").alias("est_count"))
    )


def hot_keys(
    df: DataFrame,
    key_col: str,
    min_share: float = 0.01,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Keys whose estimated frequency exceeds ``min_share`` of rows — the
    salting candidates for skew.salted_join/salted_agg.

    Candidates come from a row-position sample (every k-th row, k sized so
    a key at ``min_share`` lands ~8 expected sampled rows — NOT a key-hash
    sample, which would drop all rows of an unlucky key together), then
    are verified against the sketch; count-min overestimates, so this can
    return a near-hot key but never misses a truly hot one (beyond the
    ~2n/width error)."""
    sketch = pin(cms_build(df, key_col, depth, width))
    # total rows falls out of the sketch itself (every row increments one
    # counter per hash row) — no separate full scan for df.count()
    total = int(sketch.agg((F.sum("n") / depth).cast("bigint")).first()[0] or 0)
    k_mod = max(1, int(min_share * total / 8))
    cands = (
        df.select(key_col)
        .filter(F.pmod(F.monotonically_increasing_id(), F.lit(k_mod)) == 0)
        .distinct()
    )
    est = cms_query(sketch, cands, key_col, depth, width)
    return est.filter(F.col("est_count") >= min_share * total).orderBy(
        F.col("est_count").desc()
    )
