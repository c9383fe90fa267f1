"""Mergeable Bloom filters as DataFrames.

A Bloom filter answers "might this value be in the set?" with no false
negatives and a tunable false-positive rate — the standard prescreen for
joins whose build side is too big to broadcast raw but whose *bitset*
fits anywhere: decontamination gates (does this training shingle appear
anywhere in the eval corpora?), incremental crawl dedup (might this URL
have been seen in any earlier snapshot?), and join pruning generally.

Representation: a DataFrame of ``(word_idx int, word bigint)`` — the
non-zero 64-bit words of the bitset. This shape is

- **mergeable**: union two filters and ``bit_or`` per word — exactly the
  filter of the unioned inputs (an algebra, like the count/sum rollups
  in :mod:`firepit_spark.functions.rollup`), so per-shard /
  per-day filters fold without re-scanning raw data;
- **bounded**: at most ``num_bits / 64`` rows regardless of input size —
  the build's only shuffle is over this word keyspace, and the filter
  persists as a few MB of parquet;
- **probe-side map-only**: membership tests are ``num_hashes``
  *broadcast* hash joins (the bitset broadcasts, the probe corpus never
  shuffles) — asserted in tests via the plan doctor.

Hashing is engine-portable (md5-derived double hashing, same scheme as
``dedup.shingle_hash``), so a filter built today matches values hashed
by any engine tomorrow; no Spark-version-specific seeds are baked into
persisted filters.

Sizing: for n items and target false-positive rate p,
``num_bits ~= -n * ln(p) / ln(2)^2`` and ``num_hashes ~= (m/n) ln 2``;
:func:`bloom_params` computes both.

No counterpart in the reference (closest is its DB-side EXISTS
prescreens); this is part of the additive scale-pipeline surface.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (num_bits, num_hashes) for ``n_items`` at false-positive
    rate ``fpp``. num_bits is rounded up to a multiple of 64."""
    if n_items <= 0:
        raise ValueError("n_items must be positive")
    if not (0.0 < fpp < 1.0):
        raise ValueError("fpp must be in (0, 1)")
    m = -n_items * math.log(fpp) / (math.log(2) ** 2)
    num_bits = ((int(math.ceil(m)) + 63) // 64) * 64
    num_hashes = max(1, round(num_bits / n_items * math.log(2)))
    return num_bits, num_hashes


def _h1h2(col) -> tuple[F.Column, F.Column]:
    """Two independent 60-bit hashes from one md5 — engine-portable.
    One md5 per value; double hashing (Kirsch–Mitzenmacher) derives all
    probe positions from these two."""
    md5 = F.md5(col.cast("string"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5, 16, 15), 16, 10).cast("bigint")
    # h2 must be odd so the probe stride never collapses mod a power of 2
    return h1, h2 * 2 + 1


def _positions(col, num_bits: int, num_hashes: int) -> list[F.Column]:
    h1, h2 = _h1h2(col)
    # reduce h2 mod num_bits BEFORE multiplying: (h1 + i*(h2 mod m)) mod m
    # == (h1 + i*h2) mod m exactly, and the product stays far under 2^63
    # (i*h2 raw would overflow bigint under ANSI mode once num_hashes > 4)
    h2m = F.pmod(h2, F.lit(num_bits))
    return [F.pmod(h1 + F.lit(i) * h2m, F.lit(num_bits)) for i in range(num_hashes)]


def _bit_mask(pos_col: str) -> F.Column:
    """1 << (pos % 64) as a bigint (shiftleft needs the amount as a SQL
    expression — the PySpark wrapper only takes a literal int)."""
    return F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(`{pos_col}`, 64) AS INT))")


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``df[col]`` → ``(word_idx, word)`` rows.

    Map-only until one aggregation over the bounded word keyspace
    (≤ num_bits/64 distinct keys — the shuffle cannot exceed the filter
    size no matter how large the input). NULLs are skipped (a NULL never
    matches membership, mirroring SQL semantics).
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    pos = F.explode(F.array(*_positions(F.col(col), num_bits, num_hashes)))
    return (
        df.filter(F.col(col).isNotNull())
        .select(pos.alias("__pos"))
        .select(
            # bigint: a bloom_params-sized filter for ~1e10+ items exceeds
            # 2^37 bits, overflowing an int32 word index
            (F.col("__pos") / 64).cast("bigint").alias("word_idx"),
            _bit_mask("__pos").alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Union Bloom filters built with the SAME (num_bits, num_hashes).

    Exactly equals the filter built over the unioned inputs (bitwise OR
    is the union algebra) — fold per-shard/per-day filters without ever
    re-reading raw data."""
    if not filters:
        raise ValueError("need at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_might_contain(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int,
    flag_col: str = "might_contain",
) -> DataFrame:
    """Append a boolean ``flag_col``: might ``df[col]`` be in the filter?

    False ⇒ definitely absent (no false negatives). The probe side stays
    map-only: each of the ``num_hashes`` probes is one *broadcast* hash
    join against the (≤ num_bits/64 row) word table — the corpus is
    never shuffled and never exploded. NULL probes flag False.
    """
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    # materialize h1/h2 ONCE: deriving each probe position from the shared
    # columns costs one md5 per row total, not 2*num_hashes (the per-stage
    # projections get no cross-stage common-subexpression elimination)
    h1, h2 = _h1h2(F.col(col))
    df = df.withColumn("__bh1", h1).withColumn(
        "__bh2", F.pmod(h2, F.lit(num_bits))
    )
    hits = []
    for i in range(num_hashes):
        p = F.pmod(F.col("__bh1") + F.lit(i) * F.col("__bh2"), F.lit(num_bits))
        w = bloom.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("word").alias(f"__wd{i}")
        )
        df = (
            df.withColumn(f"__p{i}", p)
            .withColumn(f"__wi{i}", (F.col(f"__p{i}") / 64).cast("bigint"))
            .withColumn(f"__mask{i}", _bit_mask(f"__p{i}"))
        )
        df = df.join(F.broadcast(w), f"__wi{i}", "left")
        hits.append(F.coalesce(F.col(f"__wd{i}"), F.lit(0)).bitwiseAND(F.col(f"__mask{i}")) != 0)
    flag = hits[0]
    for h in hits[1:]:
        flag = flag & h
    out = df.withColumn(flag_col, F.coalesce(flag, F.lit(False)))
    drop = ["__bh1", "__bh2"] + [
        c
        for i in range(num_hashes)
        for c in (f"__p{i}", f"__wi{i}", f"__mask{i}", f"__wd{i}")
    ]
    return out.drop(*drop)


def bloom_prescreen(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int,
    keep_members: bool = True,
) -> DataFrame:
    """Filter ``df`` to rows that MIGHT (or, with ``keep_members=False``,
    definitely do NOT) appear in the filter.

    ``keep_members=True`` is the join-pruning shape: run before an
    expensive shuffle join to drop the (typically vast) majority of
    probe rows that cannot match — e.g. prefilter a 100-TB shingle index
    to shingles that might occur in the eval corpora before the
    decontamination join. ``keep_members=False`` is the incremental-dedup
    shape: keep only rows definitely unseen by prior snapshots (false
    positives drop a few genuinely-new rows — the conservative direction
    for dedup, never for contamination)."""
    flagged = bloom_might_contain(df, col, bloom, num_bits, num_hashes, "__bf")
    cond = F.col("__bf") if keep_members else ~F.col("__bf")
    return flagged.filter(cond).drop("__bf")
