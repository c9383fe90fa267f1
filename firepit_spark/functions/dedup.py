"""Deduplication operators for large-scale corpus pipelines.

Four families, all shuffle-conscious:

* exact      — hash-groupBy on a content fingerprint (one shuffle)
* minhash    — MinHash signatures + LSH banding (shuffle on band buckets,
               never the full cross-join)
* simhash    — 64-bit SimHash per document (embarrassingly parallel)
* ngram      — exact Jaccard on word shingles via shingle-inverted-index
               self-join (shuffle on shingle; candidate pairs only)

Hash functions whose VALUES surface in results (minhash, simhash,
winnowing fingerprints) are md5-derived so the DuckDB oracle reproduces
them exactly (Spark's xxhash64/hash are engine-specific). Purely internal
join/count keys (the shingle inverted indexes behind the Jaccard
families) use the much cheaper engine-native xxhash64: outputs there are
ids + counts, identical modulo hash collisions — the same tolerance the
60-bit md5-derived hash already carried, now at 64 bits.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from firepit_spark.functions import pin
from firepit_spark.functions.text import fingerprint, fingerprint64, word_shingles

# MinHash universal-hash parameters: h_i(x) = (a_i * x + b_i) mod P.
# P is a Mersenne prime (2^61 - 1); a/b are fixed (seeded) so signatures are
# deterministic across engines and runs.
MINHASH_PRIME = (1 << 61) - 1


def minhash_params(num_perm: int = 16) -> list:
    """Deterministic (a, b) pairs via a small LCG (no RNG dependency)."""
    params, state = [], 0x5DEECE66D
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % MINHASH_PRIME
        a = state | 1  # must be odd/nonzero
        state = (state * 6364136223846793005 + 1442695040888963407) % MINHASH_PRIME
        b = state
        params.append((a, b))
    return params


def shingle_hash(col) -> F.Column:
    """60-bit integer hash of a shingle string, reproducible in ANSI SQL:
    first 15 hex digits of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents (after whitespace normalization).

    Returns one row per duplicated fingerprint: keeper id (min), dup count.
    Single hash-shuffle on the fingerprint; partial aggregation is map-side.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.

    One window over the fingerprint instead of groupBy + semi-join-back:
    a single wide shuffle, the input subtree executes once (measured 37%
    faster at sf0.1; matters more when the input is itself an expensive
    pipeline), and no join-key skew surface. The window key is the
    internal 8-byte fingerprint64 (the md5 fingerprint never surfaces
    here — output is the kept rows)."""
    w = Window.partitionBy(fingerprint64(F.col(text_col)))
    return (
        df.withColumn("__minid", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__minid"))
        .drop("__minid")
    )


def _ensure_parallelism(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition a narrow pre-explode frame when it arrives with fewer
    file splits than cores. Probes ``inputFiles()`` (driver-side metadata)
    rather than ``df.rdd.getNumPartitions()``, which would force an RDD
    conversion of the whole plan. Non-file-backed frames (empty
    ``inputFiles``) just take the repartition — pre-explode rows are the
    cheap thing to shuffle."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < parallelism:
        df = df.repartition(parallelism, id_col)
    return df


def shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    pre_normalized: bool = False,
) -> DataFrame:
    """(id, shingle) exploded inverted-index rows.

    Repartitions the input first: shingling inflates each document ~50×, so
    parallelism must be established *before* the explode — a small parquet
    file otherwise arrives as one partition and the whole pipeline runs on
    one core (and at cluster scale, pre-explode rows are the cheap thing to
    shuffle). ``pre_normalized`` as in :func:`~.text.word_shingles`.
    """
    df = _ensure_parallelism(df, id_col)
    return df.select(
        F.col(id_col),
        F.explode(
            word_shingles(F.col(text_col), k, pre_normalized=pre_normalized)
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    pre_normalized: bool = False,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted index.

    Never materializes the doc×doc cross product: candidate pairs come from
    co-occurrence in the shingle index, with hot shingles (appearing in >
    ``max_shingle_freq`` docs) dropped — the standard frequency cutoff that
    bounds the join fan-out at corpus scale.
    """
    # Shingle once into an array column and persist *pre-explode*: the array
    # frame is corpus-sized (spills fine under MEMORY_AND_DISK), set sizes
    # fall out map-side as size(array) — no groupBy — and the regex shingler
    # runs exactly once. Measured 1.8x faster end-to-end than persisting the
    # exploded index and computing sizes by aggregation.
    #
    # Hash shingles to 64-bit ints INSIDE the persisted array: the freq
    # groupBy and the index self-join then move 8-byte longs instead of
    # ~25-byte strings (at corpus scale the exploded index dominates shuffle
    # volume), the cache holds long arrays (smaller build, smaller memory),
    # and — because the plan re-derives the exploded index from the cache on
    # BOTH sides of the self-join and for the hot set — the hash kernel runs
    # once per shingle instead of once per plan copy. The hash is purely
    # internal here (the output is ids + counts, never hash values), so the
    # cheap engine-native xxhash64 replaces the md5-derived portable hash
    # used where hash values are emitted (minhash/simhash/winnowing); any
    # (astronomically rare) 64-bit collision only perturbs n_common, the
    # same tolerance the 60-bit md5 hash already had. r13-opt A/B at sf0.1:
    # 1.00 vs 1.57 s median; sf1: 2.81 vs 6.31 — and the md5 kernel is gone
    # from the plan entirely. set_size rides the explode map-side (8
    # bytes/row) so NO post-aggregation size joins are needed — at corpus
    # scale the sizes frame has doc cardinality and cannot broadcast, so
    # joining it onto the pairs frame twice would cost two more full
    # shuffles.
    df = _ensure_parallelism(df, id_col)
    arr = pin(df.select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), k, pre_normalized),
            lambda s: F.xxhash64(s),
        ).alias("__shingles"),
    ))
    sh = arr.select(
        F.col(id_col),
        F.size("__shingles").alias("set_size"),
        F.explode("__shingles").alias("shingle"),
    )

    # hot-shingle cutoff as an ANTI-join against the (tiny, Zipf-head)
    # hot set instead of an equi-join with the full freq_ok table: AQE
    # broadcasts the hot side at runtime, so the index passes through
    # map-only instead of shuffling once for the filter and again for
    # the self-join. A/B at sf0.1: 1.47 vs 2.62 median, identical
    # output. No explicit broadcast hint — a pathological corpus could
    # have a hot set too big for the driver, and AQE degrades that case
    # to a shuffle join instead of an OOM.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_freq"))
        .filter(F.col("df_freq") > max_shingle_freq)
        .select("shingle")
    )
    sh = sh.join(hot, "shingle", "left_anti")

    a = sh.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "shingle")
    result = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size-ratio prune BEFORE the pair aggregation: J <= min/max,
            # so a pair whose smaller set is under threshold*larger can
            # never reach the threshold (big lever at high thresholds).
            # The 1e-6 slack is a conservative guard only — membership is
            # decided on the raw quotient below, never inside the band
            & (F.col("size_a") >= (threshold - 1e-6) * F.col("size_b"))
            & (F.col("size_b") >= (threshold - 1e-6) * F.col("size_a"))
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        # raw IEEE quotient of exact ints — bit-identical on every engine;
        # a ROUND(...,6) here is a latent cross-engine flake (half-even vs
        # half-up on representable ties) and was dropped in r7, both for
        # the emitted value and for threshold membership
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # long-lived sessions call firepit_spark.functions.release() after
    # the terminal action to free the pinned shingle frame
    return result


def cross_ngram_jaccard(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    bloom_fpp: Optional[float] = None,
    pre_normalized: bool = False,
) -> DataFrame:
    """Train/test decontamination: exact Jaccard-similar pairs ACROSS two
    corpora (every near-dup of a ``right`` document found in ``left``).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` but the
    candidate join is left-index ⋈ right-index on the shingle — never
    left×right. The frequency cutoff is computed over the UNION of both
    corpora, so a shingle hot in either side can't blow up the fan-out.
    At scale the right side (heldout/eval set) is typically tiny, which
    AQE turns into a broadcast of the right index automatically.

    ``bloom_fpp``: when the right corpus is too big for its *index* to
    broadcast, set a false-positive rate (e.g. 0.01) to prescreen the
    left index through a Bloom filter of the right shingles
    (:mod:`firepit_spark.functions.bloom`) — the left side then sheds
    the vast majority of its rows map-side before any shuffle, and the
    result is provably unchanged (no false negatives; see inline note).

    Returns (left_id, right_id, jaccard) at or above ``threshold``.
    """
    la = pin(_shingle_arrays(left, text_col, id_col, k, pre_normalized))
    ra = pin(_shingle_arrays(right, text_col, id_col, k, pre_normalized))
    # same narrow-shuffle trick as ngram_jaccard_pairs: the arrays already
    # hold 64-bit shingle hashes (hashed once at array build, not per
    # explode copy); the freq cutoff and the index join move 8-byte longs;
    # set sizes ride the explode map-side so no post-aggregation size joins
    lsh = la.select(
        F.col(id_col).alias("left_id"),
        F.size("__shingles").alias("size_l"),
        F.explode("__shingles").alias("shingle"),
    )
    rsh = ra.select(
        F.col(id_col).alias("right_id"),
        F.size("__shingles").alias("size_r"),
        F.explode("__shingles").alias("shingle"),
    )

    if bloom_fpp is not None:
        # Bloom-prescreen the (huge) left index down to shingles that might
        # occur in the right corpus — map-only on the left side, for when
        # the right index is too big to broadcast but its bitset isn't.
        # EXACT: a left row dropped here has a shingle definitely absent
        # from the right (no false negatives), so it can't form a pair, and
        # every left occurrence of a right-present shingle survives, so the
        # union frequency cutoff below sees unchanged counts for every
        # shingle that can produce pairs.
        from .bloom import bloom_build, bloom_params, bloom_prescreen

        # size on (approx) distinct shingles, not occurrences (ra is
        # already persisted, so re-deriving rsh for the count is cheap)
        n_distinct = rsh.agg(F.approx_count_distinct("shingle")).first()[0]
        bits, hashes = bloom_params(max(64, int(n_distinct * 1.1)), bloom_fpp)
        rbloom = pin(bloom_build(rsh, "shingle", bits, hashes))
        lsh = bloom_prescreen(lsh, "shingle", rbloom, bits, hashes)

    # union-frequency cutoff as a hot-set ANTI-join (AQE broadcasts the
    # tiny hot side; both indexes stay map-only through the filter —
    # same A/B-measured win as ngram_jaccard_pairs)
    hot = (
        lsh.select("shingle")
        .unionAll(rsh.select("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_freq"))
        .filter(F.col("df_freq") > max_shingle_freq)
        .select("shingle")
    )
    result = (
        lsh.join(hot, "shingle", "left_anti")
        .join(rsh.join(hot, "shingle", "left_anti"), "shingle")
        # size-ratio prune before the pair aggregation: J <= min/max
        # (1e-6 slack is a conservative guard, as in ngram_jaccard_pairs)
        .filter(
            (F.col("size_l") >= (threshold - 1e-6) * F.col("size_r"))
            & (F.col("size_r") >= (threshold - 1e-6) * F.col("size_l"))
        )
        .groupBy("left_id", "right_id", "size_l", "size_r")
        .agg(F.count(F.lit(1)).alias("n_common"))
        # raw IEEE quotient of exact ints (engine-portable; no ROUND — see
        # ngram_jaccard_pairs)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_l") + F.col("size_r") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )
    return result


def _shingle_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    pre_normalized: bool = False,
) -> DataFrame:
    """(id, array<long>) distinct hashed word k-shingles per document.

    Shingles are hashed to 64-bit ints inside the array (xxhash64): every
    consumer (cross_ngram_jaccard, decontaminate, verify_candidate_pairs)
    uses the values only as join/intersection keys and emits ids + counts,
    so the hash is internal — the cheap engine-native kernel runs once per
    shingle here instead of once per explode copy downstream, and shuffles
    move 8-byte longs (see ngram_jaccard_pairs for the measured A/B)."""
    df = _ensure_parallelism(df, id_col)
    return df.select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), k, pre_normalized),
            lambda s: F.xxhash64(s),
        ).alias("__shingles"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """One row per (doc, permutation): the MinHash value.

    Computed as min over the doc's shingle hashes of (a*h + b) mod P.
    Stays long-format (id, perm, minhash) so the oracle SQL is a plain
    GROUP BY; ``minhash_signature_array`` pivots to array form.
    """
    sh = shingle_rows(df, text_col, id_col, k).withColumn("h", shingle_hash(F.col("shingle")))
    perms = None
    for i, (a, b) in enumerate(minhash_params(num_perm)):
        # (a*h + b) mod P in double-safe pieces: h < 2^60, a,b < 2^61 —
        # direct multiply overflows long, so use (a mod P * h mod P) via
        # split multiply: a*h mod P with 128-bit emulation is overkill here;
        # instead reduce a to < 2^30 to keep a*h within 90 bits -> decimal
        a30 = a & ((1 << 30) - 1)
        expr = (
            (F.col("h").cast("decimal(38,0)") * F.lit(a30) + F.lit(b % MINHASH_PRIME))
            % F.lit(MINHASH_PRIME)
        ).cast("bigint")
        row = F.struct(F.lit(i).alias("perm"), expr.alias("hv"))
        perms = F.array(row) if perms is None else F.concat(perms, F.array(row))
    exploded = sh.select(id_col, F.explode(perms).alias("p")).select(
        id_col, F.col("p.perm").alias("perm"), F.col("p.hv").alias("hv")
    )
    return exploded.groupBy(id_col, "perm").agg(F.min("hv").alias("minhash"))


def minhash_signature_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    sig = minhash_signatures(df, text_col, id_col, k, num_perm)
    return sig.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("perm", "minhash"))
        ).alias("_s")
    ).select(id_col, F.transform("_s", lambda s: s["minhash"]).alias("signature"))


def minhash_lsh_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) MinHash band-hash index of a corpus.

    The persistable half of LSH dedup: write this once per frozen corpus
    (ideally bucketed by ``bucket``), then screen every new crawl batch
    against it with :func:`minhash_lsh_lookup` — the index is never
    recomputed and the join is index-sized, not corpus×corpus. The band
    hashes depend only on the fixed universal-hash constants
    (:func:`minhash_params`), so an index built today matches signatures
    computed in any later job."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, k, num_perm).withColumn(
        "band", (F.col("perm") / rows_per_band).cast("int")
    )
    return sig.groupBy(id_col, "band").agg(
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list(F.concat_ws(":", "perm", "minhash"))))).alias(
            "bucket"
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Signatures are split into ``bands``; docs sharing any band hash become a
    candidate pair. The only shuffles are the signature groupBy and the
    band-bucket self-join — never doc×doc.

    The band-hash index is persisted: both sides of the self-join read
    it, and without the cache the whole signature pipeline (shingle ->
    md5 -> num_perm universal hashes -> explode -> min-agg -> band md5)
    executed TWICE per run (r13-opt; the index is id×bands rows of
    ~44 bytes, far smaller than the work that builds it). Long-lived
    sessions call :func:`firepit_spark.functions.release` once the
    result is collected.
    """
    band_hash = pin(minhash_lsh_index(df, text_col, id_col, k, num_perm, bands))
    a = band_hash.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = band_hash.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_lookup(
    index: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Screen a new batch against a stored band-hash index.

    Returns candidate (new_id, index_id) pairs — every new doc that shares
    any band bucket with an indexed doc. Band-hash the (small) new batch
    with the same fixed constants, then one equi-join on (band, bucket);
    the batch side is typically broadcast by AQE. Self-matches (same id on
    both sides) are dropped so an already-indexed doc doesn't pair with
    itself.

    The index's id column is whichever column is NOT ``band``/``bucket``
    (a reloaded index may list columns in any order); an index with a
    different shape is rejected loudly instead of mis-joining."""
    extra = [c for c in index.columns if c not in ("band", "bucket")]
    if len(extra) != 1 or "band" not in index.columns or "bucket" not in index.columns:
        raise ValueError(
            f"index must have columns (id, band, bucket); got {index.columns}"
        )
    idx_col = extra[0]
    probe = minhash_lsh_index(new_df, text_col, id_col, k, num_perm, bands)
    return (
        probe.select(F.col(id_col).alias("new_id"), "band", "bucket")
        .join(index.select(F.col(idx_col).alias("index_id"), "band", "bucket"),
              ["band", "bucket"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    pre_normalized: bool = False,
) -> DataFrame:
    """Per-document SimHash over word shingle hashes.

    Bit ``j`` of the result is 1 when the majority of the doc's shingle
    hashes have bit ``j`` set. Pure aggregation (explode + groupBy), one
    shuffle on the id. 32 bits keeps every intermediate in longs so the
    ANSI-SQL oracle matches exactly. ``pre_normalized`` as in
    :func:`~.text.word_shingles`.
    """
    sh = shingle_rows(
        df, text_col, id_col, 2, pre_normalized=pre_normalized
    ).withColumn("h", shingle_hash(F.col("shingle")))
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(bits):
        aggs.append(F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"b{j}"))
    counts = sh.groupBy(id_col).agg(*aggs)
    out = F.lit(0).cast("bigint")
    for j in range(bits):
        out = out + F.when(F.col(f"b{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
    return counts.select(F.col(id_col), out.alias("simhash"))


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    max_ngram_freq: int | None = None,
    bloom_fpp: Optional[float] = None,
    with_containment: bool = False,
    pre_normalized: bool = False,
) -> DataFrame:
    """Strict eval-set decontamination (the GPT-3/PaLM standard): flag
    every training document that shares at least one word ``n``-gram
    with an eval document — membership, not similarity, so a single
    verbatim 13-gram is enough where :func:`cross_ngram_jaccard`'s
    Jaccard threshold would wave it through.

    Returns (train_id, eval_id, n_shared) — one row per contaminated
    pair with the count of distinct shared n-grams. Drop duplicates of
    ``train_id`` downstream to get the removal list. Documents shorter
    than ``n`` words have no n-grams and are never flagged.

    ``with_containment=True`` adds ``eval_size`` (the eval doc's distinct
    n-gram count) and ``containment = n_shared / eval_size`` — the
    asymmetric coverage fraction decontamination decisions actually key
    on ("how much of the EVAL doc appears in training"), which Jaccard
    dilutes when the train doc is much longer. The denominator is the
    full pre-cutoff eval size, so a ``max_ngram_freq`` cutoff can only
    lower the fraction, never inflate it; the quotient is the raw IEEE
    division of two exact ints (engine-portable, never pre-rounded).

    Scale shape: identical to :func:`cross_ngram_jaccard` — per-corpus
    inverted indexes joined on 64-bit n-gram hashes (8-byte shuffle
    keys), never train×eval; the eval index is tiny and AQE broadcasts
    it. ``max_ngram_freq`` is OFF by default: a frequency cutoff would
    silently un-flag hot n-grams (false negatives — wrong default for a
    contamination gate); set it only when a pathological corpus makes
    the hot-key fan-out bind, and log what it drops.

    ``bloom_fpp``: prescreen the train index through a Bloom filter of
    the eval n-grams (for eval sets whose *index* can't broadcast but
    whose bitset can) — map-only shedding of the train side, provably
    lossless: the filter has no false negatives, so every train
    occurrence of an eval-present n-gram survives, and train-only
    n-grams produce no pairs (and can only LOWER union frequency
    counts of non-pair-producing n-grams when ``max_ngram_freq`` is
    set — never un-flag a real contamination).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    tsh = _shingle_arrays(train, text_col, id_col, n, pre_normalized).select(
        F.col(id_col).alias("train_id"), F.explode("__shingles").alias("shingle")
    )
    esh = _shingle_arrays(eval_df, text_col, id_col, n, pre_normalized).select(
        F.col(id_col).alias("eval_id"),
        F.size("__shingles").alias("__esize"),
        F.explode("__shingles").alias("shingle"),
    )
    if bloom_fpp is not None:
        from .bloom import bloom_build, bloom_params, bloom_prescreen

        # persist: the eval index otherwise re-shingles for the sizing
        # count, the filter build, the freq union, and the final join;
        # size on (approx) DISTINCT shingles — occurrence count would
        # build a filter inflated by within-corpus n-gram repetition
        esh = pin(esh)
        n_distinct = esh.agg(F.approx_count_distinct("shingle")).first()[0]
        bits, hashes = bloom_params(max(64, int(n_distinct * 1.1)), bloom_fpp)
        ebloom = pin(bloom_build(esh, "shingle", bits, hashes))
        tsh = bloom_prescreen(tsh, "shingle", ebloom, bits, hashes)
    if max_ngram_freq is not None:
        # hot-set anti-join form (see ngram_jaccard_pairs)
        hot = (
            tsh.select("shingle")
            .unionAll(esh.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") > max_ngram_freq)
            .select("shingle")
        )
        tsh = tsh.join(hot, "shingle", "left_anti")
        esh = esh.join(hot, "shingle", "left_anti")
    if with_containment:
        # __esize rides the exploded rows (pre-cutoff denominator), so no
        # extra size join against the eval corpus is needed
        result = (
            tsh.join(esh, "shingle")
            .groupBy("train_id", "eval_id", "__esize")
            .agg(F.count_distinct("shingle").alias("n_shared"))
            .select(
                "train_id",
                "eval_id",
                "n_shared",
                F.col("__esize").cast("long").alias("eval_size"),
                (F.col("n_shared") / F.col("__esize")).alias("containment"),
            )
        )
    else:
        result = (
            tsh.join(esh, "shingle")
            .groupBy("train_id", "eval_id")
            .agg(F.count_distinct("shingle").alias("n_shared"))
        )
    return result


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: joins each (id_a,
    id_b) pair back to the two documents' shingle sets and computes true
    Jaccard with ``array_intersect`` — cost is per CANDIDATE pair, never
    per corpus pair, so a sloppy (high-recall) candidate generator stays
    cheap to clean up. Returns (id_a, id_b, jaccard) at or above
    ``threshold``."""
    sh = _shingle_arrays(df, text_col, id_col, k)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__shingles").alias("__sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__shingles").alias("__sb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(inter / F.nullif(union, F.lit(0.0)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    max_iter: int = 20,
    score_col: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """The standard corpus fuzzy-dedup pipeline in one call (the
    SlimPajama/BigCode recipe): MinHash-LSH candidate pairs -> exact
    Jaccard verification of ONLY those pairs -> connected components ->
    keep one document per near-dup cluster (min id by default;
    ``score_col=`` keeps the BEST-scoring copy instead — ties break on
    the id — via :func:`firepit_spark.functions.graph.dedup_keep_best`).

    Each stage keeps the scale shape of its standalone operator: banding
    bounds the candidate join, verification is per-candidate, and the
    component loop converges in O(cluster diameter) rounds with
    checkpointed lineage (pass ``checkpoint_dir=`` on a real cluster so
    the truncation survives executor loss). ``max_iter`` is the
    component loop's strict propagation-step budget (see
    :func:`firepit_spark.functions.graph.connected_components`): a
    cluster that needs more steps stays split and keeps more than one
    copy. Returns the surviving rows of ``df`` (singletons pass through
    untouched).
    """
    # the input feeds four consumers (minhash signatures, both verify
    # sides, the final anti-join) — pin it so an expensive upstream
    # (e.g. a model_filter mapInPandas stage) executes once, not 4x
    df = pin(df)
    cands = minhash_lsh_candidates(df, text_col, id_col, k, num_perm, bands)
    confirmed = verify_candidate_pairs(df, cands, text_col, id_col, k, threshold)
    from .graph import dedup_clusters, dedup_keep_best

    comp = dedup_clusters(
        confirmed.select("id_a", "id_b"),
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    )
    if score_col is not None:
        # quality-aware keep-one: the best-scoring copy survives
        result = dedup_keep_best(df, comp, score_col, id_col)
    else:
        # default keep-one rule: min id per component; non-representatives
        # are the drop set
        drops = comp.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
        result = df.join(drops, id_col, "left_anti")
    return result


def positional_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    pre_normalized: bool = False,
) -> DataFrame:
    """(id, pos, gram_hash) rows: the k-token gram starting at each word
    position. Unlike :func:`shingle_rows` these are positional and NOT
    deduplicated — the substrate for substring-level duplicate detection.
    One codegen regex pass; hashes are internal join keys only (every
    consumer emits positions/lengths, never hash values), so the cheap
    engine-native xxhash64 applies — same collision-tolerance contract
    as :func:`ngram_jaccard_pairs`."""
    from firepit_spark.functions.text import normalize_ws

    df = _ensure_parallelism(df, id_col)
    norm = (
        F.col(text_col)
        if pre_normalized
        else F.lower(normalize_ws(F.col(text_col)))
    )
    pattern = r"(?<!\S)(?=(\S+(?: \S+){%d}))" % (k - 1)
    grams = F.regexp_extract_all(norm, F.lit(pattern), 1)
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "__g")
    ).select(F.col(id_col), "pos", F.xxhash64(F.col("__g")).alias("gram"))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int = 16,
    max_gram_freq: int = 1000,
    other: Optional[DataFrame] = None,
    pre_normalized: bool = False,
) -> DataFrame:
    """Shared verbatim passages of >= ``min_tokens`` tokens across document
    pairs — substring-level duplication that document-level Jaccard misses
    (boilerplate headers, quoted blocks, templated bodies; the signal behind
    suffix-array dedup a la "Deduplicating Training Data Makes Language
    Models Better", here approximated with k-gram diagonal chaining).
    This is the PAIR-level report (who shares what, where, how long);
    for corpus-scale removal prefer :func:`dedup_spans` — a passage
    shared by m documents yields O(m^2) pair rows here but only O(m)
    gram occurrences there.

    Plan shape: positional k-gram inverted index (8-byte hashes) with the
    standard frequency cutoff -> equi-join on the gram -> matches at the
    same position offset (the "diagonal") chain into runs via one bounded
    window per (pair, diagonal). Never a doc x doc product; the window
    partitions are match-sized, not corpus-sized. A run of n consecutive
    matching grams covers n + k - 1 tokens.

    Returns (id_a, id_b, start_a, start_b, span_tokens), one row per
    maximal duplicated span.

    ``other``: cross-corpus mode — find passages of ``df`` (id_a side)
    duplicated in ``other`` (id_b side), e.g. span-level train/eval
    contamination with *where and how long*, not just the membership
    flag :func:`ngram_contamination` gives. The frequency cutoff then
    applies to the union index (a gram hot in either corpus is capped),
    and pairs within one corpus are not reported. The two corpora's id
    spaces are independent (ids are never compared across sides).
    """
    if min_tokens < k:
        raise ValueError("min_tokens must be >= k (spans are built from k-grams)")
    pg = pin(positional_grams(df, text_col, id_col, k, pre_normalized))
    if other is None:
        pg_b = pg
        freq_src = pg
    else:
        pg_b = pin(positional_grams(other, text_col, id_col, k, pre_normalized))
        freq_src = pg.unionByName(pg_b)

    # hot-set anti-join form (see ngram_jaccard_pairs)
    hot = freq_src.groupBy("gram").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") > max_gram_freq
    ).select("gram")
    idx_a = pg.join(hot, "gram", "left_anti")
    idx_b = pg_b.join(hot, "gram", "left_anti") if other is not None else idx_a

    a = idx_a.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "gram")
    b = idx_b.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "gram")
    matches = a.join(b, "gram")
    if other is None:
        matches = matches.filter(F.col("id_a") < F.col("id_b"))
    matches = matches.select(
        "id_a", "id_b", "pos_a", "pos_b", (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    )
    # islands of consecutive pos_a within a (pair, diagonal) partition:
    # pos_a - row_number() is constant across a consecutive run
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    runs = matches.withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
    result = (
        runs.groupBy("id_a", "id_b", "__diag", "__isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )
    return result


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    margin: int = 0,
) -> DataFrame:
    """Cut duplicated passages out of the LOWER-priority document of each
    pair (the higher ``id_b`` keeps only its first occurrence corpus-wide
    when ids order by ingest time) — the surgery step of substring-level
    dedup: detection (:func:`duplicate_spans`) finds the shared passages,
    this removes them from ``id_b`` docs while ``id_a`` docs keep theirs.

    ``margin`` widens each removed interval by that many tokens on both
    sides (boilerplate edges often differ by a token or two).

    Plan shape: spans -> per-doc interval list (one groupBy over spans,
    which are tiny relative to the corpus) -> left join onto the corpus
    (AQE broadcasts the interval side when it fits) -> token filter as a
    codegen higher-order function. Untouched docs pass through with text
    unchanged. Surviving tokens keep their ORIGINAL casing (whitespace
    tokenization aligns 1:1 with the normalized index positions);
    whitespace runs between survivors collapse to single spaces.
    """
    iv = (
        spans.select(
            F.col("id_b").alias(id_col),
            F.struct(
                F.greatest(F.col("start_b") - margin, F.lit(0)).alias("lo"),
                (F.col("start_b") + F.col("span_tokens") - 1 + margin).alias("hi"),
            ).alias("__iv"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("__iv").alias("__ivs"))
    )
    # split the ORIGINAL text on whitespace runs: token positions align
    # 1:1 with the normalized tokens duplicate_spans indexed (whitespace
    # collapse and lowercasing don't change token boundaries), so the cut
    # hits the right tokens while the survivors keep their original casing.
    # Strip leading/trailing whitespace of ANY kind first — F.trim strips
    # spaces only, and a leading \n/\t would emit an empty first token and
    # shift every index off by one (cutting the wrong tokens)
    toks = F.split(
        F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+"
    )
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("__ivs"), lambda v: (s["i"] >= v["lo"]) & (s["i"] <= v["hi"])
        ),
    )
    out = df.join(iv, id_col, "left").withColumn(
        text_col,
        F.when(F.col("__ivs").isNull(), F.col(text_col)).otherwise(
            F.array_join(F.transform(kept, lambda s: s["t"]), " ")
        ),
    )
    return out.drop("__ivs")


def lsh_band_plan(num_perm: int, threshold: float) -> dict:
    """Pick the (bands, rows-per-band) split of a ``num_perm``-permutation
    MinHash signature that best targets a Jaccard ``threshold``.

    LSH banding's S-curve: a pair with Jaccard s becomes a candidate with
    probability 1 - (1 - s^r)^b. The classic rule of thumb puts the curve's
    inflection at (1/b)^(1/r); this helper scans every divisor split of
    ``num_perm`` and returns the one whose inflection lands closest to the
    requested threshold, plus the curve values at the threshold and at
    0.5x / 1.5x of it (what you'd actually quote in a recall/precision
    budget). Pure planning — call it before ``minhash_lsh_candidates`` /
    ``fuzzy_dedup`` instead of hand-picking ``bands``.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")

    def p_candidate(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        inflection = (1.0 / b) ** (1.0 / r)
        score = abs(inflection - threshold)
        if best is None or score < best["_score"]:
            best = {
                "bands": b,
                "rows_per_band": r,
                "inflection": inflection,
                "p_at_threshold": p_candidate(threshold, b, r),
                "p_below": p_candidate(threshold * 0.5, b, r),
                "p_above": p_candidate(min(1.0, threshold * 1.5), b, r),
                "_score": score,
            }
    del best["_score"]
    return best


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int = 8,
    bits: int = 64,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs among fixed-width integer hashes (SimHash,
    image dHash) under a Hamming-distance bound — the multi-index
    pigeonhole join.

    The ``bits``-wide hash is sliced into ``bands`` equal slices; two
    hashes within ``max_hamming`` bit flips must agree on at least one
    whole slice whenever ``max_hamming < bands`` (pigeonhole), so an
    equi-join on (slice index, slice value) generates every qualifying
    pair — LOSSLESS candidate generation, unlike probabilistic LSH
    banding — and ``bit_count(a ^ b) <= max_hamming`` verifies exactly,
    all JVM-side.

    Scale shape (the 100 TB story, in order of importance):

    1. **Exact duplicates never band.** Identical content means identical
       hash, and real corpora are full of it (solid-color images, template
       pages all hash alike). The join runs over DISTINCT hash values with
       a min-id representative; a billion copies of the same meme
       contribute ONE row per band, not a quadratic bucket. Recover the
       hamming-0 members by grouping on the hash column (that is plain
       :func:`exact_duplicates` on the hash).
    2. **Candidates, never corpus².** Only bucket collisions are verified;
       the shuffle key is a ≤(8+8)-byte (slice idx, slice value) pair.
    3. **Hot buckets are boundable.** Narrow slices have small value
       ranges (64/8 = 8-bit slices → 256 values), so pathological corpora
       can pile into few buckets; ``max_bucket`` drops buckets above the
       cutoff (count over distinct hashes, broadcast anti join — same
       design as the shingle hot-set cutoff). That trades bounded recall
       loss for a bounded join, and ONLY for hashes that collide with
       >max_bucket distinct others on that slice. Off by default; log
       what you drop.

    4. **One pass over pairs.** Without a cutoff, each pair is emitted on
       its lowest agreeing slice only (every lower slice of the xor must
       be non-zero), so no dedup shuffle over the pair set exists; with
       ``max_bucket`` the pair set is deduped instead, since the lowest
       agreeing slice may itself have been cut.

    The distinct-hash frame is pinned (both join sides and the
    potentially expensive upstream — e.g. an image decode — must not run
    twice); call :func:`firepit_spark.functions.release` once the result
    is collected in long-lived sessions.

    Returns (id_a, id_b, hamming) with id_a < id_b over the distinct-hash
    representatives.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64] (bigint hashes), got {bits}")
    if bands < 2:
        # bands=1 implies max_hamming=0 (exact equality) — that is plain
        # exact_duplicates on the hash column, and its 64-bit slice mask
        # would overflow a long literal anyway
        raise ValueError(f"bands must be >= 2, got {bands}")
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"lossless pigeonhole needs 0 <= max_hamming < bands, got "
            f"{max_hamming} vs {bands}; raise bands or lower max_hamming"
        )
    width = bits // bands
    mask = (1 << width) - 1
    h = F.col(hash_col).cast("bigint")
    # persist the distinct-hash frame: both join sides read it, and its
    # upstream may be an expensive Python decode (image_dhash) that must
    # not run twice; 16 bytes/row, so it caches even at corpus scale
    distinct = pin(
        df.groupBy(h.alias("__h")).agg(F.min(F.col(id_col)).alias("__rep"))
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("slice"),
                F.shiftrightunsigned(F.col("__h"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(bands)
        ]
    )
    keyed = distinct.select(
        "__h", "__rep", F.explode(slices).alias("__s")
    ).select("__h", "__rep", F.col("__s.slice").alias("__slice"), F.col("__s.val").alias("__val"))
    if max_bucket is not None:
        hot = (
            keyed.groupBy("__slice", "__val")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("__slice", "__val")
        )
        keyed = keyed.join(F.broadcast(hot), ["__slice", "__val"], "left_anti")
    a = keyed.select(
        F.col("__slice"), F.col("__val"),
        F.col("__h").alias("__ha"), F.col("__rep").alias("id_a"),
    )
    b = keyed.select(
        F.col("__slice"), F.col("__val"),
        F.col("__h").alias("__hb"), F.col("__rep").alias("id_b"),
    )
    xor = F.col("__ha").bitwiseXOR(F.col("__hb"))
    joined = a.join(b, ["__slice", "__val"]).filter(F.col("id_a") < F.col("id_b"))
    if max_bucket is None:
        # emit each pair only on its LOWEST agreeing slice: the filter
        # requires every lower slice of the xor to be non-zero, so pairs
        # come out of the join exactly once — no dedup shuffle over the
        # pair set at all
        first_match = F.lit(True)
        for i in range(1, bands):
            lower_differs = F.lit(True)
            for j in range(i):
                lower_differs = lower_differs & (
                    F.shiftrightunsigned(xor, j * width).bitwiseAND(F.lit(mask)) != 0
                )
            first_match = F.when(F.col("__slice") == i, lower_differs).otherwise(
                first_match
            )
        uniq = joined.filter(first_match).select("__ha", "__hb", "id_a", "id_b")
    else:
        # under a hot-bucket cutoff the lowest agreeing slice may have
        # been dropped while a higher one survived; dedup over the pair
        # set keeps those pairs instead of silently losing them
        uniq = joined.select("__ha", "__hb", "id_a", "id_b").dropDuplicates(
            ["id_a", "id_b"]
        )
    return (
        uniq.withColumn("hamming", F.bit_count(xor).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 8,
    bits: int = 32,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """SimHash near-duplicate pairs in one call: :func:`simhash` per doc,
    then the lossless :func:`hamming_near_dup_pairs` pigeonhole join.
    Returns (id_a, id_b, hamming) over distinct-hash representatives —
    the textual sibling of the image/audio perceptual-dedup path."""
    hashed = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    return hamming_near_dup_pairs(
        hashed,
        "simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        bands=bands,
        bits=bits,
        max_bucket=max_bucket,
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 30,
) -> DataFrame:
    """Corpus-GLOBAL line deduplication — the C4/RefinedWeb move that
    document-level dedup cannot express: any line (≥ ``min_chars``
    after trim) occurring anywhere else in the corpus survives only at
    its FIRST occurrence (min ``(id, position)``); every other copy is
    cut out of its document. This is what strips boilerplate
    navigation/footer lines that ride along inside otherwise-unique
    pages. Short lines are exempt (deduping every blank line or "Home"
    would shred documents).

    Returns ``(id_col, text_col, n_lines_removed)`` — join back on the
    id for the other columns (returning a rebuilt text column next to
    a stale one invites bugs). Documents whose text is NULL pass
    through untouched (NULL text, ``n_lines_removed = 0``): exploding
    a NULL split emits zero rows, which would silently drop the id
    from the output and break the documented join-back contract.

    Plan shape: posexplode (map-only) → keeper per line = ONE
    map-side-combined ``min(struct(id, pos))`` groupBy on
    ``xxhash64(line)`` (the 8-byte key, not the line, is what shuffles
    on the agg side) →
    join back on the hash → per-doc rebuild as ONE groupBy(id) with an
    ``array_sort`` + ``array_join`` fold. Two shuffles of (id, pos,
    line) granularity total; decisions are global, so that lower bound
    is inherent — but only LINES move, never whole documents."""
    # NULL-text docs exit here with their id intact; the explode below
    # would emit zero rows for them
    null_text = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNull()
    ).select(
        F.col(id_col),
        F.col(text_col).cast("string").alias(text_col),
        F.lit(0).cast("bigint").alias("n_lines_removed"),
    )
    # \r?\n: a CRLF copy of a line must dedup against its LF twin (the
    # rebuilt text joins with plain \n either way)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\r?\n")).alias("pos", "line"),
    ).filter(F.col(id_col).isNotNull())
    # internal keeper key only (output is rebuilt text + counts): the
    # engine-native 8-byte xxhash64 shuffles a quarter of the md5 hex
    # string's bytes and the kernel is ~10x cheaper (same collision
    # tolerance contract as ngram_jaccard_pairs)
    lh = F.xxhash64(F.col("line"))
    eligible = F.length(F.trim(F.col("line"))) >= min_chars
    keepers = (
        lines.filter(eligible)
        .groupBy(lh.alias("__lh"))
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"))
    )
    marked = lines.join(keepers, lh == F.col("__lh"), "left")
    kept = F.col("__lh").isNull() | (
        (F.col(f"__k.{id_col}") == F.col(id_col))
        & (F.col("__k.pos") == F.col("pos"))
    )
    rebuilt = (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col),
            F.sum(F.when(kept, 0).otherwise(1))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )
    return rebuilt.unionByName(null_text)


def duplicate_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Per-document CROSS-corpus duplication signal (the RefinedWeb/
    Dolma curation feature): the fraction of a document's word
    ``n``-gram occurrences that also appear in at least one OTHER
    document. High values mark templated/syndicated/scraped-from-
    elsewhere pages that per-document quality scores miss and that
    near-dup clustering only catches when whole documents align —
    filter or down-weight on it (``.filter("dup_gram_frac < 0.5")``).
    Within-document repeats do NOT count (that's the intra-doc Gopher
    family, char_repetition_stats); a gram is duplicated iff its
    min and max holder ids differ.

    Returns ``(id_col, n_grams, dup_gram_frac)`` — ``n_grams`` = gram
    occurrences (0 for docs shorter than ``n`` words, fraction 0.0).

    Plan shape: one explode (map-only regex pass) → duplicated-gram
    verdict as a map-side-combined ``min(id) != max(id)`` groupBy on
    ``xxhash64(gram)`` (8-byte keys shuffle, not gram text) → hash
    join-back → per-doc fraction in one groupBy(id). Same two-shuffle
    lower bound as :func:`dedup_lines`, and the verdict agg carries
    one candidate per (partition, gram)."""
    from firepit_spark.functions.text import word_ngrams

    grams = df.select(
        F.col(id_col),
        F.explode_outer(word_ngrams(F.col(text_col), n)).alias("__g"),
    )
    # internal dup-verdict key only (output is counts + a fraction):
    # 8-byte xxhash64 instead of the 32-byte md5 hex string (see
    # dedup_lines). NULL grams (explode_outer rows of gram-less docs)
    # hash non-NULL under xxhash64, but those docs have n_grams = 0 and
    # emit fraction 0.0 regardless of the join outcome.
    gh = F.xxhash64(F.col("__g"))
    dup = (
        grams.filter(F.col("__g").isNotNull())
        .groupBy(gh.alias("__gh"))
        .agg((F.min(id_col) != F.max(id_col)).alias("__dup"))
    )
    marked = grams.join(dup, gh == F.col("__gh"), "left")
    n_grams = F.count("__g")
    dup_cnt = F.sum(F.when(F.col("__dup"), 1).otherwise(0))
    return marked.groupBy(id_col).agg(
        n_grams.alias("n_grams"),
        F.when(n_grams > 0, F.round(dup_cnt / n_grams, 6))
        .otherwise(F.lit(0.0)).alias("dup_gram_frac"),
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 15,
) -> DataFrame:
    """Corpus-global duplicated-SPAN removal — the ExactSubstr move
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") at word granularity: every occurrence of a word
    ``n``-gram that appears more than once in the corpus (including
    within one document) is removed EXCEPT the globally-first
    occurrence (min ``(id, position)``), and overlapping duplicated
    spans merge into one cut. This is the surgical sibling of
    :func:`dedup_lines` (which needs line structure) and of
    :func:`duplicate_ngram_fraction` (which only measures): syndicated
    paragraphs, quoted passages and boilerplate embedded mid-document
    are excised while the unique remainder of the page survives.
    Relation to the pairwise family: :func:`duplicate_spans` +
    :func:`remove_duplicate_spans` report/remove MAXIMAL shared
    passages per document pair (offsets and lengths — the
    contamination-forensics shape) but a passage shared by m docs
    costs O(m^2) pair rows there; this keep-first form decides per
    gram occurrence in one global groupBy, O(m), the right default
    for corpus-scale removal.

    Tokens are whitespace runs, case-SENSITIVE (ExactSubstr is exact
    match; the lowercase families are the near-dup sketches). Returns
    ``(id_col, text_col, n_tokens_removed)`` — join back on the id for
    other columns. Documents with no removal keep their text
    byte-identical; a rebuilt document is single-space joined (token
    granularity can't retain interior whitespace). NULL-text documents
    pass through (NULL text, 0 removed) so the join-back contract
    holds — same contract as :func:`dedup_lines`.

    Plan shape: gram starts explode map-only from ONE bound token
    array; the duplicate verdict + keeper is ONE map-side-combined
    ``(count, min(struct(id, pos)))`` groupBy on ``xxhash64(gram)``
    (8-byte keys shuffle, never text); join-back on the hash; removal starts
    fold into per-doc interval unions with document-local array ops.
    Two shuffles of (id, pos, hash) granularity — the same
    decision-is-global lower bound as :func:`dedup_lines` — plus one
    id-granularity join back to the source frame. Token arrays and the
    covered-position set are bound as columns BEFORE any lambda reads
    them (Catalyst re-evaluates non-attribute subexpressions per
    element)."""
    null_text = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNull()
    ).select(
        F.col(id_col),
        F.col(text_col).cast("string").alias(text_col),
        F.lit(0).cast("bigint").alias("n_tokens_removed"),
    )
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    # bind the token array once; every lambda below reads the attribute
    toked = base.select(
        F.col(id_col), F.col(text_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    t = F.col("__toks")
    # posexplode_outer, NOT posexplode: the non-outer form makes
    # InferFiltersFromGenerate synthesize a size()>0 filter below the
    # generate that re-evaluates the whole gram-hash transform twice
    grams = toked.select(
        F.col(id_col),
        F.posexplode_outer(
            F.when(
                F.size(t) >= n,
                F.transform(
                    F.slice(t, 1, F.size(t) - (n - 1)),
                    # internal keeper key only (output is rebuilt text +
                    # counts): 8-byte xxhash64, not the 32-byte md5 hex
                    lambda _, i: F.xxhash64(
                        F.array_join(F.slice(t, i + 1, n), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("pos", "__gh"),
    ).filter(F.col("__gh").isNotNull())
    verdict = grams.groupBy(F.col("__gh").alias("__h")).agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"),
    ).filter(F.col("__c") > 1)
    # non-keeper occurrences of duplicated grams = spans to cut
    removals = (
        grams.join(verdict, F.col("__gh") == F.col("__h"), "inner")
        .filter(
            (F.col(f"__k.{id_col}") != F.col(id_col))
            | (F.col("__k.pos") != F.col("pos"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__starts"))
    )
    joined = toked.join(removals, on=id_col, how="left")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("__starts"), lambda p: F.sequence(p, p + (n - 1))
            )
        )
    )
    # bind covered before the filter lambda reads it per token
    staged = joined.select(
        F.col(id_col), F.col(text_col), t,
        F.when(F.col("__starts").isNotNull(), covered).alias("__cov"),
    )
    rebuilt = F.array_join(
        F.filter(t, lambda _, i: ~F.array_contains(F.col("__cov"), i)),
        " ",
    )
    return staged.select(
        F.col(id_col),
        F.when(F.col("__cov").isNull(), F.col(text_col))
        .otherwise(rebuilt).alias(text_col),
        F.coalesce(F.size("__cov"), F.lit(0))
        .cast("bigint").alias("n_tokens_removed"),
    ).unionByName(null_text)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
) -> DataFrame:
    """Rolling-window document fingerprints by WINNOWING (Schleimer,
    Wilkerson & Aiken 2003 — the MOSS scheme): hash every overlapping
    word ``k``-gram, slide a window of ``w`` consecutive hashes, and
    select each window's MINIMUM (rightmost on ties). The selected
    ``(pos, fp)`` set is a guaranteed-coverage sketch: any shared run
    of ≥ ``w + k - 1`` words between two documents yields at least one
    shared fingerprint, at ~1/w the density of full shingling — the
    position-robust fingerprint family the shingle index lacks (join
    candidates on ``fp``).

    Gram hashes are the corpus-standard 60-bit md5 ints
    (:func:`shingle_hash`), reproducible in ANSI SQL. Documents with
    fewer than ``w`` grams winnow as a single window; documents with
    no ``k``-gram at all emit no rows.

    Plan shape: ENTIRELY document-local — one regex gram pass + two
    higher-order folds per row, ZERO shuffles; candidate joins
    downstream shuffle only (id, pos, fp) triples.

    The inner loop packs ``(hash, pos)`` into ONE primitive bigint,
    ``key = h·w − pos``: within a window positions differ by < w while
    distinct 60-bit hashes differ by ≥ w after the ·w scaling, so
    bigint ``<`` reproduces (min h, rightmost pos) exactly — the
    window pick is a primitive ``array_min(slice(...))`` instead of a
    struct fold, worth ~5× wall (interpreted lambda steps run once per
    WINDOW, not once per window element; see BASELINE.md r13).
    Packing needs ``(2^60−1)·w < 2^63`` — i.e. ``w ≤ 8``; larger
    windows take the struct-fold path."""
    from firepit_spark.functions.text import word_ngrams

    if (2 ** 60 - 1) * w >= 2 ** 63:
        raise ValueError(
            f"w={w} overflows the bigint (hash, pos) packing; w <= 8"
        )
    # each array is bound as a CONCRETE column before any lambda reads
    # it: a lambda body re-evaluates every non-attribute subexpression
    # per element, so referencing the transform expression directly
    # would re-run the md5 pass once per WINDOW (measured 10-26 ms/doc;
    # attribute-bound it's ~1 ms). localCheckpoint-free: these are
    # narrow projections, the optimizer keeps them as one codegen stage.
    hashed = df.select(
        F.col(id_col),
        F.transform(word_ngrams(F.col(text_col), k), shingle_hash)
        .alias("__h"),
    ).select(
        F.col(id_col),
        "__h",
        F.size("__h").alias("__n"),
        F.transform("__h", lambda h, i: h * w - i.cast("bigint"))
        .alias("__b"),
    )
    # NB: no pre-explode row filter, and explode_OUTER below — a plain
    # explode makes InferFiltersFromGenerate synthesize size(__sel)>0,
    # which predicate pushdown then inlines below these projections,
    # re-running the ENTIRE winnow (md5 per window) a second time per
    # row just to evaluate the filter (measured 13-26 ms/doc vs ~1).
    # Gram-less docs instead surface as one NULL row and drop on the
    # cheap post-explode attribute filter.

    def pick(s):
        q = F.array_min(F.slice(F.col("__b"), s + 1, w))
        relpos = F.pmod(-(q + s), F.lit(w)).cast("int")
        pos = (s + relpos).cast("int")
        # h via array lookup, not division: (q+pos)/w is exact only in
        # integer arithmetic, and Spark's / goes through double
        # (53-bit mantissa) — lossy for 60-bit hashes
        return F.struct(
            F.element_at(F.col("__h"), pos + 1).alias("h"),
            pos.alias("pos"),
        )

    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - w, F.lit(0))
    )
    return (
        hashed.select(
            F.col(id_col),
            F.array_distinct(F.transform(starts, pick)).alias("__sel"),
        )
        .select(F.col(id_col), F.explode_outer("__sel").alias("__fp"))
        .select(
            id_col,
            F.col("__fp.pos").alias("pos"),
            F.col("__fp.h").alias("fp"),
        )
        .filter(F.col("pos").isNotNull())
    )


def winnow_fingerprints_py(text: str, k: int = 5, w: int = 8) -> set:
    """Independent pure-python twin (same spec, loop code) — the
    differential oracle for :func:`winnow_fingerprints`."""
    import hashlib
    import re

    toks = re.sub(r"\s+", " ", (text or "").lower().strip()).split(" ")
    toks = [t for t in toks if t != ""]
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hashes = [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
        for g in grams
    ]
    n = len(hashes)
    if n == 0:
        return set()
    out = set()
    for s in range(max(n - w, 0) + 1):
        best_h, best_pos = None, None
        for pos in range(s, min(s + w, n)):
            if best_h is None or hashes[pos] <= best_h:  # rightmost tie
                best_h, best_pos = hashes[pos], pos
        out.add((best_pos, best_h))
    return out


def winnow_candidates(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_fp_freq: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs from a :func:`winnow_fingerprints`
    frame: ``(id_a, id_b, n_shared)`` for documents sharing at least
    one selected fingerprint — at ~1/w the index size of the shingle
    join, with the winnowing guarantee bounding what can be missed
    (no shared run ≥ w+k-1 words escapes). Same scale shape as
    ngram_jaccard_pairs' index: hot fingerprints (> ``max_fp_freq``
    docs — boilerplate the line/ngram family handles better) drop via
    an anti-join AQE can broadcast, then one self-equi-join on the
    8-byte fp and a map-side-combined pair count."""
    idx = fps.select(F.col(id_col), "fp").distinct()
    hot = (
        idx.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_fp_freq)
        .select("fp")
    )
    idx = idx.join(hot, "fp", "left_anti")
    a = idx.select(F.col(id_col).alias("id_a"), "fp")
    b = idx.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
