"""Corpus-trained n-gram language models.

CCNet/KenLM-style perplexity scoring (Wenzek et al. 2020): fit an
add-k-smoothed bigram model (or an interpolated Kneser-Ney trigram model)
on a reference corpus, score every candidate document with bits-per-token
— low-perplexity text resembles the reference (quality gate),
high-perplexity text is noise.

The reference engine (firepit) has no LM surface — this family belongs to
the LLM-training-data layer the Spark rebuild adds (see dedup.py,
corpus.py for siblings).

Scale shape (100 TB): the model is never a driver-side object — unigram
and bigram tables stay DataFrames and scoring is equi-joins on token
keys. Zipf-hot tokens are harmless here: the model side has exactly one
row per key, so the join fans out 1:1 with the fact side (no row
explosion, no skew amplification). Per-document reduction groups by
doc id, so no reduce key exceeds one document's length. The only
driver-side values are four scalars (vocab size, token total, corpus
sizes) from 1-row aggregates.

Float determinism: every cross-row sum that feeds a float is first
reduced to exact integer multiplicities, collected to a sorted array,
and folded left-to-right with ``F.aggregate`` — so a score is
bit-reproducible run-to-run regardless of partitioning. (Cross-engine
log parity is still not guaranteed — libm vs JVM ``Math.log`` may differ
in the last ulp — which is why driver-gated oracle columns stick to the
integer outputs and exact single divisions.)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from firepit_spark.functions import pin, text as tx


@dataclass
class NgramLM:
    """A fitted add-k bigram model; tables stay distributed."""

    unigrams: DataFrame  # (w, c1): token -> occurrences in train corpus
    bigrams: DataFrame  # (w1, w2, c12): adjacent-pair counts
    vocab_size: int  # V: distinct train tokens
    total_tokens: int  # N: train token occurrences
    k: float  # add-k smoothing constant


def _doc_tokens(
    df: DataFrame, id_col: str, text_col: str, tokens_col: str | None = None
) -> DataFrame:
    """(id, __t): whitespace tokens of the normalized text (tx.tokens —
    the engine-wide tokenizer, identical to the oracle's string_split).

    ``tokens_col`` skips tokenization and reads a pre-tokenized array
    column instead — the fan-out shape for jobs that fit AND score
    several models over one corpus: tokenize once (persist the array
    frame), hand every leg the same cache, and the normalize+split
    kernel runs once per document instead of once per leg."""
    if tokens_col is not None:
        return df.select(F.col(id_col), F.col(tokens_col).alias("__t"))
    return df.select(F.col(id_col), tx.tokens(F.col(text_col)).alias("__t"))


def _transitions(toks: DataFrame, id_col: str) -> DataFrame:
    """Explode each doc's adjacent token pairs; computed array-side
    (slice+zip), so no shuffle before the model joins."""
    pairs = F.arrays_zip(
        F.slice(F.col("__t"), 1, F.size("__t") - 1).alias("w1"),
        F.slice(F.col("__t"), 2, F.size("__t") - 1).alias("w2"),
    )
    return (
        toks.filter(F.size("__t") >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("__p"))
        .select(id_col, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    )


def ngram_lm_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    tokens_col: str | None = None,
) -> NgramLM:
    """Fit the add-k bigram model on ``df``'s text.

    Two explode→groupBy aggregations (map-side combine does the heavy
    counting; the shuffle carries (token, partial-count), not text), and
    one 1-row aggregate for the V/N scalars. The count tables are left
    unpersisted — callers that score repeatedly should
    ``lm.unigrams.persist()`` / ``lm.bigrams.persist()``.
    """
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    toks = _doc_tokens(df, id_col, text_col, tokens_col)
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        _transitions(toks, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    v, n = uni.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c1").alias("n")
    ).first()
    return NgramLM(
        unigrams=uni,
        bigrams=big,
        vocab_size=int(v or 0),
        total_tokens=int(n or 0),
        k=float(k),
    )


def ngram_lm_score(
    df: DataFrame,
    lm: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_oov: bool = True,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document score frame against a fitted model.

    Columns (one row per input doc):

    * ``n_tokens``, ``n_trans`` — token / adjacent-pair counts (ints).
    * ``unseen_bigrams`` — transitions whose pair the model never saw.
    * ``unseen_hist`` — transitions whose *history* token is OOV.
    * ``unseen_rate`` — unseen_bigrams / n_trans (exact single division).
    * ``bits_per_token`` — add-k bigram cross-entropy in bits over the
      doc's transitions: mean of -log2((c12+k)/(c1+k·V)). NULL when
      n_trans = 0.
    * ``ppl`` — 2^bits_per_token.
    * ``unigram_bits_per_token`` (``with_oov``) — unigram cross-entropy
      -log2((c+k)/(N+k·V)) averaged over ALL tokens — defined even for
      1-token docs.
    * ``oov_tokens``, ``oov_rate`` (``with_oov``) — tokens outside the
      train vocabulary.

    ``with_oov=False`` skips the second (token-level) explode+join leg —
    at full scale that halves the scan/shuffle work if only the bigram
    score is needed.
    """
    kV = lm.k * lm.vocab_size
    toks = _doc_tokens(df, id_col, text_col, tokens_col)
    base = toks.select(id_col, F.size("__t").alias("n_tokens"))

    tr = (
        _transitions(toks, id_col)
        # plain equi-joins; AQE broadcasts a small model at runtime and a
        # 100 TB-scale model shuffle-joins — both are the right plan
        .join(lm.bigrams, ["w1", "w2"], "left")
        .join(lm.unigrams.withColumnRenamed("w", "w1"), ["w1"], "left")
        .select(
            id_col,
            F.coalesce("c12", F.lit(0)).alias("c12"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    # integer-exact cells first, then a sorted deterministic fold
    cells = (
        tr.groupBy(id_col, "c12", "c1")
        .agg(F.count(F.lit(1)).alias("m"))
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("n_trans"),
            F.sum(F.when(F.col("c12") == 0, F.col("m")).otherwise(0)).alias(
                "unseen_bigrams"
            ),
            F.sum(F.when(F.col("c1") == 0, F.col("m")).otherwise(0)).alias(
                "unseen_hist"
            ),
            F.array_sort(F.collect_list(F.struct("c12", "c1", "m"))).alias(
                "__cells"
            ),
        )
    )
    bits_sum = F.aggregate(
        "__cells",
        F.lit(0.0),
        lambda acc, s: acc
        + s["m"].cast("double")
        * -F.log2((s["c12"] + F.lit(lm.k)) / (s["c1"] + F.lit(kV))),
    )
    scored = cells.withColumn(
        "bits_per_token", bits_sum / F.col("n_trans")
    ).withColumn("ppl", F.pow(F.lit(2.0), F.col("bits_per_token"))).drop(
        "__cells"
    )

    out = base.join(scored, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_trans", F.lit(0)).alias("n_trans"),
        F.coalesce("unseen_bigrams", F.lit(0)).alias("unseen_bigrams"),
        F.coalesce("unseen_hist", F.lit(0)).alias("unseen_hist"),
        F.when(
            F.coalesce("n_trans", F.lit(0)) > 0,
            F.col("unseen_bigrams").cast("double") / F.col("n_trans"),
        ).alias("unseen_rate"),
        "bits_per_token",
        "ppl",
    )

    if not with_oov:
        return out

    tok = (
        toks.select(id_col, F.explode("__t").alias("w"))
        .join(lm.unigrams, ["w"], "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("c1").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
            F.array_sort(
                F.collect_list(F.struct(F.coalesce("c1", F.lit(0)).alias("c")))
            ).alias("__cs"),
            F.count(F.lit(1)).alias("__nt"),
        )
    )
    ubits = (
        F.aggregate(
            "__cs",
            F.lit(0.0),
            lambda acc, s: acc
            + -F.log2((s["c"] + F.lit(lm.k)) / F.lit(lm.total_tokens + kV)),
        )
        / F.col("__nt")
    )
    tok = tok.select(
        id_col,
        "oov_tokens",
        (F.col("oov_tokens").cast("double") / F.col("__nt")).alias("oov_rate"),
        ubits.alias("unigram_bits_per_token"),
    )
    return out.join(tok, id_col, "left")


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney trigram LM (Kneser & Ney 1995; Chen & Goodman
# 1999) — the smoothing KenLM implements, i.e. the model CCNet actually
# filters with; the add-k bigram above is the cheap sibling.
# ---------------------------------------------------------------------------


@dataclass
class KneserNeyLM:
    """A fitted interpolated-KN trigram model; every table stays a
    DataFrame with ONE row per key (joins fan out 1:1, no skew
    amplification), and the only driver-side values are seven scalars
    from 1-row aggregates.

    All lower-order structures derive from the TRIGRAM TYPE table, which
    keeps the three interpolation levels exactly normalized:

    - ``tri``     (w1, w2, w3, c123): trigram occurrence counts.
    - ``hist``    (w1, w2, h12, nf12): history occurrence total
      (h12 = Σ_w3 c123) and follower-type count N1+(w1 w2 •).
    - ``contbig`` (w2, w3, cb23): continuation count N1+(• w2 w3) —
      distinct predecessors of the bigram.
    - ``mid``     (w2, md2, nf2): middle-order denominator
      N1+(• w2 •) = Σ_w3 cb23 and follower-type count.
    - ``contuni`` (w3, cu3): unigram continuation count N1+(• w3)
      within the trigram-derived bigram types.
    - ``nb`` = Σ cu3 (distinct (w2, w3) types), ``u`` = distinct w3 with
      cu3 > 0, ``vocab_size`` = V (distinct training tokens).
    - ``d3/d2/d1``: per-order absolute discounts, the Ney estimate
      n1/(n1 + 2·n2) over that order's count-of-counts.

    P(w3|w1 w2) = [max(c123−D3,0) + D3·nf12·P(w3|w2)] / h12
    P(w3|w2)    = [max(cb23−D2,0) + D2·nf2·P(w3)] / md2
    P(w3)       = [max(cu3−D1,0) + D1·U/(V+1)] / NB

    each level backing off wholesale when its denominator is absent
    (unseen history / unseen middle word). The (V+1) cell count gives
    every OOV token one uniform share, so each level sums to exactly 1
    over the V seen words plus an OOV bucket.
    """

    tri: DataFrame
    hist: DataFrame
    contbig: DataFrame
    mid: DataFrame
    contuni: DataFrame
    nb: int
    u: int
    vocab_size: int
    d3: float
    d2: float
    d1: float


def _doc_trigrams(toks: DataFrame, id_col: str) -> DataFrame:
    """Explode each doc's adjacent token triples, array-side like
    :func:`_transitions` (slice+zip: map-only, no shuffle)."""
    triples = F.arrays_zip(
        F.slice(F.col("__t"), 1, F.size("__t") - 2).alias("w1"),
        F.slice(F.col("__t"), 2, F.size("__t") - 2).alias("w2"),
        F.slice(F.col("__t"), 3, F.size("__t") - 2).alias("w3"),
    )
    return (
        toks.filter(F.size("__t") >= 3)
        .select(F.col(id_col), F.explode(triples).alias("__p"))
        .select(
            id_col,
            F.col("__p.w1").alias("w1"),
            F.col("__p.w2").alias("w2"),
            F.col("__p.w3").alias("w3"),
        )
    )


def kneser_ney_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> KneserNeyLM:
    """Fit the interpolated-KN trigram model on ``df``'s text.

    One explode → trigram groupBy does the heavy counting (map-side
    combine; the shuffle carries (w1,w2,w3, partial-count), never text);
    every lower-order table is a further aggregation OF THE TRIGRAM
    TABLE, so the corpus is scanned once for the n-gram structure plus
    once for V. The trigram type table is pinned while the derived
    aggregates and the scalar jobs run, and so is the CONTINUATION
    bigram table — it feeds five consumers (the nb/u and d2 fit
    scalars, and the score's direct/mid/contuni joins), each of which
    otherwise re-aggregates it from tri (r13-opt). Both are handed over
    still cached — call ``firepit_spark.functions.release()`` when done
    scoring.

    100 TB story: identical to ngram_lm_fit's — model tables are
    1-row-per-key DataFrames joined by key, AQE broadcasts small models
    and shuffle-joins corpus-scale ones; no driver-side model object
    ever materializes."""
    toks = _doc_tokens(df, id_col, text_col, tokens_col)
    tri = pin(
        _doc_trigrams(toks, id_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    hist = tri.groupBy("w1", "w2").agg(
        F.sum("c123").alias("h12"), F.count(F.lit(1)).alias("nf12")
    )
    contbig = pin(tri.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("cb23")))
    mid = contbig.groupBy("w2").agg(
        F.sum("cb23").alias("md2"), F.count(F.lit(1)).alias("nf2")
    )
    contuni = contbig.groupBy("w3").agg(F.count(F.lit(1)).alias("cu3"))
    # ONE driver action for every scalar the fit needs (r14-opt, guide
    # §1.2/§5): nb/u/d1's count-of-counts (over contuni), V (over the
    # token stream), and d3/d2's count-of-counts (over the persisted
    # tri/contbig tables) ride a single tagged union — one collect()
    # instead of four sequential driver round-trips, and the four
    # independent aggregate subtrees overlap inside one job (the tri /
    # contbig caches materialize once under Spark's per-partition cache
    # locks). The aggregate expressions are unchanged, so every scalar is
    # bit-identical to the former per-job .first() values (r13-opt had
    # already fused d1 into the nb/u pass: 5 jobs → 4; this is 4 → 1).
    def _cc(col):
        # count-of-counts (n1, n2) fragment of _ney_discount
        return [
            F.sum(F.when(F.col(col) == 1, 1).otherwise(0)).alias("c"),
            F.sum(F.when(F.col(col) == 2, 1).otherwise(0)).alias("d"),
        ]

    _l0 = F.lit(None).cast("long")
    stats = (
        contuni.agg(
            F.lit("nbu").alias("k"),
            F.sum("cu3").alias("a"),
            F.count(F.lit(1)).alias("b"),
            *_cc("cu3"),
        )
        .unionByName(
            toks.select(F.explode("__t").alias("w")).agg(
                F.lit("v").alias("k"),
                F.count_distinct("w").alias("a"),
                _l0.alias("b"), _l0.alias("c"), _l0.alias("d"),
            )
        )
        .unionByName(
            tri.agg(F.lit("d3").alias("k"), _l0.alias("a"), _l0.alias("b"),
                    *_cc("c123"))
        )
        .unionByName(
            contbig.agg(F.lit("d2").alias("k"), _l0.alias("a"),
                        _l0.alias("b"), *_cc("cb23"))
        )
    )
    rows = {r["k"]: r for r in stats.collect()}

    def _disc(row) -> float:
        n1, n2 = int(row["c"] or 0), int(row["d"] or 0)
        return n1 / (n1 + 2 * n2) if n1 + 2 * n2 else 0.5

    nbu = rows["nbu"]
    return KneserNeyLM(
        tri=tri,
        hist=hist,
        contbig=contbig,
        mid=mid,
        nb=int(nbu["a"] or 0),
        u=int(nbu["b"] or 0),
        vocab_size=int(rows["v"]["a"] or 0),
        d3=_disc(rows["d3"]),
        d2=_disc(rows["d2"]),
        d1=_disc(nbu),
        contuni=contuni,
    )


def kneser_ney_score(
    df: DataFrame,
    lm: KneserNeyLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document interpolated-KN trigram score frame.

    Columns (one row per input doc):

    * ``kn_n_tri`` — trigram transitions (0 for docs under 3 tokens).
    * ``kn_unseen_tri`` — transitions whose trigram the model never saw.
    * ``kn_unseen_hist`` — transitions whose (w1, w2) history is unseen
      (the full-backoff-to-bigram path).
    * ``kn_cont_sum`` — Σ over transitions of the bigram continuation
      count N1+(• w2 w3) (0 when unseen): an INTEGER that exercises the
      continuation tables end-to-end, so the driver oracle can recompute
      it without any float arithmetic.
    * ``kn_bits_per_token`` — mean of −log2 P(w3|w1 w2); NULL when
      kn_n_tri = 0.  ``kn_ppl`` = 2^kn_bits_per_token.

    Five 1-row-per-key equi-joins (trigram, history, continuation,
    middle, unigram-continuation); per-doc reduction first collapses to
    exact INTEGER model-count cells with multiplicities, then folds the
    float log terms over a sorted cell array — bit-reproducible across
    partitionings, like ngram_lm_score."""
    d3, d2, d1 = float(lm.d3), float(lm.d2), float(lm.d1)
    uni_mass = d1 * lm.u / (lm.vocab_size + 1) if lm.nb else 0.0

    toks = _doc_tokens(df, id_col, text_col, tokens_col)
    base = toks.select(id_col)  # one output row per input doc, always
    tr = (
        _doc_trigrams(toks, id_col)
        .join(lm.tri, ["w1", "w2", "w3"], "left")
        .join(lm.hist, ["w1", "w2"], "left")
        .join(lm.contbig, ["w2", "w3"], "left")
        .join(lm.mid, ["w2"], "left")
        .join(lm.contuni, ["w3"], "left")
        .select(
            id_col,
            F.coalesce("c123", F.lit(0)).alias("c123"),
            F.coalesce("h12", F.lit(0)).alias("h12"),
            F.coalesce("nf12", F.lit(0)).alias("nf12"),
            F.coalesce("cb23", F.lit(0)).alias("cb23"),
            F.coalesce("md2", F.lit(0)).alias("md2"),
            F.coalesce("nf2", F.lit(0)).alias("nf2"),
            F.coalesce("cu3", F.lit(0)).alias("cu3"),
        )
    )
    cells = (
        tr.groupBy(id_col, "c123", "h12", "nf12", "cb23", "md2", "nf2", "cu3")
        .agg(F.count(F.lit(1)).alias("m"))
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("kn_n_tri"),
            F.sum(F.when(F.col("c123") == 0, F.col("m")).otherwise(0)).alias(
                "kn_unseen_tri"
            ),
            F.sum(F.when(F.col("h12") == 0, F.col("m")).otherwise(0)).alias(
                "kn_unseen_hist"
            ),
            F.sum(F.col("cb23") * F.col("m")).alias("kn_cont_sum"),
            F.array_sort(
                F.collect_list(
                    F.struct("c123", "h12", "nf12", "cb23", "md2", "nf2",
                             "cu3", "m")
                )
            ).alias("__cells"),
        )
    )

    def _p(s):
        uni = (
            F.greatest(s["cu3"] - F.lit(d1), F.lit(0.0)) + F.lit(uni_mass)
        ) / F.lit(float(lm.nb) if lm.nb else 1.0)
        mid = F.when(
            s["md2"] > 0,
            (
                F.greatest(s["cb23"] - F.lit(d2), F.lit(0.0))
                + F.lit(d2) * s["nf2"] * uni
            )
            / s["md2"],
        ).otherwise(uni)
        return F.when(
            s["h12"] > 0,
            (
                F.greatest(s["c123"] - F.lit(d3), F.lit(0.0))
                + F.lit(d3) * s["nf12"] * mid
            )
            / s["h12"],
        ).otherwise(mid)

    bits_sum = F.aggregate(
        "__cells",
        F.lit(0.0),
        lambda acc, s: acc + s["m"].cast("double") * -F.log2(_p(s)),
    )
    scored = (
        cells.withColumn("kn_bits_per_token", bits_sum / F.col("kn_n_tri"))
        .withColumn("kn_ppl", F.pow(F.lit(2.0), F.col("kn_bits_per_token")))
        .drop("__cells")
    )
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("kn_n_tri", F.lit(0)).alias("kn_n_tri"),
        F.coalesce("kn_unseen_tri", F.lit(0)).alias("kn_unseen_tri"),
        F.coalesce("kn_unseen_hist", F.lit(0)).alias("kn_unseen_hist"),
        F.coalesce("kn_cont_sum", F.lit(0)).alias("kn_cont_sum"),
        "kn_bits_per_token",
        "kn_ppl",
    )
