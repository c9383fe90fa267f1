"""Trainable linear quality classifier — the CCNet / GPT-3 / LLaMA
curation move the static heuristics (Gopher rules, lang-id, DSIR)
don't cover: fit a logistic model that separates a high-quality seed
corpus (wiki/books) from raw crawl text, then score every crawl page
and keep the high-scoring tail. fastText's supervised classifier is
the usual tool; this is the same model family (bag of hashed
token/bigram features -> linear logit) expressed Spark-first.

Everything is declarative DataFrame algebra — no pyspark.ml, no UDFs:

* features: lowercase whitespace tokens (+ adjacent bigrams), hashed
  to ``[0, dim)`` with the corpus-standard 60-bit md5 integer
  (:func:`~firepit_spark.functions.dedup.shingle_hash`), so feature
  ids are reproducible in ANSI SQL and the whole train+score path is
  oracle-checkable cross-engine (q76).
* training: full-batch logistic gradient descent, each round ONE
  bounded-broadcast margin join + two map-side-combined aggregations,
  lineage-truncated exactly like pagerank/HITS (lazy
  ``localCheckpoint`` plan barriers; pass ``checkpoint_dir=`` on a
  real cluster — see :func:`~firepit_spark.functions.graph._truncate`).
  The weight frame is bounded by ``dim`` rows (the documented
  broadcast-boundedness rule), the error frame shuffles on doc id.
* scoring: one join + one aggregation per corpus — the 100 TB side
  never moves more than (id, idx, x) triples.

Reference has no counterpart (firepit is a STIX query engine); this
belongs to the brief's LLM-training-data family next to dedup/DSIR.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import shingle_hash
from .graph import _truncate
from .text import normalize_ws

BIAS_IDX = -1


def _sigmoid(m: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 16,
    bigrams: bool = True,
) -> DataFrame:
    """Hashed bag-of-features frame ``(id_col, idx, x)``: term
    frequency of each hashed unigram (and adjacent bigram with
    ``bigrams=True``) over the doc's token count, plus one bias row
    ``(idx=-1, x=1.0)`` per document so the model's intercept rides
    the same join/update path as every other weight. Hash collisions
    fold features together on BOTH engines identically (the md5 index
    is engine-portable) — the standard hashing-trick trade.

    NULL-text documents emit only their bias row (they score at the
    model's base rate instead of disappearing — the join-back
    contract every dedup family in this package keeps)."""
    toks = F.split(F.lower(normalize_ws(F.col(text_col))), " ")
    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), toks.alias("__toks")
    )
    t = F.col("__toks")
    grams = t
    if bigrams:
        # bind the bigram array from the bound token attribute; slice
        # lengths are size-1 (empty for single-token docs)
        grams = F.concat(
            t,
            F.when(
                F.size(t) >= 2,
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    toked = base.select(F.col(id_col), t.alias("__t"),
                        grams.alias("__grams"))
    exploded = toked.select(
        F.col(id_col),
        F.size("__t").cast("double").alias("__n"),
        F.explode_outer("__grams").alias("__g"),
    )
    counts = (
        exploded.filter(F.col("__g").isNotNull())
        .groupBy(
            F.col(id_col),
            F.pmod(shingle_hash(F.col("__g")), F.lit(dim)).alias("idx"),
        )
        .agg((F.count(F.lit(1)) / F.first("__n")).alias("x"))
    )
    bias = base.select(
        F.col(id_col),
        F.lit(BIAS_IDX).cast("bigint").alias("idx"),
        F.lit(1.0).alias("x"),
    )
    return counts.select(id_col, "idx", "x").unionByName(bias)


def _margins(
    feats: DataFrame, weights: DataFrame, id_col: str
) -> DataFrame:
    """(id_col, margin) — one bounded broadcast join (weights <= dim
    rows by construction) + one map-side-combined sum per doc.
    Feature indices without a trained weight contribute 0."""
    return (
        feats.join(F.broadcast(weights), on="idx", how="left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0)))
            .alias("margin")
        )
    )


def train_quality_classifier(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "label",
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full-batch logistic gradient descent over a hashed-feature
    frame (:func:`quality_features`); returns the weight frame
    ``(idx, w)`` with the intercept at ``idx = -1``.

    Per round: margins via the bounded weight broadcast, per-doc
    error ``sigmoid(margin) - label`` (one shuffle on doc id), mean
    gradient per feature (one map-side-combined groupBy on idx), and
    the weight update — all declarative, with the round's weight frame
    lineage-truncated the way pagerank truncates ranks, so the
    iteration-k plan is O(1) not O(k). ``l2`` penalizes every weight
    except the intercept. The label frame must carry one 0.0/1.0 row
    per doc id present in ``feats``."""
    y = labels.select(
        F.col(id_col), F.col(label_col).cast("double").alias("__y")
    )
    n_docs = y.count()  # bounded driver scalar (one job, like bpe)
    # persist the feature-label frame: BOTH the error pass and the
    # gradient pass read it every round, so without the cache the whole
    # upstream featurization (tokenize + explode + hash + agg) re-ran
    # 2x per round — 2 full corpus passes per GD iteration at scale.
    # Freed below once the final weights are materialized.
    f = feats.join(y, on=id_col, how="inner").persist()
    w = feats.select("idx").distinct().select(
        "idx", F.lit(0.0).alias("w")
    )
    w = _truncate(w, eager=True, checkpoint_dir=checkpoint_dir)
    for it in range(iters):
        errs = (
            f.join(F.broadcast(w), on="idx", how="left")
            .groupBy(id_col, "__y")
            .agg(
                F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0)))
                .alias("__m")
            )
            .select(
                F.col(id_col),
                (_sigmoid(F.col("__m")) - F.col("__y")).alias("__e"),
            )
        )
        grads = (
            f.join(errs, on=id_col)
            .groupBy("idx")
            .agg((F.sum(F.col("x") * F.col("__e")) / n_docs).alias("__g"))
        )
        w = w.join(grads, on="idx", how="left").select(
            "idx",
            (
                F.col("w")
                - lr * (
                    F.coalesce(F.col("__g"), F.lit(0.0))
                    + l2 * F.col("w")
                    * F.when(F.col("idx") == BIAS_IDX, 0.0).otherwise(1.0)
                )
            ).alias("w"),
        )
        # final round is eager: materialize the weights while the
        # feature cache is still alive so it can be freed here — the
        # returned frame is a truncated leaf, nothing downstream can
        # reach back into f
        w = _truncate(
            w, eager=(it == iters - 1), checkpoint_dir=checkpoint_dir
        )
    f.unpersist()
    return w


def quality_score(
    feats: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, score) — ``sigmoid`` of the linear margin under the
    trained weights; unseen feature indices contribute 0 (base-rate
    behavior for out-of-vocabulary content)."""
    return _margins(feats, weights, id_col).select(
        F.col(id_col), _sigmoid(F.col("margin")).alias("score")
    )


def train_quality_filter(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 16,
    bigrams: bool = True,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Convenience wrapper: featurize a high-quality seed corpus
    (label 1) against a raw-crawl sample (label 0) and train; returns
    the weight frame for :func:`quality_score`. Ids must be unique
    ACROSS the two frames (they share the training join space)."""
    pos_f = quality_features(positives, text_col, id_col, dim, bigrams)
    neg_f = quality_features(negatives, text_col, id_col, dim, bigrams)
    feats = pos_f.unionByName(neg_f)
    labels = positives.select(
        F.col(id_col), F.lit(1.0).alias("label")
    ).unionByName(
        negatives.select(F.col(id_col), F.lit(0.0).alias("label"))
    )
    return train_quality_classifier(
        feats, labels, id_col=id_col, iters=iters, lr=lr, l2=l2,
        checkpoint_dir=checkpoint_dir,
    )
