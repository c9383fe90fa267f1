"""Inverted text index for BM25-style lexical scoring.

The corpus-scale shape mirrors the other index/lookup splits in this repo
(IVF, MinHash-LSH): build the inverted index ONCE per frozen corpus —
``(term, doc_id, tf)`` plus per-doc lengths, both plain DataFrames you
persist to parquet (ideally bucketed by ``term``) — so a query touches
only its own terms' posting lists, never the corpus.

Everything is built-in expressions (tokenize/explode/groupBy/join/sum);
the index is deterministic, so it is reproducible across engines and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from firepit_spark.functions import pin
from firepit_spark.functions.text import tokens


def build_text_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float = 0.5,
    pre_normalized: bool = False,
) -> tuple:
    """Inverted index of a corpus.

    Returns ``(postings, doc_lens)``:

    * ``postings`` — (term, ``id_col``, tf, df_count, idf): one row per
      distinct (term, doc); terms appearing in more than ``max_df_frac``
      of docs are dropped (stopword cutoff — same hot-key discipline as
      the shingle indexes, bounding any posting list's fan-out).
    * ``doc_lens`` — (``id_col``, dl, avgdl): per-doc token count with the
      corpus average alongside (one broadcast-joined scalar). Documents
      with no tokens are absent (they can never match a query anyway).

    Write both to parquet to freeze the index; BM25's idf is baked in at
    build time so scoring needs no corpus statistics beyond these frames.

    ``pre_normalized=True`` means ``text_col`` already holds
    ``lower(normalize_ws(text))``; tokenization is then a plain
    single-space split (value-identical — the normalizer is idempotent),
    skipping the lower+regexp pass for slots that normalize the corpus
    once into a persisted column.
    """
    n_docs = df.count()
    tok_expr = (
        F.split(F.col(text_col), " ")
        if pre_normalized
        else tokens(F.col(text_col))
    )
    toks = df.select(
        F.col(id_col), F.explode(tok_expr).alias("term")
    ).filter(F.col("term") != "")
    # ONE tokenize pass: tf is the only frame that reads the text; doc
    # lengths (dl = sum of tf) and avgdl both derive from it instead of
    # re-tokenizing the corpus (was 3 tokenize passes). Pinning keeps
    # the shared subtree from re-executing across the derived frames —
    # the caller freezes both outputs to parquet, then calls release().
    tf = pin(toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    # stopword cutoff: STRICTLY more than max_df_frac of docs -> dropped
    # (floor(frac*n) is the largest count that still satisfies <= frac;
    # floored at 1 so single-doc terms always survive tiny corpora)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count")).filter(
        F.col("df_count") <= max(1, int(max_df_frac * n_docs))
    )
    # BM25+-style idf, floored at 0 via the +1: ln((N - df + .5)/(df + .5) + 1)
    postings = tf.join(dfreq, "term").withColumn(
        "idf",
        F.log(
            (F.lit(float(n_docs)) - F.col("df_count") + 0.5)
            / (F.col("df_count") + 0.5)
            + 1.0
        ),
    )
    per_doc = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    doc_lens = per_doc.crossJoin(
        F.broadcast(per_doc.select(F.avg("dl").alias("avgdl")))
    )
    return postings, doc_lens
