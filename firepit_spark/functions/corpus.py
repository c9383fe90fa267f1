"""Corpus-statistics operators for training-data curation.

The quality/reporting layer of a pre-training pipeline: repetition
signals (the strongest cheap predictor of low-quality web text, cf. the
Gopher rules), token-window chunking, per-document distinctive terms,
mixture weights for multi-source sampling, and corpus length profiles.

Scale design notes (100 TB):

* ``chunk_documents`` is map-only — chunk boundaries depend only on the
  row, so it parallelizes perfectly and never shuffles.
* ``repetition_stats`` / ``doc_term_stats`` explode n-grams/tokens and
  aggregate; both shuffles hash on keys that include the document id, so
  no key can exceed one document's token count — no skew amplification.
* ``mixture_weights`` / ``length_percentiles`` reduce to one row per
  group: partial aggregation does almost all the work map-side.
* Everything is built-in Catalyst expressions (no UDFs), and every
  emitted number is either exact integer arithmetic or a correctly-
  rounded primitive (``/``, ``sqrt``) rounded to 6 decimals, so results
  reproduce bit-for-bit across engines — each operator has a DuckDB
  oracle in the entry battery.

The reference has no corpus layer (it is a STIX observation store —
closest is the column summary at firepit/sqlstorage.py:884-905); this
module is additive scope for LLM-pipeline use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from . import text as tx


def ngrams(col: Column, n: int = 2) -> Column:
    """All word n-grams of the normalized text, duplicates preserved
    (unlike :func:`~firepit_spark.functions.text.word_shingles`, which
    dedups for set semantics). Same overlapping-match regex trick: one
    codegen-resident pass, no higher-order lambda per token."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return tx.word_ngrams(col, n)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition profile: total/distinct n-gram
    counts, duplicate fraction, and top-n-gram fraction.

    ``dup_frac`` (share of n-grams that are repeats) and ``top_frac``
    (share covered by the single most frequent n-gram) are the classic
    boilerplate/spam detectors — filter on them before spending tokens.

    Shape: explode -> count per (doc, gram) -> roll up per doc. Both
    aggregations key on the doc id, so the per-key row bound is one
    document's n-gram count — skew-safe by construction. Documents with
    fewer than ``n`` tokens have no n-grams and are absent from the
    output (callers wanting them keep a left join on the id).
    """
    ex = df.select(F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("gram"))
    per_gram = ex.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    rolled = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return rolled.select(
        id_col,
        "n_ngrams",
        "n_distinct",
        F.round(
            (F.col("n_ngrams") - F.col("n_distinct")) / F.col("n_ngrams"), 6
        ).alias("dup_frac"),
        F.round(F.col("top_count") / F.col("n_ngrams"), 6).alias("top_frac"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into token windows of ``chunk_tokens``, starting
    every ``stride`` tokens (``stride < chunk_tokens`` gives overlap;
    default is non-overlapping). Emits
    ``(id, chunk_id, start, n_tokens, chunk_text)``.

    Chunk boundaries depend only on the row itself, so this is map-only:
    no shuffle, fully parallel, and the scan still prunes to
    ``(id, text)``. The trailing window is kept even when shorter than
    ``chunk_tokens`` (training pipelines pad or pack it downstream —
    see ``pack_documents``).
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toked = df.select(
        F.col(id_col), tx.tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size(F.col("__toks")))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = toked.select(
        F.col(id_col), F.col("__toks"), F.col("__n"), F.explode(starts).alias("start")
    )
    return exploded.select(
        F.col(id_col),
        (F.col("start") / stride).cast("int").alias("chunk_id"),
        F.col("start").cast("int").alias("start"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("start"))
        .cast("int")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("start") + 1, chunk_tokens), " "
        ).alias("chunk_text"),
    )


def doc_term_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """Top ``top_k`` distinctive terms per document: term frequency within
    the doc, document frequency across the corpus, ranked by
    (tf desc, df asc, term asc) — i.e. tf-idf ordering expressed with
    integer-only keys, so the ranking (and the oracle hash) is exact with
    no transcendental arithmetic.

    Shape: explode tokens -> tf per (doc, term) -> df per term -> join
    back -> per-doc window top-k. The df side is one row per vocabulary
    term; at corpus scale that join is a plain hash join on the term
    (AQE handles the head of the Zipf curve), never a broadcast of an
    unbounded vocabulary.
    """
    toks = (
        F.col(tokens_col) if tokens_col is not None else tx.tokens(F.col(text_col))
    )
    ex = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = ex.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    joined = tf.join(dfreq, "term")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def mixture_weights(
    df: DataFrame, group_col: str, alpha: float = 0.5
) -> DataFrame:
    """Per-group sampling weights for multi-source training mixtures:
    ``weight = (n_g / N) ** alpha`` — temperature-flattened source
    proportions (alpha=1 keeps natural proportions, alpha->0 approaches
    uniform; 0.5 is the common multilingual choice).

    One partial-heavy aggregation to group counts, then a window over the
    tiny grouped frame for the total. ``alpha=0.5`` uses ``sqrt`` (IEEE
    correctly-rounded, engine-portable); other alphas go through ``pow``,
    whose last-ulp behavior is not guaranteed identical across engines —
    fine for training use, but oracle checks pin alpha=0.5.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy(F.lit(1)))
    ratio = F.col("n_docs") / F.col("__N")
    weight = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(alpha))
    return (
        counts.withColumn("__N", total)
        .select(
            group_col,
            "n_docs",
            F.round(weight, 6).alias("weight"),
        )
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b word boundaries
# — no lookaround, no backreferences.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d()\- ]{6,}\d",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind PII occurrence counts in the text (email / ipv4 / phone)."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers, replacing each with a ``<KIND>`` tag, and record per-kind
    match counts (``n_email``/``n_ipv4``/``n_phone``).

    Map-only regex passes over the text column — no shuffle, no UDF, runs
    inside whole-stage codegen; at 100 TB this is scan-bound. Patterns are
    deliberately portable across regex engines (see ``PII_PATTERNS``) so
    the redaction reproduces bit-for-bit in the SQL oracle. This is a
    pattern-based scrubber, not an NER model: it bounds obvious
    identifiers, the standard first pass of corpus curation.
    """
    out_col = out_col or text_col
    t = F.col(text_col)
    counts = pii_counts(t)
    scrubbed = t
    for kind, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    cols = [c for c in df.columns if c not in (out_col,)]
    return df.select(
        *cols,
        *[counts[k].alias(f"n_{k}") for k in PII_PATTERNS],
        scrubbed.alias(out_col),
    )


def length_percentiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group exact percentiles of a numeric column (corpus length
    profile: the report that drives truncation/chunking choices).

    Uses Spark's exact ``percentile`` (linear interpolation — the
    percentile_cont contract, matching DuckDB's ``quantile_cont``), not
    the approximate sketch: at 100 TB you run this on a sample or accept
    the per-group sort-shuffle, but the number it reports is exact.
    Rounded to 6 decimals so interpolation ulp differences between
    engines cannot move the hash.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in ps:
        aggs.append(
            F.round(F.expr(f"percentile({value_col}, {p!r})"), 6).alias(
                f"p{int(round(p * 100)):02d}"
            )
        )
    return df.groupBy(group_col).agg(*aggs)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_line_chars: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style line-level deduplication: remove every line that
    occurs (byte-identical) in at least ``min_docs`` distinct documents
    — boilerplate (nav bars, cookie banners, license headers) repeats
    across pages while real prose does not.

    Lines shorter than ``min_line_chars`` after trimming are never
    counted nor removed (blank separators survive). Documents whose
    every line is boilerplate come back as empty strings, ready for a
    downstream length filter. ``sep`` picks the unit: the default
    ``"\n"`` dedups lines; ``"\n\n"`` dedups paragraphs.

    Scale shape (100 TB): lines are exploded once and carried as 8-byte
    ``xxhash64`` keys, so the duplicate-count aggregation shuffles
    hashes, not text (map-side partial agg does most of the counting);
    the boilerplate set it produces is a tiny fraction of the corpus and
    joins back as a broadcast-size left join whose verdict is consumed
    INSIDE the reassembly aggregate — the corpus is scanned exactly
    twice (once to count line hashes, once to rebuild documents), never
    a third time to restore dropped ids: ``posexplode_outer`` keeps
    NULL-text documents as one NULL-line row, so every input row
    reaches the reassembly groupBy. Reassembly groups by the carried
    columns (one group per input row), so no reduce key can exceed one
    document's line count — no skew amplification anywhere.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    others = [c for c in df.columns if c != text_col]
    import re as _re

    # posexplode_outer, not posexplode: a NULL text column must still
    # produce its document row downstream (as text '', matching the
    # pre-r13 outer-join-back behavior) instead of vanishing
    lines = df.select(
        *others,
        F.posexplode_outer(F.split(F.col(text_col), _re.escape(sep))).alias(
            "__pos", "__line"
        ),
    ).withColumn(
        "__h",
        F.when(
            F.length(F.trim(F.col("__line"))) >= min_line_chars,
            F.xxhash64(F.col("__line")),
        ),
    )
    boilerplate = (
        lines.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(True).alias("__bp"))
    )
    # NULL __h (short/blank lines) never matches, so the left join keeps
    # them unmarked; the kept-line filter runs INSIDE the aggregate
    # (collect_list skips the NULL the when() produces for boilerplate
    # rows), which removes the third corpus pass the old
    # anti-join + join-back-to-df shape paid
    marked = lines.join(boilerplate, "__h", "left")
    kept_struct = F.when(
        F.col("__bp").isNull(), F.struct("__pos", "__line")
    )
    reassembled = marked.groupBy(*others).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__line"],
            ),
        ).alias("__new_text")
    )
    return reassembled.select(
        *[
            F.col("__new_text").alias(text_col)
            if c == text_col
            else F.col(c)
            for c in df.columns
        ]
    )


def build_mixture(
    df: DataFrame,
    weights: dict,
    token_budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    salt: str = "",
    n_buckets: int = 1024,
) -> DataFrame:
    """Assemble a training mixture: deterministically select documents
    per source until each source's share of ``token_budget`` is met.

    ``weights`` maps source value -> relative weight (normalized over
    the listed sources; e.g. the output of :func:`mixture_weights`);
    sources not listed are excluded. Selection order within a source is
    content-addressed — ``(md5(salt||id), id)`` — so the
    same inputs give the same mixture on any engine or partitioning,
    and growing the corpus only appends candidates after the existing
    order (survivor sets stay stable until the budget boundary moves).

    Membership spec (the SQL-oracle contract): a document is kept iff
    the token sum of documents strictly before it in its source's order
    is ``< budget_s``, or equals ``budget_s`` exactly while the document
    itself has 0 tokens.

    Scale shape (100 TB): a naive per-source window is one partition per
    source — unusable skew. Instead the hash space is cut into
    ``n_buckets``: (1) one partial-heavy aggregation to per-(source,
    bucket) token sums, (2) a cumulative-sum window over that TINY frame
    picks full-keep / full-drop buckets and the single boundary bucket
    per source, (3) decisions broadcast-join back (map-only for the bulk
    of the data), and (4) only the boundary bucket — ~1/n_buckets of one
    source — pays a row-level window. Adds ``mix_tokens`` with the token
    count used for budgeting.
    """
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    if not weights:
        raise ValueError("weights must be non-empty")
    wsum = float(sum(weights.values()))
    budgets = {s: float(w) / wsum * token_budget for s, w in weights.items()}

    tokens = (
        F.col(token_col) if token_col else tx.token_count(F.col(text_col))
    ).cast("double")
    budget = F.lit(None).cast("double")
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == s, F.lit(b)).otherwise(budget)

    k = n_buckets.bit_length() - 1
    if n_buckets < 1 or (1 << k) != n_buckets:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    hid = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    # RANGE prefix of the hash (top k bits), not a modulo: bucket order
    # agrees with md5 order, so the mixture is identical for ANY
    # n_buckets — the knob tunes shuffle granularity, never membership
    bucket = F.shiftright(F.conv(F.substring(hid, 1, 8), 16, 10).cast("long"), 32 - k)
    rows = (
        df.filter(F.col(source_col).isin(list(budgets)))
        .withColumn("__tok", tokens)
        .withColumn("__hid", hid)
        .withColumn("__bkt", bucket)
        .withColumn("__budget", budget)
    )

    stats = rows.groupBy(source_col, "__bkt").agg(F.sum("__tok").alias("__btok"))
    wb = (
        Window.partitionBy(source_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    decisions = (
        stats.withColumn("__cum_before", F.coalesce(F.sum("__btok").over(wb), F.lit(0.0)))
        .withColumn("__cum_through", F.col("__cum_before") + F.col("__btok"))
    )
    tagged = rows.join(
        F.broadcast(decisions.select(source_col, "__bkt", "__cum_before", "__cum_through")),
        [source_col, "__bkt"],
    )
    # classify each bucket: full-keep, full-drop, or boundary (refine)
    tagged = tagged.withColumn(
        "__class",
        F.when(F.col("__cum_before") > F.col("__budget"), F.lit("drop"))
        .when(F.col("__cum_through") <= F.col("__budget"), F.lit("keep"))
        .otherwise(F.lit("refine")),
    )
    out_cols = [*df.columns, F.col("__tok").cast("long").alias("mix_tokens")]
    # full-keep buckets pass through map-only; ONLY the boundary slice
    # (~1/n_buckets of one source) pays the row-level window sort
    keep_rows = tagged.filter(F.col("__class") == "keep").select(*out_cols)
    wr = (
        Window.partitionBy(source_col, "__bkt")
        .orderBy("__hid", F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    refine_rows = (
        tagged.filter(F.col("__class") == "refine")
        .withColumn(
            "__before",
            F.col("__cum_before") + F.coalesce(F.sum("__tok").over(wr), F.lit(0.0)),
        )
        .filter(
            (F.col("__before") < F.col("__budget"))
            | ((F.col("__before") == F.col("__budget")) & (F.col("__tok") == 0))
        )
        .select(*out_cols)
    )
    return keep_rows.unionByName(refine_rows)


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: Column | str | None = None,
    token_col: str | None = None,
) -> DataFrame:
    """One-aggregation corpus profile: the numbers a mixture/curation
    decision needs, per source (or one global row when ``source_col`` is
    None).

    Columns: n_docs, distinct_docs (exact-dup survivors by normalized
    fingerprint), dup_ratio, total_tokens, mean/p50/p95 token counts,
    mean_quality, top_lang (modal language guess).

    Single hash shuffle on the grouping key; every per-doc feature
    (fingerprint, token count, quality, lang guess) is a codegen
    expression computed map-side. The token percentiles use the exact
    ``percentile`` (one per-group sort worth paying for a report); at
    full corpus scale run it on a ``hash_sample`` slice — membership is
    content-addressed, so the sample is stable across runs.

    ``token_col``: name of a precomputed token-count column to use
    instead of re-deriving ``token_count(text)`` — the same
    share-one-tokenize-pass hook :func:`build_mixture` has (r13-opt:
    a report slot that also builds a mixture otherwise tokenizes the
    corpus once per consumer).
    """
    from firepit_spark.functions.text import (
        fingerprint,
        lang_guess,
        quality_score,
        token_count,
    )

    if source_col is None:
        key = F.lit("all").alias("source")
    elif isinstance(source_col, str):
        key = F.col(source_col).alias("source")
    else:
        key = source_col.alias("source")
    t = F.col(text_col)
    ntok = F.col(token_col) if token_col else token_count(t)
    n = F.count(F.lit(1))
    distinct = F.count_distinct(fingerprint(t))
    return df.groupBy(key).agg(
        n.alias("n_docs"),
        distinct.alias("distinct_docs"),
        F.round(F.lit(1.0) - distinct / n, 6).alias("dup_ratio"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok), 6).alias("mean_tokens"),
        F.round(F.percentile(ntok, F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile(ntok, F.lit(0.95)), 6).alias("p95_tokens"),
        F.round(F.avg(quality_score(t)), 6).alias("mean_quality"),
        F.mode(lang_guess(t)).alias("top_lang"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-document status between two corpus snapshots — the dataset-
    versioning primitive behind incremental releases ("what changed since
    v1?") and reproducibility audits.

    Returns (id, status, carry...) with status in
    {'added', 'removed', 'changed', 'unchanged'}: membership by id,
    change detection by content fingerprint (md5 of whitespace-normalized
    text by default; pass ``fingerprint_col`` when a fingerprint is
    already materialized — e.g. from ingest — to skip recomputing).
    ``carry_cols`` are taken from the NEW snapshot, falling back to the
    old one for removed docs. Precondition: ids are unique within each
    snapshot (the corpus invariant every other id-keyed op here assumes);
    a duplicated id would fan out through the full-outer join — run
    ``dedup_exact`` first if the snapshot can't guarantee it.

    Scale shape: fingerprints are map-side; the only shuffle is ONE
    full-outer equi-join on the id — both snapshots co-partition on it,
    and bucketed-by-id snapshot tables make the diff exchange-free. No
    text ever moves unless it's the fingerprint input being read.
    """
    fp = (
        (lambda df: F.col(fingerprint_col))
        if fingerprint_col
        else (lambda df: tx.fingerprint(F.col(text_col)))
    )
    o = old.select(
        F.col(id_col).alias("__id"),
        fp(old).alias("__fp_old"),
        *[F.col(c).alias(f"__old_{c}") for c in carry_cols],
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        fp(new).alias("__fp_new"),
        *[F.col(c).alias(f"__new_{c}") for c in carry_cols],
    )
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.col("__id").alias(id_col),
        status.alias("status"),
        *[
            F.coalesce(F.col(f"__new_{c}"), F.col(f"__old_{c}")).alias(c)
            for c in carry_cols
        ],
    )


def diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Aggregate :func:`corpus_diff` to release-note counts
    (n_added / n_removed / n_changed / n_unchanged), optionally per
    ``group_col`` (source, language). One extra map-side-combined
    aggregation over the diff — counts, never text."""
    carry = (group_col,) if group_col else ()
    d = corpus_diff(old, new, id_col=id_col, text_col=text_col, carry_cols=carry)
    keys = [group_col] if group_col else []
    aggs = [
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(f"n_{s}")
        for s in ("added", "removed", "changed", "unchanged")
    ]
    return d.groupBy(*keys).agg(*aggs)
