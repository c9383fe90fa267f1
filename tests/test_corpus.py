"""Corpus-statistics operators: repetition signals, chunking, term stats,
mixture weights, length percentiles (firepit_spark/functions/corpus.py).

Golden values are computed by hand on tiny frames; determinism/engine
parity is covered by the q48-q52 oracle entries in __spark_entry__.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firepit_spark.functions import corpus as cp


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngrams_counts_and_duplicates(spark):
    df = _docs(spark, [(1, "a b a b a")])
    out = df.select(cp.ngrams(F.col("text"), 2).alias("g")).collect()[0]["g"]
    assert out == ["a b", "b a", "a b", "b a"]


def test_ngrams_rejects_bad_n(spark):
    with pytest.raises(ValueError):
        cp.ngrams(F.col("text"), 0)


def test_repetition_stats_golden(spark):
    # doc 1: bigrams [a b, b a, a b, b a] -> 4 total, 2 distinct,
    # dup_frac 0.5, top_frac 0.5; doc 2: all-distinct bigrams
    df = _docs(spark, [(1, "a b a b a"), (2, "x y z w")])
    rows = {r["doc_id"]: r for r in cp.repetition_stats(df).collect()}
    assert rows[1]["n_ngrams"] == 4
    assert rows[1]["n_distinct"] == 2
    assert rows[1]["dup_frac"] == 0.5
    assert rows[1]["top_frac"] == 0.5
    assert rows[2]["n_ngrams"] == 3
    assert rows[2]["dup_frac"] == 0.0
    assert rows[2]["top_frac"] == pytest.approx(0.333333)


def test_repetition_stats_short_docs_absent(spark):
    df = _docs(spark, [(1, "solo"), (2, "two tokens")])
    got = {r["doc_id"] for r in cp.repetition_stats(df, n=2).collect()}
    assert got == {2}


def test_chunk_documents_non_overlapping(spark):
    df = _docs(spark, [(1, "t0 t1 t2 t3 t4")])
    rows = sorted(
        cp.chunk_documents(df, chunk_tokens=2).collect(), key=lambda r: r["chunk_id"]
    )
    assert [(r["chunk_id"], r["start"], r["n_tokens"], r["chunk_text"]) for r in rows] == [
        (0, 0, 2, "t0 t1"),
        (1, 2, 2, "t2 t3"),
        (2, 4, 1, "t4"),
    ]


def test_chunk_documents_overlap_stride(spark):
    df = _docs(spark, [(1, "t0 t1 t2 t3 t4")])
    rows = sorted(
        cp.chunk_documents(df, chunk_tokens=3, stride=2).collect(),
        key=lambda r: r["start"],
    )
    assert [(r["start"], r["chunk_text"]) for r in rows] == [
        (0, "t0 t1 t2"),
        (2, "t2 t3 t4"),
        (4, "t4"),
    ]
    # chunk_id is start // stride
    assert [r["chunk_id"] for r in rows] == [0, 1, 2]


def test_chunk_documents_is_map_only(spark):
    df = _docs(spark, [(1, "a b c")])
    plan = cp.chunk_documents(df, chunk_tokens=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_rejects_bad_params(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        cp.chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        cp.chunk_documents(df, chunk_tokens=2, stride=0)


def test_doc_term_stats_ranking(spark):
    # "b" has tf 2 in doc 1; "a" appears in both docs (df 2) so between
    # equal-tf terms the rarer one ranks first
    df = _docs(spark, [(1, "b b a c"), (2, "a d")])
    rows = [
        (r["term"], r["tf"], r["df"], r["rank"])
        for r in cp.doc_term_stats(df, top_k=2)
        .filter(F.col("doc_id") == 1)
        .orderBy("rank")
        .collect()
    ]
    assert rows == [("b", 2, 1, 1), ("c", 1, 1, 2)]


def test_mixture_weights_sqrt(spark):
    df = _docs(spark, [(i, "x") for i in range(4)]).withColumn(
        "src", F.when(F.col("doc_id") < 1, "a").otherwise("b")
    )
    rows = {r["src"]: r for r in cp.mixture_weights(df, "src").collect()}
    assert rows["a"]["n_docs"] == 1
    assert rows["a"]["weight"] == 0.5  # sqrt(1/4)
    assert rows["b"]["weight"] == pytest.approx(0.866025)


def test_pii_scrub_redacts_and_counts(spark):
    df = _docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "from 10.0.42.7 to 192.168.1.250 end"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text only"),
        ],
    )
    rows = {r["doc_id"]: r for r in cp.pii_scrub(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["text"] == "mail <EMAIL> now"
    assert rows[2]["n_ipv4"] == 2 and rows[2]["text"] == "from <IPV4> to <IPV4> end"
    assert rows[3]["n_phone"] == 1 and rows[3]["text"] == "call <PHONE> today"
    assert rows[4]["text"] == "clean text only"
    assert rows[4]["n_email"] == rows[4]["n_ipv4"] == rows[4]["n_phone"] == 0


def test_pii_scrub_separate_out_col_keeps_original(spark):
    df = _docs(spark, [(1, "a@b.co x")])
    row = cp.pii_scrub(df, out_col="clean").collect()[0]
    assert row["text"] == "a@b.co x"
    assert row["clean"] == "<EMAIL> x"


def test_length_percentiles_interpolation(spark):
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 5)], "id long, grp string, v double"
    )
    row = cp.length_percentiles(df, "v", "grp", ps=(0.5,)).collect()[0]
    assert row["n"] == 4
    assert row["p50"] == 2.5  # (1,2,3,4) -> interpolated median


def test_bpe_token_estimate(spark):
    from firepit_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (0, "hello world"),            # 2 five-char words -> 2+2 = 4
            (1, "internationalization"),   # 20 chars -> ceil(20/4) = 5
            (2, "a 12345 !!!"),            # 1 + ceil(5/4)=2 + 1 = 4
            (3, ""),                       # empty -> 0
            (4, "word, word."),            # 2 words + 2 punct runs = 4
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", tx.bpe_token_estimate(F.col("text")).alias("n")
    ).collect()}
    assert got == {0: 4, 1: 5, 2: 4, 3: 0, 4: 4}
    # longer chars_per_token lowers the bill, never below 1 per piece
    loose = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", tx.bpe_token_estimate(F.col("text"), chars_per_token=10).alias("n")
    ).collect()}
    assert loose[1] == 2 and loose[0] == 2


# ---------------------------------------------------------------------------
# line_dedup / build_mixture
# ---------------------------------------------------------------------------


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    import firepit_spark.functions.corpus as cp

    boiler = "accept all cookies"
    docs = spark.createDataFrame(
        [
            (0, f"{boiler}\nunique zero line\n\nzero tail"),
            (1, f"intro one\n{boiler}\npair line"),
            (2, f"{boiler}\npair line\nsolo two"),
            (3, boiler),  # all-boilerplate doc -> empty string
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in cp.line_dedup(docs).collect()}
    # boilerplate (3 docs) gone everywhere; "pair line" (2 docs) also >= min_docs=2
    assert out[0] == "unique zero line\n\nzero tail"  # blank line survives
    assert out[1] == "intro one"
    assert out[2] == "solo two"
    assert out[3] == ""
    assert cp.line_dedup(docs).columns == docs.columns

    # min_docs=3: the 2-doc "pair line" now survives, boilerplate still dies
    out3 = {r["doc_id"]: r["text"] for r in cp.line_dedup(docs, min_docs=3).collect()}
    assert out3[1] == "intro one\npair line"
    assert out3[2] == "pair line\nsolo two"

    # partitioning-independent
    outp = {r["doc_id"]: r["text"] for r in cp.line_dedup(docs.repartition(5)).collect()}
    assert outp == out


def _mixture_expected(rows, budgets, salt=""):
    """Reference implementation of the membership spec in plain python."""
    import hashlib

    kept = set()
    by_src = {}
    for doc_id, src, tok in rows:
        by_src.setdefault(src, []).append(
            (hashlib.md5((salt + str(doc_id)).encode()).hexdigest(), doc_id, tok)
        )
    for src, docs in by_src.items():
        if src not in budgets:
            continue
        cum = 0.0
        for hid, doc_id, tok in sorted(docs):
            if cum < budgets[src] or (cum == budgets[src] and tok == 0):
                kept.add(doc_id)
            cum += tok
    return kept


def test_build_mixture_budget_and_determinism(spark):
    import firepit_spark.functions.corpus as cp

    rows = [(i, "a" if i % 3 else "b", 5 + (i * 7) % 11) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    weights = {"a": 3.0, "b": 1.0}
    budget = 200
    out = cp.build_mixture(
        df, weights, budget, token_col="n_tok", n_buckets=16
    )
    got = {r["doc_id"] for r in out.collect()}
    expected = _mixture_expected(rows, {"a": 150.0, "b": 50.0})
    assert got == expected
    assert dict(out.select("doc_id", "mix_tokens").collect()[0].asDict())  # schema sane

    # n_buckets is a shuffle knob, NOT a semantics knob
    for nb in (1, 4, 1024):
        alt = {r["doc_id"] for r in
               cp.build_mixture(df, weights, budget, token_col="n_tok", n_buckets=nb).collect()}
        assert alt == expected, nb
    # partitioning-independent
    rep = {r["doc_id"] for r in
           cp.build_mixture(df.repartition(7), weights, budget,
                            token_col="n_tok", n_buckets=16).collect()}
    assert rep == expected

    # budget boundary honored: kept tokens reach the budget with exactly
    # one straddling doc per source
    kept_rows = [(r["source"], r["mix_tokens"]) for r in out.collect()]
    for src, b in (("a", 150.0), ("b", 50.0)):
        toks = sorted(t for s, t in kept_rows if s == src)
        assert sum(toks) >= b  # budget met (straddler included)
        assert sum(toks) - max(toks) < b  # minus the largest -> below

    # sources not in weights are excluded entirely
    w_only_a = cp.build_mixture(df, {"a": 1.0}, 100, token_col="n_tok")
    assert {r["source"] for r in w_only_a.collect()} == {"a"}


def test_build_mixture_text_tokens_and_salt(spark):
    import firepit_spark.functions.corpus as cp

    docs = spark.createDataFrame(
        [(i, "src", "word " * (i + 1)) for i in range(10)],
        ["doc_id", "source", "text"],
    )
    out = cp.build_mixture(docs, {"src": 1.0}, 12)
    toks = {r["doc_id"]: r["mix_tokens"] for r in out.collect()}
    # token counts come from text.token_count: doc i has i+1 tokens
    assert all(toks[i] == i + 1 for i in toks)
    # the salt enters the order key: each salt's survivor set matches the
    # python reference spec under THAT salt (and the two differ here)
    rows = [(i, "src", i + 1) for i in range(10)]
    for salt in ("", "x"):
        got = {
            r["doc_id"]
            for r in cp.build_mixture(docs, {"src": 1.0}, 12, salt=salt).collect()
        }
        assert got == _mixture_expected(rows, {"src": 12.0}, salt=salt), salt
    assert _mixture_expected(rows, {"src": 12.0}, salt="") != _mixture_expected(
        rows, {"src": 12.0}, salt="x"
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        cp.build_mixture(docs, {"src": 1.0}, 10, n_buckets=3)
    with _pytest.raises(ValueError):
        cp.build_mixture(docs, {}, 10)
    with _pytest.raises(ValueError):
        cp.line_dedup(docs, min_docs=1)


def test_line_dedup_idempotent(spark):
    # after one pass every counted line lives in exactly one document, so
    # a second pass must be a no-op (blank lines are never counted)
    import random

    import firepit_spark.functions.corpus as cp

    rng = random.Random(3)
    pool = [f"line number {i}" for i in range(30)] + ["", " "]
    docs = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 8))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    once = cp.line_dedup(df)
    twice = cp.line_dedup(once)
    assert {(r["doc_id"], r["text"]) for r in once.collect()} == {
        (r["doc_id"], r["text"]) for r in twice.collect()
    }


def test_line_dedup_paragraph_mode(spark):
    import firepit_spark.functions.corpus as cp

    boiler = "subscribe to our newsletter\nfor daily updates"
    docs = spark.createDataFrame(
        [
            (0, f"para one line a\nline b\n\n{boiler}"),
            (1, f"{boiler}\n\nunique paragraph here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in cp.line_dedup(docs, sep="\n\n").collect()}
    # the two-line boilerplate PARAGRAPH is removed whole; single-line
    # dedup would have treated its two lines independently
    assert out[0] == "para one line a\nline b"
    assert out[1] == "unique paragraph here"


def test_url_extraction_and_domain_filter(spark):
    from firepit_spark.functions import text as tx
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "see https://docs.Example.co.uk/a/b?q=1 and http://spam.bad.com/x"),
            (1, "no links here"),
            (2, "https://ok.org"),
        ],
        ["doc_id", "text"],
    )
    urls = {r["doc_id"]: r["u"] for r in docs.select("doc_id", tx.extract_urls(F.col("text")).alias("u")).collect()}
    assert urls[0] == ["https://docs.Example.co.uk/a/b?q=1", "http://spam.bad.com/x"]
    assert urls[1] == [] and urls[2] == ["https://ok.org"]

    pages = spark.createDataFrame(
        [
            (0, "https://docs.example.co.uk/a"),
            (1, "http://spam.bad.com/x"),
            (2, "https://ok.org/y"),
            (3, "not a url"),
        ],
        ["doc_id", "url"],
    )
    doms = {r["doc_id"]: r["d"] for r in pages.select("doc_id", tx.registered_domain(F.col("url")).alias("d")).collect()}
    assert doms == {0: "co.uk", 1: "bad.com", 2: "ok.org", 3: ""}

    # list blocklist (isin path)
    kept = {r["doc_id"] for r in tx.domain_filter(pages, ["bad.com"]).collect()}
    assert kept == {0, 2, 3}
    # DataFrame blocklist (broadcast anti-join path)
    bl = spark.createDataFrame([("BAD.com",), ("co.uk",)], ["domain"])
    kept2 = {r["doc_id"] for r in tx.domain_filter(pages, bl).collect()}
    assert kept2 == {2, 3}
    assert tx.domain_filter(pages, bl, keep_unmatched=False).count() == 1
    assert sorted(tx.domain_filter(pages, bl).columns) == ["doc_id", "url"]
    # blank blocklist entries must NOT drop the ''-domain (unparseable)
    # rows under keep_unmatched=True — both paths agree
    bl_blank = spark.createDataFrame([("bad.com",), ("",)], ["domain"])
    kept3 = {r["doc_id"] for r in tx.domain_filter(pages, bl_blank).collect()}
    assert kept3 == {0, 2, 3}
    assert kept3 == {r["doc_id"] for r in tx.domain_filter(pages, ["bad.com", ""]).collect()}


def test_url_sentence_punctuation_and_null(spark):
    from firepit_spark.functions import text as tx
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "visit https://spam.bad.com. Next sentence"),
         (1, "end with https://ok.org, comma")],
        ["doc_id", "text"],
    )
    urls = {r["doc_id"]: r["u"] for r in docs.select(
        "doc_id", tx.extract_urls(F.col("text")).alias("u")).collect()}
    # sentence-final punctuation never joins the host
    assert urls[0] == ["https://spam.bad.com"]
    assert urls[1] == ["https://ok.org"]

    pages = spark.createDataFrame(
        [(0, "https://spam.bad.com"), (1, None), (2, "https://ok.org")],
        "doc_id long, url string",
    )
    # NULL url rows follow keep_unmatched on BOTH blocklist paths
    kept_list = {r["doc_id"] for r in tx.domain_filter(pages, ["bad.com"]).collect()}
    bl = spark.createDataFrame([("bad.com",)], ["domain"])
    kept_df = {r["doc_id"] for r in tx.domain_filter(pages, bl).collect()}
    assert kept_list == kept_df == {1, 2}
    assert {r["doc_id"] for r in
            tx.domain_filter(pages, ["bad.com"], keep_unmatched=False).collect()} == {2}


def test_corpus_report(spark):
    from firepit_spark.functions.corpus import corpus_report

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "web"),
            (1, "THE CAT  SAT ON THE MAT", "web"),    # exact dup after norm
            (2, "one two three four five six", "web"),
            (3, "a completely different document", "books"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in corpus_report(df, source_col="source").collect()}
    web = rows["web"]
    assert (web.n_docs, web.distinct_docs) == (3, 2)
    assert web.dup_ratio == round(1 - 2 / 3, 6)
    assert web.total_tokens == 6 + 6 + 6
    assert web.p50_tokens == 6.0
    assert 0.0 <= web.mean_quality <= 1.0
    assert isinstance(web.top_lang, str)
    assert rows["books"].dup_ratio == 0.0

    # global (ungrouped) variant: one row labeled 'all'
    g = corpus_report(df).collect()
    assert len(g) == 1 and g[0].source == "all" and g[0].n_docs == 4


def test_char_repetition_stats_golden(spark):
    """Hand-computed Gopher character-fraction metrics (text.py's char
    variant; the count-based sibling above is corpus.repetition_stats)."""
    from firepit_spark.functions import text as tx

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # "a b"x3, "b a"x2; no dup 5-grams
            (2, "x x x x x x"),     # "x x"x5; "x x x x x"x2 (dup5 > chars!)
            (3, "one two"),         # single 2-gram; no 5-grams at all
            (4, "aa b aa cc aa"),   # all 2-grams count 1; tie -> max cover
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.char_repetition_stats(docs).collect()}

    r1 = rows[1]
    assert r1["n_chars"] == 11
    assert r1["top2_count"] == 3 and r1["top2_cover_chars"] == 9
    assert r1["top2_char_frac"] == 9 / 11
    assert r1["dup5_chars"] == 0 and r1["dup5_char_frac"] == 0.0

    r2 = rows[2]
    assert r2["top2_count"] == 5 and r2["top2_cover_chars"] == 15
    # occurrence-weighted dup fraction can exceed 1 (documented)
    assert r2["dup5_chars"] == 18 and r2["dup5_char_frac"] == 18 / 11

    r3 = rows[3]
    assert r3["top2_count"] == 1 and r3["top2_cover_chars"] == 7
    assert r3["dup5_chars"] is None and r3["dup5_char_frac"] is None

    # tied max count -> deterministic largest coverage ('aa cc'/'cc aa', 5)
    r4 = rows[4]
    assert r4["top2_count"] == 1 and r4["top2_cover_chars"] == 5


def test_gopher_repetition_filter(spark):
    from firepit_spark.functions import text as tx

    docs = spark.createDataFrame(
        [
            # long/varied enough that no single 2-gram covers >20% of chars
            # (the Gopher thresholds assume real-document lengths)
            (1, "the quick brown fox jumps over the lazy dog today while "
                "seven wild zebras gallop across the open plain chasing "
                "bright orange butterflies under a warm afternoon sun"),
            (2, "spam spam spam spam spam spam spam spam"),
            (3, "hi"),  # too short for any metric: NULLs are kept
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in tx.gopher_repetition_filter(docs).collect()}
    assert kept == {1, 3}


def test_char_repetition_stats_random_vs_python(spark):
    """Differential check of the char-repetition metrics against a plain
    Python reference over 60 random word-salad docs (seeded)."""
    import random
    from collections import Counter

    from firepit_spark.functions import text as tx

    rng = random.Random(87)
    vocab = ["a", "bb", "ccc", "word", "spam", "x"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(60)
    ]

    def expected(text):
        toks = [t for t in text.split(" ") if t != ""] if text else []
        out = {}
        for n, prefix, dup in ((2, "top2", False), (5, "dup5", True)):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if not grams:
                out[prefix] = None
                continue
            c = Counter(grams)
            if dup:
                out[prefix] = sum(k * len(g) for g, k in c.items() if k > 1)
            else:
                mc = max(c.values())
                out[prefix] = (mc, max(k * len(g) for g, k in c.items() if k == mc))
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in tx.char_repetition_stats(df).collect()}
    for i, text in docs:
        want = expected(text)
        r = rows[i]
        if want["top2"] is None:
            assert r["top2_count"] is None
        else:
            assert (r["top2_count"], r["top2_cover_chars"]) == want["top2"], (i, text)
        if want["dup5"] is None:
            assert r["dup5_chars"] is None
        else:
            assert r["dup5_chars"] == want["dup5"], (i, text)
        assert r["n_chars"] == len(text)


def _gq_py(text):
    """Pure-Python reference of gopher_quality_stats on one doc."""
    import re

    toks = " ".join(text.split()).lower().split(" ")
    n_words = len(toks)
    sum_chars = sum(len(w) for w in toks)
    n_hash = text.count("#")
    n_ellipsis = (len(text) - len(text.replace("...", ""))) // 3
    lines = [l.strip() for l in text.split("\n")]
    bullet = sum(1 for l in lines if l.startswith("•") or l.startswith("-"))
    ell = sum(1 for l in lines if l.endswith("…") or l.endswith("..."))
    alpha = sum(1 for w in toks if re.search("[a-z]", w))
    req = len(
        set(toks)
        & {"the", "be", "to", "of", "and", "that", "have", "with"}
    )
    return dict(
        n_words=n_words,
        sum_word_chars=sum_chars,
        mean_word_chars=sum_chars / n_words,
        n_hash=n_hash,
        n_ellipsis=n_ellipsis,
        symbol_word_ratio=(n_hash + n_ellipsis) / n_words,
        n_lines=len(lines),
        bullet_lines=bullet,
        bullet_line_frac=bullet / len(lines),
        ellipsis_lines=ell,
        ellipsis_line_frac=ell / len(lines),
        alpha_words=alpha,
        alpha_word_frac=alpha / n_words,
        required_hits=req,
    )


def test_gopher_quality_stats_differential(spark):
    from firepit_spark.functions import text as tx

    texts = [
        "The cat and the dog have been to the house of that man with care",
        "# code ## sample ### with hashes and more... trailing...",
        "• bullet one\n- bullet two\nplain line\n- bullet three",
        "ends with dots...\nnormal line\nalso ends…",
        "12345 67890 $$$ %%% @@@",
        "",
        "word",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in tx.gopher_quality_stats(docs).collect()}
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        exp = _gq_py(t)
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, got[i][k], v)


def test_gopher_quality_filter_rules(spark):
    from firepit_spark.functions import text as tx

    good = (
        "The cat and the dog have been seen near the house of that man "
        "with great care every single day while many other animals went "
        "past the old wooden gate and into the wide green field beyond "
        "the tall hedge that marks the edge of the old farm property line"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass the fifty word minimum"),
            (3, good + " ####################" * 3),  # symbol ratio
            (4, "\n".join(
                "- " + w for i, w in enumerate(good.split(" ") * 2)
            )),
            (5, good.replace(" the ", " 123 ")),  # still passes alpha
            (6, None),  # NULL text: stats NULL, every rule comparison false
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in tx.gopher_quality_filter(docs).collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept and 4 not in kept
    # doc 5 has fewer 'the' but other required words remain
    assert 5 in kept
    assert 6 not in kept
    # thresholds overridable: raise the floor past every doc
    none = tx.gopher_quality_filter(docs, min_words=10_000).count()
    assert none == 0


def test_gopher_quality_stats_is_map_only(spark):
    from firepit_spark.functions import text as tx

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = tx.gopher_quality_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(0, "same text", "a"), (1, "will change", "a"), (2, "will vanish", "b"),
         (3, "ws   change", "b")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(0, "same text", "a"), (1, "changed now", "a"), (4, "brand new", "b"),
         (3, "ws change", "b")],
        "doc_id long, text string, source string",
    )
    d = {r["doc_id"]: r for r in
         cp.corpus_diff(old, new, carry_cols=("source",)).collect()}
    assert d[0]["status"] == "unchanged"
    assert d[1]["status"] == "changed"
    assert d[2]["status"] == "removed" and d[2]["source"] == "b"  # carried from old
    # whitespace-only edits are 'unchanged' (fingerprint normalizes ws)
    assert d[3]["status"] == "unchanged"
    assert d[4]["status"] == "added" and d[4]["source"] == "b"

    s = {r["source"]: r for r in
         cp.diff_summary(old, new, group_col="source").collect()}
    assert (s["a"]["n_unchanged"], s["a"]["n_changed"]) == (1, 1)
    assert (s["b"]["n_added"], s["b"]["n_removed"], s["b"]["n_unchanged"]) == (1, 1, 1)


def test_corpus_diff_prematerialized_fingerprint(spark):
    from firepit_spark.functions import text as tx

    old = spark.createDataFrame([(0, "alpha"), (1, "beta")], "doc_id long, text string")
    new = spark.createDataFrame([(0, "alpha"), (1, "gamma")], "doc_id long, text string")
    via_text = sorted(map(tuple, cp.corpus_diff(old, new).collect()))
    o2 = old.withColumn("fp", tx.fingerprint(F.col("text")))
    n2 = new.withColumn("fp", tx.fingerprint(F.col("text")))
    via_fp = sorted(map(tuple, cp.corpus_diff(o2, n2, fingerprint_col="fp").collect()))
    assert via_text == via_fp


def test_q45_oracle_version_gate():
    """The q45 oracle assembles per DuckDB dialect (r9): plain recursive
    CTE on <1.3 (what this container ships — and the auto path must pick
    it), USING KEY keyed recursion on >=1.3. Both variants must build
    from the same template so the span/pair SQL can't drift."""
    import duckdb

    import __spark_entry__ as entry

    plain = entry._q45_sql(False)
    keyed = entry._q45_sql(True)
    auto = entry._q45_sql()
    ver = tuple(int(x) for x in duckdb.__version__.split(".")[:2])
    assert auto == (keyed if ver >= (1, 3) else plain)
    assert "USING KEY" not in plain and "FROM reach GROUP BY a" in plain
    assert "USING KEY (node)" in keyed and "recurring.comp" in keyed
    # shared prefix: identical pair/span SQL in both dialects
    assert plain.split("reach(")[0] == keyed.split("comp(")[0]
    assert entry.oracle_sql()["q45_dedup_clusters"] == auto
    # the installed-DuckDB dialect actually parses (EXPLAIN = parse+bind,
    # no execution cost)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, 'a b c' AS text"
    )
    con.execute("EXPLAIN " + auto)
