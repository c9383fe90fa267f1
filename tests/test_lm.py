"""n-gram LM scoring (CCNet-style).

Differential strategy: a seeded synthetic corpus is scored by a pure-Python
reference implementation of the same math (Counter-based counts, float
sums); integer columns must match EXACTLY, float scores within 1e-9
relative (the Spark side folds in sorted order, the Python side in its own
order — last-ulp drift is legitimate; anything more is a bug).
"""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from firepit_spark.functions import lm as L, release


def _toks(text):
    return " ".join(text.split()).lower().split(" ")


def _corpus(n=48, seed=20240815):
    rng = random.Random(seed)
    vocab = ["the", "cat", "dog", "sat", "ran", "on", "mat", "log", "big"]
    rare = ["zq", "xv", "qj"]
    rows = []
    for i in range(n):
        ln = rng.randint(0, 9)
        words = [
            rng.choice(rare) if rng.random() < 0.08 else rng.choice(vocab)
            for _ in range(ln)
        ]
        rows.append((i, " ".join(words)))
    return rows


def _fit_py(rows, k=0.5):
    uni, big = Counter(), Counter()
    for _, text in rows:
        t = _toks(text)
        uni.update(t)
        big.update(zip(t, t[1:]))
    return uni, big, len(uni), sum(uni.values()), k


def _score_py(rows, model):
    uni, big, V, N, k = model
    out = {}
    for did, text in rows:
        t = _toks(text)
        trans = list(zip(t, t[1:]))
        n_trans = len(trans)
        unseen_b = sum(1 for p in trans if p not in big)
        unseen_h = sum(1 for w, _ in trans if w not in uni)
        oov = sum(1 for w in t if w not in uni)
        bits = (
            sum(
                -math.log2((big.get(p, 0) + k) / (uni.get(p[0], 0) + k * V))
                for p in trans
            )
            / n_trans
            if n_trans
            else None
        )
        ubits = sum(
            -math.log2((uni.get(w, 0) + k) / (N + k * V)) for w in t
        ) / len(t)
        out[did] = dict(
            n_tokens=len(t),
            n_trans=n_trans,
            unseen_bigrams=unseen_b,
            unseen_hist=unseen_h,
            oov_tokens=oov,
            bits=bits,
            ubits=ubits,
        )
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train_rows = [r for r in rows if r[0] % 2 == 0]
    train = df.filter(F.col("doc_id") % 2 == 0)
    return rows, df, train_rows, train


def test_fit_counts_exact(spark, corpus):
    rows, df, train_rows, train = corpus
    lm = L.ngram_lm_fit(train)
    uni, big, V, N, k = _fit_py(train_rows)
    assert lm.vocab_size == V and lm.total_tokens == N
    got_uni = {r["w"]: r["c1"] for r in lm.unigrams.collect()}
    assert got_uni == dict(uni)
    got_big = {(r["w1"], r["w2"]): r["c12"] for r in lm.bigrams.collect()}
    assert got_big == dict(big)


def test_score_differential(spark, corpus):
    rows, df, train_rows, train = corpus
    lm = L.ngram_lm_fit(train)
    exp = _score_py(rows, _fit_py(train_rows))
    got = {r["doc_id"]: r.asDict() for r in L.ngram_lm_score(df, lm).collect()}
    assert set(got) == set(exp)
    for did, e in exp.items():
        g = got[did]
        for c in ("n_tokens", "n_trans", "unseen_bigrams", "unseen_hist", "oov_tokens"):
            assert g[c] == e[c], (did, c, g[c], e[c])
        if e["bits"] is None:
            assert g["bits_per_token"] is None and g["ppl"] is None
            assert g["unseen_rate"] is None
        else:
            assert g["bits_per_token"] == pytest.approx(e["bits"], rel=1e-9)
            assert g["ppl"] == pytest.approx(2 ** e["bits"], rel=1e-9)
            assert g["unseen_rate"] == e["unseen_bigrams"] / e["n_trans"]
        assert g["unigram_bits_per_token"] == pytest.approx(e["ubits"], rel=1e-9)
        assert g["oov_rate"] == e["oov_tokens"] / e["n_tokens"]


def test_score_bit_reproducible(spark, corpus):
    """The sorted-fold makes float scores identical run-to-run (not just
    approximately) despite distributed summation."""
    rows, df, train_rows, train = corpus
    lm = L.ngram_lm_fit(train)
    a = {
        r["doc_id"]: (repr(r["bits_per_token"]), repr(r["unigram_bits_per_token"]))
        for r in L.ngram_lm_score(df.repartition(7), lm).collect()
    }
    b = {
        r["doc_id"]: (repr(r["bits_per_token"]), repr(r["unigram_bits_per_token"]))
        for r in L.ngram_lm_score(df.repartition(3), lm).collect()
    }
    assert a == b


def test_self_trained_no_unseen(spark, corpus):
    rows, df, _, _ = corpus
    lm = L.ngram_lm_fit(df)
    got = L.ngram_lm_score(df, lm).agg(
        F.sum("unseen_bigrams"), F.sum("unseen_hist"), F.sum("oov_tokens")
    ).first()
    assert tuple(got) == (0, 0, 0)


def test_with_oov_false_skips_token_leg(spark, corpus):
    rows, df, _, train = corpus
    lm = L.ngram_lm_fit(train)
    cols = L.ngram_lm_score(df, lm, with_oov=False).columns
    assert "oov_tokens" not in cols and "unigram_bits_per_token" not in cols
    assert "bits_per_token" in cols


def test_fit_rejects_bad_k(spark, corpus):
    _, df, _, _ = corpus
    with pytest.raises(ValueError):
        L.ngram_lm_fit(df, k=0.0)


def test_lm_and_packer_null_text(spark, corpus):
    """NULL text never corrupts neighbors: the packer drops the doc
    without shifting offsets; LM scoring carries NULLs for that row
    only."""
    from firepit_spark.functions import pipeline as pl

    rows_ok = [(1, "a b c d"), (3, "e f g h")]
    with_null = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "e f g h")], "doc_id long, text string"
    )
    without = spark.createDataFrame(rows_ok, "doc_id long, text string")
    a = sorted(
        (r["seq_id"], r["ids"], r["n_real"])
        for r in pl.pack_token_sequences(with_null, 4, vocab_size=50).collect()
    )
    b = sorted(
        (r["seq_id"], r["ids"], r["n_real"])
        for r in pl.pack_token_sequences(without, 4, vocab_size=50).collect()
    )
    assert a == b

    lm = L.ngram_lm_fit(without)
    got = {r["doc_id"]: r for r in L.ngram_lm_score(with_null, lm).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2]["n_tokens"] is None and got[2]["bits_per_token"] is None
    assert got[1]["n_trans"] == 3 and got[3]["n_trans"] == 3


# ------------------------------------------- Kneser-Ney trigram (r10)


def _fit_kn_py(rows):
    """Pure-python reference of kneser_ney_fit's exact definition."""
    tri = Counter()
    vocab = set()
    for _, text in rows:
        t = _toks(text)
        vocab.update(t)
        tri.update(zip(t, t[1:], t[2:]))
    hist, contbig = {}, Counter()
    for (w1, w2, w3), c in tri.items():
        h = hist.setdefault((w1, w2), [0, 0])
        h[0] += c
        h[1] += 1
        contbig[(w2, w3)] += 1
    mid, contuni = {}, Counter()
    for (w2, w3), cb in contbig.items():
        m = mid.setdefault(w2, [0, 0])
        m[0] += cb
        m[1] += 1
        contuni[w3] += 1

    def disc(counter):
        n1 = sum(1 for c in counter.values() if c == 1)
        n2 = sum(1 for c in counter.values() if c == 2)
        return n1 / (n1 + 2 * n2) if n1 + 2 * n2 else 0.5

    return dict(
        tri=tri, hist=hist, contbig=contbig, mid=mid, contuni=contuni,
        nb=sum(contuni.values()), u=len(contuni), V=len(vocab),
        d3=disc(tri), d2=disc(contbig), d1=disc(contuni),
    )


def _p_kn_py(m, w1, w2, w3):
    c123 = m["tri"].get((w1, w2, w3), 0)
    h12, nf12 = m["hist"].get((w1, w2), (0, 0))
    cb23 = m["contbig"].get((w2, w3), 0)
    md2, nf2 = m["mid"].get(w2, (0, 0))
    cu3 = m["contuni"].get(w3, 0)
    uni = (
        max(cu3 - m["d1"], 0.0) + m["d1"] * m["u"] / (m["V"] + 1)
    ) / (m["nb"] or 1)
    midp = (
        (max(cb23 - m["d2"], 0.0) + m["d2"] * nf2 * uni) / md2
        if md2 > 0 else uni
    )
    return (
        (max(c123 - m["d3"], 0.0) + m["d3"] * nf12 * midp) / h12
        if h12 > 0 else midp
    )


def _score_kn_py(rows, m):
    out = {}
    for did, text in rows:
        t = _toks(text)
        tris = list(zip(t, t[1:], t[2:]))
        n, u_tri, u_hist, cont_sum, bits = len(tris), 0, 0, 0, 0.0
        for w1, w2, w3 in tris:
            u_tri += m["tri"].get((w1, w2, w3), 0) == 0
            u_hist += m["hist"].get((w1, w2), (0, 0))[0] == 0
            cont_sum += m["contbig"].get((w2, w3), 0)
            bits += -math.log2(_p_kn_py(m, w1, w2, w3))
        out[did] = (n, u_tri, u_hist, cont_sum, bits / n if n else None)
    return out


def test_kn_fit_tables_and_discounts_exact(spark, corpus):
    rows, df, _tr, _t = corpus
    m = L.kneser_ney_fit(df)
    py = _fit_kn_py(rows)
    got_tri = {(r["w1"], r["w2"], r["w3"]): r["c123"] for r in m.tri.collect()}
    assert got_tri == dict(py["tri"])
    got_hist = {(r["w1"], r["w2"]): [r["h12"], r["nf12"]] for r in m.hist.collect()}
    assert got_hist == py["hist"]
    got_cb = {(r["w2"], r["w3"]): r["cb23"] for r in m.contbig.collect()}
    assert got_cb == dict(py["contbig"])
    got_mid = {r["w2"]: [r["md2"], r["nf2"]] for r in m.mid.collect()}
    assert got_mid == py["mid"]
    got_cu = {r["w3"]: r["cu3"] for r in m.contuni.collect()}
    assert got_cu == dict(py["contuni"])
    assert (m.nb, m.u, m.vocab_size) == (py["nb"], py["u"], py["V"])
    # Ney discounts are ratios of exact integers: equal exactly
    assert (m.d3, m.d2, m.d1) == (py["d3"], py["d2"], py["d1"])
    release()


def test_kn_score_differential(spark, corpus):
    """Model on the even half, scored over everything (the odd half
    exercises unseen trigram/history/continuation backoff paths), vs the
    pure-python reference: integers EXACT, bits within 1e-9 relative."""
    rows, df, train, train_df = corpus
    m = L.kneser_ney_fit(train_df)
    py = _score_kn_py(rows, _fit_kn_py(train))
    got = {r["doc_id"]: r for r in L.kneser_ney_score(df, m).collect()}
    assert set(got) == set(py)
    backoff_seen = 0
    for did, (n, u_tri, u_hist, cont_sum, bits) in py.items():
        g = got[did]
        assert (g["kn_n_tri"], g["kn_unseen_tri"], g["kn_unseen_hist"],
                g["kn_cont_sum"]) == (n, u_tri, u_hist, cont_sum), did
        if bits is None:
            assert g["kn_bits_per_token"] is None
        else:
            assert g["kn_bits_per_token"] == pytest.approx(bits, rel=1e-9)
            assert g["kn_ppl"] == pytest.approx(2.0 ** bits, rel=1e-9)
        backoff_seen += u_hist
    assert backoff_seen > 0  # the odd half actually hit the backoff path
    release()


def test_kn_distribution_sums_to_one(spark, corpus):
    """Spec-level invariant: for any history, P summed over the V seen
    words plus one OOV cell is exactly 1 at every interpolation level —
    checked through the pure-python twin the Spark differential pins."""
    rows, _df, _tr, _t = corpus
    m = _fit_kn_py(rows)
    vocab = sorted({w for _i, tx_ in rows for w in _toks(tx_)})
    cells = vocab + ["__oov__"]

    # a seen history, a seen-middle-only history, and an unseen one
    (h1, h2), _ = next(iter(m["hist"].items()))
    for w1, w2 in [(h1, h2), ("__oov__", h2), ("__oov__", "__oov__")]:
        total = sum(_p_kn_py(m, w1, w2, w3) for w3 in cells)
        assert total == pytest.approx(1.0, rel=1e-9), (w1, w2)


def test_kn_short_docs_and_reproducibility(spark, corpus):
    rows, df, _tr, _t = corpus
    m = L.kneser_ney_fit(df)
    extra = spark.createDataFrame(
        [(900, ""), (901, "one"), (902, "two tokens")],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: r for r in L.kneser_ney_score(extra, m).collect()}
    for did in (901, 902):
        assert got[did]["kn_n_tri"] == 0
        assert got[did]["kn_bits_per_token"] is None
    a = L.kneser_ney_score(df, m).collect()
    b = L.kneser_ney_score(df.repartition(13), m).collect()
    am = {r["doc_id"]: r["kn_bits_per_token"] for r in a}
    bm = {r["doc_id"]: r["kn_bits_per_token"] for r in b}
    assert am == bm  # bit-identical across partitionings (sorted fold)
    release()
