"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the firepit_spark engine surface (SURVEY.md §2) on
the driver's parquet tables: the relational DSL (projection, filters,
predicates, joins, grouping, aggregation, binning, sort/limit/offset, set
ops, subqueries, window extensions) plus the large-scale pipeline operators
(dedup exact/minhash/simhash/ngram-jaccard, cosine similarity search, text
analysis). Every entry has an ANSI-SQL oracle in ``oracle_sql()`` unless
marked rows-only.

Determinism rules used throughout (both sides):
* double SUMs go through DECIMAL(28,6) so partial-aggregation order can't
  change the result; final values cast back to double
* AVGs and cosines are rounded to 6 decimals
* hashes are md5-derived (engine-portable), never xxhash/murmur
"""

from __future__ import annotations

import base64
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firepit_spark.functions import pin
from firepit_spark.functions import dedup as dd
from firepit_spark.functions import pipeline as pl
from firepit_spark.functions import similarity as sim
from firepit_spark.functions import text as tx
from firepit_spark.query import (
    Aggregation,
    BinnedColumn,
    CoalescedColumn,
    CountUnique,
    Filter,
    Group,
    Join,
    Limit,
    Offset,
    Order,
    Predicate,
    Projection,
    Query,
    Unique,
)
from firepit_spark.session import testdata_resolver


def _resolver(spark: SparkSession, sf_dir: str):
    return testdata_resolver(spark, sf_dir)


# --------------------------------------------------------------------------
# relational DSL battery
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter + groupBy + multi-agg + order (A1-A4, P1-P6)."""
    q = Query("lineitem")
    q.append(Filter([Predicate("l_shipdate", "<=", "1998-09-02 00:00:00")]))
    q.append(Group(["l_returnflag", "l_linestatus"]))
    q.append(
        Aggregation(
            [
                ("SUM", F.col("l_quantity").cast("decimal(28,6)"), "_sq"),
                ("SUM", F.col("l_extendedprice").cast("decimal(28,6)"), "_sbp"),
                (
                    "SUM",
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(28,6)"),
                    "_sdp",
                ),
                ("AVG", F.col("l_discount").cast("decimal(28,6)"), "_ad"),
                ("COUNT", None, "count_order"),
            ]
        )
    )
    df = q.resolve(_resolver(spark, sf_dir))
    return df.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.round(F.col("_ad").cast("double"), 6).alias("avg_disc"),
        "count_order",
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
       ROUND(CAST(AVG(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_like(spark, sf_dir):
    """LIKE + regex MATCHES with OR routing, chained (ANDed) with a
    comparison filter, + projection (P1, P5, P6, P10) on one scan."""
    q = Query("part")
    q.append(
        Filter(
            [
                Predicate("p_name", "LIKE", "%re%"),
                Predicate("p_name", "MATCHES", "^(red|blue) "),
            ],
            op="OR",
        )
    )
    q.append(Filter([Predicate("p_size", ">=", 10)]))
    q.append(Projection(["p_partkey", "p_name", "p_brand", "p_size"]))
    return q.resolve(_resolver(spark, sf_dir))


_Q02_SQL = """
SELECT p_partkey, p_name, p_brand, p_size FROM part
WHERE (p_name LIKE '%re%' OR regexp_matches(p_name, '^(red|blue) '))
  AND p_size >= 10
"""


def q03_filter_in(spark, sf_dir):
    """IN-list + OR filter (P5)."""
    q = Query("orders")
    q.append(
        Filter(
            [
                Predicate("o_orderpriority", "IN", ["1-URGENT", "2-HIGH"]),
                Predicate("o_totalprice", ">", 450000.0),
            ],
            op="OR",
        )
    )
    q.append(Projection(["o_orderkey", "o_custkey", "o_orderpriority"]))
    return q.resolve(_resolver(spark, sf_dir))


_Q03_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') OR o_totalprice > 450000.0
"""


def q04_join_agg(spark, sf_dir):
    """Star join with broadcast dims + grouped agg (J1, J2, A1-A4)."""
    q = Query("orders")
    q.append(Join("customer", "o_custkey", "=", "c_custkey", hint="broadcast"))
    q.append(Join("nation", "c_nationkey", "=", "n_nationkey", hint="broadcast"))
    q.append(Join("region", "n_regionkey", "=", "r_regionkey", hint="broadcast"))
    q.append(Group(["r_name", "n_name"]))
    q.append(
        Aggregation(
            [
                ("COUNT", None, "num_orders"),
                ("SUM", F.col("o_totalprice").cast("decimal(28,6)"), "_tp"),
            ]
        )
    )
    df = q.resolve(_resolver(spark, sf_dir))
    return df.select(
        "r_name", "n_name", "num_orders", F.col("_tp").cast("double").alias("total_price")
    )


_Q04_SQL = """
SELECT r_name, n_name, COUNT(*) AS num_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q05_left_join(spark, sf_dir):
    """LEFT OUTER join keeping customers with zero orders (J1)."""
    q = Query("customer")
    q.append(Join("orders", "c_custkey", "=", "o_custkey", how="LEFT OUTER"))
    q.append(Group(["c_custkey"]))
    q.append(Aggregation([("COUNT", "o_orderkey", "num_orders")]))
    return q.resolve(_resolver(spark, sf_dir))


_Q05_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS num_orders
FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q06_semijoin_subquery(spark, sf_dir):
    """IN (subquery) -> distributed left-semi join (J5/P5 subquery rhs)."""
    sub = Query("customer")
    sub.append(Filter([Predicate("c_mktsegment", "=", "BUILDING")]))
    sub.append(Projection(["c_custkey"]))
    q = Query("orders")
    q.append(Filter([Predicate("o_custkey", "IN", sub)]))
    q.append(Projection(["o_orderkey", "o_custkey", "o_totalprice"]))
    return q.resolve(_resolver(spark, sf_dir))


_Q06_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


def q07_topk_revenue(spark, sf_dir):
    """Join + group + order + limit top-k (O1-O4, J1, A1)."""
    q = Query("lineitem")
    q.append(Join("orders", "l_orderkey", "=", "o_orderkey"))
    q.append(Group(["o_custkey"]))
    q.append(
        Aggregation(
            [
                (
                    "SUM",
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,6)"
                    ),
                    "_rev",
                )
            ]
        )
    )
    df = q.resolve(_resolver(spark, sf_dir))
    return (
        df.select("o_custkey", F.col("_rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


_Q07_SQL = """
SELECT o_custkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
ORDER BY revenue DESC, o_custkey ASC
LIMIT 10
"""


def q10_having(spark, sf_dir):
    """Filter-after-Group routes to HAVING (P6 routing), with the
    CountUnique DSL op (A7, merged q09 slot) cross-joined on as a 1-row
    denominator — the 'heavy users out of N distinct customers' shape."""
    r = _resolver(spark, sf_dir)
    q = Query("orders")
    q.append(Group(["o_custkey"]))
    q.append(Aggregation([("COUNT", None, "n_orders")]))
    q.append(Filter([Predicate("n_orders", ">", 15)]))
    heavy = q.resolve(r)
    cu = Query("orders")
    # reference parity: CountUnique counts distinct ROWS of the result
    # set (its cols arg is ignored, pinned by the differential
    # harness) — project the column first for COUNT(DISTINCT col)
    cu.append(Projection(["o_custkey"]))
    cu.append(CountUnique())
    n = cu.resolve(r).select(F.col("count").alias("n_custkeys"))
    return heavy.crossJoin(F.broadcast(n))


_Q10_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders, n.n_custkeys
FROM orders
CROSS JOIN (SELECT COUNT(DISTINCT o_custkey) AS n_custkeys FROM orders) n
GROUP BY o_custkey, n.n_custkeys HAVING COUNT(*) > 15
"""


def q11_time_bin(spark, sf_dir):
    """Timestamp binning (P4 BinnedColumn) + grouped sums."""
    q = Query("events")
    q.append(Group([BinnedColumn("ts", 1, "h", alias="hour")]))
    q.append(
        Aggregation(
            [
                ("COUNT", None, "n_events"),
                ("SUM", F.col("value").cast("decimal(28,6)"), "_v"),
            ]
        )
    )
    df = q.resolve(_resolver(spark, sf_dir))
    return df.select("hour", "n_events", F.col("_v").cast("double").alias("total_value"))


_Q11_SQL = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def q13_sort_offset_limit(spark, sf_dir):
    """Unique + Order + Offset + Limit in one DSL pipeline (A6, O1-O3):
    deterministic pagination over a distinct projection."""
    q = Query("orders")
    q.append(Projection(["o_orderpriority", "o_orderstatus"]))
    q.append(Unique())
    q.append(Order([("o_orderpriority", "ASC"), ("o_orderstatus", "DESC")]))
    q.append(Offset(2))
    q.append(Limit(8))
    return q.resolve(_resolver(spark, sf_dir))


_Q13_SQL = """
SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
ORDER BY o_orderpriority ASC, o_orderstatus DESC LIMIT 8 OFFSET 2
"""


def q14_coalesce(spark, sf_dir):
    """CoalescedColumn across an outer join (P3)."""
    q = Query("customer")
    q.append(Join("orders", "c_custkey", "=", "o_custkey", how="LEFT OUTER"))
    q.append(
        Projection(
            [
                "c_custkey",
                "o_orderkey",
                CoalescedColumn(["o_orderstatus", "c_mktsegment"], "status_or_segment"),
            ]
        )
    )
    return q.resolve(_resolver(spark, sf_dir))


_Q14_SQL = """
SELECT c_custkey, o_orderkey, COALESCE(o_orderstatus, c_mktsegment) AS status_or_segment
FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
"""


def q15_union_merge(spark, sf_dir):
    """UNION-with-dedup set op (U1 merge semantics)."""
    r = _resolver(spark, sf_dir)
    a = Query("orders")
    a.append(Filter([Predicate("o_totalprice", ">", 450000.0)]))
    a.append(Projection(["o_orderkey", "o_custkey"]))
    b = Query("orders")
    b.append(Filter([Predicate("o_orderpriority", "=", "1-URGENT")]))
    b.append(Projection(["o_orderkey", "o_custkey"]))
    return a.resolve(r).unionByName(b.resolve(r)).distinct()


_Q15_SQL = """
SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 450000.0
UNION
SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q16_window_topk_per_group(spark, sf_dir):
    """Top-1 order per customer via window row_number (Spark-native upgrade;
    the reference has no window functions, SURVEY §2.6)."""
    r = _resolver(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        r("orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


_Q16_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q17_json_extract(spark, sf_dir):
    """Semi-structured props column: regex extraction + grouped agg.

    Since r8 the slot also gates the event-analytics family
    (functions/events.py) as two extra union legs under a ``leg``
    discriminator (gate-packing like q22, documented as such):

    - ``funnel``: ordered view→click→purchase completion counts. The
      Spark side is the single-pass greedy fold over each user's sorted
      event array; the ORACLE is the independent chained-min formulation
      (step k = MIN event time at/after step k-1's match, tie order
      mirroring the fold's (ts, type) sort) — the hash match proves the
      fold implements the standard funnel semantics.
    - ``retention``: weekly cohort matrix (cohort bucket as the string
      key, period as k). Oracle recomputes via DISTINCT buckets + MIN
      window.

    Shared shape: (leg, event_type, k, n, sum_k, unique_k); legs leave
    inapplicable columns NULL."""
    from firepit_spark.functions import events as ev

    r = _resolver(spark, sf_dir)
    e = r("events")
    nulls = [
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("bigint").alias("unique_k"),
    ]
    js = (
        e.withColumn(
            "k_val", F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("bigint")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.countDistinct("k_val").alias("unique_k"),
        )
        .select(
            F.lit("json").alias("leg"),
            "event_type",
            F.lit(None).cast("bigint").alias("k"),
            "n",
            "sum_k",
            "unique_k",
        )
    )
    fu = ev.funnel(e, ["view", "click", "purchase"]).select(
        F.lit("funnel").alias("leg"),
        F.col("step").alias("event_type"),
        F.col("stage").cast("bigint").alias("k"),
        F.col("n_users").alias("n"),
        *nulls,
    )
    rt = ev.retention(e).select(
        F.lit("retention").alias("leg"),
        F.col("cohort_bucket").cast("string").alias("event_type"),
        F.col("period").cast("bigint").alias("k"),
        F.col("n_users").alias("n"),
        *nulls,
    )
    return js.unionByName(fu).unionByName(rt)


_Q17_SQL = """
WITH ev AS (SELECT user_id AS u, event_type AS t, epoch(ts) AS ep FROM events),
f1 AS (SELECT u, MIN(ep) AS m FROM ev WHERE t = 'view' GROUP BY u),
-- tie rule mirrors the fold's (ts, type) sort: 'click' < 'view' so an
-- equal-timestamp click sorted BEFORE the matched view cannot count -> strict
f2 AS (
  SELECT ev.u, MIN(ep) AS m FROM ev JOIN f1 USING (u)
  WHERE t = 'click' AND ep > f1.m GROUP BY ev.u
),
-- 'purchase' > 'click': an equal-timestamp purchase sorts after the click
f3 AS (
  SELECT ev.u, MIN(ep) AS m FROM ev JOIN f2 USING (u)
  WHERE t = 'purchase' AND ep >= f2.m GROUP BY ev.u
),
ub AS (
  SELECT DISTINCT user_id AS u,
         CAST(FLOOR(epoch(ts) / 604800.0) AS BIGINT) AS b
  FROM events
),
coh AS (SELECT u, b, MIN(b) OVER (PARTITION BY u) AS c FROM ub)
SELECT 'json' AS leg, event_type, CAST(NULL AS BIGINT) AS k, COUNT(*) AS n,
       CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS unique_k
FROM events GROUP BY event_type
UNION ALL
SELECT 'funnel', s.event_type, s.k, s.n, NULL, NULL FROM (
  SELECT 'view' AS event_type, CAST(1 AS BIGINT) AS k,
         (SELECT COUNT(*) FROM f1) AS n
  UNION ALL SELECT 'click', 2, (SELECT COUNT(*) FROM f2)
  UNION ALL SELECT 'purchase', 3, (SELECT COUNT(*) FROM f3)
) s
UNION ALL
SELECT 'retention', CAST(c AS VARCHAR), b - c, COUNT(*), NULL, NULL
FROM coh GROUP BY c, b - c
"""


def q19_multi_agg(spark, sf_dir):
    """MIN/MAX/COUNT/NUNIQUE inference-style aggs grouped on a plain column
    plus a numeric BinnedColumn (A1, A3, P4 numeric binning)."""
    q = Query("lineitem")
    q.append(Group(["l_returnflag", BinnedColumn("l_quantity", 10, alias="qty_bin")]))
    q.append(
        Aggregation(
            [
                ("MIN", "l_shipdate", "first_ship"),
                ("MAX", "l_shipdate", "last_ship"),
                ("COUNT", None, "n_items"),
                ("NUNIQUE", "l_suppkey", "unique_suppliers"),
                ("MIN", "l_quantity", "min_qty"),
                ("MAX", "l_quantity", "max_qty"),
            ]
        )
    )
    return q.resolve(_resolver(spark, sf_dir))


_Q19_SQL = """
SELECT l_returnflag, CAST(floor(l_quantity / 10) * 10 AS BIGINT) AS qty_bin,
       MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship,
       COUNT(*) AS n_items, COUNT(DISTINCT l_suppkey) AS unique_suppliers,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY 1, 2
"""


def q20_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap via window lag + running sum
    (streaming-adjacent op the reference lacks; SURVEY §2.10)."""
    from firepit_spark.functions.temporal import sessionize

    r = _resolver(spark, sf_dir)
    sess = sessionize(r("events"), "user_id", "ts", 1800.0, tiebreak_col="event_id")
    return sess.groupBy("user_id").agg(
        F.max("sess_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


_Q20_SQL = """
WITH g AS (
  SELECT user_id, event_id, epoch(ts) AS ep,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ep, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
"""


# --------------------------------------------------------------------------
# text-analysis / dedup / similarity battery (documents, embeddings)
# --------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS_CTE = (
    "toks AS (SELECT doc_id, string_split(" + _NORM + ", ' ') AS t FROM documents)"
)


def _sw_list(lang):
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang]) + "]"


def q21_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text (dedup primitive).

    Deliberately stays the light map-only headline query it has been
    since round 1 — the r8 BM25 index gate lives in q22 (non-headline)
    so this slot's bench baseline stays comparable."""
    r = _resolver(spark, sf_dir)
    return r("documents").select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fp")
    )


_Q21_SQL = f"SELECT doc_id, md5({_NORM}) AS fp FROM documents"


def q22_text_stats(spark, sf_dir):
    """All per-document text-quality primitives in one pass: token count,
    punctuation/stopword ratios, the composite quality score, and the
    Arrow-batched model-classifier score (one entry keeps the 50-slot
    driver gate free for other operators; every underlying function is
    still exercised and hash-checked). NOTE this slot is gate-packing,
    not a recommended single pipeline: each merged family re-scans
    documents (18 parquet scans at last audit — all map-only), which is
    the right trade for a correctness gate but a real corpus job would
    persist the normalized-token frame once and fan the signal families
    out from it. The model score runs through the
    real ``mapInPandas`` inference plumbing (stub md5-derived model, so
    the oracle reproduces it exactly) — the hash match proves the Python
    batch boundary loses nothing."""
    from firepit_spark.functions import inference as inf

    r = _resolver(spark, sf_dir)
    t = F.col("text")
    # r13-opt: normalize the corpus ONCE into a persisted column and fan
    # the simhash / text-index / char-repetition legs off it (guide
    # §1.2) — each previously re-scanned the parquet and re-ran the
    # lower+whitespace-normalize kernel (char-rep alone ran it 3×). The
    # Python-boundary leg stays on a PRUNED (doc_id, text) slice (§4:
    # ship only the columns the function needs through Arrow).
    docs_n = pin(
        r("documents")
        .select("doc_id", "text", F.lower(tx.normalize_ws(t)).alias("__norm"))
    )
    norm_docs = docs_n.select("doc_id", F.col("__norm").alias("text"))
    # stats leg: the punct/stopword ratios are each multi-referenced
    # (the emitted ratio + quality), so they are bound ONCE as columns
    # (multi-referenced non-cheap aliases survive CollapseProject; same
    # lesson as parse_urls/lang_guess). r13-opt continuation: the leg
    # previously ran BELOW the Arrow hop and re-ran the normalize kernel
    # on the scored frame (the hop only received doc_id+text, so the
    # persisted __norm was out of reach); computing the numeric stats
    # BEFORE score_documents reads __norm from the cache — one fewer
    # full normalize pass — and ships only ~40 bytes/row of extra
    # doubles through Arrow (the heavy text column crosses either way,
    # §4: the scorer needs it).
    sdf = docs_n.withColumns(
        {
            "__punct": tx.punct_ratio(t),
            "__stopr": tx.stopword_ratio(None, norm=F.col("__norm")),
        }
    )
    quality = (
        F.least(F.length(t) / F.lit(500.0), F.lit(1.0)) * 0.4
        + F.least(F.col("__stopr") * 5.0, F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col("__punct") * 10.0, F.lit(1.0))) * 0.2
    )
    pre = sdf.select(
        "doc_id",
        "text",
        F.size(F.split(F.col("__norm"), " ")).alias("n_tokens"),
        tx.bpe_token_estimate(t).alias("bpe_tokens"),
        F.round(F.col("__punct"), 6).alias("punct_ratio"),
        F.round(F.col("__stopr"), 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )
    stats = inf.score_documents(pre).select(
        "doc_id",
        "n_tokens",
        "bpe_tokens",
        "punct_ratio",
        "stopword_ratio",
        "quality",
        F.round(F.col("model_score"), 6).alias("model_score"),
    )
    # SimHash rides along as one more per-doc signal (merged q27 slot);
    # docs with <2 tokens have no shingles -> NULL, mirrored by the LEFT JOIN.
    # r13-opt: pinned — the join leg reads it whole and the near-dup leg
    # filters it, so the shingle+32-bit-vote aggregation runs once instead
    # of once per branch (guide §1.2)
    sim = pin(dd.simhash(norm_docs, bits=32, pre_normalized=True))
    # r8 merge: per-doc BM25 inverted-index stats from
    # text_search.build_text_index — n_index_terms / max_tf / dl are exact
    # integers gating the tokenize→tf→stopword-cutoff→join pipeline, and
    # the broadcast n_vocab_kept column hashes the WHOLE surviving-term
    # set (the synthetic vocab is Zipf-hot, so many docs carry NULLs).
    # ln() idf is not engine-portable and stays pytest-gated.
    from firepit_spark.functions import text_search as ts

    postings, _doc_lens = ts.build_text_index(norm_docs, pre_normalized=True)
    per_doc = postings.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_index_terms"),
        F.max("tf").alias("max_tf"),
        F.sum("tf").alias("dl"),
    )
    summary = postings.agg(F.countDistinct("term").alias("n_vocab_kept"))
    # r8 merge: Gopher character-fraction repetition metrics (text.py
    # char_repetition_stats) — exact integers + raw IEEE quotients, so
    # the oracle reproduces them bit-for-bit
    rep = tx.char_repetition_stats(norm_docs, pre_normalized=True).select(
        "doc_id",
        "top2_count",
        "top2_cover_chars",
        "top2_char_frac",
        "dup5_chars",
        "dup5_char_frac",
    )
    # r8 merge: banded-Hamming near-dup degree over the simhash signal
    # (dedup.hamming_near_dup_pairs — the lossless pigeonhole multi-index
    # join that also backs image dHash dedup). Spark finds pairs via the
    # 8-slice band join; the ORACLE brute-forces all representative pairs
    # — a hash match therefore PROVES the banding is lossless at
    # max_hamming < bands, not merely self-consistent. Gate runs on the
    # doc_id%4 subsample so the oracle's O(n^2) stays cheap at sf1.
    sub = sim.filter(F.col("doc_id") % 4 == 0)
    ndp = dd.hamming_near_dup_pairs(
        sub, "simhash", id_col="doc_id", max_hamming=6, bands=8, bits=32
    )
    nd = (
        ndp.select(F.col("id_a").alias("doc_id"), "hamming")
        .unionByName(ndp.select(F.col("id_b").alias("doc_id"), "hamming"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__ndc"),
            F.min("hamming").alias("min_hamming"),
        )
    )
    out = (
        stats.join(sim, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .crossJoin(F.broadcast(summary))
        .join(nd, "doc_id", "left")
        .withColumn(
            "n_neardup",
            F.when(
                (F.col("doc_id") % 4 == 0) & F.col("simhash").isNotNull(),
                F.coalesce(F.col("__ndc"), F.lit(0).cast("bigint")),
            ),
        )
        .drop("__ndc")
    )
    return out


_Q22_SQL = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT d.doc_id,
         len(t.t) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(
                regexp_extract_all(d.text, ' ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+'),
                p -> greatest(1, (length(trim(p)) + 3) // 4))), 0) AS BIGINT) AS bpe_tokens,
         length(d.text) AS n_chars,
         CASE WHEN length(d.text) > 0
              THEN CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(d.text)
              ELSE 0.0 END AS p_ratio,
         CASE WHEN len(t.t) > 0
              THEN CAST(len(list_filter(t.t, x -> list_contains({_sw_list('en')}, x))) AS DOUBLE) / len(t.t)
              ELSE 0.0 END AS sw_ratio
  FROM documents d JOIN toks t USING (doc_id)
),
tfq AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term != '' GROUP BY 1, 2
),
dfreq AS (
  SELECT term FROM tfq GROUP BY term
  HAVING COUNT(*) <= GREATEST(1, CAST(FLOOR(0.5 * (SELECT COUNT(*) FROM documents)) AS BIGINT))
),
pd AS (
  SELECT tfq.doc_id,
         COUNT(*) AS n_index_terms,
         CAST(MAX(tf) AS BIGINT) AS max_tf,
         CAST(SUM(tf) AS BIGINT) AS dl
  FROM tfq JOIN dfreq USING (term) GROUP BY 1
),
g2c AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, COUNT(*) AS c
  FROM toks, UNNEST(range(1, len(t))) AS r2(i)
  WHERE len(t) >= 2 GROUP BY 1, 2
),
t2m AS (SELECT doc_id, MAX(c) AS mc FROM g2c GROUP BY 1),
rep2 AS (
  SELECT g.doc_id, t2m.mc AS top2_count,
         MAX(g.c * length(g.gram)) AS top2_cover_chars
  FROM g2c g JOIN t2m ON g.doc_id = t2m.doc_id AND g.c = t2m.mc
  GROUP BY 1, 2
),
g5c AS (
  SELECT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram,
         COUNT(*) AS c
  FROM toks, UNNEST(range(1, len(t) - 3)) AS r5(i)
  WHERE len(t) >= 5 GROUP BY 1, 2
),
rep5 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT)
           AS dup5_chars
  FROM g5c GROUP BY 1
),
nrm AS (SELECT doc_id, length({_NORM}) AS rep_chars FROM documents),
sims AS ({{SIMHASH}}),
-- near-dup leg: BRUTE-FORCE all representative pairs (independent of the
-- Spark side's pigeonhole banding — a hash match proves banding lossless)
nreps AS (
  SELECT MIN(doc_id) AS rep, simhash AS h FROM sims
  WHERE doc_id % 4 = 0 AND simhash IS NOT NULL GROUP BY simhash
),
ndpairs AS (
  SELECT a.rep AS ra, b.rep AS rb, bit_count(xor(a.h, b.h)) AS hm
  FROM nreps a JOIN nreps b ON a.rep < b.rep
  WHERE bit_count(xor(a.h, b.h)) <= 6
),
nd AS (
  SELECT rep AS doc_id, COUNT(*) AS ndc, CAST(MIN(hm) AS INTEGER) AS min_hamming
  FROM (SELECT ra AS rep, hm FROM ndpairs UNION ALL SELECT rb AS rep, hm FROM ndpairs)
  GROUP BY rep
)
SELECT m.doc_id, n_tokens, bpe_tokens,
       ROUND(p_ratio, 6) AS punct_ratio,
       ROUND(sw_ratio, 6) AS stopword_ratio,
       ROUND(least(m.n_chars / 500.0, 1.0) * 0.4
             + least(sw_ratio * 5.0, 1.0) * 0.4
             + (1.0 - least(p_ratio * 10.0, 1.0)) * 0.2, 6) AS quality,
       ROUND(CAST(('0x' || substr(md5('quality|' || d2.text), 1, 8)) AS BIGINT)
             / 4294967296.0, 6) AS model_score,
       s.simhash,
       pd.n_index_terms, pd.max_tf, pd.dl,
       (SELECT COUNT(*) FROM dfreq) AS n_vocab_kept,
       rep2.top2_count, rep2.top2_cover_chars,
       rep2.top2_cover_chars / nrm.rep_chars AS top2_char_frac,
       rep5.dup5_chars,
       rep5.dup5_chars / nrm.rep_chars AS dup5_char_frac,
       CASE WHEN m.doc_id % 4 = 0 AND s.simhash IS NOT NULL
            THEN COALESCE(nd.ndc, 0) END AS n_neardup,
       nd.min_hamming
FROM m LEFT JOIN sims s ON m.doc_id = s.doc_id
LEFT JOIN pd ON m.doc_id = pd.doc_id
LEFT JOIN rep2 ON m.doc_id = rep2.doc_id
LEFT JOIN rep5 ON m.doc_id = rep5.doc_id
LEFT JOIN nd ON m.doc_id = nd.doc_id
JOIN nrm ON m.doc_id = nrm.doc_id
JOIN documents d2 ON m.doc_id = d2.doc_id
"""


def q23_lang_guess(spark, sf_dir):
    """Stopword-vote language identification, aggregated by true label."""
    r = _resolver(spark, sf_dir)
    return (
        r("documents")
        .select("lang", tx.lang_guess(F.col("text")).alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_case():
    hits = {
        lang: f"len(list_filter(t, x -> list_contains({_sw_list(lang)}, x)))"
        for lang in tx.STOPWORDS
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}'" for lang in tx.STOPWORDS
    )
    return f"CASE {whens} ELSE 'und' END"


_Q23_SQL = f"""
WITH {_TOKS_CTE}
SELECT d.lang, {_lang_case()} AS guessed, COUNT(*) AS n_docs
FROM documents d JOIN toks USING (doc_id)
GROUP BY 1, 2
"""


_SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id, t[n] || ' ' || t[n+1] || ' ' || t[n+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS r(n)
  WHERE len(t) >= 3
)
"""


def q25_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index."""
    r = _resolver(spark, sf_dir)
    return dd.ngram_jaccard_pairs(r("documents"), k=3, threshold=0.03)


_Q25_SQL = f"""
WITH {_TOKS_CTE},
{_SHINGLES_CTE},
hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       -- raw IEEE quotient of exact ints: bit-identical across engines;
       -- ROUND(...,6) is a latent half-even/half-up tie flake (dropped r7)
       CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.03
"""


def q26_minhash(spark, sf_dir):
    """MinHash signatures (16 permutations, long format)."""
    r = _resolver(spark, sf_dir)
    docs = r("documents").filter(F.col("doc_id") < 50)
    return dd.minhash_signatures(docs, num_perm=16)


def _minhash_sql():
    terms = []
    for i, (a, b) in enumerate(dd.minhash_params(16)):
        a30 = a & ((1 << 30) - 1)
        bm = b % dd.MINHASH_PRIME
        terms.append(
            f"SELECT doc_id, {i} AS perm, "
            f"CAST(MIN((h::HUGEINT * {a30} + {bm}) % {dd.MINHASH_PRIME}) AS BIGINT) AS minhash "
            f"FROM hashes GROUP BY doc_id"
        )
    union = " UNION ALL ".join(terms)
    return f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents WHERE doc_id < 50
),
{_SHINGLES_CTE},
hashes AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
)
{union}
"""


_Q26_SQL = _minhash_sql()


def _simhash_sql(bits=32, where=""):
    """SimHash in ANSI SQL (merged into q22's oracle as a LEFT JOIN side)."""
    bit_sums = ", ".join(f"SUM((h >> {j}) & 1) AS b{j}" for j in range(bits))
    recon = " + ".join(
        f"(CASE WHEN b{j} * 2 > n THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH toks2 AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents {where}
),
sh2 AS (
  SELECT DISTINCT doc_id, t[n] || ' ' || t[n+1] AS shingle
  FROM toks2, UNNEST(range(1, len(t))) AS r(n)
  WHERE len(t) >= 2
),
h2 AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh2),
c2 AS (SELECT doc_id, COUNT(*) AS n, {bit_sums} FROM h2 GROUP BY doc_id)
SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM c2
"""


_Q22_SQL = _Q22_SQL.replace("{SIMHASH}", _simhash_sql())


def q28_dedup_exact(spark, sf_dir):
    """Exact dedup: one keeper per distinct normalized text, then
    deterministic training-shard assignment (md5 % n) on the keepers —
    the dedup→shard step of a corpus build in one plan (merged q43 slot;
    a partitionBy('shard_id') write makes this the shard layout).

    Merged bloom leg: each keeper also carries `seen_even` — Bloom-filter
    membership of its fingerprint in a filter built over the even-doc_id
    half of the corpus (functions/bloom.py: bit_or word aggregation,
    broadcast-join probes). Membership is pure md5 arithmetic, so the
    DuckDB oracle reproduces the exact bitset and every false positive
    bit-for-bit — the mergeable-Bloom module under the value-hash gate."""
    from firepit_spark.functions.bloom import bloom_build, bloom_might_contain
    from firepit_spark.functions.layout import zorder_key

    r = _resolver(spark, sf_dir)
    docs = r("documents")
    # r13-opt: zorder_key's min/max scalar probe (an eager .first()) and
    # the final bloom-probe plan BOTH execute this subtree — persist the
    # narrow keeper frame so the dedup window + md5 fingerprint run once
    # (guide §1.2)
    kept = pin(dd.dedup_exact(docs).select(
        "doc_id",
        "source",
        tx.fingerprint(F.col("text")).alias("__fp"),
        F.length("text").alias("__len"),
    ))
    sharded = pl.assign_shards(kept, "doc_id", n_shards=8)
    # r8 merge: Z-order/Morton key over (doc_id, text length) — gates
    # layout.zorder_key's affine min/max normalization + bit interleave
    # (every op is deterministic IEEE double / integer bit math, so the
    # oracle reproduces the key bit-for-bit)
    sharded = sharded.withColumn(
        "zkey", zorder_key(sharded, ["doc_id", "__len"], bits=8)
    )
    bf = bloom_build(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            tx.fingerprint(F.col("text")).alias("__fp")
        ),
        "__fp",
        _Q28_BITS,
        _Q28_HASHES,
    )
    return bloom_might_contain(
        sharded, "__fp", bf, _Q28_BITS, _Q28_HASHES, "seen_even"
    ).drop("__fp", "__len")


_Q28_BITS, _Q28_HASHES = 1 << 14, 4

# bloom in ANSI SQL: h1/h2 from one md5 (h2 odd, reduced mod bits),
# positions h1 + i*h2m, words = bit_or of masks, probe = every bit set
_ZTERMS = " + ".join(
    f"(((s0 >> {j}) & 1) << {2 * j}) + (((s1 >> {j}) & 1) << {2 * j + 1})"
    for j in range(8)
)

_Q28_SQL = f"""
WITH keepers AS (
  SELECT doc_id, source, md5({_NORM}) AS fp, LENGTH(text) AS len
  FROM documents
  WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5({_NORM}))
),
zs AS (
  SELECT MIN(CAST(doc_id AS DOUBLE)) AS lo0, MAX(CAST(doc_id AS DOUBLE)) AS hi0,
         MIN(CAST(len AS DOUBLE)) AS lo1, MAX(CAST(len AS DOUBLE)) AS hi1
  FROM keepers
),
zscaled AS (
  SELECT doc_id,
         LEAST(255, CAST(FLOOR((CAST(doc_id AS DOUBLE) - lo0)
           / (CASE WHEN hi0 - lo0 = 0 THEN 1.0 ELSE hi0 - lo0 END) * 255)
           AS BIGINT)) AS s0,
         LEAST(255, CAST(FLOOR((CAST(len AS DOUBLE) - lo1)
           / (CASE WHEN hi1 - lo1 = 0 THEN 1.0 ELSE hi1 - lo1 END) * 255)
           AS BIGINT)) AS s1
  FROM keepers, zs
),
zkeys AS (
  SELECT doc_id, CAST({_ZTERMS} AS BIGINT) AS zkey FROM zscaled
),
evens AS (
  SELECT DISTINCT md5({_NORM}) AS fp FROM documents WHERE doc_id % 2 = 0
),
epos AS (
  SELECT (h1 + i * h2m) % {_Q28_BITS} AS pos
  FROM (
    SELECT ('0x' || substr(md5(fp), 1, 15))::BIGINT AS h1,
           ((('0x' || substr(md5(fp), 16, 15))::BIGINT) * 2 + 1) % {_Q28_BITS} AS h2m
    FROM evens
  ), UNNEST([0, 1, 2, 3]) AS u(i)
),
words AS (
  SELECT pos // 64 AS word_idx,
         bit_or(CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1)
             ELSE 1::BIGINT << CAST(pos % 64 AS INT) END) AS word
  FROM epos GROUP BY 1
),
kpos AS (
  SELECT doc_id, source, (h1 + i * h2m) % {_Q28_BITS} AS pos
  FROM (
    SELECT doc_id, source,
           ('0x' || substr(md5(fp), 1, 15))::BIGINT AS h1,
           ((('0x' || substr(md5(fp), 16, 15))::BIGINT) * 2 + 1) % {_Q28_BITS} AS h2m
    FROM keepers
  ), UNNEST([0, 1, 2, 3]) AS u(i)
),
flags AS (
  SELECT doc_id, source,
         bool_and((COALESCE(w.word, 0) &
           CASE WHEN k.pos % 64 = 63 THEN (-9223372036854775807 - 1)
                ELSE 1::BIGINT << CAST(k.pos % 64 AS INT) END) != 0)
           AS seen_even
  FROM kpos k LEFT JOIN words w ON w.word_idx = k.pos // 64
  GROUP BY doc_id, source
)
SELECT f.doc_id, f.source,
       CAST(('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS INT)
         AS shard_id,
       z.zkey,
       f.seen_even
FROM flags f JOIN zkeys z ON z.doc_id = f.doc_id
"""


def q29_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    r = _resolver(spark, sf_dir)
    vecs = r("embeddings")
    queries = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.brute_force_topk(vecs, queries, k=5)


_Q29_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6) AS cos_sim
  FROM v CROSS JOIN q
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q30_label_centroids(spark, sf_dir):
    """Per-label centroid components (long format for oracle comparison)."""
    r = _resolver(spark, sf_dir)
    exploded = r("embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("decimal(28,10)")).cast("double"), 6).alias("mean_v")
    )


_Q30_SQL = """
SELECT label, CAST(r.n - 1 AS INT) AS pos,
       ROUND(CAST(AVG(CAST(e[r.n] AS DECIMAL(28,10))) AS DOUBLE), 6) AS mean_v
FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
     UNNEST(range(1, 65)) AS r(n)
GROUP BY 1, 2
"""


def q31_lsh_topk(spark, sf_dir):
    """Approximate ANN via random-hyperplane LSH buckets. The planes are
    seeded LCG literals (sim.lsh_planes), so the oracle reproduces the
    bucketing exactly: Python float repr round-trips through SQL text
    bit-exactly, and a sign flip would need |projection| below double ulp."""
    r = _resolver(spark, sf_dir)
    vecs = r("embeddings")
    queries = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.lsh_topk(vecs, queries, k=5)


def _lsh_topk_sql(dim=64, n_planes=8, k=5):
    planes = sim.lsh_planes(dim, n_planes)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(c) for c in plane)
        + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qe, c.e)
               / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos_sim
  FROM b c JOIN q ON c.bucket = q.bucket
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


_Q31_SQL = _lsh_topk_sql()


def q32_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs. Fully deterministic (seeded universal-
    hash perms, md5 band buckets), so the banding + bucket self-join is
    reproduced verbatim in the oracle."""
    r = _resolver(spark, sf_dir)
    return dd.minhash_lsh_candidates(r("documents"), num_perm=16, bands=8)


def _minhash_lsh_sql(num_perm=16, bands=8):
    rows_per_band = num_perm // bands
    terms = []
    for i, (a, b) in enumerate(dd.minhash_params(num_perm)):
        a30 = a & ((1 << 30) - 1)
        bm = b % dd.MINHASH_PRIME
        terms.append(
            f"SELECT doc_id, {i} AS perm, "
            f"CAST(MIN((h::HUGEINT * {a30} + {bm}) % {dd.MINHASH_PRIME}) AS BIGINT) AS minhash "
            f"FROM hashes GROUP BY doc_id"
        )
    union = " UNION ALL ".join(terms)
    return f"""
WITH {_TOKS_CTE},
{_SHINGLES_CTE},
hashes AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
),
sig AS ({union}),
bh AS (
  SELECT doc_id, CAST(FLOOR(perm / {rows_per_band}.0) AS INT) AS band,
         md5(string_agg(perm::VARCHAR || ':' || minhash::VARCHAR, ','
             ORDER BY perm::VARCHAR || ':' || minhash::VARCHAR)) AS bucket
  FROM sig GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bh a JOIN bh b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


_Q32_SQL = _minhash_lsh_sql()


def q34_hypertable_rollup(spark, sf_dir):
    """Continuous-aggregate pattern: hourly answer composed from a 1-minute
    rollup (never re-scanning raw events); oracle aggregates raw directly —
    equality proves the rollup composition is exact."""
    from firepit_spark.functions import rollup as ru

    r = _resolver(spark, sf_dir)
    fine = ru.build_rollup(r("events"), "ts", ["event_type"], "value", bucket_seconds=60)
    hourly = ru.reaggregate(fine, bucket_seconds=3600)
    return hourly.select(
        "bucket", "event_type", "n",
        F.col("val_sum").cast("double").alias("val_sum"),
        "val_min", "val_max", "val_avg",
    )


_Q34_SQL = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS bucket,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS val_sum,
       MIN(value) AS val_min,
       MAX(value) AS val_max,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS val_avg
FROM events
GROUP BY 1, 2
"""


def q35_event_chain_ancestry(spark, sf_dir):
    """Bounded transitive closure over per-user event chains: each event's
    parent is the user's previous event; ancestors up to depth 3, gated by
    a recursive-CTE oracle.

    r13-opt: the parent graph here is by construction a per-user CHAIN
    (parent = lag(event_id) over the user's timeline), so the depth-d
    ancestor is exactly lag(event_id, d) — problem knowledge the generic
    iterative-join closure cannot assume (guide §8). The closure is
    therefore ONE window pass (three lags + posexplode), zero joins, zero
    per-level persists/probes, instead of edges-persist + two self-joins +
    empty-frontier actions. Proven row-identical to the iterative
    graph.ancestors() form (exceptAll both ways = 0 at sf0.1) and to the
    unchanged recursive-CTE oracle; the general iterative operator stays
    pytest-gated (tests/test_graph.py), and the iterative machinery keeps
    oracle coverage via q45/q66/q69. Interleaved A/B at sf0.1 (noop sink,
    honest cache-cleared protocol): 1.34-1.69 s -> 0.39-0.45 s."""
    r = _resolver(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = r("events").select(
        F.col("event_id").cast("long").alias("descendant_id"),
        *[
            F.lag(F.col("event_id").cast("long"), d).over(w).alias(f"__a{d}")
            for d in (1, 2, 3)
        ],
    )
    px = F.posexplode(F.array("__a1", "__a2", "__a3"))
    return (
        ev.select("descendant_id", px.alias("__p", "ancestor_id"))
        .filter(F.col("ancestor_id").isNotNull())
        .select(
            "descendant_id",
            "ancestor_id",
            (F.col("__p") + 1).cast("int").alias("depth"),
        )
    )


_Q35_SQL = """
WITH RECURSIVE e AS (
  SELECT event_id AS id,
         LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS parent
  FROM events
), a AS (
  SELECT id AS descendant_id, parent AS ancestor_id, 1 AS depth
  FROM e WHERE parent IS NOT NULL
  UNION ALL
  SELECT a.descendant_id, e.parent, a.depth + 1
  FROM a JOIN e ON a.ancestor_id = e.id
  WHERE e.parent IS NOT NULL AND a.depth < 3
)
SELECT descendant_id, ancestor_id, depth FROM a
"""


def q36_asof_join(spark, sf_dir):
    """As-of join: each event gets the user's most recent purchase value
    at-or-before its timestamp (union+window carry-forward; DuckDB native
    ASOF JOIN as the oracle)."""
    from firepit_spark.functions.temporal import asof_join

    r = _resolver(spark, sf_dir)
    ev = r("events").select("user_id", "ts", "event_id")
    st = (
        r("events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof_join(ev, st, on="user_id")
    return out.select("event_id", "user_id", "ts", "purchase_value_right")


_Q36_SQL = """
WITH st AS (
  SELECT user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id, e.user_id, e.ts, st.purchase_value AS purchase_value_right
FROM events e ASOF LEFT JOIN st
  ON e.user_id = st.user_id AND e.ts >= st.ts
"""


def q37_range_join(spark, sf_dir):
    """Keyless bucketized range join: events inside +/-5-minute windows
    around purchase events (fan-out bounded by span/bucket, never a
    nested-loop cross product); plain inequality-join oracle."""
    from firepit_spark.functions.temporal import range_join

    r = _resolver(spark, sf_dir)
    ev = r("events").select("event_id", "ts")
    iv = (
        r("events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("event_id") < 200)
        .select(
            F.col("event_id").alias("window_id"),
            (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("start"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"),
        )
    )
    out = range_join(ev, iv, "ts", bucket_seconds=600)
    return out.select("window_id", "event_id", "ts")


_Q37_SQL = """
WITH iv AS (
  SELECT event_id AS window_id,
         ts - INTERVAL 5 MINUTE AS w_start,
         ts + INTERVAL 5 MINUTE AS w_end
  FROM events WHERE event_type = 'purchase' AND event_id < 200
)
SELECT iv.window_id, e.event_id, e.ts
FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts <= iv.w_end
"""


def q38_cosine_near_dup(spark, sf_dir):
    """SemDeDup-style semantic deduplication on a bounded subset: assign
    each embedding to its nearest fixed centroid (the same 8 seed-id
    centroids as q33), score cosine pairs only within a cell, greedily
    drop every vector with a smaller-id near-dup — return the survivors.
    Any wrong pair (missed or spurious) changes the survivor set, so this
    gates the within-cell pair scoring AND the keep-one endgame; the
    exact all-pairs variant (sim.cosine_near_dup_pairs) stays pytest-
    gated (tests/test_scale_ops.py)."""
    r = _resolver(spark, sf_dir)
    vecs = r("embeddings").filter(F.col("vec_id") < 300)
    seeds = {
        row[0]: [float(x) for x in row[1]]
        for row in r("embeddings")
        .filter(F.col("vec_id").isin(_IVF_SEED_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    centroids = [seeds[i] for i in sorted(seeds)]
    out = sim.semantic_dedup(vecs, centroids=centroids, threshold=0.35)
    return out.select("vec_id", "sem_cell")


_Q38_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 300
),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM embeddings WHERE vec_id IN ({SEEDS})
),
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, cents.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, cents.c), cents.cell) AS rn
    FROM v CROSS JOIN cents
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
        >= 0.35
)
SELECT vec_id, CAST(cell AS INTEGER) AS sem_cell
FROM assigned WHERE vec_id NOT IN (SELECT id_b FROM pairs)
"""


_IVF_SEED_IDS = [0, 61, 122, 183, 244, 305, 366, 427]
_Q38_SQL = _Q38_SQL.replace("{SEEDS}", ", ".join(str(i) for i in _IVF_SEED_IDS))


def q33_ivf_topk(spark, sf_dir):
    """Approximate ANN via IVF inverted lists with FIXED centroids (the
    embeddings of 8 spread seed ids) + n_probe=2 search. The k-means fit
    path (sim.ivf_fit) has no SQL closed form and stays pytest-gated
    (tests/test_scale_ops.py); this entry proves the assignment + probe +
    rank search machinery against a full SQL oracle."""
    r = _resolver(spark, sf_dir)
    vecs = r("embeddings")
    seeds = {
        row[0]: [float(x) for x in row[1]]
        for row in vecs.filter(F.col("vec_id").isin(_IVF_SEED_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    centroids = [seeds[i] for i in sorted(seeds)]
    queries = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    index = sim.ivf_assign(vecs, centroids)
    return sim.ivf_search(index, queries, k=5, n_probe=2)


_Q33_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM embeddings WHERE vec_id IN ({", ".join(str(i) for i in _IVF_SEED_IDS)})
),
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, cents.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, cents.c), cents.cell) AS rn
    FROM v CROSS JOIN cents
  ) WHERE rn = 1
),
qc AS (
  SELECT vec_id AS query_id, e AS qe, cell FROM (
    SELECT v.vec_id, v.e, cents.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, cents.c), cents.cell) AS rn
    FROM v CROSS JOIN cents
    WHERE v.vec_id < 10
  ) WHERE rn <= 2
),
scored AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(qc.qe, a.e)
               / (sqrt(list_dot_product(qc.qe, qc.qe)) * sqrt(list_dot_product(a.e, a.e))), 6) AS cos_sim
  FROM assigned a JOIN qc ON a.cell = qc.cell
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q39_media_probe(spark, sf_dir):
    """Multimodal kernels end-to-end: synthesize a REAL PNG per document
    (pure-python encoder — zlib+numpy, no codec libs), then sniff the
    container, parse header dimensions, and decode the pixels for the mean
    — all distributed via Arrow ``mapInPandas``. Since r8 each doc also
    carries a structurally-valid MP4 whose stts/stsz sample tables the
    codec-free box walker reads back (frame count/rate/bytes —
    multimodal.mp4_track_probe). The oracle recomputes dimensions, pixel
    mean, and the frame arithmetic, so a hash match proves the byte-level
    encode/probe/decode round-trips, not just plumbing.

    Since r9 a JPEG leg gates the pure-python codec
    (functions/jpeg.py): per-doc JPEG synthesis (4:4:4 / 4:2:0 /
    restart-interval / PROGRESSIVE multi-scan variants by doc_id),
    codec-free header features back out, and a per-row entropy-decode
    round-trip bound vs the source pixels — geometry and the
    progressive flag recomputed by the oracle from the generation
    arithmetic, jpg_roundtrip_ok pinned TRUE per row. An audio leg does
    the same for the compressed WAV kernels: per-doc triangle wave
    through mu-law / A-law / IMA-ADPCM, decoded sample counts (ADPCM
    block padding included) and a 64-level round-trip bound, all
    oracle-recomputed from arithmetic. Since r10 a FLAC leg gates the
    pure-python LOSSLESS codec (functions/flac.py): per-doc mono/stereo
    signals through all four stereo decorrelation modes, multi-frame
    streams, Rice partitions — exactness (not a bound) pinned per row.
    And a GIF leg gates the pure-python LZW codec (functions/gif.py):
    per-doc single-frame and ANIMATED streams (interlace and the
    diff-region + transparency optimization vary by doc_id), composed
    back through gif_frames and exact-compared to the source frames —
    GIF is palette-lossless, so gif_exact is pinned TRUE like FLAC's.
    A TIFF leg does the same for the baseline TIFF codec
    (functions/tiff.py): none/LZW/PackBits compression, both byte
    orders, predictor and strip chunking by doc_id — tif_exact pinned
    TRUE (baseline TIFF is lossless)."""
    from firepit_spark.functions import multimodal as mm

    r = _resolver(spark, sf_dir)
    # r13-opt: the 200 probe rows arrive as ONE file split, so every
    # Python codec leg below (the expensive part — pure-python
    # encode/decode round-trips per row) ran on a single task. Spread
    # the tiny id frame BEFORE the heavy mapInPandas work (guide §2.5
    # input skew: repartition right after the read; rows are 8 bytes,
    # the codec work is ~ms each). Capped at 8 splits: the 8 codec legs
    # already run concurrently, and each extra split costs a Python
    # worker spin-up (numpy import) per leg — measured at sf0.1:
    # 1 split 2.67 s, 8 splits ~1.9-2.0, 32 splits 4.28 (worker churn)
    docs = (
        r("documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .filter(F.col("doc_id") < 200)
        .repartition(min(8, spark.sparkContext.defaultParallelism))
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions.multimodal import mp4_encode_stub, png_encode

        for pdf in batches:
            blobs, vblobs = [], []
            for d in pdf["doc_id"]:
                w, h = 16 + int(d) % 13, 8 + int(d) % 7
                yy, xx = np.mgrid[0:h, 0:w]
                blobs.append(png_encode(((xx + yy + int(d)) % 256).astype("uint8")))
                vblobs.append(
                    mp4_encode_stub(
                        500 * (1 + int(d) % 8), fps=10 + int(d) % 5,
                        keyframe_every=1 + int(d) % 4,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "content": blobs, "vcontent": vblobs}
            )

    # r13-opt: three legs (probe_media, image_features, video_probe)
    # consume this frame — unpersisted, the PNG+MP4 synthesis ran three
    # times (guide §1.2). 200 small blobs.
    media = pin(docs.mapInPandas(
        encode, schema="media_id long, content binary, vcontent binary"
    ))
    probed = mm.probe_media(media)
    feats = mm.image_features(media).select(
        "media_id", F.col("mean_px").cast("double").alias("mean_px")
    )
    vid = mm.video_probe(media, content_col="vcontent").select(
        "media_id",
        F.col("duration_ms").alias("v_duration_ms"),
        "n_frames",
        "fps",
        "frame_bytes",
        "n_sync",
    )

    # r9 JPEG leg: synthesize a JPEG per doc through the pure-python
    # encoder — quality 95; subsampling, restart intervals, AND the
    # progressive scan script vary by doc_id so the gate covers 4:4:4 /
    # 4:2:0 / RST / SOF2 multi-scan paths — parse its header features
    # back codec-free, and round-trip the entropy decoder against the
    # source pixels. The oracle recomputes the header geometry and the
    # progressive flag from the generation arithmetic and pins
    # jpg_roundtrip_ok=TRUE per row — the pixel fixture's measured
    # worst-case error is 4, so the 16 bound fails loudly on any
    # entropy/IDCT/upsampling/refinement regression while never flaking.
    def jpeg_leg(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions import jpeg as jp
        from firepit_spark.functions.multimodal import jpeg_features

        for pdf in batches:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 13, 8 + d % 7
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [2 * xx + 2 * yy + d % 50, 2 * xx + d % 40, 2 * yy + d % 30],
                    axis=-1,
                ).astype("uint8")
                prog = d % 5 == 1
                blob = jp.jpeg_encode(
                    img,
                    quality=95,
                    subsampling="4:2:0" if d % 2 else "4:4:4",
                    restart_interval=2 if d % 3 == 0 and not prog else 0,
                    progressive=prog,
                )
                # r11 EXIF leg: splice an APP1 with orientation 1+d%8
                # after SOI; the probe must read it back and the pixel
                # decode must be undisturbed by the extra segment
                from firepit_spark.functions.multimodal import (
                    exif_app1_segment, exif_probe,
                )

                blob = blob[:2] + exif_app1_segment(
                    orientation=1 + d % 8, make="FixtureCam"
                ) + blob[2:]
                exif = exif_probe(blob) or {}
                f = jpeg_features(blob)
                dec = jp.jpeg_decode(blob)
                ok = bool(np.abs(dec.astype(int) - img.astype(int)).max() <= 16)
                # r11 Adobe 4-component leg: smooth stored-CMYK planes
                # (inverted-ink convention) through transform 0 (cmyk)
                # or 2 (ycck) by parity; the decoder must return RGB
                # within the sequential-JPEG bound of the independent
                # (C*K)/255 conversion — pinned like jpg_roundtrip_ok
                space = "cmyk" if d % 2 else "ycck"
                k = (255 - 2 * xx - 3 * yy - d % 40).astype("uint8")
                stored = np.concatenate([img, k[:, :, None]], axis=-1)
                blob4 = jp.jpeg_encode(stored, quality=95, colorspace=space)
                f4 = jpeg_features(blob4)
                want = np.clip(np.round(
                    stored[:, :, :3].astype(np.float64)
                    * stored[:, :, 3:4].astype(np.float64) / 255.0
                ), 0, 255).astype(int)
                ok4 = bool(
                    np.abs(jp.jpeg_decode(blob4).astype(int) - want).max()
                    <= 16
                )
                recs.append(
                    (d, f["width"], f["height"], f["n_components"],
                     bool(f["progressive"]), ok,
                     space, int(f4["n_components"]), ok4,
                     exif.get("orientation"))
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "jpg_w", "jpg_h", "jpg_components",
                         "jpg_progressive", "jpg_roundtrip_ok",
                         "jpg4_space", "jpg4_components",
                         "jpg4_roundtrip_ok", "exif_orientation"],
            )

    jpg = docs.mapInPandas(
        jpeg_leg,
        schema="media_id long, jpg_w int, jpg_h int, jpg_components int, "
        "jpg_progressive boolean, jpg_roundtrip_ok boolean, "
        "jpg4_space string, jpg4_components int, jpg4_roundtrip_ok boolean, "
        "exif_orientation int",
    )

    # r9 audio leg: per-doc triangle wave (max step 7, so even ADPCM's
    # adaptive predictor tracks it) encoded through the G.711/ADPCM
    # writer by doc_id, decoded back, and bounded against the source
    # int16 samples. Measured worst roundtrip errors on this fixture:
    # mu-law 32, A-law 16, ADPCM 2 — the 64 bound is 2x the worst. The
    # oracle recomputes codec / sample counts (ADPCM pads to whole
    # 505-sample blocks) / rate from arithmetic and pins the bound flag.
    def audio_leg(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions import multimodal as mmod

        for pdf in batches:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 400 + d % 37
                i = np.arange(n)
                x = (np.abs(((d * 13 + i * 7) % 4000) - 2000) - 1000).astype(
                    "int16"
                )
                codec = ("ulaw", "alaw", "adpcm")[d % 3]
                dec, rate = mmod.wav_decode(
                    mmod.wav_encode_compressed(x, 8000, codec)
                )
                got = np.round(dec[:n, 0] * 32768.0).astype(int)
                ok = bool(np.abs(got - x).max() <= 64)
                recs.append((d, codec, int(dec.shape[0]), int(rate), ok))
            yield pd.DataFrame(
                recs,
                columns=["media_id", "wav_codec", "wav_n_samples",
                         "wav_rate", "wav_roundtrip_ok"],
            )

    wav = docs.mapInPandas(
        audio_leg,
        schema="media_id long, wav_codec string, wav_n_samples long, "
        "wav_rate int, wav_roundtrip_ok boolean",
    )

    # r10 FLAC leg: per-doc deterministic int16 signal (triangle wave,
    # second channel derived) through the pure-python LOSSLESS codec —
    # mono/stereo and all four stereo decorrelation modes vary by doc_id,
    # block_size 128 forces multi-frame streams with a short tail, and
    # partition_order 1 exercises Rice partitions. FLAC is lossless, so
    # the gate is EXACT integer equality (flac_exact pinned TRUE) — the
    # strongest round-trip bound of the codec family; the oracle
    # recomputes sample count / rate / channels from the generation
    # arithmetic.
    def flac_leg(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions.flac import flac_decode, flac_encode

        modes = ["independent", "left-side", "right-side", "mid-side"]
        for pdf in batches:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 300 + d % 29
                i = np.arange(n)
                x = (np.abs(((d * 13 + i * 7) % 4000) - 2000) - 1000).astype(
                    np.int64
                )
                if d % 2:
                    x = np.stack([x, x // 2 + d % 50], axis=1)
                blob = flac_encode(
                    x, sample_rate=8000, block_size=128,
                    stereo=modes[d % 4], partition_order=1,
                )
                dec, rate, _bps = flac_decode(blob)
                want = x if x.ndim == 2 else x[:, None]
                exact = bool(np.array_equal(dec, want))
                recs.append(
                    (d, int(dec.shape[0]), int(rate), int(dec.shape[1]),
                     exact)
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "flac_n_samples", "flac_rate",
                         "flac_channels", "flac_exact"],
            )

    flc = docs.mapInPandas(
        flac_leg,
        schema="media_id long, flac_n_samples long, flac_rate int, "
        "flac_channels int, flac_exact boolean",
    )

    # r10 GIF leg: per-doc grayscale gradient frames (<=200 palette
    # entries by construction) through the pure-python GIF encoder —
    # frame count, interlace, and the diff-region/transparency
    # optimization vary by doc_id so single-frame, animated-plain, and
    # animated-optimized streams are all on the gate — composed back via
    # gif_frames and exact-compared to the source. LZW + palette is
    # lossless, so gif_exact is pinned TRUE in the oracle; frame count
    # and geometry are recomputed from the generation arithmetic.
    def gif_leg(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions import gif as gf

        for pdf in batches:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 13, 8 + d % 7
                yy, xx = np.mgrid[0:h, 0:w]
                base = ((3 * xx + 5 * yy + d) % 200).astype("uint8")
                n_frames = 1 + d % 3
                frames = [np.stack([base, base, base], axis=-1)]
                for j in range(1, n_frames):
                    f = frames[-1].copy()
                    r0 = (2 * j) % h
                    band = ((base[r0 : r0 + 3] + 50 * j) % 200).astype(
                        "uint8"
                    )
                    f[r0 : r0 + 3] = np.stack([band, band, band], axis=-1)
                    frames.append(f)
                blob = gf.gif_encode(
                    frames,
                    delays_cs=4,
                    interlace=d % 3 == 0,
                    optimize=d % 2 == 1 and n_frames > 1,
                )
                dec = gf.gif_frames(blob)
                exact = len(dec) == n_frames and all(
                    np.array_equal(a, b) for a, b in zip(frames, dec)
                )
                p = gf.gif_probe(blob)
                recs.append(
                    (d, p["width"], p["height"], p["n_frames"], bool(exact))
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "gif_w", "gif_h", "gif_n_frames",
                         "gif_exact"],
            )

    gifd = docs.mapInPandas(
        gif_leg,
        schema="media_id long, gif_w int, gif_h int, gif_n_frames int, "
        "gif_exact boolean",
    )

    # r10 TIFF leg: per-doc gradient image through the baseline TIFF
    # codec — compression (none / LZW / PackBits), byte order, predictor
    # and strip chunking vary by doc_id; baseline TIFF is lossless so
    # tif_exact is pinned TRUE like FLAC's and GIF's.
    def tiff_leg(batches):
        import numpy as np
        import pandas as pd

        from firepit_spark.functions import tiff as tf

        comps = ["none", "lzw", "packbits"]
        for pdf in batches:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 13, 8 + d % 7
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [(2 * xx + yy + d) % 256, (xx + 3 * yy) % 256,
                     (xx * yy + d) % 256], axis=-1
                ).astype("uint8")
                comp = comps[d % 3]
                blob = tf.tiff_encode(
                    img,
                    compression=comp,
                    big_endian=d % 2 == 1,
                    predictor=comp == "lzw" and d % 4 == 1,
                    rows_per_strip=3 if d % 5 == 0 else None,
                )
                dec = tf.tiff_decode(blob)
                exact = bool(np.array_equal(dec, img))
                recs.append(
                    (d, comp, dec.shape[1], dec.shape[0], exact)
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "tif_comp", "tif_w", "tif_h",
                         "tif_exact"],
            )

    tif = docs.mapInPandas(
        tiff_leg,
        schema="media_id long, tif_comp string, tif_w int, tif_h int, "
        "tif_exact boolean",
    )
    out = (
        probed.join(feats, "media_id")
        .join(vid, "media_id")
        .join(jpg, "media_id")
        .join(wav, "media_id")
        .join(flc, "media_id")
        .join(gifd, "media_id")
        .join(tif, "media_id")
        .select(
            F.col("media_id").alias("doc_id"),
            "mime_sniffed",
            "width",
            "height",
            "mean_px",
            "v_duration_ms",
            "n_frames",
            "fps",
            "frame_bytes",
            "n_sync",
            "jpg_w",
            "jpg_h",
            "jpg_components",
            "jpg_progressive",
            "jpg_roundtrip_ok",
            "jpg4_space",
            "jpg4_components",
            "jpg4_roundtrip_ok",
            "exif_orientation",
            "wav_codec",
            "wav_n_samples",
            "wav_rate",
            "wav_roundtrip_ok",
            "flac_n_samples",
            "flac_rate",
            "flac_channels",
            "flac_exact",
            "gif_w",
            "gif_h",
            "gif_n_frames",
            "gif_exact",
            "tif_comp",
            "tif_w",
            "tif_h",
            "tif_exact",
        )
    )
    return out


_Q39_SQL = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, 16 + doc_id % 13 AS w, 8 + doc_id % 7 AS h
  FROM documents WHERE doc_id < 200
), px AS (
  SELECT d.doc_id, d.w, d.h, CAST((x.x + y.y + d.doc_id) % 256 AS DOUBLE) AS v
  FROM d
  JOIN generate_series(0, 27) AS x(x) ON x.x < d.w
  JOIN generate_series(0, 13) AS y(y) ON y.y < d.h
)
SELECT doc_id,
       'image/png' AS mime_sniffed,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       AVG(v) AS mean_px,
       -- video leg (r8): the Spark side reads these back from the MP4's
       -- mvhd/stts/stsz boxes; the oracle recomputes the encode arithmetic
       CAST(500 * (1 + doc_id % 8) AS BIGINT) AS v_duration_ms,
       CAST((500 * (1 + doc_id % 8) * (10 + doc_id % 5)) // 1000 AS BIGINT)
         AS n_frames,
       CAST(10 + doc_id % 5 AS DOUBLE) AS fps,
       CAST(512 * ((500 * (1 + doc_id % 8) * (10 + doc_id % 5)) // 1000)
            AS BIGINT) AS frame_bytes,
       -- stss keyframe leg (r11): syncs listed every (1 + doc_id % 4)
       -- samples -> ceil(n_frames / k), recomputed from the arithmetic
       CAST(((500 * (1 + doc_id % 8) * (10 + doc_id % 5)) // 1000
             + doc_id % 4) // (1 + doc_id % 4) AS BIGINT) AS n_sync,
       -- JPEG leg (r9): header geometry straight from the generation
       -- arithmetic; the round-trip flag is pinned TRUE so any decoder
       -- regression past the 16-level bound breaks the hash
       CAST(w AS INT) AS jpg_w,
       CAST(h AS INT) AS jpg_h,
       3 AS jpg_components,
       doc_id % 5 = 1 AS jpg_progressive,
       TRUE AS jpg_roundtrip_ok,
       -- Adobe 4-component leg (r11): colorspace choice from the
       -- generation arithmetic, header component count, and the pinned
       -- inverted-CMYK/YCCK round-trip bound vs (C*K)/255
       (CASE WHEN doc_id % 2 = 1 THEN 'cmyk' ELSE 'ycck' END)
         AS jpg4_space,
       4 AS jpg4_components,
       TRUE AS jpg4_roundtrip_ok,
       -- EXIF leg (r11): APP1 orientation spliced from the arithmetic,
       -- read back by the probe (decode undisturbed by the segment)
       CAST(1 + doc_id % 8 AS INT) AS exif_orientation,
       -- audio leg (r9): G.711/ADPCM codec choice, decoded length (ADPCM
       -- pads to whole 505-sample blocks), rate, and the pinned bound
       (CASE doc_id % 3 WHEN 0 THEN 'ulaw' WHEN 1 THEN 'alaw'
             ELSE 'adpcm' END) AS wav_codec,
       CAST(CASE WHEN doc_id % 3 = 2
                 THEN ((400 + doc_id % 37 + 504) // 505) * 505
                 ELSE 400 + doc_id % 37 END AS BIGINT) AS wav_n_samples,
       8000 AS wav_rate,
       TRUE AS wav_roundtrip_ok,
       -- FLAC leg (r10): the codec is LOSSLESS, so decoded sample count
       -- and channel count come straight from the generation arithmetic
       -- and the exactness flag is pinned TRUE — any Rice/LPC/stereo
       -- reconstruction regression breaks the hash
       CAST(300 + doc_id % 29 AS BIGINT) AS flac_n_samples,
       8000 AS flac_rate,
       CAST(1 + doc_id % 2 AS INT) AS flac_channels,
       TRUE AS flac_exact,
       -- GIF leg (r10): LZW + palette is lossless — geometry and frame
       -- count from the generation arithmetic, exactness pinned TRUE so
       -- any LZW/interlace/composition regression breaks the hash
       CAST(w AS INT) AS gif_w,
       CAST(h AS INT) AS gif_h,
       CAST(1 + doc_id % 3 AS INT) AS gif_n_frames,
       TRUE AS gif_exact,
       -- TIFF leg (r10): baseline TIFF is lossless — compression choice
       -- and geometry from the generation arithmetic, exactness pinned
       (CASE doc_id % 3 WHEN 0 THEN 'none' WHEN 1 THEN 'lzw'
             ELSE 'packbits' END) AS tif_comp,
       CAST(w AS INT) AS tif_w,
       CAST(h AS INT) AS tif_h,
       TRUE AS tif_exact
FROM px
GROUP BY doc_id, w, h
"""


def q41_context_pack(spark, sf_dir):
    """Context-window packing: greedy document -> ~2048-token pack
    assignment via a per-language window prefix-sum (no iterative driver
    logic; the sort is per partition key, never global).

    Since r8 each row also audits the MATERIALIZED packer
    (pl.pack_token_sequences — fixed 512-wide token-id sequences, hash
    vocab 32768, EOS=1/PAD=0): per-language sequence count, pad total,
    and two position-weighted integer checksums — Σ(seq_id+1)·Σids and
    Σ(seq_id+1)·Σ(pos+1)·id — computed array-side over the packed rows
    (zip_with + fold, no extra explode). The oracle derives the same
    sums directly from each token's global offset (seq = p div 512,
    pos = p mod 512), so a hash match proves every token of every
    document landed in exactly the right cell of the packed layout.
    All-integer arithmetic; sums stay under 2^57."""
    r = _resolver(spark, sf_dir)
    docs = r("documents")
    # r13-opt: both packers tokenized the corpus independently
    # (pack_documents via token_count, pack_token_sequences via
    # hash_token_ids — the same tx.tokens kernel). Tokenize+hash ONCE
    # into a pinned narrow (doc_id, lang, __ids) frame and feed both
    # through their existing token_col/ids_col hooks; the token count is
    # exactly size(__ids) (hash_token_ids emits one id per token and
    # preserves NULL), so values are unchanged (guide §1.2).
    ids = pin(
        docs.select(
            "doc_id",
            "lang",
            pl.hash_token_ids(F.col("text"), 32768).alias("__ids"),
        )
    )
    packed = pl.pack_documents(
        ids.withColumn("__n", F.size("__ids")),
        budget=2048,
        token_col="__n",
        part_col="lang",
    )
    stats = pl.pack_stats(packed, part_col="lang")

    L = 512
    seqs = pl.pack_token_sequences(
        ids, L, vocab_size=32768, ids_col="__ids", part_col="lang"
    )
    zero = F.lit(0).cast("long")
    ids_sum = F.aggregate("ids", zero, lambda a, x: a + x)
    pos_sum = F.aggregate(
        F.zip_with(
            F.col("ids"),
            F.sequence(F.lit(1).cast("long"), F.lit(L).cast("long")),
            lambda x, i: x * i,
        ),
        zero,
        lambda a, x: a + x,
    )
    audit = (
        seqs.select(
            "lang",
            "seq_id",
            "n_real",
            ids_sum.alias("__s"),
            pos_sum.alias("__ps"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("seq_n_seqs"),
            F.sum(F.lit(L) - F.col("n_real")).alias("seq_pad_tokens"),
            F.sum((F.col("seq_id") + 1) * F.col("__s")).alias("seq_member_chk"),
            F.sum((F.col("seq_id") + 1) * F.col("__ps")).alias("seq_order_chk"),
        )
    )
    return stats.join(audit, "lang")


_Q41_SQL = f"""
WITH {_TOKS_CTE},
tc AS (
  SELECT d.doc_id, d.lang, len(t.t) AS n_tokens
  FROM documents d JOIN toks t USING (doc_id)
),
c AS (
  SELECT lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM tc
),
pid AS (
  SELECT d.doc_id, d.lang,
         list_append(list_transform(t.t, tok ->
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % 32766 + 2), 1) AS ids
  FROM documents d JOIN toks t USING (doc_id)
),
pst AS (
  SELECT lang, ids, len(ids) AS n,
         COALESCE(SUM(len(ids)) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM pid
),
ptok AS (
  SELECT lang, start + i - 1 AS p, ids[i] AS id
  FROM pst, UNNEST(generate_series(1, n)) AS g(i)
),
paud AS (
  SELECT lang,
         CAST((COUNT(*) + 511) // 512 AS BIGINT) AS seq_n_seqs,
         CAST(((COUNT(*) + 511) // 512) * 512 - COUNT(*) AS BIGINT)
           AS seq_pad_tokens,
         CAST(SUM((p // 512 + 1) * id) AS BIGINT) AS seq_member_chk,
         CAST(SUM((p // 512 + 1) * ((p % 512) + 1) * id) AS BIGINT)
           AS seq_order_chk
  FROM ptok GROUP BY lang
)
SELECT s.lang, s.pack_id, s.n_docs, s.total_tokens,
       a.seq_n_seqs, a.seq_pad_tokens, a.seq_member_chk, a.seq_order_chk
FROM (
  SELECT lang,
         CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM c GROUP BY 1, 2
) s JOIN paud a USING (lang)
"""


def q42_corpus_prep(spark, sf_dir):
    """The pre-training funnel as ONE Catalyst plan: quality filter (pushed
    to the scan) -> exact dedup (single fingerprint hash-shuffle, min-id
    keeper) -> per-language survivor counts / token mass / mean quality."""
    r = _resolver(spark, sf_dir)
    return pl.corpus_prep(r("documents"), min_quality=0.5)


_Q42_SQL = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT d.doc_id, d.lang, len(t.t) AS n_toks,
         md5({_NORM}) AS fp,
         least(length(d.text) / 500.0, 1.0) * 0.4
         + least(CASE WHEN len(t.t) > 0
                 THEN CAST(len(list_filter(t.t, x -> list_contains({{sw}}, x))) AS DOUBLE) / len(t.t)
                 ELSE 0.0 END * 5.0, 1.0) * 0.4
         + (1.0 - least(CASE WHEN length(d.text) > 0
                 THEN CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(d.text)
                 ELSE 0.0 END * 10.0, 1.0)) * 0.2 AS q
  FROM documents d JOIN toks t USING (doc_id)
),
f AS (SELECT * FROM m WHERE q >= 0.5),
k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp)
SELECT f.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(f.n_toks) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(f.q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_quality
FROM f JOIN k USING (doc_id)
GROUP BY f.lang
""".replace("{sw}", _sw_list("en"))


def q45_dedup_clusters(spark, sf_dir):
    """The dedup endgame, two legs unioned (slot-merged; see COVERAGE.md):
    'cluster' — near-dup pairs (q25's shingle inverted index) -> connected
    components -> (doc, cluster) labels, min-label propagation vs a
    recursive-CTE transitive closure; 'span' — substring-level duplicate
    passages (duplicate_spans: positional 8-gram index + diagonal chaining,
    >= 12 shared tokens) vs the same chaining done with SQL windows."""
    from firepit_spark.functions.graph import dedup_clusters

    r = _resolver(spark, sf_dir)
    # r13-opt: both legs (k=3 shingle index and k=8 positional gram
    # index) re-scanned the parquet and re-ran the normalize kernel —
    # hoist it once into a pinned column, as in q47 (guide §1.2)
    docs = pin(r("documents").select(
        "doc_id", F.lower(tx.normalize_ws(F.col("text"))).alias("text")
    ))
    pairs = dd.ngram_jaccard_pairs(
        docs, k=3, threshold=0.03, pre_normalized=True
    )
    clusters = dedup_clusters(pairs)
    spans = dd.duplicate_spans(docs, k=8, min_tokens=12, pre_normalized=True)
    nl = F.lit(None).cast("long")
    out = clusters.select(
        F.lit("cluster").alias("leg"),
        "doc_id",
        "cluster_id",
        nl.alias("id_b"),
        nl.alias("start_a"),
        nl.alias("start_b"),
        nl.alias("span_tokens"),
    ).unionByName(
        spans.select(
            F.lit("span").alias("leg"),
            F.col("id_a").alias("doc_id"),
            nl.alias("cluster_id"),
            F.col("id_b").cast("long"),
            F.col("start_a").cast("long"),
            F.col("start_b").cast("long"),
            F.col("span_tokens").cast("long"),
        )
    )
    return out


# q45's transitive closure, two DuckDB dialects (version-gated in
# _q45_sql): the plain recursive CTE runs on any DuckDB but its working
# table is the FULL reachability relation (quadratic per clique — fine at
# sf0.01, superlinear at sf1); DuckDB >= 1.3's USING KEY recursion keys the
# working table on the node, so each iteration stores one improving
# (node, min-label) row instead of all reachable pairs — linear state,
# and it retires the union-find stand-in when the harness upgrades.
_Q45_CLOSURE_PLAIN = """reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)"""
_Q45_CLUSTERS_PLAIN = """SELECT 'cluster' AS leg, a AS doc_id, LEAST(a, MIN(b)) AS cluster_id,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS BIGINT) AS start_a,
       CAST(NULL AS BIGINT) AS start_b, CAST(NULL AS BIGINT) AS span_tokens
FROM reach GROUP BY a"""
# min-label propagation with key-addressed state: rows re-emitted for a
# node REPLACE its stored row, so the HAVING strictly-improves guard is
# both the convergence proof (labels only decrease, bounded below) and
# the termination condition (no improved row -> empty iteration)
_Q45_CLOSURE_USING_KEY = """comp(node, lbl) USING KEY (node) AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS lbl FROM sym GROUP BY a
  UNION
  SELECT s.a AS node, LEAST(MIN(c.lbl), ANY_VALUE(rc.lbl)) AS lbl
  FROM comp c
  JOIN sym s ON s.b = c.node
  JOIN recurring.comp rc ON rc.node = s.a
  GROUP BY s.a
  HAVING MIN(c.lbl) < ANY_VALUE(rc.lbl)
)"""
_Q45_CLUSTERS_USING_KEY = """SELECT 'cluster' AS leg, node AS doc_id, lbl AS cluster_id,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS BIGINT) AS start_a,
       CAST(NULL AS BIGINT) AS start_b, CAST(NULL AS BIGINT) AS span_tokens
FROM comp"""


def _q45_sql(use_using_key: bool | None = None) -> str:
    """Assemble the q45 oracle for the DuckDB that will run it. ``None``
    sniffs the installed version (the driver runs oracle_sql() in the
    same environment as its DuckDB); pass a bool to force a dialect."""
    if use_using_key is None:
        try:
            import duckdb

            ver = tuple(int(x) for x in duckdb.__version__.split(".")[:2])
            use_using_key = ver >= (1, 3)
        except Exception:
            use_using_key = False
    closure = _Q45_CLOSURE_USING_KEY if use_using_key else _Q45_CLOSURE_PLAIN
    clusters = _Q45_CLUSTERS_USING_KEY if use_using_key else _Q45_CLUSTERS_PLAIN
    return _Q45_TEMPLATE.format(closure=closure, clusters=clusters)


_Q45_TEMPLATE = f"""
WITH RECURSIVE {_TOKS_CTE},
{_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.03
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
{{closure}},
pg AS (
  SELECT doc_id, n - 1 AS pos,
         ('0x' || substr(md5(t[n] || ' ' || t[n+1] || ' ' || t[n+2] || ' ' || t[n+3]
            || ' ' || t[n+4] || ' ' || t[n+5] || ' ' || t[n+6] || ' ' || t[n+7]), 1, 15))::BIGINT AS gram
  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(n)
  WHERE len(t) >= 8
),
gfreq AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) <= 1000),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS diag
  FROM pg a
  JOIN gfreq g ON g.gram = a.gram
  JOIN pg b ON b.gram = a.gram AND a.doc_id < b.doc_id
),
runs AS (
  SELECT id_a, id_b, diag, pos_a, pos_b,
         pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS isl
  FROM m
),
spans AS (
  SELECT id_a, id_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
         COUNT(*) + 7 AS span_tokens
  FROM runs GROUP BY id_a, id_b, diag, isl
  HAVING COUNT(*) + 7 >= 12
)
{{clusters}}
UNION ALL
SELECT 'span' AS leg, id_a AS doc_id, CAST(NULL AS BIGINT) AS cluster_id,
       id_b, start_a, start_b, span_tokens
FROM spans
"""


def q46_quantize_embeddings(spark, sf_dir):
    """int8 scalar quantization of the embedding column (4x storage cut;
    cosine is scale-invariant so ranking survives). The oracle recomputes
    the integer code sum — exact integer arithmetic, so the hash match
    proves the quantization kernel, with no float-drift wiggle room."""
    r = _resolver(spark, sf_dir)
    q = sim.quantize_embeddings(r("embeddings"))
    return q.select(
        "vec_id",
        F.aggregate(
            F.col("qvec"), F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long")
        ).alias("code_sum"),
        F.array_max(F.col("qvec")).cast("int").alias("code_max"),
        F.round(F.col("qscale"), 9).alias("scale"),
    )


_Q46_SQL = """
WITH m AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings
),
q AS (
  SELECT e.vec_id,
         list_transform(e.embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m.max_abs) AS BIGINT))
           AS qvec,
         m.max_abs
  FROM embeddings e JOIN m USING (vec_id)
)
SELECT vec_id,
       CAST(list_sum(qvec) AS BIGINT) AS code_sum,
       CAST(list_max(qvec) AS INT) AS code_max,
       ROUND(max_abs / 127.0, 9) AS scale
FROM q
"""


def q47_decontaminate(spark, sf_dir):
    """Train/test decontamination, two legs unioned (slot-merged; see
    COVERAGE.md): 'doc' — cross-corpus near-dup join (even doc_ids as
    'train', odd as 'heldout') via the shingle inverted index — the
    candidate join is index ⋈ index on the shingle, never train×heldout;
    'span' — duplicate_spans(other=) cross-corpus mode: WHERE and HOW
    LONG a train passage reappears verbatim in heldout (positional
    8-gram index, union-frequency cutoff, diagonal chaining), vs the
    same chaining done with SQL windows."""
    r = _resolver(spark, sf_dir)
    # r13-opt: normalize ONCE into a pinned column — the three legs
    # build SIX gram indexes (train+heldout sides × doc/span/contain),
    # and each previously re-scanned the parquet and re-ran the
    # lower+whitespace-normalize regex kernel (guide §1.2). The gram
    # regexes themselves differ per leg (k=3/8/5) and still run per
    # index; only the shared normalize pass and the scan are hoisted.
    docs = pin(r("documents").select(
        "doc_id", F.lower(tx.normalize_ws(F.col("text"))).alias("text")
    ))
    train = docs.filter(F.col("doc_id") % 2 == 0)
    heldout = docs.filter(F.col("doc_id") % 2 == 1)
    doc_leg = dd.cross_ngram_jaccard(
        train, heldout, k=3, threshold=0.03, pre_normalized=True
    )
    spans = dd.duplicate_spans(
        train, k=8, min_tokens=12, other=heldout, pre_normalized=True
    )
    nl = F.lit(None).cast("long")
    out = doc_leg.select(
        F.lit("doc").alias("leg"),
        "left_id",
        "right_id",
        "jaccard",
        nl.alias("start_a"),
        nl.alias("start_b"),
        nl.alias("span_tokens"),
    ).unionByName(
        spans.select(
            F.lit("span").alias("leg"),
            F.col("id_a").alias("left_id"),
            F.col("id_b").alias("right_id"),
            F.lit(None).cast("double").alias("jaccard"),
            F.col("start_a").cast("long"),
            F.col("start_b").cast("long"),
            F.col("span_tokens").cast("long"),
        )
    )
    # r8 third leg: GPT-3-style strict membership decontamination with
    # containment scoring (ngram_contamination) — containment rides the
    # jaccard column, eval_size in start_a, n_shared in span_tokens
    contain = dd.ngram_contamination(
        train, heldout, n=5, with_containment=True, pre_normalized=True
    )
    out = out.unionByName(
        contain.select(
            F.lit("contain").alias("leg"),
            F.col("train_id").alias("left_id"),
            F.col("eval_id").alias("right_id"),
            F.col("containment").alias("jaccard"),
            F.col("eval_size").cast("long").alias("start_a"),
            F.lit(None).cast("long").alias("start_b"),
            F.col("n_shared").cast("long").alias("span_tokens"),
        )
    )
    return out


_Q47_SQL = f"""
WITH {_TOKS_CTE},
{_SHINGLES_CTE},
hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
),
fsh AS (
  SELECT doc_id, h FROM hs
  QUALIFY COUNT(*) OVER (PARTITION BY h) <= 1000
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS n_common
  FROM fsh a JOIN fsh b ON a.h = b.h
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
),
pg AS (
  SELECT doc_id, n - 1 AS pos,
         ('0x' || substr(md5(t[n] || ' ' || t[n+1] || ' ' || t[n+2] || ' ' || t[n+3]
            || ' ' || t[n+4] || ' ' || t[n+5] || ' ' || t[n+6] || ' ' || t[n+7]), 1, 15))::BIGINT AS gram
  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(n)
  WHERE len(t) >= 8
),
-- union-frequency cutoff: train + heldout partition the full table, so
-- the union index IS the full pg
gfreq AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) <= 1000),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS diag
  FROM pg a
  JOIN gfreq g ON g.gram = a.gram
  JOIN pg b ON b.gram = a.gram
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
),
runs AS (
  SELECT id_a, id_b, diag, pos_a, pos_b,
         pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS isl
  FROM m
),
spans AS (
  SELECT id_a, id_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
         COUNT(*) + 7 AS span_tokens
  FROM runs GROUP BY id_a, id_b, diag, isl
  HAVING COUNT(*) + 7 >= 12
),
cg5 AS (
  SELECT doc_id,
         ('0x' || substr(md5(t[n] || ' ' || t[n+1] || ' ' || t[n+2] || ' '
            || t[n+3] || ' ' || t[n+4]), 1, 15))::BIGINT AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS rc(n)
  WHERE len(t) >= 5
)
SELECT 'doc' AS leg, left_id, right_id,
       -- raw IEEE quotient of exact ints (no ROUND — see q25's oracle)
       CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard,
       CAST(NULL AS BIGINT) AS start_a, CAST(NULL AS BIGINT) AS start_b,
       CAST(NULL AS BIGINT) AS span_tokens
FROM common
JOIN sizes sa ON sa.doc_id = left_id
JOIN sizes sb ON sb.doc_id = right_id
WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.03
UNION ALL
SELECT 'span' AS leg, id_a AS left_id, id_b AS right_id,
       CAST(NULL AS DOUBLE) AS jaccard, start_a, start_b, span_tokens
FROM spans
UNION ALL
SELECT 'contain' AS leg, s.train_id AS left_id, s.eval_id AS right_id,
       CAST(s.n_shared AS DOUBLE) / es.esize AS jaccard,
       CAST(es.esize AS BIGINT) AS start_a,
       CAST(NULL AS BIGINT) AS start_b,
       CAST(s.n_shared AS BIGINT) AS span_tokens
FROM (
  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, COUNT(*) AS n_shared
  FROM (SELECT DISTINCT doc_id, g FROM cg5) a
  JOIN (SELECT DISTINCT doc_id, g FROM cg5) b ON a.g = b.g
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
) s
JOIN (
  SELECT doc_id, COUNT(*) AS esize
  FROM (SELECT DISTINCT doc_id, g FROM cg5)
  WHERE doc_id % 2 = 1 GROUP BY 1
) es ON es.doc_id = s.eval_id
"""


def q44_sampling(spark, sf_dir):
    """Deterministic sampling family, row-level membership for all three
    modes: content-addressed hash_sample (md5(salt||key) threshold —
    map-only, reproduces across runs/engines/partitionings), stratified
    per-language downsampling (rare groups kept whole), and
    Efraimidis-Spirakis weighted sampling without replacement (top-100 by
    ln(u)/n_chars — length-proportional inclusion, distributed
    TakeOrdered, merged this slot).

    Since r8 a fourth leg gates the skew-safe per-key cap
    (web.cap_per_key, the per-domain cap every web corpus applies):
    at most 40 docs per language by the same content-addressed hash
    order. Since r9 the leg runs ``mode='auto'`` — the runtime
    formulation picker: its hot-set count job observes every language
    over cap here, so the gate drives the measure-then-decide machinery
    INTO the skew-safe split (count -> broadcast -> window over hot rows
    only) — while the oracle is the plain row_number-over-everything
    formulation; the hash match proves the chosen formulation selects
    identical rows. (The other two auto regimes — untouched pass-through
    and the over-limit window fallback — are pytest row-identity gated,
    tests/test_web.py.)"""
    from firepit_spark.functions import web as wb

    r = _resolver(spark, sf_dir)
    docs = r("documents")
    hs = pl.hash_sample(docs, "doc_id", 0.25, salt="s1").select(
        F.lit("hash").alias("method"), "doc_id", "lang"
    )
    st = pl.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.2, "de": 0.5}, default_rate=1.0
    ).select(F.lit("strat").alias("method"), "doc_id", "lang")
    ws = pl.weighted_sample(docs, "doc_id", "n_chars", 100, salt="w1").select(
        F.lit("weighted").alias("method"), "doc_id", "lang"
    )
    capped = wb.cap_per_key(docs, "lang", 40, "doc_id", salt="c1", mode="auto")
    cap = capped.select(F.lit("cap").alias("method"), "doc_id", "lang")
    return hs.unionByName(st).unionByName(ws).unionByName(cap)


_Q44_SQL = f"""
SELECT 'hash' AS method, doc_id, lang FROM documents
WHERE substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8) < '{pl.hash_threshold(0.25)}'
UNION ALL
SELECT 'strat' AS method, doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '{pl.hash_threshold(0.2)}'
                WHEN 'de' THEN '{pl.hash_threshold(0.5)}'
                ELSE '{pl.hash_threshold(1.0)}' END
UNION ALL
SELECT 'weighted' AS method, doc_id, lang FROM (
  SELECT doc_id, lang,
         ln((('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
            / 1152921504606846976.0) / n_chars AS es
  FROM documents WHERE n_chars > 0
  ORDER BY es DESC, doc_id LIMIT 100
)
UNION ALL
SELECT 'cap' AS method, doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('c1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 40
"""


def q48_repetition(spark, sf_dir):
    """Gopher-style repetition signals: per-doc bigram duplicate fraction
    and top-bigram coverage — the cheap boilerplate/spam detector you run
    before spending tokens. Both aggregations key on the doc id, so no
    shuffle key can exceed one document's n-gram count.

    Since r8 each row also carries the OTHER half of the Gopher A1.1
    rule set — the document-quality signals (tx.gopher_quality_stats:
    word count/length, symbol ratio, bullet/ellipsis line fractions,
    alpha-word fraction, required-word hits). All exact integers or
    single exact divisions, so the full frame oracle-hashes; the quality
    leg is map-only (no explode, no shuffle) and joins on the doc id."""
    from firepit_spark.functions import corpus as cp
    from firepit_spark.functions import text as tx2

    r = _resolver(spark, sf_dir)
    docs = r("documents")
    rep = cp.repetition_stats(docs, n=2)
    gq = tx2.gopher_quality_stats(docs).select(
        "doc_id",
        "n_words",
        "mean_word_chars",
        "symbol_word_ratio",
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        "alpha_words",
        F.col("alpha_word_frac"),
        "required_hits",
    )
    return rep.join(gq, "doc_id")


_Q48_SQL = f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
rep AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_ngrams,
         COUNT(*) AS n_distinct,
         ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
           AS dup_frac,
         ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_frac
  FROM pg GROUP BY doc_id
),
gq AS (
  SELECT d.doc_id,
         string_split(d.text, chr(10)) AS lines,
         CAST(len(t) AS INT) AS n_words,
         CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum')
              AS DOUBLE) / len(t) AS mean_word_chars,
         CAST(length(d.text) - length(replace(d.text, '#', ''))
              + (length(d.text) - length(replace(d.text, '...', ''))) // 3
              AS DOUBLE) / len(t) AS symbol_word_ratio,
         CAST(len(lines) AS INT) AS n_lines,
         CAST(len(list_filter(lines, l ->
              starts_with(trim(l), chr(8226)) OR starts_with(trim(l), '-')))
              AS INT) AS bullet_lines,
         CAST(len(list_filter(lines, l ->
              ends_with(trim(l), chr(8230)) OR ends_with(trim(l), '...')))
              AS INT) AS ellipsis_lines,
         CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS INT)
           AS alpha_words,
         CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
           / len(t) AS alpha_word_frac,
         CAST(len(list_filter(
              ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
              w -> list_contains(t, w))) AS INT) AS required_hits
  FROM documents d JOIN toks tk ON tk.doc_id = d.doc_id
)
SELECT r.doc_id, r.n_ngrams, r.n_distinct, r.dup_frac, r.top_frac,
       q.n_words, q.mean_word_chars, q.symbol_word_ratio, q.n_lines,
       q.bullet_lines, q.ellipsis_lines, q.alpha_words, q.alpha_word_frac,
       q.required_hits
FROM rep r JOIN gq q USING (doc_id)
"""


def q49_chunk_documents(spark, sf_dir):
    """Token-window chunking with overlap (64-token windows every 48):
    map-only — boundaries depend only on the row, so it never shuffles and
    parallelizes perfectly at 100 TB. Chunk text hashed to keep the
    comparison compact; the md5 pins the exact token slice."""
    from firepit_spark.functions import corpus as cp

    r = _resolver(spark, sf_dir)
    out = cp.chunk_documents(r("documents"), chunk_tokens=64, stride=48)
    return out.select(
        "doc_id", "chunk_id", "start", "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


_Q49_SQL = f"""
WITH {_TOKS_CTE},
c AS (
  SELECT doc_id, t, len(t) AS n FROM toks
)
SELECT doc_id,
       CAST(i // 48 AS INT) AS chunk_id,
       CAST(i AS INT) AS start,
       CAST(least(64, n - i) AS INT) AS n_tokens,
       md5(array_to_string(t[i + 1 : i + 64], ' ')) AS chunk_md5
FROM c, UNNEST(generate_series(0, n - 1, 48)) AS u(i)
"""


def q50_doc_term_stats(spark, sf_dir):
    """Per-doc distinctive terms: tf within the doc, df across the corpus,
    ranked (tf desc, df asc, term asc) — tf-idf ordering with integer-only
    keys, so the oracle hash is exact with no transcendental arithmetic.
    The vocabulary join is a plain hash join (never a broadcast of an
    unbounded vocab); AQE absorbs the Zipf head.

    Since r8 each row also carries the CCNet-style n-gram LM novelty
    columns (lm.ngram_lm_fit/score — model trained on the even-doc_id
    half, scored over everything, so the odd half genuinely exercises
    unseen-gram smoothing paths): transition count, unseen-bigram /
    unseen-history counts, and the unseen rate. Deliberately the
    INTEGER outputs plus one exact single division — the float
    bits-per-token path uses log2, which is not ulp-identical across
    engines (libm vs JVM Math.log), so it is pytest-gated
    (tests/test_lm.py differential) rather than oracle-hashed.

    Since r10 a third leg gates the interpolated Kneser-Ney TRIGRAM
    model (lm.kneser_ney_fit/score — the smoothing KenLM/CCNet actually
    uses), same even-half train / full-corpus score split: trigram
    transition count, unseen-trigram and unseen-history counts (the
    wholesale-backoff paths), and the continuation-count checksum
    Σ N1+(• w2 w3) — an integer the oracle recomputes from its own
    independently-built trigram type tables, so a hash match proves the
    continuation structure (the part of KN that is not just counting),
    while the log-space interpolation itself is pytest-differentialed
    against a pure-python reference (tests/test_lm.py)."""
    from firepit_spark.functions import corpus as cp
    from firepit_spark.functions import lm as L

    r = _resolver(spark, sf_dir)
    docs = r("documents")
    # r13-opt: tokenize ONCE and fan every leg out from the pinned
    # array frame — previously each of the five legs (tf/df, bigram
    # fit+score, KN fit+score) re-ran the normalize+split kernel over
    # the corpus (guide §1.2/§2.3: don't recompute; expressions are
    # unchanged so outputs are bit-identical)
    toks = pin(docs.select("doc_id", tx.tokens(F.col("text")).alias("__toks")))
    even = toks.filter(F.col("doc_id") % 2 == 0)
    base = cp.doc_term_stats(toks, top_k=3, tokens_col="__toks")
    model = L.ngram_lm_fit(even, tokens_col="__toks")
    sc = L.ngram_lm_score(
        toks, model, with_oov=False, tokens_col="__toks"
    ).select(
        "doc_id",
        F.col("n_trans").alias("lm_n_trans"),
        F.col("unseen_bigrams").alias("lm_unseen_bigrams"),
        F.col("unseen_hist").alias("lm_unseen_hist"),
        F.col("unseen_rate").alias("lm_unseen_rate"),
    )
    knm = L.kneser_ney_fit(even, tokens_col="__toks")
    knsc = L.kneser_ney_score(toks, knm, tokens_col="__toks").select(
        "doc_id", "kn_n_tri", "kn_unseen_tri", "kn_unseen_hist",
        "kn_cont_sum",
    )
    return base.join(sc, "doc_id").join(knsc, "doc_id")


_Q50_SQL = f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, u.term FROM toks, UNNEST(t) AS u(term)),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf, CAST(dfq.df AS BIGINT) AS df,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC
         ) AS INT) AS rank
  FROM tf JOIN dfq USING (term)
),
lmtr AS (
  SELECT doc_id, t[n] AS w1, t[n+1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS r(n)
),
lmuni AS (
  SELECT u.term AS w, COUNT(*) AS c1
  FROM toks, UNNEST(t) AS u(term) WHERE doc_id % 2 = 0 GROUP BY 1
),
lmbig AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM lmtr WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
lmsc AS (
  SELECT tr.doc_id,
         CAST(COUNT(*) AS BIGINT) AS lm_n_trans,
         CAST(COALESCE(SUM(CASE WHEN b.c12 IS NULL THEN 1 END), 0) AS BIGINT)
           AS lm_unseen_bigrams,
         CAST(COALESCE(SUM(CASE WHEN u.c1 IS NULL THEN 1 END), 0) AS BIGINT)
           AS lm_unseen_hist
  FROM lmtr tr
  LEFT JOIN lmbig b ON b.w1 = tr.w1 AND b.w2 = tr.w2
  LEFT JOIN lmuni u ON u.w = tr.w1
  GROUP BY 1
),
-- Kneser-Ney leg (r10): rebuild the trigram TYPE structure from scratch
-- (even-half model) and recompute the integer diagnostics, incl. the
-- continuation-count checksum over N1+(. w2 w3)
kn_tr AS (
  SELECT doc_id, t[n] AS w1, t[n+1] AS w2, t[n+2] AS w3
  FROM toks, UNNEST(range(1, len(t) - 1)) AS r(n)
),
kn_tri AS (
  SELECT w1, w2, w3, COUNT(*) AS c123
  FROM kn_tr WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3
),
kn_hist AS (SELECT DISTINCT w1, w2 FROM kn_tri),
kn_cont AS (SELECT w2, w3, COUNT(*) AS cb23 FROM kn_tri GROUP BY 1, 2),
knsc AS (
  SELECT tr.doc_id,
         CAST(COUNT(*) AS BIGINT) AS kn_n_tri,
         CAST(COALESCE(SUM(CASE WHEN k.c123 IS NULL THEN 1 END), 0)
              AS BIGINT) AS kn_unseen_tri,
         CAST(COALESCE(SUM(CASE WHEN h.w1 IS NULL THEN 1 END), 0)
              AS BIGINT) AS kn_unseen_hist,
         CAST(COALESCE(SUM(COALESCE(cb.cb23, 0)), 0) AS BIGINT)
           AS kn_cont_sum
  FROM kn_tr tr
  LEFT JOIN kn_tri k
    ON k.w1 = tr.w1 AND k.w2 = tr.w2 AND k.w3 = tr.w3
  LEFT JOIN kn_hist h ON h.w1 = tr.w1 AND h.w2 = tr.w2
  LEFT JOIN kn_cont cb ON cb.w2 = tr.w2 AND cb.w3 = tr.w3
  GROUP BY 1
)
SELECT r.doc_id, r.term, r.tf, r.df, r.rank,
       CAST(COALESCE(s.lm_n_trans, 0) AS BIGINT) AS lm_n_trans,
       CAST(COALESCE(s.lm_unseen_bigrams, 0) AS BIGINT) AS lm_unseen_bigrams,
       CAST(COALESCE(s.lm_unseen_hist, 0) AS BIGINT) AS lm_unseen_hist,
       CASE WHEN s.lm_n_trans > 0
            THEN CAST(s.lm_unseen_bigrams AS DOUBLE) / s.lm_n_trans
       END AS lm_unseen_rate,
       CAST(COALESCE(kn.kn_n_tri, 0) AS BIGINT) AS kn_n_tri,
       CAST(COALESCE(kn.kn_unseen_tri, 0) AS BIGINT) AS kn_unseen_tri,
       CAST(COALESCE(kn.kn_unseen_hist, 0) AS BIGINT) AS kn_unseen_hist,
       CAST(COALESCE(kn.kn_cont_sum, 0) AS BIGINT) AS kn_cont_sum
FROM ranked r
LEFT JOIN lmsc s USING (doc_id)
LEFT JOIN knsc kn USING (doc_id)
WHERE r.rank <= 3
"""


def q51_corpus_profile(spark, sf_dir):
    """Per-source corpus profile: temperature-flattened mixture weights
    (alpha=0.5, w = sqrt(n_source/N) — sqrt is IEEE correctly-rounded so
    weights are engine-exact) joined with exact interpolated length
    percentiles (Spark `percentile` == percentile_cont == DuckDB
    quantile_cont, 6dp-rounded) — the one-stop sampling/truncation
    report, two operators under one driver slot."""
    from firepit_spark.functions import corpus as cp

    r = _resolver(spark, sf_dir)
    # r13-opt continuation 2: five legs scan the same table, and the
    # mixture + report legs each tokenized the corpus from raw text —
    # pin the shared columns once with the token count bound, and
    # hand both legs the precomputed column via their token_col hooks
    # (guide §1.2; tokenize kernel per row 2 -> 1, and all five legs
    # read one cache instead of six parquet scans).
    docs = pin(r("documents").withColumn("__ntok", tx.token_count(F.col("text"))))
    w = cp.mixture_weights(docs, "source", alpha=0.5)
    p = cp.length_percentiles(docs, "n_chars", "source")
    # build_mixture rides along (token-budget selection over 4 sources,
    # bucketed two-pass plan; LEFT JOIN keeps unweighted sources NULL)
    mix = cp.build_mixture(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, n_buckets=16, token_col="__ntok"
    )
    msum = mix.groupBy("source").agg(
        F.count(F.lit(1)).alias("mix_docs"),
        F.sum("mix_tokens").alias("mix_tokens"),
    )
    # corpus_report rides the slot too (merged; integer-exact columns only —
    # mean_quality/top_lang stay pytest-gated: float-sum order and modal
    # tie-breaks aren't engine-portable)
    rep = cp.corpus_report(docs, source_col="source", token_col="__ntok").select(
        "source",
        "distinct_docs",
        "dup_ratio",
        "total_tokens",
        "mean_tokens",
        "p50_tokens",
        "p95_tokens",
    )
    # r8 merge: snapshot diff (corpus_diff/diff_summary — the dataset-
    # versioning primitive). Two synthetic snapshots derived from the same
    # table (old drops doc_id%5==0, new drops doc_id%7==3 and rewrites
    # text for doc_id%3==0), so every status arises; the oracle rebuilds
    # both snapshots and full-outer-joins them independently.
    dold = docs.filter(F.col("doc_id") % 5 != 0)
    dnew = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    dsum = cp.diff_summary(dold, dnew, group_col="source")
    out = (
        w.join(p.select("source", "p50", "p90", "p99"), "source")
        .join(msum, "source", "left")
        .join(rep, "source")
        .join(dsum, "source")
    )
    return out


_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 1.0}
_MIX_BUDGET = 1200

_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {w / sum(_MIX_WEIGHTS.values()) * _MIX_BUDGET!r}"
    for s, w in sorted(_MIX_WEIGHTS.items())
)
_MIX_IN = ", ".join(f"'{s}'" for s in sorted(_MIX_WEIGHTS))

_Q51_SQL = f"""
WITH w AS (
  SELECT source, COUNT(*) AS n_docs,
         ROUND(sqrt(CAST(COUNT(*) AS DOUBLE)
                    / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)), 6)
           AS weight
  FROM documents GROUP BY source
),
p AS (
  SELECT source,
         ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50,
         ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6) AS p90,
         ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.99), 6) AS p99
  FROM documents GROUP BY source
),
ord AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
              AS DOUBLE) AS tok,
         md5(CAST(doc_id AS VARCHAR)) AS hid,
         CASE source {_MIX_CASE} END AS budget
  FROM documents WHERE source IN ({_MIX_IN})
),
c AS (
  SELECT *, COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY hid, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS bef
  FROM ord
),
mix AS (
  SELECT source, COUNT(*) AS mix_docs, CAST(SUM(tok) AS BIGINT) AS mix_tokens
  FROM c WHERE bef < budget OR (bef = budget AND tok = 0)
  GROUP BY source
),
rep AS (
  SELECT source,
         COUNT(DISTINCT md5({_NORM})) AS distinct_docs,
         ROUND(1.0 - COUNT(DISTINCT md5({_NORM})) / CAST(COUNT(*) AS DOUBLE), 6)
           AS dup_ratio,
         CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS total_tokens,
         ROUND(CAST(SUM(len(string_split({_NORM}, ' '))) AS DOUBLE) / COUNT(*), 6)
           AS mean_tokens,
         ROUND(quantile_cont(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), 0.5), 6)
           AS p50_tokens,
         ROUND(quantile_cont(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), 0.95), 6)
           AS p95_tokens
  FROM documents GROUP BY source
),
-- snapshot-diff leg: rebuild both synthetic snapshots and full-outer-join
dold AS (
  SELECT doc_id, source, md5({_NORM}) AS fp FROM documents WHERE doc_id % 5 != 0
),
dnewt AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 7 != 3
),
dnew AS (SELECT doc_id, source, md5({_NORM}) AS fp FROM dnewt),
ddiff AS (
  SELECT COALESCE(n.source, o.source) AS source,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp = n.fp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM dold o FULL OUTER JOIN dnew n ON o.doc_id = n.doc_id
),
dsum AS (
  SELECT source,
         CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM ddiff GROUP BY source
)
SELECT w.source, w.n_docs, w.weight, p.p50, p.p90, p.p99,
       mix.mix_docs, mix.mix_tokens,
       rep.distinct_docs, rep.dup_ratio, rep.total_tokens, rep.mean_tokens,
       rep.p50_tokens, rep.p95_tokens,
       dsum.n_added, dsum.n_removed, dsum.n_changed, dsum.n_unchanged
FROM w JOIN p USING (source) LEFT JOIN mix USING (source) JOIN rep USING (source)
JOIN dsum USING (source)
"""


def q53_pii_scrub(spark, sf_dir):
    """Text-cleaning pipeline: CCNet-style line-level dedup, then PII
    redaction (emails / IPv4s / phone numbers -> <KIND> tags). The
    synthetic corpus is single-line and PII-free, so the query seeds each
    document with deterministic extra lines (identically in the oracle):
    a boilerplate line shared by every doc, a 'tail k' line shared by
    ~1/7th of docs — both must be removed by line_dedup — and a unique
    PII line that must survive dedup and be scrubbed. The hash match
    proves explode/count/anti-join/reassemble ordering AND regex
    find/replace agree between engines. Line counting shuffles 8-byte
    xxhash64 keys; the scrub is map-only whole-stage codegen.

    Since r8 the slot also gates the web-curation family
    (functions/web.py): each doc gets a deterministically synthesized
    messy URL (mixed-case scheme/host, default and explicit ports, empty
    paths, tracking params, fragments, multi-label public suffixes), and
    the row carries ``url_host`` / ``url_domain`` / ``url_norm`` from
    parse_urls + registered_domain + url_normalize. The oracle does NOT
    mirror the regex pipeline — it recomputes the expected canonical
    values directly from the doc_id generation arithmetic, so a hash
    match proves the parser/normalizer SEMANTICS (case folding, default
    port stripping, tracking-param drop, param sort, empty-path -> '/',
    public-suffix roll-up), not just expression equality. The URL leg is
    map-only and joins on the doc id.

    Since r9 a ``url_domain_psl`` leg gates the PSL-TABLE registrable
    domain (web.registered_domain_psl: per-suffix-length broadcast hash
    joins + longest-match arbitration) against a rules snippet where
    'sample.net' is itself a public suffix, so those hosts must roll up
    one label deeper than the heuristic column beside them; the oracle
    recomputes the expectation from the doc_id arithmetic."""
    from firepit_spark.functions import corpus as cp
    from firepit_spark.functions import web as wb

    r = _resolver(spark, sf_dir)
    docs = r("documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nall your cookies are belong to us\ntail "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\ncontact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org or +1 555 000 "),
            (F.col("doc_id") % 10000).cast("string"),
            F.lit(" at 10.2."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    out = cp.pii_scrub(cp.line_dedup(docs))
    pii = out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("text")).alias("clean_md5"),
    )

    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    sub = (
        F.when(d % 3 == 0, F.lit("WWW"))
        .when(d % 3 == 1, F.lit("Blog"))
        .otherwise(F.lit("cdn"))
    )
    zone = (
        F.when(d % 4 == 0, F.lit("example.com"))
        .when(d % 4 == 1, F.lit("Example.CO.uk"))
        .when(d % 4 == 2, F.lit("sample.net"))
        .otherwise(F.lit("example.ac.jp"))
    )
    port = (
        F.when(d % 5 == 0, F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8080"))
        .when(d % 5 == 2, F.lit(":80"))
        .otherwise(F.lit(""))
    )
    path = F.when(d % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/d/"), d.cast("string"))
    )
    query = F.concat(
        F.lit("utm_source=S&b="),
        (d % 3).cast("string"),
        F.lit("&a=1"),
        F.when(d % 6 == 0, F.lit("&fbclid=Z")).otherwise(F.lit("")),
    )
    frag = F.when(d % 2 == 0, F.lit("#f")).otherwise(F.lit(""))
    # r13-opt: both URL legs (parse_urls and the PSL host leg) consumed
    # this frame from separate parquet scans — pin the tiny
    # (doc_id, url) frame once (guide §1.2)
    urls = pin(r("documents").select(
        "doc_id",
        F.concat(
            scheme, F.lit("://"), sub, F.lit("."), zone, port, path,
            F.lit("?"), query, frag,
        ).alias("url"),
    ))
    web = wb.parse_urls(urls).select(
        "doc_id",
        F.col("host").alias("url_host"),
        F.col("domain").alias("url_domain"),
        F.col("url_norm"),
    )
    # r9 PSL leg: the table-driven registrable domain (broadcast joins +
    # longest-match arbitration) against a rules snippet that declares
    # 'sample.net' a public suffix — its hosts must roll up one label
    # deeper than the heuristic url_domain column next to it
    rules = wb.psl_rules(
        spark, ["com", "uk", "co.uk", "net", "sample.net", "jp", "ac.jp"]
    )
    hosts = urls.select("doc_id", wb.url_host(F.col("url")).alias("h"))
    psl = wb.registered_domain_psl(hosts, "h", rules).select(
        "doc_id", F.col("reg_domain").alias("url_domain_psl")
    )
    return pii.join(web, "doc_id").join(psl, "doc_id")


_Q53_SQL = r"""
WITH seeded AS (
  SELECT doc_id,
         text || chr(10) || 'all your cookies are belong to us'
              || chr(10) || 'tail ' || CAST(doc_id % 7 AS VARCHAR)
              || chr(10) || 'contact u' || CAST(doc_id AS VARCHAR)
              || '@ex.org or +1 555 000 ' || CAST(doc_id % 10000 AS VARCHAR)
              || ' at 10.2.' || CAST(doc_id % 200 AS VARCHAR) || '.7' AS text
  FROM documents
),
lns AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
  FROM seeded
),
boiler AS (
  SELECT line FROM lns WHERE length(trim(line)) >= 1
  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT l.* FROM lns l
  WHERE length(trim(l.line)) < 1 OR l.line NOT IN (SELECT line FROM boiler)
),
re AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
),
deduped AS (
  SELECT s.doc_id, COALESCE(re.text, '') AS text
  FROM seeded s LEFT JOIN re ON s.doc_id = re.doc_id
)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         AS n_email,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
         AS n_ipv4,
       len(regexp_extract_all(text, '\+\d[\d()\- ]{6,}\d')) AS n_phone,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
             '\+\d[\d()\- ]{6,}\d', '<PHONE>', 'g')) AS clean_md5,
       -- web-curation leg: expected canonical values straight from the
       -- doc_id generation arithmetic (NOT a mirror of the parser regexes)
       (CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'blog' ELSE 'cdn' END)
         || '.' ||
       (CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'
             WHEN 2 THEN 'sample.net' ELSE 'example.ac.jp' END) AS url_host,
       (CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'
             WHEN 2 THEN 'sample.net' ELSE 'example.ac.jp' END) AS url_domain,
       (CASE doc_id % 2 WHEN 0 THEN 'https' ELSE 'http' END) || '://'
         || (CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'blog' ELSE 'cdn' END)
         || '.' ||
         (CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'
               WHEN 2 THEN 'sample.net' ELSE 'example.ac.jp' END)
         || (CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 1 THEN ':443'
                  WHEN doc_id % 5 = 1 THEN ':8080'
                  WHEN doc_id % 5 = 2 AND doc_id % 2 = 0 THEN ':80'
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN '/'
                  ELSE '/d/' || CAST(doc_id AS VARCHAR) END)
         || '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) AS url_norm,
       -- PSL-table leg (r9): the bundled rules declare 'sample.net' a
       -- public suffix, so its hosts roll up one label DEEPER than the
       -- heuristic url_domain — expected values again straight from the
       -- generation arithmetic, never from re-running the join
       (CASE doc_id % 4
          WHEN 0 THEN 'example.com'
          WHEN 1 THEN 'example.co.uk'
          WHEN 2 THEN (CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'blog'
                            ELSE 'cdn' END) || '.sample.net'
          ELSE 'example.ac.jp' END) AS url_domain_psl
FROM deduped
"""


# --------------------------------------------------------------------------
# STIX engine battery: the reference's core surface (bundle ingest ->
# flatten -> id-merge -> pattern extract -> deref/group) driven end-to-end
# against a bundle DERIVED deterministically from the events parquet, so a
# plain-SQL oracle over events can hash-verify the whole pipeline.
# --------------------------------------------------------------------------

_STIX_STORES: dict = {}
_STIX_N_EVENTS = 400


def _stix_store(spark, sf_dir):
    """Ingest-once-per-process warehouse holding a bundle synthesized from
    the first ``_STIX_N_EVENTS`` events rows. Every SCO value is a pure
    function of (event_id, user_id, event_type), so DuckDB can reproduce
    the expected table contents from the events view directly."""
    key = os.path.abspath(sf_dir)
    if key in _STIX_STORES:
        return _STIX_STORES[key]
    import tempfile

    from firepit_spark.storage import SparkStorage

    rows = (
        _resolver(spark, sf_dir)("events")
        .filter(F.col("event_id") < _STIX_N_EVENTS)
        .select("event_id", "user_id", "event_type")
        .collect()
    )
    objects = [
        {
            "type": "identity",
            "id": "identity--b1e2c3d4-1111-4222-8333-944444444444",
            "identity_class": "program",
            "name": "events-bridge",
            "created": "2024-06-01T00:00:00.000Z",
            "modified": "2024-06-01T00:00:00.000Z",
        }
    ]
    for row in rows:
        e, u, etype = row["event_id"], row["user_id"], row["event_type"]
        # varied, reproducible observation time: e*7 % 86400 seconds into
        # 2024-06-01 (q57's oracle rebuilds it with INTERVAL arithmetic)
        off = (e * 7) % 86400
        obs_ts = f"2024-06-01T{off // 3600:02d}:{off % 3600 // 60:02d}:{off % 60:02d}.000Z"
        objects.append(
            {
                "type": "observed-data",
                "id": f"observed-data--{e:08d}-0000-4000-8000-000000000000",
                "created_by_ref": "identity--b1e2c3d4-1111-4222-8333-944444444444",
                "created": "2024-06-01T00:00:00.000Z",
                "modified": "2024-06-01T00:00:00.000Z",
                "first_observed": obs_ts,
                "last_observed": obs_ts,
                # varied so SUM(number_observed) differs from COUNT(*)
                "number_observed": 1 + e % 3,
                "objects": {
                    "0": {"type": "ipv4-addr", "value": f"10.0.{u % 50}.1"},
                    "1": {"type": "ipv4-addr", "value": f"192.168.{e % 20}.9"},
                    "2": {
                        "type": "network-traffic",
                        "src_ref": "0",
                        "dst_ref": "1",
                        "src_port": 40000 + u % 100,
                        "dst_port": 443,
                        "protocols": ["tcp"],
                    },
                    "3": {
                        "type": "url",
                        "value": f"http://site{u % 20}.example/{etype}",
                    },
                    # double-ref chain for q58's path join:
                    # process --binary_ref--> file --parent_directory_ref--> directory
                    "4": {"type": "directory", "path": f"/opt/app{u % 10}"},
                    "5": {
                        "type": "file",
                        "name": f"tool{e % 7}.bin",
                        "parent_directory_ref": "4",
                    },
                    "6": {
                        "type": "process",
                        "name": etype,
                        "pid": 1000 + e % 500,
                        "binary_ref": "5",
                    },
                    # base64 payload for q54's payload_bin leg (P11)
                    "7": {
                        "type": "artifact",
                        "mime_type": "text/plain",
                        "payload_bin": base64.b64encode(
                            f"user={u % 20};act={etype}".encode()
                        ).decode("ascii"),
                    },
                },
            }
        )
    bundle = {"type": "bundle", "id": "bundle--events-bridge", "objects": objects}
    # snapshot the bundle to JSON for the distributed ingest below; flatten()
    # works on a copy, so both ingests read the same observations
    import json as _json

    bpath = os.path.join(tempfile.mkdtemp(prefix="fp_stix_bundle_"), "bundle.json")
    with open(bpath, "w") as f:
        _json.dump(bundle, f)
    st = SparkStorage(tempfile.mkdtemp(prefix="fp_stix_"), spark=spark)
    # companion warehouse ingested through the DISTRIBUTED path (S12,
    # sources/bundles.py cache_distributed — the production ingest,
    # reference firepit/aio/ingest.py:205-556): same bundle, read from
    # JSON on disk, flattened/parsed/merged engine-side. q54 runs its
    # full three-leg oracle over BOTH warehouses, so any divergence
    # between the driver-side and distributed ingest paths hash-fails.
    # The two ingests write to DIFFERENT warehouses, so they run as
    # concurrent driver threads (guide-§2.6 job overlap) — each store's
    # contents are bit-identical to the serial build.
    from concurrent.futures import ThreadPoolExecutor

    from firepit_spark.sources.bundles import cache_distributed

    st_dist = SparkStorage(tempfile.mkdtemp(prefix="fp_stix_dist_"), spark=spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(st.cache, "q1", bundle)
        f2 = pool.submit(cache_distributed, st_dist, "q1", bpath)
        f1.result(), f2.result()
    st._dist_store = st_dist
    # second ingest: ten 2.0 observations run through upgrade_2021 (S5:
    # content-addressed ids, objects dict -> top-level SCOs + object_refs)
    # into a STIX 2.1 bundle, so the flatten_21 path (S3) ingests it;
    # tagged q21 so 2.0-tagged views stay untouched
    from firepit_spark.flatten import upgrade_2021

    objs21 = [
        {
            "type": "identity",
            "id": "identity--b1e2c3d4-2222-4222-8333-944444444444",
            "spec_version": "2.1",
            "identity_class": "program",
            "name": "v21-bridge",
        }
    ]
    for i in range(10):
        obs21 = {
            "type": "observed-data",
            "id": f"observed-data--{i:08d}-2100-4100-8100-000000000000",
            "created_by_ref": "identity--b1e2c3d4-2222-4222-8333-944444444444",
            "first_observed": f"2024-07-01T00:{i:02d}:00.000Z",
            "last_observed": f"2024-07-01T00:{i:02d}:00.000Z",
            "number_observed": 1,
            "objects": {"0": {"type": "url", "value": f"http://v21.example/u{i}"}},
        }
        # upgrade_2021 returns [obs, *scos] (obs mutated in place)
        objs21.extend(upgrade_2021(obs21))
    st.cache("q21", {"type": "bundle", "id": "bundle--v21", "objects": objs21})
    # third ingest: the woodchipper path (S13) — a zeek-conn-shaped log
    # frame built ENGINE-SIDE from events (no collect), auto-detected by
    # column shape and converted+ingested in one distributed pass
    from firepit_spark.sources.logs import convert_log

    ev = (
        _resolver(spark, sf_dir)("events")
        .filter(F.col("event_id") < _STIX_N_EVENTS)
        .select("event_id", "user_id")
    )
    zeek = ev.select(
        (F.lit(1719800000.0) + F.col("event_id")).alias("ts"),
        F.concat(
            F.lit("172.16."), (F.col("user_id") % 30).cast("string"), F.lit(".5")
        ).alias("id.orig_h"),
        (F.lit(40000) + F.col("user_id") % 100).alias("id.orig_p"),
        ((F.col("user_id") % 30) * 10).alias("orig_ip_bytes"),
        (F.col("user_id") % 30).alias("orig_pkts"),
        F.lit("10.1.0.1").alias("id.resp_h"),
        F.lit(53).alias("id.resp_p"),
        F.lit(4000).alias("resp_ip_bytes"),
        F.lit(4).alias("resp_pkts"),
        F.lit("udp").alias("proto"),
    )
    convert_log(st, zeek, query_id="qzeek")
    _STIX_STORES[key] = st
    return st


def q54_stix_extract(spark, sf_dir):
    """Bundle ingest + STIX pattern extract: flatten (S2), vectorized cache
    (S7/S12), content-addressed id merge (S10), pattern compile (P8) and
    extract (C1), across three operator legs unioned on ``value``:

    - url LIKE (the plain string path),
    - ipv4-addr ISSUBSET (P9 — CIDR membership as a packed-long BETWEEN,
      functions/net.py, replacing the reference's in_subnet UDF,
      firepit/sqlitestorage.py:54-61),
    - artifact payload_bin LIKE (P11 — JVM-side unbase64 + LIKE, replacing
      the reference's like_bin UDF, firepit/sqlitestorage.py:70-87).

    Each target table id-merges duplicates, so every leg yields the
    distinct matching values — reproduced by the oracle from events.

    The three legs run twice: once over the driver-ingested warehouse
    and once over the companion warehouse built by the DISTRIBUTED
    ingest path (S12, sources/bundles.py cache_distributed — reference
    firepit/aio/ingest.py:205-556). The oracle emits each leg's distinct
    set twice, so the two ingest paths must land hash-identical SCO
    tables."""
    st = _stix_store(spark, sf_dir)

    def legs(store):
        store.extract("purchase_urls", "url", "q1", "[url:value LIKE '%/purchase']")
        # ISSUBSET leg chains three view ops so each is oracle-proven:
        # extract (C1, unfiltered) -> assign_query (C2: a stored DSL query
        # narrowing to the 10.0.0.0/8 block via LIKE) -> `filter` storage op
        # (P7: pattern re-applied over a view, firepit/sqlstorage.py:579-600)
        store.extract("all_ips", "ipv4-addr", "q1", "")
        ten_net = Query("all_ips")
        ten_net.append(Filter([Predicate("value", "LIKE", "10.0.%")]))
        store.assign_query("ten_net", ten_net, sco_type="ipv4-addr")
        store.filter(
            "mid_ips", "ipv4-addr", "ten_net",
            "[ipv4-addr:value ISSUBSET '10.0.16.0/21']",
        )
        store.extract(
            "purchase_payloads", "artifact", "q1",
            "[artifact:payload_bin LIKE '%act=purchase']",
        )
        return (
            store.get_df("purchase_urls").select("value")
            .unionByName(store.get_df("mid_ips").select("value"))
            .unionByName(store.get_df("purchase_payloads").select(
                F.col("payload_bin").alias("value")))
        )

    return legs(st).unionByName(legs(st._dist_store))


_Q54_SQL = f"""
WITH one_pass AS (
  SELECT DISTINCT 'http://site' || CAST(user_id % 20 AS VARCHAR) || '.example/purchase'
         AS value
  FROM events WHERE event_id < {_STIX_N_EVENTS} AND event_type = 'purchase'
  UNION ALL
  SELECT DISTINCT '10.0.' || CAST(user_id % 50 AS VARCHAR) || '.1' AS value
  FROM events WHERE event_id < {_STIX_N_EVENTS} AND (user_id % 50) BETWEEN 16 AND 23
  UNION ALL
  SELECT DISTINCT base64(encode('user=' || CAST(user_id % 20 AS VARCHAR)
         || ';act=purchase')) AS value
  FROM events WHERE event_id < {_STIX_N_EVENTS} AND event_type = 'purchase'
)
-- twice: the driver-ingested warehouse leg AND the cache_distributed
-- (S12) warehouse leg must each reproduce the same distinct sets
SELECT value FROM one_pass UNION ALL SELECT value FROM one_pass
"""


def q55_stix_deref_group(spark, sf_dir):
    """Reference-shaped analytics over the ingested warehouse: extract
    network-traffic, group by the auto-dereffed src_ref.value (J4 deref +
    A4 group with explicit aggs). One warehouse row per distinct
    (src, dst, src_port) tuple — the id-merge invariant the oracle
    reproduces with COUNT(DISTINCT ...) over events."""
    st = _stix_store(spark, sf_dir)
    st.extract("conns", "network-traffic", "q1", "")
    st.group(
        "by_src", "conns", "network-traffic:src_ref.value",
        aggs=[("COUNT", "id", "n_conns")],
    )
    # auto-aggregation leg (A3, parity firepit/props.py:386-433): group
    # with NO aggs infers NUNIQUE for ports — joined back on the src value
    st.group("by_src_auto", "conns", "network-traffic:src_ref.value")
    df = st.get_df("by_src").select(
        F.col("`src_ref.value`").alias("src_value"), "n_conns"
    )
    auto = st.get_df("by_src_auto").select(
        F.col("`src_ref.value`").alias("src_value"),
        "unique_src_port", "unique_dst_port",
    )
    # woodchipper leg (S13): the zeek-conn log ingested by _stix_store via
    # convert_log (column-shape auto-detect -> wide -> SCO frames -> the
    # same LSM merge); its id-merged network-traffic count and distinct
    # src-addr count broadcast onto every row for the oracle to verify
    st.extract("zeek_conns", "network-traffic", "qzeek", "")
    zsum = st.get_df("zeek_conns").agg(
        F.count(F.lit(1)).alias("n_zeek_conns"),
        F.countDistinct("src_ref").alias("n_zeek_srcs"),
    )
    return df.join(auto, "src_value").crossJoin(F.broadcast(zsum))


_Q55_SQL = f"""
WITH e AS (
  SELECT user_id % 50 AS s, event_id % 20 AS d, user_id % 100 AS p
  FROM events WHERE event_id < {_STIX_N_EVENTS}
)
SELECT '10.0.' || CAST(s AS VARCHAR) || '.1' AS src_value,
       COUNT(DISTINCT CAST(d AS VARCHAR) || ':' || CAST(p AS VARCHAR)) AS n_conns,
       CAST(COUNT(DISTINCT p) AS BIGINT) AS unique_src_port,
       CAST(1 AS BIGINT) AS unique_dst_port,
       (SELECT CAST(COUNT(DISTINCT CAST(user_id % 30 AS VARCHAR) || ':'
                          || CAST(user_id % 100 AS VARCHAR)) AS BIGINT)
        FROM events WHERE event_id < {_STIX_N_EVENTS}) AS n_zeek_conns,
       (SELECT CAST(COUNT(DISTINCT user_id % 30) AS BIGINT)
        FROM events WHERE event_id < {_STIX_N_EVENTS}) AS n_zeek_srcs
FROM e GROUP BY 1
"""


def q56_stix_value_counts(spark, sf_dir):
    """Observation counting: the view ⋈ __contains ⋈ observed-data triple
    join (J6) behind value_counts (A8), number_observed (A9), and summary
    (A10) — one row per distinct url value carrying the observation count,
    the per-value SUM(number_observed), and the view-global summary triple
    (MIN first / MAX last / SUM number_observed) broadcast onto every row.
    The oracle is a GROUP BY over events because each event contributes
    exactly one observation containing its url once, with number_observed
    = 1 + event_id % 3 and the varied per-event observation time."""
    st = _stix_store(spark, sf_dir)
    # `load` leg (S8, parity firepit/sqlstorage.py:471-502): plain url
    # strings imported as a typed view (string -> {type, value} objects
    # with content-addressed ids), then flagged onto the counts. Runs
    # FIRST (r14-opt): a table write invalidates the storage layer's
    # memoized observation frames, so the three aggregate legs below
    # build AFTER the last write and share one triple-join plan.
    # Results are unchanged by the move: the watch urls already exist in
    # the q1 ingest (content-addressed id merge, COALESCE keeps the
    # value), and all_urls is q1-tag-filtered, so its rows are identical
    # whether the watchlist lands before or after — the oracle hash
    # re-proves it.
    watch = [f"http://site{i}.example/signup" for i in range(0, 20, 3)]
    st.load("watchlist", watch, sco_type="url")
    wl = st.get_df("watchlist").select("value").distinct()
    st.extract("all_urls", "url", "q1", "")
    counts = st.value_counts_df("all_urls", "url:value")
    nobs = st.number_observed_df("all_urls", "url:value")
    summ = st.summary_df("all_urls").select(
        F.col("first_observed").alias("first_obs_all"),
        F.col("last_observed").alias("last_obs_all"),
        F.col("number_observed").alias("n_obs_all"),
    )
    # A11 `count` storage op (r6 merge): the API count of the id-merged
    # url view broadcast onto every row — the oracle reproduces it as
    # COUNT(DISTINCT value). U2 catalog EXCEPT (r6 merge): types() is
    # tables-except-{identity, observed-data, relationship} (reference
    # sqlstorage.py:700-711 does it with SQL EXCEPT); the SCO type list
    # of the synthesized bundles is deterministic, so the oracle pins it.
    n_urls_api = st.count("all_urls")
    sco_types = ",".join(st.types())
    out = (
        counts.join(nobs, "value")
        .crossJoin(F.broadcast(summ))
        .join(F.broadcast(wl.withColumn("on_watchlist", F.lit(True))),
              "value", "left")
        .select("value", "count", "number_observed",
                "first_obs_all", "last_obs_all", "n_obs_all",
                F.coalesce("on_watchlist", F.lit(False)).alias("on_watchlist"),
                F.lit(n_urls_api).cast("long").alias("n_urls_api"),
                F.lit(sco_types).alias("sco_types"))
    )
    return out


_Q56_SQL = f"""
WITH e AS (
  SELECT 'http://site' || CAST(user_id % 20 AS VARCHAR) || '.example/' || event_type
           AS value,
         1 + event_id % 3 AS n_obs,
         TIMESTAMP '2024-06-01 00:00:00'
           + ((event_id * 7) % 86400) * INTERVAL 1 SECOND AS obs_ts
  FROM events WHERE event_id < {_STIX_N_EVENTS}
),
summ AS (
  SELECT MIN(obs_ts) AS first_obs_all, MAX(obs_ts) AS last_obs_all,
         CAST(SUM(n_obs) AS BIGINT) AS n_obs_all
  FROM e
)
SELECT value, COUNT(*) AS count, CAST(SUM(n_obs) AS BIGINT) AS number_observed,
       first_obs_all, last_obs_all, n_obs_all,
       value IN ('http://site0.example/signup', 'http://site3.example/signup',
                 'http://site6.example/signup', 'http://site9.example/signup',
                 'http://site12.example/signup', 'http://site15.example/signup',
                 'http://site18.example/signup') AS on_watchlist,
       (SELECT CAST(COUNT(DISTINCT value) AS BIGINT) FROM e) AS n_urls_api,
       'artifact,directory,file,ipv4-addr,network-traffic,process,url'
         AS sco_types
FROM e CROSS JOIN summ
GROUP BY value, first_obs_all, last_obs_all, n_obs_all
"""


def q57_stix_timestamped(spark, sf_dir):
    """Observation-timestamp attachment (C7): ``timestamped`` routes through
    extract_observeddata_attribute — view ⋈ __contains ⋈ observed-data with
    the observation's ``first_observed`` projected onto each value row
    (parity: firepit/sqlstorage.py:913-990). One row per (observation, url)
    pair; timestamps are the varied per-event offsets the oracle rebuilds
    with INTERVAL arithmetic.

    A second leg runs the same timestamped path over the STIX 2.1 ingest
    (flatten_21, S3: top-level SCOs + observed-data object_refs) — ten
    urls with fixed observation minutes, unioned in and reproduced by
    the oracle as literal rows."""
    st = _stix_store(spark, sf_dir)
    # both views register BEFORE either timestamped leg builds (r14-opt):
    # view registration conservatively invalidates the storage layer's
    # memoized per-view observation frames, so registering v21_urls
    # between the two legs would drop ts_urls' memoized triple join
    # before it ever executed. Same ops, same results — order of
    # register-then-read is immaterial to either leg's content.
    st.extract("ts_urls", "url", "q1", "[url:value LIKE '%/purchase']")
    st.extract("v21_urls", "url", "q21", "")
    df = st.timestamped("ts_urls", path="url:value", run=False)
    df21 = st.timestamped("v21_urls", path="url:value", run=False)
    return df.select(
        F.col("first_observed"), F.col("`url:value`").alias("value")
    ).unionByName(
        df21.select(F.col("first_observed"), F.col("`url:value`").alias("value"))
    )


_Q57_SQL = f"""
SELECT TIMESTAMP '2024-06-01 00:00:00'
         + ((event_id * 7) % 86400) * INTERVAL 1 SECOND AS first_observed,
       'http://site' || CAST(user_id % 20 AS VARCHAR) || '.example/purchase'
         AS value
FROM events WHERE event_id < {_STIX_N_EVENTS} AND event_type = 'purchase'
UNION ALL
SELECT TIMESTAMP '2024-07-01 00:00:00' + i * INTERVAL 1 MINUTE AS first_observed,
       'http://v21.example/u' || CAST(i AS VARCHAR) AS value
FROM range(10) AS t(i)
"""


def q58_stix_path_join(spark, sf_dir):
    """Double-hop reference path join (J3): process:binary_ref.
    parent_directory_ref.path walks two ``_ref`` joins (process→file→
    directory), each a broadcast join on the id-merged target table
    (parity: get_path_joins, firepit/sqlstorage.py:107-140). One row per
    id-merged process row — the oracle's DISTINCT over the content tuple.

    A second leg gates the `join` storage op (J2, IFNULL column merge,
    firepit/sqlstorage.py:541-566): procs ⋈ files on binary_ref = id.
    The shared ``name`` column must IFNULL-merge to the LEFT (process)
    side — COUNT(DISTINCT name) is 5 (event types) if the merge is
    right, 7 (tool names) if it leaked the file side — and the join row
    count equals the id-merged process count; both broadcast onto every
    result row for the oracle to verify."""
    st = _stix_store(spark, sf_dir)
    st.extract("procs", "process", "q1", "")
    st.extract("files", "file", "q1", "")
    st.join("proc_files", "procs", "binary_ref", "files", "id")
    pf_summary = st.get_df("proc_files").agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.countDistinct("name").alias("n_names"),
    )
    dirs = st.values_df("process:binary_ref.parent_directory_ref.path", "procs").select(
        F.col("`binary_ref.parent_directory_ref.path`").alias("dir_path")
    )
    return dirs.crossJoin(F.broadcast(pf_summary))


_Q58_SQL = f"""
WITH p AS (
  SELECT DISTINCT event_type, event_id % 500 AS pid_m, event_id % 7 AS tool_m,
         user_id % 10 AS dir_m
  FROM events WHERE event_id < {_STIX_N_EVENTS}
)
SELECT '/opt/app' || CAST(dir_m AS VARCHAR) AS dir_path,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_joined,
       (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM p) AS n_names
FROM p
"""


def q59_stix_reassign(spark, sf_dir):
    """Write-back round trips, both legs in one result (S9 + enrich):

    - ``reassign`` (the reference's small-interactive-view path, parity:
      firepit/sqlstorage.py:504-539): lookup collects the view, a Python
      loop tags each object, unresolve + the LSM merge write it back.
    - ``enrich`` (the scale path, storage.py): the SAME warehouse gets a
      second tag from a DataFrame built engine-side (regexp over the url
      table — no driver collect anywhere in the leg), merged through the
      identical LSM latest-non-null path.

    Both tags must land on every id-merged row while ``value`` stays
    untouched — the oracle recomputes all three columns from events,
    proving the no-collect leg hash-equals the reference-faithful one.

    A third leg gates paginated retrieval (C8) + assign-sort stored
    order (O3): ``assign(op='sort')`` registers a view whose order
    persists into ``lookup``, and a limit/offset page of it (over the
    UNIQUE value column, so pagination is deterministic) is flagged back
    onto the result as ``in_page`` — the oracle reproduces the page with
    ORDER BY value LIMIT/OFFSET."""
    st = _stix_store(spark, sf_dir)
    st.extract("tagged_urls", "url", "q1", "")
    objs = st.lookup("tagged_urls")
    for o in objs:
        o["x_host_tag"] = o["value"].split("/")[2].split(".")[0]
    st.reassign("tagged_urls", objs)
    enrichment = st.table_df("url").select(
        "id", F.regexp_extract("value", r"[^/]+$", 0).alias("x_path_tag")
    )
    st.enrich("url", enrichment)
    st.assign("urls_sorted", "tagged_urls", op="sort", by="url:value")
    page = st.lookup("urls_sorted", cols=["value"], limit=30, offset=10)
    page_values = [o["value"] for o in page]
    return st.get_df("tagged_urls").select(
        "value", "x_host_tag", "x_path_tag",
        F.col("value").isin(page_values).alias("in_page"),
    )


_Q59_SQL = f"""
WITH base AS (
  SELECT DISTINCT
         'http://site' || CAST(user_id % 20 AS VARCHAR) || '.example/' || event_type
           AS value,
         'site' || CAST(user_id % 20 AS VARCHAR) AS x_host_tag,
         event_type AS x_path_tag
  FROM events WHERE event_id < {_STIX_N_EVENTS}
),
page AS (SELECT value FROM base ORDER BY value LIMIT 30 OFFSET 10)
SELECT b.value, b.x_host_tag, b.x_path_tag,
       b.value IN (SELECT value FROM page) AS in_page
FROM base b
"""


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: star join + grouped aggregation."""
    return q04_join_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_like": q02_filter_like,
        "q03_filter_in": q03_filter_in,
        "q04_join_agg": q04_join_agg,
        "q05_left_join": q05_left_join,
        "q06_semijoin_subquery": q06_semijoin_subquery,
        "q07_topk_revenue": q07_topk_revenue,
        "q10_having": q10_having,
        "q11_time_bin": q11_time_bin,
        "q13_sort_offset_limit": q13_sort_offset_limit,
        "q14_coalesce": q14_coalesce,
        "q15_union_merge": q15_union_merge,
        "q16_window_topk_per_group": q16_window_topk_per_group,
        "q17_json_extract": q17_json_extract,
        "q19_multi_agg": q19_multi_agg,
        "q20_sessionize": q20_sessionize,
        "q21_fingerprint": q21_fingerprint,
        "q22_text_stats": q22_text_stats,
        "q23_lang_guess": q23_lang_guess,
        "q25_ngram_jaccard": q25_ngram_jaccard,
        "q26_minhash": q26_minhash,
        "q28_dedup_exact": q28_dedup_exact,
        "q29_cosine_topk": q29_cosine_topk,
        "q30_label_centroids": q30_label_centroids,
        "q31_lsh_topk": q31_lsh_topk,
        "q32_minhash_lsh_pairs": q32_minhash_lsh_pairs,
        "q33_ivf_topk": q33_ivf_topk,
        "q34_hypertable_rollup": q34_hypertable_rollup,
        "q35_event_chain_ancestry": q35_event_chain_ancestry,
        "q36_asof_join": q36_asof_join,
        "q37_range_join": q37_range_join,
        "q38_cosine_near_dup": q38_cosine_near_dup,
        "q39_media_probe": q39_media_probe,
        "q41_context_pack": q41_context_pack,
        "q42_corpus_prep": q42_corpus_prep,
        "q44_sampling": q44_sampling,
        "q45_dedup_clusters": q45_dedup_clusters,
        "q46_quantize_embeddings": q46_quantize_embeddings,
        "q47_decontaminate": q47_decontaminate,
        "q48_repetition": q48_repetition,
        "q49_chunk_documents": q49_chunk_documents,
        "q50_doc_term_stats": q50_doc_term_stats,
        "q51_corpus_profile": q51_corpus_profile,
        "q53_pii_scrub": q53_pii_scrub,
        "q54_stix_extract": q54_stix_extract,
        "q55_stix_deref_group": q55_stix_deref_group,
        "q56_stix_value_counts": q56_stix_value_counts,
        "q57_stix_timestamped": q57_stix_timestamped,
        "q58_stix_path_join": q58_stix_path_join,
        "q59_stix_reassign": q59_stix_reassign,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_filter_like": _Q02_SQL,
        "q03_filter_in": _Q03_SQL,
        "q04_join_agg": _Q04_SQL,
        "q05_left_join": _Q05_SQL,
        "q06_semijoin_subquery": _Q06_SQL,
        "q07_topk_revenue": _Q07_SQL,
        "q10_having": _Q10_SQL,
        "q11_time_bin": _Q11_SQL,
        "q13_sort_offset_limit": _Q13_SQL,
        "q14_coalesce": _Q14_SQL,
        "q15_union_merge": _Q15_SQL,
        "q16_window_topk_per_group": _Q16_SQL,
        "q17_json_extract": _Q17_SQL,
        "q19_multi_agg": _Q19_SQL,
        "q20_sessionize": _Q20_SQL,
        "q21_fingerprint": _Q21_SQL,
        "q22_text_stats": _Q22_SQL,
        "q23_lang_guess": _Q23_SQL,
        "q25_ngram_jaccard": _Q25_SQL,
        "q26_minhash": _Q26_SQL,
        "q28_dedup_exact": _Q28_SQL,
        "q29_cosine_topk": _Q29_SQL,
        "q30_label_centroids": _Q30_SQL,
        "q31_lsh_topk": _Q31_SQL,
        "q32_minhash_lsh_pairs": _Q32_SQL,
        "q33_ivf_topk": _Q33_SQL,
        "q34_hypertable_rollup": _Q34_SQL,
        "q35_event_chain_ancestry": _Q35_SQL,
        "q36_asof_join": _Q36_SQL,
        "q37_range_join": _Q37_SQL,
        "q38_cosine_near_dup": _Q38_SQL,
        "q39_media_probe": _Q39_SQL,
        "q41_context_pack": _Q41_SQL,
        "q42_corpus_prep": _Q42_SQL,
        "q44_sampling": _Q44_SQL,
        "q45_dedup_clusters": _q45_sql(),
        "q46_quantize_embeddings": _Q46_SQL,
        "q47_decontaminate": _Q47_SQL,
        "q48_repetition": _Q48_SQL,
        "q49_chunk_documents": _Q49_SQL,
        "q50_doc_term_stats": _Q50_SQL,
        "q51_corpus_profile": _Q51_SQL,
        "q53_pii_scrub": _Q53_SQL,
        "q54_stix_extract": _Q54_SQL,
        "q55_stix_deref_group": _Q55_SQL,
        "q56_stix_value_counts": _Q56_SQL,
        "q57_stix_timestamped": _Q57_SQL,
        "q58_stix_path_join": _Q58_SQL,
        "q59_stix_reassign": _Q59_SQL,
    }
