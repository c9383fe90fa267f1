"""Web/URL curation ops: parse fields vs urllib, normalization vs a pure
Python reference of the same rules, registered-domain roll-up, blocklist
filtering, and the skew-safe per-domain cap."""

from __future__ import annotations

from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from firepit_spark.functions import web as wb
from firepit_spark.functions.pipeline import per_group_sample

URLS = [
    "https://WWW.Example.COM/path/to/page?b=2&a=1&utm_source=x#frag",
    "http://example.co.uk:80/?utm_campaign=c&z=9",
    "https://sub.host.example.com:8443/deep/path?gclid=abc&q=spark",
    "http://user:pw@blog.example.org:8080/a%20b?x=1",
    "https://example.com",
    "http://news.example.ac.jp/articles?id=7&fbclid=zz&ref=tw",
    "https://single-label/x?utm_medium=m",
    "http://a.b.c.d.example.net/long?p=1&p=0",
    "ftp://files.example.com:21/pub",
    "https://example.com:443/exact?A=2&a=1",
    "http://h.example.com/p#f?notaquery=1",  # '?' inside fragment
]


def py_port(s) -> int | None:
    """urllib's .port, with its out-of-range ValueError mapped to the
    garbage-returns-NULL contract url_port documents."""
    try:
        return s.port
    except ValueError:
        return None


def py_normalize(u: str) -> str:
    """Pure-Python reference for url_normalize's documented rules."""
    s = urlsplit(u)
    scheme = s.scheme.lower()
    host = (s.hostname or "").lower()
    port = py_port(s)
    default = (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    port_part = f":{port}" if (port is not None and not default) else ""
    path = s.path or "/"
    kept = sorted(
        p
        for p in s.query.split("&")
        if p
        and not p.split("=")[0].startswith("utm_")
        and p.split("=")[0] not in wb.TRACKING_PARAMS
    )
    query_part = "?" + "&".join(kept) if kept else ""
    return f"{scheme}://{host}{port_part}{path}{query_part}"


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame([(i, u) for i, u in enumerate(URLS)], "i INT, url STRING")


def test_parse_fields_match_urllib(urls_df):
    rows = wb.parse_urls(urls_df).orderBy("i").collect()
    for row, u in zip(rows, URLS):
        s = urlsplit(u)
        assert row["scheme"] == s.scheme.lower(), u
        assert row["host"] == (s.hostname or ""), u
        assert row["port"] == py_port(s), u
        assert row["path"] == s.path, u
        assert row["query"] == s.query, u
        assert row["fragment"] == s.fragment, u


def test_normalize_matches_python_reference_and_is_idempotent(spark, urls_df):
    got = [r["url_norm"] for r in wb.parse_urls(urls_df).orderBy("i").collect()]
    assert got == [py_normalize(u) for u in URLS]
    again = spark.createDataFrame(
        [(i, u) for i, u in enumerate(got)], "i INT, url STRING"
    )
    got2 = [r["url_norm"] for r in wb.parse_urls(again).orderBy("i").collect()]
    assert got2 == got  # normalization is a fixpoint


def test_normalize_null_for_non_absolute(spark):
    df = spark.createDataFrame(
        [("/relative/path?a=1",), ("not a url at all",), ("mailto:x",), (None,)],
        "url STRING",
    )
    got = [r[0] for r in df.select(wb.url_normalize(F.col("url"))).collect()]
    assert got == [None, None, None, None]


def test_registered_domain(urls_df):
    got = {
        r["host"]: r["domain"] for r in wb.parse_urls(urls_df).collect()
    }
    assert got["www.example.com"] == "example.com"
    assert got["example.co.uk"] == "example.co.uk"
    assert got["sub.host.example.com"] == "example.com"
    assert got["news.example.ac.jp"] == "example.ac.jp"
    assert got["single-label"] == "single-label"
    assert got["a.b.c.d.example.net"] == "example.net"


def test_domain_filter_list_and_frame(spark, urls_df):
    parsed = wb.parse_urls(urls_df)
    blocked = wb.domain_filter(parsed, ["example.com"], mode="block")
    assert all(r["domain"] != "example.com" for r in blocked.collect())
    allowed = wb.domain_filter(parsed, ["example.com"], mode="allow")
    assert {r["domain"] for r in allowed.collect()} == {"example.com"}
    assert blocked.count() + allowed.count() == parsed.count()

    bl = spark.createDataFrame([("Example.COM",), ("example.net",)], "d STRING")
    blocked2 = wb.domain_filter(parsed, bl, mode="block")
    assert {r["domain"] for r in blocked2.collect()} & {"example.com", "example.net"} == set()
    allowed2 = wb.domain_filter(parsed, bl, mode="allow")
    assert blocked2.count() + allowed2.count() == parsed.count()
    with pytest.raises(ValueError):
        wb.domain_filter(parsed, ["x"], mode="drop")


@pytest.fixture(scope="module")
def skewed(spark):
    # one mega-domain (120 rows), one exactly-at-cap (10), many tiny
    rows = [(i, "big.com") for i in range(120)]
    rows += [(1000 + i, "atcap.com") for i in range(10)]
    rows += [(2000 + i, f"tiny{i % 17}.org") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id INT, domain STRING")


def test_cap_per_key_counts_and_skew_safe_equivalence(skewed):
    capped = wb.cap_per_domain(skewed, 10, salt="s")
    sizes = {r["domain"]: r["n"] for r in capped.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert sizes["big.com"] == 10
    assert sizes["atcap.com"] == 10
    assert all(v <= 10 for v in sizes.values())

    plain = wb.cap_per_domain(skewed, 10, salt="s", skew_safe=False)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, plain.collect()))

    # identical selection to per_group_sample's hash order (same primitive)
    pgs = per_group_sample(skewed, "domain", "doc_id", 10, salt="s")
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, pgs.collect()))

    # deterministic under repartitioning
    repart = wb.cap_per_domain(skewed.repartition(7), 10, salt="s")
    assert sorted(map(tuple, repart.collect())) == sorted(map(tuple, capped.collect()))


def test_cap_per_key_windows_only_hot_keys(skewed):
    plan = wb.cap_per_domain(skewed, 10, salt="s")._jdf.queryExecution().executedPlan().toString()
    # exactly one window operator (over the broadcast-semi hot subset); the
    # cold leg is a broadcast anti join with no sort
    assert plan.count("Window [") == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cap_per_key_null_keys_match_plain_window(spark):
    rows = [(i, None) for i in range(25)] + [(100 + i, "a.org") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id INT, domain STRING")
    safe = wb.cap_per_domain(df, 10, salt="n")
    plain = wb.cap_per_domain(df, 10, salt="n", skew_safe=False)
    assert sorted(map(tuple, safe.collect())) == sorted(map(tuple, plain.collect()))
    nulls = [r for r in safe.collect() if r["domain"] is None]
    assert len(nulls) == 10  # the NULL-key group is capped too


def test_cap_validation(skewed):
    with pytest.raises(ValueError):
        wb.cap_per_key(skewed, "domain", 0, "doc_id")


# ------------------------------------------------------- hypothesis fuzz

from hypothesis import given, settings, strategies as st

_label = st.from_regex(r"[a-z]([a-z0-9-]{0,6}[a-z0-9])?", fullmatch=True)
_pkey = st.from_regex(r"[a-zA-Z][a-zA-Z0-9_]{0,5}", fullmatch=True)
_pval = st.from_regex(r"[a-zA-Z0-9~.]{0,6}", fullmatch=True)


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HTTPS", "ftp"]))
    host = ".".join(draw(st.lists(_label, min_size=1, max_size=4)))
    if draw(st.booleans()):
        host = host.upper() if draw(st.booleans()) else host.title()
    # include out-of-range and int32-overflowing ports: dirty crawl data
    # carries them, and the pre-r9 cast('int') raised under ANSI mode
    port = draw(
        st.one_of(
            st.none(), st.integers(1, 65535), st.integers(65536, 10**12)
        )
    )
    segs = draw(st.lists(_pval, min_size=0, max_size=3))
    path = "/" + "/".join(segs) if segs else draw(st.sampled_from(["", "/"]))
    pairs = draw(st.lists(st.tuples(_pkey, _pval), min_size=0, max_size=4))
    if draw(st.booleans()):
        pairs.append(("utm_campaign", "x"))
    query = "&".join(f"{k}={v}" for k, v in pairs)
    frag = draw(st.one_of(st.none(), _pval))
    url = f"{scheme}://{host}"
    if port is not None:
        url += f":{port}"
    url += path
    if query:
        url += f"?{query}"
    if frag is not None:
        url += f"#{frag}"
    return url


@settings(max_examples=30, deadline=None)
@given(st.lists(_urls(), min_size=1, max_size=12, unique=True))
def test_fuzz_parse_matches_urllib_and_normalize_idempotent(spark, urls):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i INT, url STRING")
    rows = wb.parse_urls(df).orderBy("i").collect()
    for row, u in zip(rows, urls):
        s = urlsplit(u)
        assert row["scheme"] == s.scheme.lower(), u
        assert row["host"] == (s.hostname or ""), u
        assert row["port"] == py_port(s), u
        assert row["path"] == s.path, u
        assert row["query"] == s.query, u
        assert row["fragment"] == (s.fragment or ""), u
        assert row["url_norm"] == py_normalize(u), u
    # normalization is a fixpoint on every fuzzed URL
    again = spark.createDataFrame(
        [(i, r["url_norm"]) for i, r in enumerate(rows)], "i INT, url STRING"
    )
    renorm = [r["url_norm"] for r in wb.parse_urls(again).orderBy("i").collect()]
    assert renorm == [r["url_norm"] for r in rows]


def test_url_port_garbage_is_null_not_ansi_error(spark):
    """Ports wider than int32 or outside 0..65535 must go to NULL (r9
    ADVICE fix): under Spark 4 default ANSI mode the old cast('int')
    raised CAST_INVALID_INPUT and failed the whole scan on one dirty
    crawl record."""
    df = spark.createDataFrame(
        [
            (0, "http://h:99999999999/x"),     # wider than int32
            (1, "http://h:65536/x"),            # just out of TCP range
            (2, "http://h:65535/x"),            # boundary: valid
            (3, "https://h:443/x"),             # valid default port
        ],
        "i INT, url STRING",
    )
    rows = (
        df.select("i", wb.url_port(F.col("url")).alias("p"), wb.url_normalize(F.col("url")).alias("n"))
        .orderBy("i")
        .collect()
    )
    assert [r["p"] for r in rows] == [None, None, 65535, 443]
    # normalization survives the garbage rows instead of raising
    assert rows[0]["n"] == "http://h/x"
    assert rows[2]["n"] == "http://h:65535/x"
    assert rows[3]["n"] == "https://h/x"


def test_cap_per_key_auto_mode_three_regimes(spark, skewed):
    """mode='auto' (r9): measure the hot set, then choose — pass-through
    when nothing is over cap, skew-safe split for a modest hot set,
    plain window beyond hot_key_limit. All regimes row-identical to the
    plain window."""
    want = sorted(map(tuple, wb.cap_per_domain(skewed, 10, salt="s", skew_safe=False).collect()))

    # regime 1: pre-capped corpus -> the INPUT frame comes back untouched
    pre_capped = wb.cap_per_domain(skewed, 10, salt="s", mode="auto")
    again = wb.cap_per_key(pre_capped, "domain", 10, "doc_id", salt="s", mode="auto")
    assert again is pre_capped  # no window, no joins, zero-cost fast path
    assert sorted(map(tuple, pre_capped.collect())) == want

    # regime 2: modest hot set -> skew-safe split (one window over the
    # hot side only). Plan asserted on a fresh un-executed frame — after
    # an action AQE's toString interleaves nested Initial/Final sections.
    assert sorted(map(tuple, pre_capped.collect())) == want
    plan2 = (
        wb.cap_per_domain(skewed, 10, salt="s", mode="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan2.count("Window [") == 1
    assert "BroadcastHashJoin" in plan2 or "BroadcastNestedLoopJoin" in plan2

    # regime 3: hot set wider than hot_key_limit -> plain single window
    wide = wb.cap_per_key(skewed, "domain", 10, "doc_id", salt="s", mode="auto", hot_key_limit=0)
    assert sorted(map(tuple, wide.collect())) == want
    plan3 = (
        wb.cap_per_key(skewed, "domain", 10, "doc_id", salt="s", mode="auto", hot_key_limit=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan3.count("Window [") == 1 and "Join" not in plan3

    with pytest.raises(ValueError):
        wb.cap_per_key(skewed, "domain", 10, "doc_id", mode="eager")

    # the decision count's pinned hot frame is freed by release()
    from firepit_spark.functions import release

    again2 = wb.cap_per_domain(skewed, 10, salt="s", mode="auto")
    again2.count()
    assert "InMemoryTableScan" in _fresh_plan(again2)
    release()
    assert "InMemoryTableScan" not in _fresh_plan(again2)
    assert sorted(map(tuple, again2.collect())) == want  # recomputes


def _fresh_plan(df) -> str:
    """Executed plan of a new query over ``df``'s plan: cache substitution
    runs at analysis, so it reflects the CacheManager as of now."""
    return df.select("*")._jdf.queryExecution().executedPlan().toString()


def test_cap_per_key_skew_mode_persists_hot_set_once(skewed):
    """mode='skew' (VERDICT r9 #7): the hot aggregate feeds BOTH join
    legs; persisting it makes single computation a plan property instead
    of relying on Catalyst exchange reuse. release() frees the cache, as
    in auto mode."""
    from firepit_spark.functions import release

    sc = skewed.sparkSession.sparkContext

    def cached_ids():
        # RDDs of the CacheManager's materialized in-memory relations
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = cached_ids()
    capped = wb.cap_per_domain(skewed, 10, salt="s", mode="skew")
    capped.count()  # materialize: the hot frame lands in the cache
    added = cached_ids() - before
    assert added
    # both legs now read InMemoryTableScan of the SAME cached aggregate —
    # the executed plan carries no second aggregation of the hot set
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    release()
    assert not (cached_ids() & added)
    assert "InMemoryTableScan" not in _fresh_plan(capped)


# ------------------------------------------- PSL-table registered domain

# Bundled snippet of the real public-suffix list: multi-label suffixes,
# a wildcard, and an exception (format-faithful, incl. comments)
PSL_SNIPPET = """\
// ===BEGIN ICANN DOMAINS===
com
net
org
uk
co.uk
gov.uk
br
com.br
jp
ac.jp
ck
*.ck
!www.ck
// ===BEGIN PRIVATE DOMAINS===
io
github.io
"""


def py_registered_domain_psl(host, rules_lines):
    """Pure-Python reference of the publicsuffix.org algorithm."""
    rules = []
    for line in rules_lines.splitlines():
        line = line.strip().split()[0] if line.strip() else ""
        if not line or line.startswith("//"):
            continue
        rules.append(line)
    labels = host.lower().split(".")
    matches = []
    for rule in rules:
        exception = rule.startswith("!")
        r = rule[1:] if exception else rule
        rl = r.split(".")
        if len(rl) > len(labels):
            continue
        tail = labels[-len(rl):]
        ok = all(a == b or a == "*" for a, b in zip(rl, tail))
        if ok:
            matches.append((exception, len(rl), rl))
    exceptions = [m for m in matches if m[0]]
    if exceptions:
        ps_len = max(m[1] for m in exceptions) - 1
    elif matches:
        ps_len = max(m[1] for m in matches)
    else:
        ps_len = 1  # implicit '*' default rule
    if len(labels) <= ps_len:
        return None
    return ".".join(labels[-(ps_len + 1):])


def test_registered_domain_psl_differential(spark):
    hosts = [
        "www.example.com",
        "example.com.br",            # multi-label suffix the heuristic misses
        "sub.example.com.br",
        "com.br",                    # IS a public suffix -> NULL
        "foo.github.io",             # private-section suffix
        "deep.foo.github.io",
        "github.io",                 # IS a public suffix -> NULL
        "example.co.uk",
        "b.example.gov.uk",
        "foo.bar.ck",                # wildcard *.ck -> bar.ck public
        "bar.ck",                    # matched by *? no: needs a label for *
        "www.ck",                    # exception !www.ck -> registrable itself
        "sub.www.ck",
        "example.xyz",               # unknown TLD -> implicit '*' default
        "xyz",                       # bare unknown TLD -> NULL
        "UPPER.Example.COM",         # case-folded
        "example.jp",
        "host.ac.jp",
        "ac.jp",
    ]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(hosts)], "i INT, host STRING")
    rules = wb.psl_rules(spark, PSL_SNIPPET.splitlines())
    got = {
        r["host"]: r["reg_domain"]
        for r in wb.registered_domain_psl(df, "host", rules).collect()
    }
    for h in hosts:
        assert got[h] == py_registered_domain_psl(h, PSL_SNIPPET), h
    # spot-check the cases that motivated the table variant
    assert got["example.com.br"] == "example.com.br"
    assert got["foo.github.io"] == "foo.github.io"
    assert got["foo.bar.ck"] == "foo.bar.ck"
    assert got["www.ck"] == "www.ck"
    assert got["com.br"] is None


def test_registered_domain_psl_plan_is_broadcast_only(spark):
    df = spark.createDataFrame([("a.example.com",)], "host STRING")
    rules = wb.psl_rules(spark, PSL_SNIPPET.splitlines())
    plan = (
        wb.registered_domain_psl(df, "host", rules)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every PSL probe is a broadcast hash join; the corpus side never
    # hits a shuffle exchange
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan

    with pytest.raises(ValueError):
        wb.registered_domain_psl(df, "host", rules, out_col="host")
    with pytest.raises(ValueError):
        wb.psl_rules(spark, ["foo.*.bar"])
