"""Regression gate for the cache-release audit (r13-opt, widened r14-opt).

Operators register every frame that outlives their call with
``functions.pin``; ``release()`` unpersists them all. A persist that
bypasses the registry is invisible to ``release()``, and later
invocations reuse the previous run's caches through the CacheManager
(found live on q35 and q38 in round 13, when handles rode on the result
object and a ``.select()`` dropped them; bench medians were
under-measurements). This test runs EVERY declared slot end-to-end at
sf0.001, releases, and asserts the session CacheManager is EMPTY — any
future slot or operator that persists outside the registry fails here.

Two library-level pipeline cases cover operators that COMPOSE
caching stages outside any slot (the r13 advice finding: fuzzy_dedup
once lost minhash_lsh_candidates' band index).
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _slots():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize("slot", _slots())
def test_release_leaves_cache_manager_empty(spark, slot):
    import __spark_entry__ as entrymod
    from firepit_spark.functions import release

    cm = spark._jsparkSession.sharedState().cacheManager()
    # other session users may have left caches; start clean so the
    # assertion below isolates THIS slot's behavior
    spark.catalog.clearCache()
    qs = entrymod.queries()
    df = qs[slot](spark, SF_DIR)
    df.count()
    release(df)
    leaked = not cm.isEmpty()
    if leaked:
        spark.catalog.clearCache()
    assert not leaked, f"{slot} left persisted frames after release()"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_fuzzy_dedup_release_leaves_cache_manager_empty(spark):
    from firepit_spark.functions import release
    from firepit_spark.functions.dedup import fuzzy_dedup

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    out = fuzzy_dedup(docs, threshold=0.5)
    out.count()
    release(out)
    leaked = not cm.isEmpty()
    if leaked:
        spark.catalog.clearCache()
    assert not leaked, "fuzzy_dedup left persisted frames after release()"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_contamination_bloom_release_leaves_cache_manager_empty(spark):
    from firepit_spark.functions import release
    from firepit_spark.functions.dedup import ngram_contamination

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    train = docs.filter("doc_id % 2 = 0")
    ev = docs.filter("doc_id % 2 = 1").limit(20)
    out = ngram_contamination(train, ev, n=5, bloom_fpp=0.01)
    out.count()
    release(out)
    leaked = not cm.isEmpty()
    if leaked:
        spark.catalog.clearCache()
    assert not leaked, "ngram_contamination left persisted frames after release()"
