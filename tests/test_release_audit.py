"""Regression gate for cache release and slot correctness.

Library operators persist intermediates through
``firepit_spark.functions.persist``; ``release(result)`` finds the ones a
result's plan reads and unpersists them. This test runs EVERY declared
slot end-to-end at sf0.001, checks its rows against the slot's DuckDB
``oracle_sql()`` twin (scripts/check_correctness.py's rules), releases,
and asserts the session CacheManager is EMPTY — any future operator that
persists a frame its result no longer reads (or persists without
``persist()``) fails here.

Two library-level pipeline cases cover operators that COMPOSE
cache-holding stages outside any slot (fuzzy_dedup's band index sits
behind a lineage-truncated component loop; ngram_contamination's Bloom
side). The contract tests at the end pin what release() must follow
(projections, joins) and what it must leave alone (user-persisted
frames, unrelated library caches).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
from check_correctness import compare, oracle_db  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _slots():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries())


@pytest.fixture(scope="module")
def oracle():
    con = oracle_db(SF_DIR)
    yield con
    con.close()


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize("slot", _slots())
def test_release_leaves_cache_manager_empty(spark, oracle, slot):
    import __spark_entry__ as entrymod
    from firepit_spark.functions import release

    cm = _cache_manager(spark)
    # other session users may have left caches; start clean so the
    # assertion below isolates THIS slot's behavior
    spark.catalog.clearCache()
    df = entrymod.queries()[slot](spark, SF_DIR)
    cols = [c.lower() for c in df.columns]
    rows = df.collect()
    release(df)
    leaked = not cm.isEmpty()
    if leaked:
        spark.catalog.clearCache()
    assert not leaked, f"{slot} left persisted frames after release()"
    sql = entrymod.oracle_sql().get(slot)
    if sql is not None:
        res = oracle.execute(sql)
        problems = compare(
            cols, rows, [d[0].lower() for d in res.description], res.fetchall()
        )
        assert not problems, f"{slot}: " + "; ".join(problems[:4])


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_fuzzy_dedup_release_leaves_cache_manager_empty(spark):
    from firepit_spark.functions import release
    from firepit_spark.functions.dedup import fuzzy_dedup

    cm = _cache_manager(spark)
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

    cm = _cache_manager(spark)
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


# ------------------------------------------------------ release() contract


def _procs(spark, prefix):
    """A three-level process chain: p0 <- p1 <- p2 <- p3."""
    return spark.createDataFrame(
        [(f"{prefix}{i}", f"{prefix}{i - 1}" if i else None) for i in range(4)],
        "id STRING, parent_ref STRING",
    )


def _is_cached(spark, df) -> bool:
    return _cache_manager(spark).lookupCachedData(df._jdf).isDefined()


def test_release_follows_select_and_join(spark):
    """An operator result wrapped in .select() and then .join() still
    frees the operator's caches."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import ancestors

    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    procs = _procs(spark, "p")
    wrapped = (
        ancestors(procs, max_depth=3)
        .select(F.col("descendant_id").alias("id"), "depth")
        .join(procs, "id")
    )
    want = sorted(map(tuple, wrapped.collect()))
    assert not cm.isEmpty()
    release(wrapped)
    leaked = not cm.isEmpty()
    spark.catalog.clearCache()
    assert not leaked, "release() lost the caches behind select/join"
    assert sorted(map(tuple, wrapped.collect())) == want


def test_release_keeps_user_persisted_frame(spark):
    """A frame the user persisted stays cached even when the released
    result reads it."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import ancestors

    spark.catalog.clearCache()
    user = _procs(spark, "u").persist()
    out = ancestors(user, max_depth=3).join(
        user.select(F.col("id").alias("descendant_id")), "descendant_id"
    )
    out.count()
    release(out)
    try:
        assert _is_cached(spark, user)
        assert _cache_manager(spark).cachedData().size() == 1
    finally:
        spark.catalog.clearCache()


def test_release_keeps_unrelated_library_cache(spark):
    """Releasing one operator result leaves another result's caches in
    place until that result is released."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import ancestors

    cm = _cache_manager(spark)
    spark.catalog.clearCache()
    first = ancestors(_procs(spark, "a"), max_depth=3)
    second = ancestors(_procs(spark, "b"), max_depth=3)
    first.count()
    want = sorted(map(tuple, second.collect()))
    held = cm.cachedData().size()
    release(first)
    try:
        assert 0 < cm.cachedData().size() < held
        assert sorted(map(tuple, second.collect())) == want
        release(second)
        assert cm.isEmpty()
    finally:
        spark.catalog.clearCache()
