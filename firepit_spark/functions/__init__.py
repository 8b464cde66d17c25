"""Scalar/column function library.

Everything here is built from ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen eligible) unless genuinely impossible, in which case an
Arrow-batched Pandas UDF is used — never row-at-a-time Python UDFs.
"""

import threading

from pyspark.sql import functions as F


def epoch_seconds(col):
    """Fractional epoch seconds for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    ``cast("double")`` is illegal on TIMESTAMP_NTZ (DATATYPE_MISMATCH in
    Spark 4); routing through ``timestamp_ltz`` first is legal for both
    types and, under the UTC session timezone this engine pins
    (session.py), matches ANSI/DuckDB ``epoch(ts)`` exactly, microseconds
    included. Also accepts date/string inputs via the same cast chain.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("double")


# Frames the library persisted on a result's behalf, by id(); release()
# picks the ones a result's plan reads. Strong references: the CacheManager
# keeps an unreleased cache alive anyway, and release() needs the handle.
_persisted: dict = {}
_persisted_lock = threading.Lock()


def persist(df, level=None):
    """``df.persist(level)``, recorded so :func:`release` can free it once
    a result that reads it is done. Returns the persisted frame."""
    df = df.persist() if level is None else df.persist(level)
    with _persisted_lock:
        for key in [k for k, f in _persisted.items() if not f.is_cached]:
            del _persisted[key]
        _persisted[id(df)] = df
    return df


def _cache_builders(df) -> dict:
    """identityHashCode -> CachedRDDBuilder of every cache ``df``'s plan
    reads: the InMemoryRelations of its cache-substituted logical plan,
    subqueries included, and every cache nested inside those caches'
    physical plans (behind adaptive query stages and reused exchanges)."""
    jvm = df.sparkSession._jvm
    found = {}
    plans = [df._jdf.queryExecution().withCachedData()]
    while plans:
        plan = plans.pop()
        subs = plan.subqueriesAll()
        for tree in [plan] + [subs.apply(i) for i in range(subs.size())]:
            leaves = tree.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                kind = leaf.getClass().getSimpleName()
                if kind == "InMemoryRelation":
                    builder = leaf.cacheBuilder()
                    key = jvm.System.identityHashCode(builder)
                    if key not in found:
                        found[key] = builder
                        plans.append(builder.cachedPlan())
                elif kind == "InMemoryTableScanExec":
                    plans.append(leaf.relation())
                elif kind == "AdaptiveSparkPlanExec":
                    plans.append(leaf.executedPlan())
                elif kind.endswith("QueryStageExec"):
                    plans.append(leaf.plan())
                elif kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
                    plans.append(leaf.child())
    return found


def _unpersist_matching(df, builders: dict) -> None:
    """Unpersist every recorded frame whose cache is in ``builders``, and
    forget recorded frames whose cache is already gone.

    All matches are taken before the first unpersist: uncaching a frame
    rebuilds the builders of caches that read it. Frames go in reverse
    persist order, so a cache is usually dropped before the ones it
    reads and nothing is rebuilt in between."""
    with _persisted_lock:
        frames = list(_persisted.items())
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    jvm = df.sparkSession._jvm
    owned, gone = [], []
    for key, frame in frames:
        cached = cm.lookupCachedData(frame._jdf)
        if not cached.isDefined():
            gone.append(key)
            continue
        builder = cached.get().cachedRepresentation().cacheBuilder()
        hit = builders.get(jvm.System.identityHashCode(builder))
        if hit is not None and hit.equals(builder):
            owned.append((key, frame))
    for key, frame in reversed(owned):
        frame.unpersist()
        gone.append(key)
    with _persisted_lock:
        for key in gone:
            _persisted.pop(key, None)


def release(df) -> None:
    """Free the caches the library persisted for ``df``.

    Iterative and multi-consumer operators (``ancestors``,
    ``ngram_jaccard_pairs``, the storage observation memo, ...) persist
    intermediates that the returned lazy plan still reads; Spark's
    CacheManager holds them until unpersisted, so a long-lived session
    calls ``release(result)`` after the terminal action. One-shot jobs
    can skip it (session teardown frees everything).

    The caches are found in ``df``'s own plan, so release still works
    after ``.select()``, ``.join()`` or a union over the operator's
    result, and also frees caches nested inside them. Only frames the
    library persisted through :func:`persist` are freed: a frame the
    user persisted stays cached even when ``df`` reads it. Safe on any
    DataFrame; a no-op when the plan reads no library cache.
    """
    release_except(df, keep=None)


def release_except(df, keep) -> None:
    """:func:`release` ``df``, but keep every cache ``keep``'s plan reads.

    For freeing an intermediate result early while a frame it reads
    (e.g. a persisted input) still feeds later stages."""
    with _persisted_lock:
        if not _persisted:
            return
    builders = _cache_builders(df)
    if keep is not None:
        for key in _cache_builders(keep):
            builders.pop(key, None)
    _unpersist_matching(df, builders)
