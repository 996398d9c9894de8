"""Keep-latest cache bookkeeping for operators that persist a shared
intermediate and return a LAZY result.

These operators (heavy_hitters' stats fold, the media-dedup hash frames,
the scrub-corpus token frame, minhash's shingle frame) persist a frame
that feeds two or more consumers inside the returned plan, so the
operator cannot unpersist before the CALLER's action runs — but in one
long-lived session, repeated invocations used to accumulate dead cache
entries until eviction pressure produced multi-second GC/eviction spikes
(measured in r-earlier rounds; bench/sim clear cache per query precisely
because of this).

`keep_latest(tag, frame)` bounds that to ONE live frame per operator:
each invocation registers its freshly persisted frame and unpersists the
PREVIOUS invocation's. A late consumer of an earlier result stays
CORRECT — the plan recomputes the intermediate from lineage, it is just
no longer cached (the same contract the bench's per-query clearCache has
always imposed). Concurrent invocations of one operator likewise only
cost recomputation, never wrong results, because each invocation's
returned plan never references another invocation's frame.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_PREV: dict[str, list[DataFrame]] = {}


def same_cache_entry(a: DataFrame, b: DataFrame) -> bool:
    """True when the two frames resolve to the SAME CacheManager entry.
    Spark's cache is keyed by analyzed-plan equality (sameResult), not by
    DataFrame object: a repeated invocation over the same input persists
    into the prior invocation's entry, so unpersisting the prior frame
    would silently kill the NEW invocation's cache too (measured: the
    repeated-bench-query case lost every InMemoryTableScan). On any
    introspection failure err toward True — skipping a release leaks one
    bounded entry, releasing a shared one loses the cache."""
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return True


def keep_latest(tag: str, frame: DataFrame) -> DataFrame:
    """Record `frame` as operator `tag`'s live persisted intermediate and
    release the previous one UNLESS it shares `frame`'s cache entry (see
    module docstring and same_cache_entry). Returns `frame`."""
    with _LOCK:
        prev = _PREV.get(tag, [])
        _PREV[tag] = [frame]
    for old in prev:
        if old is frame or same_cache_entry(old, frame):
            continue
        try:
            old.unpersist()
        except Exception:
            pass
    return frame
