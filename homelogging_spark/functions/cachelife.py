"""Cache lifecycle for per-query persisted intermediates.

Operators that reuse a frame across two sides of a self-join (LSH
signature tables, bucket frames) persist() it so the projection folds
run once — but the operator returns a lazy DataFrame, so it cannot
unpersist before the caller has executed the plan. Left alone, each
invocation leaks one cached frame for the session lifetime (a slow
memory leak in a long-lived driver).

``tracked_persist`` registers every such frame; a driver calls
``release_caches()`` at its own safe point — after an action has
consumed the query (bench does this per query, the oracle checker per
comparison). Concurrent contexts (foreachBatch bodies run on stream
execution threads) must NOT use the global release — it would unpersist
every other job's tracked frames mid-computation; they wrap their work
in ``cache_scope()``, which releases only the frames the current thread
tracked inside the scope. Frames memoized across queries on purpose
(the battery sim, ``plans/battery_registry._shared_sim``) do NOT use
this tracker: releasing them would silently turn the memo into a
recompute-every-use.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
_TRACKED: list[tuple[int, DataFrame]] = []
_COUNT = threading.local()


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a frame and register it for a later bulk release."""
    df.persist()
    with _LOCK:
        _TRACKED.append((threading.get_ident(), df))
    _COUNT.n = persist_count() + 1
    return df


def persist_count() -> int:
    """How many frames this thread has tracked so far. A caller that
    must know whether some code persisted a frame (the plan cache never
    keeps such a plan) compares the count before and after it."""
    return getattr(_COUNT, "n", 0)


def _unpersist_all(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def release_caches() -> int:
    """Unpersist every tracked frame (blocking=False: executors free the
    blocks asynchronously). Returns how many were released. Safe to call
    any time — an unpersisted frame that is re-executed later is merely
    recomputed, never wrong. Single-driver-thread tool loops only; a
    concurrent context uses ``cache_scope`` so it cannot release frames
    another thread is still computing over."""
    with _LOCK:
        frames = [df for _, df in _TRACKED]
        _TRACKED.clear()
    _unpersist_all(frames)
    return len(frames)


@contextmanager
def cache_scope():
    """Release, on exit, exactly the frames THIS THREAD tracked inside
    the scope — the foreachBatch-safe form of ``release_caches``. Other
    threads' frames (a concurrent stream's micro-batch, a driver-side
    batch job) and this thread's pre-existing frames are left alone."""
    tid = threading.get_ident()
    with _LOCK:
        before = {id(df) for t, df in _TRACKED if t == tid}
    try:
        yield
    finally:
        with _LOCK:
            mine = [
                (t, df)
                for t, df in _TRACKED
                if t == tid and id(df) not in before
            ]
            for entry in mine:
                _TRACKED.remove(entry)
        _unpersist_all([df for _, df in mine])
