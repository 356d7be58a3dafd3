"""Pipeline-scoped cache lifecycle — unpersist-on-exit for the
``cache_narrow`` discipline.

Several operators cache narrow intermediate frames because Catalyst does
not dedupe common subtrees (the slim token match in operators/lookup.py,
the tf aggregate in pipeline/salience.py, the label dictionary and
distinct surfaces in pipeline/run.py). A batch job exits and the
executors die with it — no leak. But a long-lived SERVICE session
calling such operators repeatedly accumulates cached frames until the
storage tier evicts under pressure (round-4 verdict's one lifecycle
caution).

:class:`CacheScope` closes the gap without changing any operator
signature: operators route their ``.cache()`` calls through
:func:`scoped_cache`, which registers the frame with the innermost
active scope (thread-local). When no scope is active the behavior is
exactly the old one — cache and leave it to the session (batch
semantics, results stay lazily consumable). A service wraps each request
in a scope and every frame cached underneath is unpersisted on exit:

    with CacheScope():
        out = run_pipeline(spark, ...)
        result = out["triples"].collect()   # consume INSIDE the scope
    # all caches created by the pipeline are now unpersisted

Scopes nest; each frame unpersists with the scope that created it.
Unpersist is non-blocking (storage reclaim proceeds asynchronously —
the Spark default for ``DataFrame.unpersist``).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_local = threading.local()


def _stack() -> list["CacheScope"]:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


class CacheScope:
    """Context manager tracking every :func:`scoped_cache` call made while
    it is the innermost active scope; unpersists them all on exit."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def __enter__(self) -> "CacheScope":
        _stack().append(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # LIFO: later frames may derive from earlier ones
        for df in reversed(self._frames):
            try:
                df.unpersist()
            except Exception:  # session already stopped — nothing to free
                pass
        self._frames.clear()
        _stack().remove(self)

    def register(self, df: DataFrame) -> DataFrame:
        self._frames.append(df)
        return df


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, registered with the innermost active
    :class:`CacheScope` (no-op registration when none is active — the
    classic cache-and-leave batch lifecycle)."""
    df = df.cache()
    stack = _stack()
    if stack:
        stack[-1].register(df)
    return df


def in_caller_scopes(fn):
    """``fn`` wrapped to run under the scopes active on the calling
    thread, so frames it caches on a pool thread are released with the
    caller's scope."""
    scopes = list(_stack())

    def run(*args, **kwargs):
        prev = _stack()
        _local.stack = list(scopes)
        try:
            return fn(*args, **kwargs)
        finally:
            _local.stack = prev
    return run
