"""Persist-lifecycle ownership for library operators.

Round-2 verdict finding: library functions persist() fan-out intermediates
(required — Spark re-executes the whole lineage per consumer, BENCH.md
rule 2) but never unpersist, so a long-lived session leaks
InMemoryRelations across queries (measured: identical knn_ivf run 21 s
polluted vs 7.7 s isolated). The caches can't be dropped before the
caller's terminal action — the returned DataFrame still reads them — so
release is deferred to that action, under one lifetime rule: the first
terminal action on an owned result releases every registered cache.

* ``managed(df)`` — persist + register in the process-global registry.
* ``own_session(df)`` — the result every persisting library operator
  returns, and every driver query wraps again (the wrapper class doesn't
  survive transformations): its first terminal action calls release_all.
* ``release_all()`` — unpersist every registered cache; for code that
  transforms an owned result before acting (the streaming micro-batch).

Release is session-wide, not per operator. That is safe because no
library code runs an action on another library result while building its
plan: the only library-internal actions are CheckpointRunner's lineage /
count collects and the streaming batch's isEmpty.

Terminal actions: collect/toPandas/count/take/head/first/tail/show/
isEmpty/foreach*/checkpoint release immediately; ``df.write.…`` sink calls
release after the write (via a DataFrameWriter proxy); ``toLocalIterator``
releases when the returned iterator is exhausted or closed.

Scale note: on a real cluster unpersist(blocking=False) is an async
executor-side block drop — zero driver cost; correctness never depends on
a cache (re-execution is always equivalent), so a late or lost release
only costs memory, never answers.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

# process-global registry of persisted DataFrames (one SparkSession per
# process in practice; DataFrame.sparkSession returns a fresh wrapper per
# call, so session identity can't key a dict). STRONG refs: the
# downstream plan only references the JVM side, so a weakref would die
# with the discarded Python wrapper and the cache would leak. Bounded:
# every owned result's terminal action clears the list, and entries are
# tiny py4j handles.
_registry: list = []
_registry_lock = threading.Lock()


def managed(df: DataFrame) -> DataFrame:
    """persist() + register for deferred release."""
    p = df.persist()
    with _registry_lock:
        _registry.append(p)
    return p


def release_all() -> None:
    """Unpersist every cache this module registered."""
    with _registry_lock:
        handles = list(_registry)
        _registry.clear()
    for h in handles:
        try:
            h.unpersist(blocking=False)
        except Exception:
            pass


class _ReleasingWriter:
    """Proxy over DataFrameWriter: builder calls chain through (returning
    the proxy so the release survives .mode().format()... chains); any
    terminal sink call releases the owned caches after the write."""

    _TERMINAL = frozenset({
        "save", "saveAsTable", "insertInto", "json", "parquet", "csv",
        "orc", "text", "jdbc",
    })

    def __init__(self, writer, release):
        self._writer = writer
        self._release = release

    def __getattr__(self, name):
        attr = getattr(self._writer, name)
        if not callable(attr):
            return attr
        if name in self._TERMINAL:
            def call(*args, **kwargs):
                try:
                    return attr(*args, **kwargs)
                finally:
                    self._release()
            return call

        def chain(*args, **kwargs):
            res = attr(*args, **kwargs)
            return self if res is self._writer else res
        return chain


class _OwnedDataFrame(_ClassicDataFrame):
    """A DataFrame whose first terminal action calls release_all.

    Transformations return plain DataFrames (ownership does not
    propagate); if the caller transforms before acting, the caches stay
    registered and the next release_all reaps them.
    """

    # pyspark's DataFrame.__new__ validates ctor args, so the flag is a
    # class default shadowed per instance on first release
    _released = False

    def _release_owned(self) -> None:
        if not self._released:
            self._released = True
            release_all()

    def toLocalIterator(self, *args, **kwargs):
        # release must wait for iterator EXHAUSTION (or close), not
        # the call returning — the iterator still reads the caches
        it = _ClassicDataFrame.toLocalIterator(self, *args, **kwargs)

        def gen():
            try:
                yield from it
            finally:
                self._release_owned()
        return gen()

    @property
    def write(self):
        # df.write....parquet(path) is a terminal action too —
        # without this, writer-based drivers leak until release_all
        return _ReleasingWriter(
            _ClassicDataFrame.write.fget(self), self._release_owned)


def _add_action(name: str) -> None:
    parent = getattr(_ClassicDataFrame, name)

    def method(self, *args, **kwargs):
        try:
            return parent(self, *args, **kwargs)
        finally:
            self._release_owned()

    method.__name__ = name
    setattr(_OwnedDataFrame, name, method)


for _n in ("collect", "toPandas", "count", "take", "head", "first",
           "tail", "show", "isEmpty", "foreach", "foreachPartition",
           "checkpoint"):
    _add_action(_n)


def own_session(df: DataFrame) -> DataFrame:
    """Wrap df so its first terminal action release_all()s the session."""
    return _OwnedDataFrame(df._jdf, df.sparkSession)
