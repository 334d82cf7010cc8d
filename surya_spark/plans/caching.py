"""Persist-lifecycle ownership for library operators.

Round-2 verdict finding: library functions persist() fan-out intermediates
(required — Spark re-executes the whole lineage per consumer, BENCH.md
rule 2) but never unpersist, so a long-lived session leaks
InMemoryRelations across queries (measured: identical knn_ivf run 21 s
polluted vs 7.7 s isolated). The caches can't be dropped before the
caller's terminal action — the returned DataFrame still reads them — so
ownership is deferred to that action:

* ``managed(df)`` — persist + register in (a) the innermost active scope
  and (b) a process-global registry.
* ``scope()`` — context manager used by every top-level library operator;
  nested calls share the OUTERMOST scope so an operator composed of other
  scoped operators releases everything at once.
* ``owned(df, handles, is_owner)`` — when this call owns the scope, wrap
  the result so its FIRST terminal action (collect / toPandas / count /
  take / show / …) unpersists every handle; otherwise return df unchanged
  and let the outer owner release.
* ``own_session(df)`` / ``release_all(spark)`` — blanket variant for
  driver entry points whose final DataFrame is a further transformation
  of an operator result (the wrapper class doesn't survive
  transformations): first action on the wrapped df unpersists every
  registered cache of the session.

Terminal-action coverage: collect/toPandas/count/take/head/first/tail/
show/isEmpty/foreach*/checkpoint release immediately; ``df.write.…`` sink
calls release after the write (via a DataFrameWriter proxy);
``toLocalIterator`` releases when the returned iterator is exhausted or
closed. Entry points that only ever transform (never act) should call
``release_all()`` explicitly.

Scale note: on a real cluster unpersist(blocking=False) is an async
executor-side block drop — zero driver cost; correctness never depends on
a cache (re-execution is always equivalent), so a late or lost release
only costs memory, never answers. On platforms without the concrete
DataFrame class (Spark Connect) the wrapper degrades to registry-only
mode — see _set_wrapper_enabled.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

# The first-action-release wrapper subclasses the concrete DataFrame
# implementation, which lives in a Spark-4 internal namespace and does
# not exist under Spark Connect or other Spark lines. Ownership is an
# optimization, never a correctness dependency, so when the wrapper
# can't be built we degrade to registry-only mode: owned()/own_session()
# return the DataFrame unchanged and callers (or the next release_all())
# reap the registry. Force-disable for tests via _set_wrapper_enabled.
try:  # pragma: no cover - exercised via _set_wrapper_enabled in tests
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
except ImportError:  # Spark Connect / future Spark versions
    _ClassicDataFrame = None

_local = threading.local()

# process-global registry of persisted DataFrames (one SparkSession per
# process in practice; DataFrame.sparkSession returns a fresh wrapper per
# call, so session identity can't key a dict). STRONG refs: the
# downstream plan only references the JVM side, so a weakref would die
# with the discarded Python wrapper and the cache would leak. Bounded:
# every driver query's terminal action clears the list (own_session /
# owned), and entries are tiny py4j handles.
_registry: list = []
_registry_lock = threading.Lock()


def _stack() -> list:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


@contextmanager
def scope():
    """Yields (handles, is_owner). The outermost scope owns release;
    nested scopes append to the owner's handle list."""
    stack = _stack()
    is_owner = not stack
    if is_owner:
        stack.append([])
    try:
        yield stack[0], is_owner
    finally:
        if is_owner:
            stack.pop()


def managed(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for deferred release."""
    p = df.persist(storage_level) if storage_level is not None else df.persist()
    stack = _stack()
    if stack:
        stack[0].append(p)
    with _registry_lock:
        _registry.append(p)
    return p


def _release(handles) -> None:
    for h in handles:
        try:
            h.unpersist(blocking=False)
        except Exception:
            pass


def release_all(spark=None) -> None:
    """Unpersist every cache this module registered."""
    with _registry_lock:
        handles = list(_registry)
        _registry.clear()
    _release(handles)


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


_enabled = _ClassicDataFrame is not None


def _set_wrapper_enabled(on: bool) -> None:
    """Test hook: simulate a platform where the concrete-DataFrame
    subclass can't be built (Spark Connect)."""
    global _enabled
    _enabled = on and _ClassicDataFrame is not None


if _ClassicDataFrame is not None:
    class _OwnedDataFrame(_ClassicDataFrame):
        """A DataFrame whose first terminal action releases its handles.

        Transformations return plain DataFrames (ownership does not
        propagate); if the caller transforms before acting, the handles
        stay registered and release_all / the next own_session action
        reaps them.
        """

        # NOTE: pyspark's DataFrame.__new__ validates ctor args, so
        # ownership state is attached post-construction via _wrap.
        _own_handles: list
        _own_session_wide: bool

        def _release_owned(self) -> None:
            _release(self._own_handles)
            with _registry_lock:
                for h in self._own_handles:
                    try:
                        _registry.remove(h)
                    except ValueError:
                        pass
            self._own_handles = []
            if self._own_session_wide:
                self._own_session_wide = False
                release_all(self.sparkSession)

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


def _wrap(df: DataFrame, handles, session_wide: bool) -> DataFrame:
    if not _enabled:
        return df  # registry-only mode: release_all reaps later
    w = _OwnedDataFrame(df._jdf, df.sparkSession)
    w._own_handles = list(handles or [])
    w._own_session_wide = session_wide
    return w


def owned(df: DataFrame, handles, is_owner: bool) -> DataFrame:
    if not is_owner or not handles:
        return df
    return _wrap(df, handles, session_wide=False)


def own_session(df: DataFrame) -> DataFrame:
    """First action on the result additionally release_all()s the session
    — for entry points that transform an operator result before acting."""
    return _wrap(df, [], session_wide=True)
