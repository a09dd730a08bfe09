"""One owner for cached intermediates.

The build is a chain of stages: ingest -> dedup -> index (the reference's
Make_Page/rcc.cpp:146-202, then MakePage.cpp:196-215). Some stages persist
or checkpoint an intermediate so that later consumers read it once instead
of re-running its lineage. A :class:`CacheScope` owns every such frame:

    with CacheScope():
        out = dedup_docs(docs, how="simhash")
        out.write.parquet(path)   # consume the lazy result inside the scope
    # every cache and checkpoint the stage made is freed here

Operators never persist on their own: they call ``current_scope().persist``
or ``.checkpoint``, and the innermost open scope owns the result. The scope
is found through a ContextVar, so nested scopes work and a thread started
under ``contextvars.copy_context().run`` registers with its parent's scope.
With no scope open, a process-level root scope takes the frames; nothing
closes it, so they live for the session, like a plain ``persist``.

Close a scope only after the last action on anything derived from its
frames: a frame derived from a freed checkpoint can no longer be computed.
"""

from __future__ import annotations

import functools
import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class CacheScope:
    """Registry of the frames persisted or checkpointed while it is open."""

    def __init__(self) -> None:
        # (frame, the checkpoint's own RDD or None for a plain persist)
        self._entries: list[tuple[DataFrame, object]] = []
        self._lock = threading.Lock()
        self._token = None

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        """``df.persist(level)`` owned by this scope. Lazy: the first
        action on the returned frame fills the cache. A plan that is
        already cached stays its owner's: the result is then a fresh handle
        on it, which neither this scope nor ``release`` frees."""
        if df.storageLevel != StorageLevel.NONE:
            return type(df)(df._jdf, df.sparkSession)
        return self._own(df.persist(level), None)

    def checkpoint(self, df: DataFrame, directory: str | None = None) -> DataFrame:
        """An eager ``localCheckpoint`` of ``df`` owned by this scope: one
        job now, and the result's lineage starts at the pinned partitions.

        With ``directory``, a reliable checkpoint is written there instead
        (``setCheckpointDir`` is session-global). It persists no blocks, so
        the scope has nothing to free; its files outlive the scope."""
        if directory is not None:
            df.sparkSession.sparkContext.setCheckpointDir(directory)
            return df.checkpoint(eager=True)
        df = df.localCheckpoint(eager=True)
        # the checkpointed frame's analyzed plan is the LogicalRDD over the
        # exact RDD the checkpoint persisted
        return self._own(df, df._jdf.queryExecution().analyzed().rdd())

    def release(self, df: DataFrame) -> None:
        """Free one frame this scope returned before the scope closes."""
        with self._lock:
            hit = [e for e in self._entries if e[0] is df]
            self._entries = [e for e in self._entries if e[0] is not df]
        for entry in hit:
            _free(entry)

    def close(self) -> None:
        """Free every frame the scope owns, newest first. Idempotent."""
        with self._lock:
            entries, self._entries = self._entries, []
        for entry in reversed(entries):
            _free(entry)

    @contextmanager
    def active(self):
        """Make this the current scope for the block without closing it."""
        token = _CURRENT.set(self)
        try:
            yield self
        finally:
            _CURRENT.reset(token)

    def __enter__(self) -> "CacheScope":
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        self.close()

    def _own(self, df: DataFrame, rdd) -> DataFrame:
        with self._lock:
            self._entries.append((df, rdd))
        return df


def _free(entry: tuple[DataFrame, object]) -> None:
    df, rdd = entry
    if rdd is None:
        df.unpersist()
    else:
        # DataFrame.unpersist never drops a checkpoint's blocks
        rdd.unpersist(False)


_CURRENT: ContextVar[CacheScope | None] = ContextVar("cache_scope", default=None)
_ROOT = CacheScope()


def current_scope() -> CacheScope:
    """The innermost open scope, or the session-lifetime root scope."""
    return _CURRENT.get() or _ROOT


def scoped(fn):
    """Run every call of ``fn`` in a CacheScope of its own."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        with CacheScope():
            return fn(*args, **kwargs)

    return run
