"""The one owner of materialized frames: every ``persist``,
``localCheckpoint`` and release in ``pq_spark`` goes through here.

``with scope():`` unpersists what was persisted inside the block when it
ends or raises; ``persist`` registers with the calling thread's innermost
scope. An ``@owned`` entry point joins the active scope, so a nested call
never releases under its caller; with none active it opens one that is
released when its result is garbage-collected (the result must not be one
of its own frames, and frames derived from the result do not keep it
alive). ``checkpoint`` needs no scope: a local checkpoint lives as long as
a plan refers to it, and the ContextCleaner frees it after that — freeing
a live checkpoint's blocks breaks reads of the frames derived from it.
"""

from __future__ import annotations

import threading
import weakref
from functools import wraps

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class _Local(threading.local):
    def __init__(self):
        self.stack: list[scope] = []  # this thread's open scopes, innermost last


_local = _Local()


class scope:
    def __init__(self):
        self.frames: list[DataFrame] = []  # persisted inside the block

    def __enter__(self) -> scope:
        _local.stack.append(self)
        return self

    def __exit__(self, *_exc) -> None:
        _local.stack.pop()
        _unpersist(self.frames)


def _unpersist(frames: list[DataFrame]) -> None:
    try:
        for df in frames:
            df.unpersist()
    except Py4JError:
        pass  # the session stopped first, and with it every cached frame


def owned(fn):
    @wraps(fn)
    def call(*args, **kwargs):
        if _local.stack:
            return fn(*args, **kwargs)
        with scope() as s:  # a raise releases at once
            out = fn(*args, **kwargs)
            kept, s.frames = s.frames, []
        if kept:
            weakref.finalize(out, _unpersist, kept).atexit = False
        return out

    return call


def persist(df: DataFrame) -> DataFrame:
    if not _local.stack:
        raise RuntimeError("persist inside held.scope() or an @owned call")
    df = df.persist()
    _local.stack[-1].frames.append(df)
    return df


def checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Unpersist one frame of the innermost scope before the scope ends
    (a checkpoint is not held, so releasing one does nothing)."""
    s = _local.stack[-1]
    if any(f is df for f in s.frames):
        s.frames = [f for f in s.frames if f is not df]
        df.unpersist()
