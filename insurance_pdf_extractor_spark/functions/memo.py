"""Per-process memo of the plan builders' Column trees.

Building a Column costs a py4j round trip per Column op, plus PySpark's
call-site capture around each one, so the ~700 Columns of the field and
results stages cost ~12k round trips per plan when built on every call.
A tree depends only on its builder's arguments (column names, model,
shard settings), never on the DataFrame it is applied to: Columns are
unresolved until a projection analyses them. So each builder runs once
per live SparkContext, and every later call replays the stored Columns
in DataFrame projections.

Usage::

    @column_memo
    def _projections(model_used: str) -> tuple[Column, ...]: ...

    clear_column_memo()  # the next call rebuilds (a cold build)
"""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

_caches: list = []


def clear_column_memo() -> None:
    """Drop every memoized Column tree."""
    for cache in _caches:
        cache.cache_clear()


def column_memo(builder: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``builder(*args)`` per live SparkContext and hashable
    arguments. The builder must return Columns (or tuples of them) and
    must not read any DataFrame.

    The context is part of the key because a new context (or a new JVM
    gateway behind it) cannot reuse the old one's Columns: a UDF Column
    carries its context's accumulator, and a JVM object dies with its
    JVM. Trees of a stopped context age out of the bounded cache."""
    cached = functools.lru_cache(maxsize=32)(lambda _context, *args: builder(*args))
    _caches.append(cached)

    @functools.wraps(builder)
    def call(*args):
        return cached(SparkContext._active_spark_context, *args)

    return call
