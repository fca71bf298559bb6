"""Scoped cache and broadcast lifetime management.

Several operators cache intermediates they cannot cheaply recompute
(minhash signatures, the symmetric edge set, k-sweep distance tables), and
the pair-scan strategies (operators/pairscan.py) broadcast a numpy copy of
one side. In a short-lived driver/bench session that is fine — the JVM
dies with them — but a long-lived session accumulates session-lifetime
InMemoryRelations and broadcast blocks. ``cache_scope`` gives callers
deterministic cleanup without threading release plumbing through every
operator:

    with cache_scope():
        pairs = dedup_minhash_lsh(docs).collect()
    # every cache an operator registered inside the scope is unpersisted,
    # every broadcast it registered is destroyed

Operators opt in by routing their ``df.cache()`` through
``register_cache(df.cache())`` and their broadcasts through
``register_broadcast`` — outside any scope both are no-ops (the status
quo: they live until the session ends), inside a scope the frame records
them and releases them on exit. Scopes nest; each belongs to the innermost
open scope. Thread-local, so concurrent driver threads (e.g. parallel
bench entries) do not release each other's.

A result built inside a scope must be consumed (collected, written,
counted) inside it: a destroyed broadcast cannot be read again, so a lazy
DataFrame that still references one fails once the scope has exited.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import Broadcast
from pyspark.sql import DataFrame

__all__ = ["cache_scope", "register_broadcast", "register_cache"]

_local = threading.local()


def _stack() -> list:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


def register_cache(df: DataFrame) -> DataFrame:
    """Record ``df`` (already cached) in the innermost open cache_scope.

    Returns ``df`` unchanged so it wraps call sites inline:
    ``register_cache(df.cache())``. No-op when no scope is open.
    """
    stack = _stack()
    if stack:
        stack[-1].append(df)
    return df


def register_broadcast(b: Broadcast) -> Broadcast:
    """Record broadcast ``b`` in the innermost open cache_scope, which
    destroys it on exit. Returns ``b``; no-op when no scope is open."""
    stack = _stack()
    if stack:
        stack[-1].append(b)
    return b


@contextmanager
def cache_scope():
    """Unpersist every operator-registered cache and destroy every
    registered broadcast created inside the block."""
    frame: list = []
    _stack().append(frame)
    try:
        yield frame
    finally:
        _stack().pop()
        for item in frame:
            try:
                if isinstance(item, Broadcast):
                    item.destroy()
                else:
                    item.unpersist()
            except Exception:
                pass  # session already stopped / already released
