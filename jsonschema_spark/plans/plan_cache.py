"""Compiled plans kept for reuse: each schema compiles once per session.

The reference compiles a schema once into a template and evaluates every
instance with it (src/command_validate.cc:334-338). Here a compiled plan is
a pair of Column expressions, and building one sends every expression node
over py4j. ``PLANS`` keeps the ``PLAN_CACHE_SIZE`` most recently used plans
by key, so a repeated request reuses its Columns instead of compiling
again. Reuse is sound because the Columns are unresolved expressions bound
by column name: Catalyst resolves them anew against each DataFrame they
are added to.

- The caller builds the key on every call from everything the plan
  depends on; documents enter it as ``json_text``, in their own key order
  (``properties`` order sets violation order), so a dict mutated in place
  misses. A value that is not plain JSON has no key and bypasses the cache.
- Columns hold py4j handles into one JVM session, so the entries belong to
  the active SparkContext: under another one the cache starts empty.
- ``register_keyword``/``unregister_keyword`` empty the cache: registered
  keywords compile into every plan that names them.
- A build that raises stores nothing.
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from typing import Callable, Hashable, Optional, TypeVar

from pyspark import SparkContext

PLAN_CACHE_SIZE = 64

_V = TypeVar("_V")
_SCALARS = (str, int, float, bool, type(None))


def _plain(value) -> bool:
    t = type(value)
    if t is dict:
        return all(type(k) is str and _plain(v) for k, v in value.items())
    if t is list:
        return all(_plain(v) for v in value)
    return t in _SCALARS


def json_text(value) -> Optional[str]:
    """``value`` as JSON text in its own key order, or None when it is not
    plain JSON (a tuple, a non-string key, a cycle, another type): JSON
    text would make it equal to its JSON twin, which need not compile the
    same."""
    try:
        text = json.dumps(value)
    except (TypeError, ValueError):
        return None
    return text if _plain(value) else None


def _active_context():
    return SparkContext._active_spark_context


class PlanCache:
    """The ``size`` most recently used values by key, all built under one
    SparkContext. Thread-safe; two threads that miss on one key both
    build, and the later value is kept."""

    def __init__(self, size: int = PLAN_CACHE_SIZE):
        self.size = size
        self._lock = threading.Lock()
        self._plans: OrderedDict = OrderedDict()
        self._scope: Optional[object] = None  # the SparkContext the entries were built under

    def __len__(self) -> int:
        with self._lock:
            return len(self._plans)

    def get(self, key: Optional[Hashable], build: Callable[[], _V]) -> _V:
        """The value stored for ``key`` under the active SparkContext, or
        ``build()``, stored; a None key always builds and stores nothing."""
        if key is None:
            return build()
        scope = _active_context()
        with self._lock:
            if self._scope is scope and key in self._plans:
                self._plans.move_to_end(key)
                return self._plans[key]
        value = build()
        with self._lock:
            if self._scope is not scope:
                self._plans.clear()
                self._scope = scope
            self._plans[key] = value
            self._plans.move_to_end(key)
            while len(self._plans) > self.size:
                self._plans.popitem(last=False)
        return value

    def clear(self) -> None:
        with self._lock:
            self._plans.clear()


PLANS = PlanCache()
