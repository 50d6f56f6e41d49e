"""Session artifact registry: the one owner of every frame a Spark
session keeps across query calls.

Declared queries share intermediates — loaded test tables, the corpus
shingle and MinHash kernels, the embedding index fits, the audit
samples — that are deterministic functions of immutable inputs, so one
build per (session, key) serves every later consumer.
:func:`artifact` keeps them all in ONE least-recently-used map across
sessions, keyed ``(session, *key)``:

- at most :data:`CAP` entries; the least recently used is evicted
  first, so a dead session's entries leave once newer ones push them
  out (every value is a DataFrame, which references its session, so a
  weakly keyed map could never release it);
- eviction unpersists the value's cached frames, unless a live entry
  holds the same ``key`` under another session: Spark's CacheManager
  shares one cache between identical plans across sessions, so the
  unpersist would strip the live session's copy;
- a session or key that cannot be hashed is built uncached.

Callers register shared kernels and the auxiliary artifacts other
queries read, never a declared query's own output: a declared query
called twice does its work twice.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

#: A one-session sweep of all 392 declared queries over one ``sf_dir``
#: registers 28 entries (measured at sf0.001: 10 tables, 8 embedding
#: index artifacts, 10 corpus kernels and audit samples).  Two
#: ``sf_dir``s side by side need 56; the rest is headroom, so such a
#: sweep never evicts its own kernels.
CAP = 64

_ENTRIES: OrderedDict[tuple, object] = OrderedDict()
_LOCK = threading.Lock()


def artifact(spark, key: tuple, build: Callable[[], T]) -> T:
    """The value registered under ``(spark, *key)``, built by
    ``build()`` on a miss.  ``key`` starts with a kind name unique to
    the calling site."""
    full = (spark, *key)
    try:
        hash(full)
    except TypeError:  # unhashable session or key: build uncached
        return build()
    with _LOCK:
        if full in _ENTRIES:
            _ENTRIES.move_to_end(full)
            return _ENTRIES[full]
    # built outside the lock: builds nest (a fit reads the component
    # frame) and run Spark jobs that concurrent queries must not wait on
    value = build()
    released = []
    with _LOCK:
        value = _ENTRIES.setdefault(full, value)
        while len(_ENTRIES) > CAP:
            old, old_value = _ENTRIES.popitem(last=False)
            if not any(k[1:] == old[1:] for k in _ENTRIES):
                released.append(old_value)
    for old_value in released:
        _release(old_value)
    return value


def _release(value) -> None:
    """Unpersist the cached frames of an evicted value (a frame or a
    tuple holding frames).  Checkpointed frames hold no cache; their
    blocks go with the RDD once nothing references it."""
    for frame in value if isinstance(value, tuple) else (value,):
        if getattr(frame, "is_cached", False):
            try:
                frame.unpersist()
            except Exception:  # stopped context: nothing left to free
                pass
