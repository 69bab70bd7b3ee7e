"""One store for the driver's decision statistics.

Building a query spends driver round trips on values that only steer
its plan: a table's re-typed frame, a scan's partition count, a
self-join's price, a query vector.  :func:`remembered` keeps them, so a
rebuilt query launches no job for them.  Entries are decision inputs
and lazy plans, never query results: every action still reads its
files.  An entry holds while its session and the stat signature
``(path, st_mtime_ns, st_size)`` of each path it names are unchanged; a
path that cannot be stat'ed (an object store) is never remembered.  An
entry that names no path holds for the session: a scan whose directory
gains files keeps its old partition count, which changes a repartition
decision, never a result.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

#: Entries kept; the store is emptied once it is passed.
BOUND = 1024

_STORE: dict[tuple, object] = {}


def _signature(path: str) -> tuple[str, int, int]:
    """``(path, st_mtime_ns, st_size)``; a ``file:`` URI, as
    ``DataFrame.inputFiles`` returns, is a local path."""
    url = urlsplit(path)
    if url.scheme not in ("", "file"):
        raise OSError(f"not a local path: {path}")
    st = os.stat(url.path if url.scheme else path)
    return path, st.st_mtime_ns, st.st_size


def remembered(spark, key, compute, paths=()):
    """``compute()``, or the value remembered for (``spark``, ``key``,
    the stat signature of each of ``paths``)."""
    try:
        entry = (spark, key, tuple(map(_signature, paths)))
    except OSError:
        return compute()
    value = _STORE.get(entry)
    if value is None:
        value = compute()
        if len(_STORE) >= BOUND:
            _STORE.clear()
        _STORE[entry] = value
    return value
