"""Per-session reusable state: bounded least-recently-used maps.

Each SparkSession has one data map (``for_spark``). It holds what the
session's statements and operators can reuse: the engine's file-scan
relations, the operator tier's fixture tables, persisted intermediate
frames, fitted models and scalars collected from them. An entry built
from files carries their identity (``file_identity``) and is rebuilt
when that changes, so a result follows the data it was built from. An
engine session's analyzed plans and stored results live in a second map
of the same type (``SessionState.plans``), which the engine invalidates
by its own rules.

Each map is bounded and drops its least recently used entry past the
bound: a count of entries, and optionally a budget of their weight. A
frame the map replaces, evicts or clears is unpersisted, and a session
clone it holds is dropped with its own map. The engine
empties a session's maps when the session closes or is killed, and
when a Spark-level SET/RESET changes how plans are built.
"""

from __future__ import annotations

import glob
import os
import re
import threading
import weakref
from collections import OrderedDict
from typing import Any, Callable, Hashable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: entries one session's data map keeps; one pass over every
#: registered operator leaves fewer (CHANGES.md has the count)
CAPACITY = 128

#: Hadoop glob syntax Python's glob reads differently: alternation,
#: escapes and ``[^…]``/``[!…]`` classes
_HADOOP_ONLY_GLOB_RE = re.compile(r"[{}\\]|\[[!^]")
#: any URI scheme (``s3a://``, ``hdfs:/``, ``file:``)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def file_identity(path: str) -> tuple | None:
    """Sorted ``(file, size, mtime_ns, inode)`` of every file a local
    path names: one file, a directory (walked recursively) or a glob.
    None for a remote or relative path, a glob only Hadoop can expand,
    or a stat error — such a path has no identity, and what is built
    from it is built anew."""
    if _SCHEME_RE.match(path):
        url = urlparse(path)
        if url.scheme != "file" or url.netloc not in ("", "localhost"):
            return None
        path = url.path
    if not os.path.isabs(path) or _HADOOP_ONLY_GLOB_RE.search(path):
        return None

    roots = [path]
    if any(c in path for c in "*?["):
        roots = glob.glob(path, include_hidden=True)
        if not roots:
            return None

    def _raise(exc: OSError):
        raise exc

    files = []
    try:
        for root in roots:
            if not os.path.isdir(root):
                files.append(root)
                continue
            for d, _, names in os.walk(root, onerror=_raise,
                                       followlinks=True):
                files.extend(os.path.join(d, n) for n in names)
        stats = [(f, os.stat(f)) for f in files]
    except OSError:
        return None
    return tuple(sorted((f, s.st_size, s.st_mtime_ns, s.st_ino)
                        for f, s in stats))


def _release(value: Any) -> None:
    """Free what a dropped entry holds: unpersist a persisted frame,
    drop a session clone's map."""
    if type(value) is tuple:
        for v in value:
            _release(v)
    elif isinstance(value, DataFrame):
        if value.is_cached:
            value.unpersist()
    elif isinstance(value, SparkSession):
        drop(value)


class SessionLRU:
    """A bounded least-recently-used map, safe for statements running
    concurrently on one session.

    ``clear()`` starts a new generation. A caller that builds a value
    reads ``generation`` first and hands it to ``put``, which refuses
    the value if the map was cleared meanwhile: a build racing with a
    clear can then not leave an entry made under the old state."""

    def __init__(self, capacity: int, budget: int | None = None,
                 weigh: Callable[[Any], int] | None = None):
        self.capacity = capacity
        #: the most the entries may weigh together (``weigh(value)``
        #: each); None: no budget
        self.budget = budget
        self._weigh = weigh or (lambda value: 0)
        self.weight = 0
        self.generation = 0
        self._items: OrderedDict[Hashable, Any] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: Hashable) -> Any:
        """The value under ``key`` (now the most recently used), or
        None."""
        with self._lock:
            value = self._items.get(key)
            if value is not None:
                self._items.move_to_end(key)
            return value

    def put(self, key: Hashable, value: Any,
            generation: int | None = None) -> None:
        """Store ``value`` as the most recently used entry, unless the
        map was cleared after ``generation`` was read; a refused value
        is released."""
        dropped = []
        with self._lock:
            if generation is not None and generation != self.generation:
                dropped.append(value)
            else:
                old = self._items.pop(key, None)
                if old is not None:
                    self.weight -= self._weigh(old)
                    if old is not value:
                        dropped.append(old)
                self._items[key] = value
                self.weight += self._weigh(value)
                while len(self._items) > self.capacity or (
                        self.budget is not None and self.weight > self.budget):
                    old = self._items.popitem(last=False)[1]
                    self.weight -= self._weigh(old)
                    dropped.append(old)
        for v in dropped:
            _release(v)

    def get_or_build(self, key: Hashable, path: str | None,
                     build: Callable[[], Any]) -> tuple[Any, Any, bool]:
        """``(value, identity, hit)``: the value stored under ``key``
        while the files at ``path`` keep the identity it was built
        with, else ``build()``'s. ``path=None`` marks a value that
        depends on no files. A value built from a path without an
        identity is not stored."""
        ident = None if path is None else file_identity(path)
        got = self.get(key)
        if got is not None and got[0] == ident and (
                path is None or ident is not None):
            return got[1], ident, True
        generation = self.generation
        value = build()
        if path is None or ident is not None:
            self.put(key, (ident, value), generation)
        return value, ident, False

    def clear(self) -> None:
        """Release every entry and start a new generation."""
        with self._lock:
            dropped = list(self._items.values())
            self._items.clear()
            self.weight = 0
            self.generation += 1
        for v in dropped:
            _release(v)

    def __len__(self) -> int:
        return len(self._items)

    def __contains__(self, key: Hashable) -> bool:
        return key in self._items


#: each session's data map, keyed by the session object itself: an
#: ``id()`` key could hand a recycled address a dead session's frames
_MAPS: "weakref.WeakKeyDictionary[Any, SessionLRU]" = (
    weakref.WeakKeyDictionary())
_MAPS_LOCK = threading.Lock()


def for_spark(spark: SparkSession) -> SessionLRU:
    """The session's data map. Its frames refer to the session, so the
    map lives until ``drop``."""
    with _MAPS_LOCK:
        m = _MAPS.get(spark)
        if m is None:
            m = _MAPS[spark] = SessionLRU(CAPACITY)
        return m


def drop(spark: SparkSession) -> None:
    """Empty the session's data map and unpersist its frames."""
    with _MAPS_LOCK:
        m = _MAPS.pop(spark, None)
    if m is not None:
        m.clear()
