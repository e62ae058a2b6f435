"""Per-session reusable state: one bounded least-recently-used map.

A session keeps what its statements can reuse (file-scan relations,
analyzed query plans) in maps of this type. Each map is bounded, drops
its least recently used entry past the bound, and is emptied when the
session closes or a Spark-level SET/RESET changes how plans are built.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Hashable


class SessionLRU:
    """A bounded least-recently-used map, safe for statements running
    concurrently on one session.

    ``clear()`` starts a new generation. A caller that builds a value
    reads ``generation`` first and hands it to ``put``, which refuses
    the value if the map was cleared meanwhile: a build racing with a
    clear can then not leave an entry made under the old state."""

    def __init__(self, capacity: int):
        self.capacity = capacity
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
        map was cleared after ``generation`` was read."""
        with self._lock:
            if generation is not None and generation != self.generation:
                return
            self._items[key] = value
            self._items.move_to_end(key)
            while len(self._items) > self.capacity:
                self._items.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._items.clear()
            self.generation += 1

    def __len__(self) -> int:
        return len(self._items)

    def __contains__(self, key: Hashable) -> bool:
        return key in self._items
