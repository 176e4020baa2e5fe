"""Bounded persist() lifecycle registry.

Several query paths persist intermediate DataFrames (tokenized/pairs and
term-stats caches, bloom-filter inputs) whose natural lifetime is "until a
couple more queries have run" — the RESULT DataFrame still references them
lazily, so
unpersisting inside the call would silently recompute the whole job when
the caller finally collects.  A CacheRegistry retains the most recent N
persisted frames and evicts older ones under a lock: repeated queries hold
a bounded cached set instead of leaking for the session's lifetime, and a
handful of concurrent queries cannot unpersist each other's in-flight
caches (only entries older than the retention window go).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class CacheRegistry:
    def __init__(self, retain: int = 4):
        self._retain = retain
        self._lock = threading.Lock()
        self._live: list[DataFrame] = []

    def register(self, *dfs: DataFrame) -> None:
        """Track already-persisted frames; evict beyond the retention window.

        A frame whose plan ``sameSemantics`` a registered one shares that
        one's cache (its ``persist()`` was a no-op), and unpersisting
        either drops it: the registered entry moves to the newest slot
        instead of a second entry being added, so evicting the older
        registration can no longer uncache the newer frame."""
        with self._lock:
            for df in dfs:
                same = next(
                    (i for i, live in enumerate(self._live) if live.sameSemantics(df)),
                    None,
                )
                self._live.append(df if same is None else self._live.pop(same))
            evicted = self._live[: -self._retain]
            del self._live[: -self._retain]
        for old in evicted:
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # session may be stopped; eviction is best-effort

    def __len__(self) -> int:
        with self._lock:
            return len(self._live)
