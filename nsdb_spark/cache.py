"""TokenCache — the one bounded cache policy of the package: the engine's
plan, row, frame and serving-view caches, and the parquet schema cache
(sources/parquet.py)."""
from __future__ import annotations

import threading
from collections import OrderedDict


class TokenCache:
    """A bounded LRU map whose entries are valid only under the token they
    were stored with — NsdbEngine._cache_token for the engine's plan, row,
    frame and serving-view caches, a file signature for the parquet schema
    cache:

    - get(key, token) hits only on an EXACT token match, so nothing stale
      is ever served;
    - put(key, token, value) replaces an entry unless the stored token's
      in-process version (token[0]) is newer. That version is the only
      monotone token component — the mtime components can REGRESS (an
      out-of-process drop+recreate restarts them), and comparing full
      tuples would wedge a key into permanent misses. A put that loses a
      race costs one re-execution, never stale data. A cache without an
      in-process version puts a constant token[0], so every put replaces;
    - past CAP entries the least recently served entry is evicted."""

    CAP = 256

    def __init__(self):
        self._entries: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: tuple, token: tuple):
        """The value stored under exactly `token`, else None."""
        with self._lock:
            ent = self._entries.get(key)
            if ent is None or ent[0] != token:
                return None
            self._entries.move_to_end(key)
            return ent[1]

    def put(self, key: tuple, token: tuple, value, publish=None) -> None:
        """Store value under token (see the class rule). `publish`, when
        given, runs under the lock only if the put wins, so global state
        it sets (a temp view) changes in the same order as the entries."""
        with self._lock:
            cur = self._entries.get(key)
            if cur is not None and cur[0][0] > token[0]:
                return
            if publish is not None:
                publish()
            self._entries[key] = (token, value)
            self._entries.move_to_end(key)
            while len(self._entries) > self.CAP:
                self._entries.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
