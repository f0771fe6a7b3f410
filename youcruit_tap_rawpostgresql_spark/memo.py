"""One lifecycle for work reused across runs inside a Spark session.

The tap runs each stream's SQL, and the query bank each case, many times
in one process. Work worth keeping between runs (a translated statement,
a persisted index frame, a probe verdict) lives in a ``Memo``:

- **Key rule.** An entry that holds Spark handles (frames, broadcasts,
  registered tables) is keyed by ``session_key(spark)``: the
  ``applicationId`` plus the JVM session's ``sessionUUID``, which a later
  session never reuses. Entries that must track the version of their
  input files (the ANN index, the LSH probe verdict) also carry an
  ``input_snapshot`` of them, so a rewritten file changes the key.
- **One bounded FIFO policy.** Each memo keeps at most ``bound`` entries
  and drops the oldest first. Whatever leaves a memo (evicted, replaced
  under its key, or cleared) is released: cached frames and broadcasts
  are unpersisted. Inserting a session-keyed entry also releases every
  entry of another Spark application, whose handles are dead.
- **Counters.** Each memo counts its hits and misses; ``MEMOS`` maps
  every memo's name to it.
"""

from __future__ import annotations

from typing import Any, Callable, Hashable, NamedTuple

from py4j.protocol import Py4JError


class SessionKey(NamedTuple):
    app_id: str
    session_id: str


def session_key(spark) -> SessionKey:
    """Identity of ``spark``: unlike ``id(spark)``, never handed to a
    later session."""
    return SessionKey(
        spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID()
    )


def _file_snapshot(files) -> tuple:
    """Sorted (uri, size, mtime_ns) triples for a plan's input files.

    For ``file:`` URIs the size and mtime ride in the key, so an in-place
    rewrite of the same path changes it; other schemes (object stores,
    where overwrite PUTs are the caller's own consistency problem) keep
    path-only keys."""
    import os
    from urllib.parse import unquote, urlparse

    out = []
    for f in sorted(files):
        size = mtime = -1
        if f.startswith("file:"):
            try:
                st = os.stat(unquote(urlparse(f).path))
                size, mtime = st.st_size, st.st_mtime_ns
            except OSError:
                pass
        out.append((f, size, mtime))
    return tuple(out)


def input_snapshot(df) -> tuple:
    """``_file_snapshot`` of ``df``'s input files; ``()`` when the plan
    reads no files (JDBC, in-memory, cached) or cannot list them."""
    try:
        return _file_snapshot(df.inputFiles())
    except Py4JError:
        return ()


def _release(value) -> None:
    """Unpersist a cached frame or broadcast; other values need nothing."""
    unpersist = getattr(value, "unpersist", None)
    if unpersist is not None:
        try:
            unpersist(blocking=False)
        except Py4JError:
            pass  # a stopped session already dropped the blocks


MEMOS: dict[str, "Memo"] = {}


class Memo:
    """A bounded FIFO memo that releases what it drops."""

    def __init__(self, name: str, bound: int):
        self.bound = bound
        self.hits = 0
        self.misses = 0
        self._entries: dict[Hashable, Any] = {}
        MEMOS[name] = self

    def __len__(self) -> int:
        return len(self._entries)

    def peek(self, key: Hashable):
        """The value under ``key`` (or None) without counting a hit or
        miss."""
        return self._entries.get(key)

    def get(self, key: Hashable | None, build: Callable[[], Any]):
        """The value under ``key``; on a miss, ``put`` what ``build()``
        returns. A ``None`` key means the value must not be reused: it is
        built and returned, never stored."""
        if key is not None and key in self._entries:
            self.hits += 1
            return self._entries[key]
        self.misses += 1
        return build() if key is None else self.put(key, build)

    def put(self, key: Hashable, build: Callable[[], Any]):
        """Store ``build()`` under ``key`` and return it. First release
        what it displaces: ``key``'s old value, the oldest entries past
        the bound and, for a session-keyed entry, the entries of other
        Spark applications. Releasing before the build keeps a new frame
        whose plan equals the old one's from sharing the cache entry that
        the release drops."""
        app = _app_of(key)
        if app is not None:
            for k in [k for k in self._entries if _app_of(k) not in (None, app)]:
                _release(self._entries.pop(k))
        if key in self._entries:
            _release(self._entries.pop(key))
        while len(self._entries) >= self.bound:
            _release(self._entries.pop(next(iter(self._entries))))
        value = self._entries[key] = build()
        return value

    def clear(self) -> None:
        """Release every entry and zero the counters."""
        while self._entries:
            _release(self._entries.popitem()[1])
        self.hits = self.misses = 0


def _app_of(key) -> str | None:
    if isinstance(key, tuple) and key and isinstance(key[0], SessionKey):
        return key[0].app_id
    return None
