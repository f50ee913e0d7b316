"""Bounded tempdir pools for disk-backed intermediate relations.

Two repo-wide patterns write parquet to tempdirs whose lifetime
outlives the writing function: datasource cuts in iterative loops
(operators/graph.py — re-rooting a plan on a scan resets the
self-join chain, see BENCH_NOTES "self-join chain degradation") and
streaming state tables and sinks (streaming/source.py).

``TempDirPool`` keeps a rolling window of the newest ``keep`` dirs per
purpose, deletes older dirs as new ones arrive, and removes whatever
survives atexit.  The lifetime rule for a pooled dir is therefore:
it is readable until ``keep`` newer dirs of the same purpose exist,
so its consumer materializes from it before returning.  Iterative
loops eagerly localCheckpoint within a round or two; every streaming
state table and sink dir comes from the one pool in
``streaming.source`` and is read back through
``localCheckpoint(eager=True)`` before the query returns, so no
returned DataFrame ever reads a pooled dir.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading

# Shared guard for the session-level build-once caches (portable
# MinHash signatures, persisted LSH/IVF indexes, hive fixtures,
# quantizer models): population is checked and written under this
# lock so concurrent first calls do not double-compute and leak a
# TemporaryDirectory handle (round-8 ADVICE fix).
CACHE_LOCK = threading.Lock()


def corpus_fingerprint(sf_dir: str | None, table: str | None = None):
    """Best-effort identity of a corpus directory (or one table in
    it): (mtime_ns, size) of the table's parquet if given, else of
    the directory itself.  Session caches key on this next to the
    path so a corpus REGENERATED under the same path misses the
    cache instead of serving a stale snapshot."""
    if not sf_dir:
        return None
    candidates = []
    if table:
        candidates.append(os.path.join(str(sf_dir), f"{table}.parquet"))
    candidates.append(str(sf_dir))
    for cand in candidates:
        try:
            st = os.stat(cand)
            return (st.st_mtime_ns, st.st_size)
        except OSError:
            continue
    return None


class TempDirPool:
    def __init__(self, keep: int = 8) -> None:
        self.keep = keep
        self._dirs: dict[str, list] = {}
        atexit.register(self.cleanup_all)

    def new_dir(self, purpose: str, prefix: str) -> str:
        tmp = tempfile.TemporaryDirectory(prefix=prefix)
        pool = self._dirs.setdefault(purpose, [])
        pool.append(tmp)
        while len(pool) > self.keep:
            old = pool.pop(0)
            try:
                old.cleanup()
            except OSError:
                pass
        return tmp.name

    def cleanup_all(self) -> None:
        for pool in self._dirs.values():
            for tmp in pool:
                try:
                    tmp.cleanup()
                except OSError:
                    pass
        self._dirs.clear()
