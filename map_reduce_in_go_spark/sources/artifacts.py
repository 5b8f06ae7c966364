"""Served-artifact registry — one home, one build latch, one lifecycle.

Every served artifact in the repo follows the same contract: built ONCE
per (kind, corpus) per process into a uuid-named directory under a
per-process home, behind a per-key latch so concurrent first calls never
race an overwrite; all later calls are probe/score-only. This module is
that contract's single implementation (r10, declared r11 landed early —
previously the latch machinery lived in operators/dedup.py and five
other modules re-implemented the path-naming/memo plumbing around it):

- MinHash band index        kind="corpus"  (operators/dedup.py)
- gram-frequency index      kind="gram"    (operators/dedup.py)
- IVF inverted file         kind="ivf"     (operators/similarity.py)
- langid trigram model      kind="langid"  (operators/text_analysis.py)
- DSIR λ table              kind="dsir"    (operators/curation.py)
- Kneser-Ney score table    kind="kn"      (operators/tfidf.py)

The home is a unique mkdtemp per interpreter, so two concurrent Spark
sessions on the same sf_dir can never race on one directory, and a
testdata regeneration can never be shadowed by a stale artifact from an
earlier process; the whole tree is removed at interpreter exit. Durable
cross-process artifacts (the production posture) pass their own root to
the builders directly — this registry only manages the per-process
memoized case the registered queries use.
"""

from __future__ import annotations

import os
import threading
import uuid

ARTIFACT_LOCK = threading.Lock()
_HOME: str | None = None
_MEMOS: dict[str, dict[str, str]] = {}
_PENDINGS: dict[str, dict[str, threading.Event]] = {}


def artifact_home() -> str:
    """Lazily-created per-process root directory for served artifacts."""
    global _HOME
    with ARTIFACT_LOCK:
        if _HOME is None:
            import atexit
            import shutil
            import tempfile

            _HOME = tempfile.mkdtemp(prefix="spark_graft_band_index_")
            atexit.register(shutil.rmtree, _HOME, ignore_errors=True)
    return _HOME


def memo(kind: str) -> dict[str, str]:
    """The (stable, introspectable) corpus→path memo for one artifact kind."""
    with ARTIFACT_LOCK:
        return _MEMOS.setdefault(kind, {})


def _pending(kind: str) -> dict[str, threading.Event]:
    with ARTIFACT_LOCK:
        return _PENDINGS.setdefault(kind, {})


def memoized_build(
    memo: dict[str, str],
    pending: dict[str, threading.Event],
    key: str,
    builder,
) -> str:
    """Per-key build latch: memo lookups never wait on another key's build.

    The shared lock guards only the dict check-and-install (microseconds);
    the minutes-long Spark build runs outside it behind a per-key Event,
    so a first call for one sf_dir never blocks another thread's memo
    lookup — including already-built keys and other artifact kinds.
    Exactly one thread builds each key; waiters block on that key's Event
    alone. A failed build clears its latch so a waiter retries as the new
    builder rather than caching the failure.
    """
    while True:
        with ARTIFACT_LOCK:
            if key in memo:
                return memo[key]
            ev = pending.get(key)
            if ev is None:
                ev = pending[key] = threading.Event()
                is_builder = True
            else:
                is_builder = False
        if not is_builder:
            ev.wait()
            continue  # re-check: result published, or builder failed
        try:
            path = builder()
            with ARTIFACT_LOCK:
                memo[key] = path
            return path
        finally:
            with ARTIFACT_LOCK:
                pending.pop(key, None)
            ev.set()


def served_artifact(kind: str, sf_dir: str, build_fn) -> str:
    """Path of the ``kind`` artifact for ``sf_dir``, building if absent.

    ``build_fn(path)`` materializes the artifact into the (fresh,
    uuid-named) ``path``; keys are the RESOLVED directory path, so
    distinct sf_dirs sharing a final path segment get distinct
    artifacts.
    """
    key = os.path.realpath(sf_dir)

    def _build() -> str:
        path = os.path.join(artifact_home(), f"{kind}_{uuid.uuid4().hex[:8]}")
        build_fn(path)
        return path

    return memoized_build(memo(kind), _pending(kind), key, _build)
