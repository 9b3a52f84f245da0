"""Session state: the one owner of everything fitted or staged per corpus.

A prepared serving system builds each index or model once per corpus
version and runs every query against it. This module is where that
policy lives: every entry is keyed on ``(applicationId, sf_dir, tag)``,
built OUTSIDE the lock (builds run Spark jobs), and the first writer wins
a concurrent race — a loser's build is discarded before anything uses it.
There are three kinds of entry, each with its own lifetime:

* **Frames** — ``session_frame(spark, sf_dir, tag, build, persist)``:
  executor-side intermediates shared by several queries or plan branches
  (the tokenized corpus scan, the tf·idf scored table, the bigram-LM
  occurrence and count tables, the per-document score table).
  ``track_persisted(df)``
  adds a per-invocation ``.persist()`` frame that is not memoized
  (Spark's CacheManager already dedups plan-identical persists) so it
  still has an unpersist path. Released by ``release_session_frames()``:

  - ``persist=False`` materializes via ``localCheckpoint(eager=False)``
    (lineage truncated, one materialization guaranteed). It is not
    lazy under AQE: building it plans the frame adaptively, which runs
    every shuffle stage of its plan as Spark jobs at once (the
    ``tfidf_top_terms`` frame: 4 build jobs, pinned in
    ``tests/test_job_budget.py``); only the final stage waits for the
    first action. A local
    checkpoint cannot be recomputed once its blocks are dropped, so
    release never unpersists it: it clears every dependent cache first
    (e.g. the entry-point plan cache, so no live plan still embeds the
    frame), drops the reference, and lets the ContextCleaner reclaim the
    blocks.
  - ``persist=True`` uses ``.persist()`` (lineage intact) and release
    unpersists it explicitly.

* **Values** — ``session_value(spark, sf_dir, tag, build)``: driver-side
  fitted models (Lloyd centroids, PQ codebooks, the BPE model, the
  valid-embedding count) and table scan handles (keyed on the table's
  path). They pin no executor storage, so they live as long as the
  Spark application: release does not drop them and
  ``n_session_frames()`` does not count them.

* **Staged dirs** — ``acquire_staged(spark, sf_dir, tag, stage)`` /
  ``release_staged(path)``: a local directory that ``stage(path)`` writes
  once per key (the streaming gates' parquet sources, the post-retention
  day layout), with an in-use count per acquire. Release unlinks every
  staged dir from the registry and deletes the idle ones at once; a dir
  still in use is marked doomed and deleted by its last reader's
  ``release_staged``, so a release never removes a source under a
  running query.

``release_session_frames()`` is called by ``bench.py`` between queries
(so each query's first rep pays its own frame fits) and by long-lived
sessions that switch corpora.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
# (applicationId, sf_dir, tag) -> (frame, was_persist)
_FRAMES: dict[tuple, tuple[DataFrame, bool]] = {}
# Per-invocation persisted frames awaiting release (dedup's shingle
# frame, semantic_dedup's assignment frame). Unpersist is idempotent, so
# duplicate handles onto one InMemoryRelation are harmless.
_TRACKED: list[DataFrame] = []
# (applicationId, sf_dir, tag) -> driver-side fitted value
_VALUES: dict[tuple, Any] = {}
# (applicationId, sf_dir, tag) -> staged dir; active readers per dir; dirs
# released while in use (deleted by their last reader)
_STAGED: dict[tuple, str] = {}
_IN_USE: dict[str, int] = {}
_DOOMED: set[str] = set()
# Dependent-cache releasers (dedup's CC caches, the entry-point plan
# cache). Run FIRST on release so nothing still references a
# checkpointed frame whose registry entry is about to drop.
_RELEASERS: list[Callable[[], None]] = []


def _key(spark: SparkSession, sf_dir: str, tag: str) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, tag)


def session_frame(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], DataFrame],
    persist: bool = False,
) -> DataFrame:
    """Return the session-memoized materialization of ``build()``.

    First caller per key builds and materializes: a ``persist`` frame is
    computed by its first action; a checkpointed one runs its plan's
    shuffle stages as jobs here, under AQE, and its final stage at the
    first action. Later callers get the same DataFrame object, so their
    plans reuse the materialized blocks. A
    racing loser's frame is discarded (and unpersisted, when
    persist=True) before anything executes it.
    """
    key = _key(spark, sf_dir, tag)
    with _LOCK:
        hit = _FRAMES.get(key)
    if hit is not None:
        return hit[0]
    df = build()
    df = df.persist() if persist else df.localCheckpoint(eager=False)
    with _LOCK:
        winner = _FRAMES.setdefault(key, (df, persist))[0]
    if winner is not df and persist:
        df.unpersist()
    return winner


def session_value(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], Any]
) -> Any:
    """Return the session's fitted value for the key, running ``build()``
    on the first call. Concurrent first callers each build; every one of
    them gets the first writer's value."""
    key = _key(spark, sf_dir, tag)
    with _LOCK:
        if key in _VALUES:
            return _VALUES[key]
    value = build()
    with _LOCK:
        return _VALUES.setdefault(key, value)


def acquire_staged(
    spark: SparkSession, sf_dir: str, tag: str, stage: Callable[[str], None]
) -> str:
    """Return the key's staged dir, running ``stage(path)`` into a fresh
    temp dir on first use, and count one reader until ``release_staged``.
    The count is taken under the same lock hold that finds the dir
    registered, so a release can never slip between lookup and count."""
    key = _key(spark, sf_dir, tag)
    with _LOCK:
        path = _STAGED.get(key)
        if path is not None:
            _IN_USE[path] = _IN_USE.get(path, 0) + 1
            return path
    staged = tempfile.mkdtemp(prefix=f"{tag}_")
    try:
        stage(staged)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)  # no orphaned half-write
        raise
    with _LOCK:
        path = _STAGED.setdefault(key, staged)
        _IN_USE[path] = _IN_USE.get(path, 0) + 1
    if path != staged:
        shutil.rmtree(staged, ignore_errors=True)
    return path


def release_staged(path: str) -> None:
    """Drop one reader of ``path``; the last reader of a dir released
    while in use deletes it."""
    with _LOCK:
        n = _IN_USE.get(path, 0) - 1
        if n > 0:
            _IN_USE[path] = n
            return
        _IN_USE.pop(path, None)
        doomed = path in _DOOMED
        _DOOMED.discard(path)
    if doomed:
        shutil.rmtree(path, ignore_errors=True)


def track_persisted(df: DataFrame) -> DataFrame:
    """Register an already-``persist()``-ed frame for session release."""
    with _LOCK:
        _TRACKED.append(df)
    return df


def register_releaser(fn: Callable[[], None]) -> None:
    """Register a dependent-cache clearer run by every release."""
    with _LOCK:
        if fn not in _RELEASERS:
            _RELEASERS.append(fn)


def release_session_frames() -> None:
    """Drop every memoized/tracked frame, clear dependent caches, and
    unlink every staged dir (deleting the idle ones). Values stay.

    CONTRACT: release INVALIDATES every DataFrame previously returned by
    a query builder that embeds a checkpointed session frame (directly
    or via the entry-point plan cache, which this call clears through
    its registered releaser). Once the ContextCleaner reclaims the
    dropped checkpoint's blocks, re-executing such a handle fails with a
    block-not-found error — a localCheckpoint has no lineage to recompute
    from. Callers that hold query DataFrames across a release must
    re-request them from ``queries()`` (construction is cheap; data is
    refit on first action).
    """
    with _LOCK:
        releasers = list(_RELEASERS)
    for fn in releasers:
        fn()
    with _LOCK:
        frames = list(_FRAMES.values())
        _FRAMES.clear()
        tracked = list(_TRACKED)
        _TRACKED.clear()
        idle = []
        for path in _STAGED.values():
            if _IN_USE.get(path):
                _DOOMED.add(path)
            else:
                idle.append(path)
        _STAGED.clear()
    for path in idle:
        shutil.rmtree(path, ignore_errors=True)
    # Best-effort: a frame registered under a previous, now-stopped
    # SparkSession raises through py4j on unpersist — skip it (its JVM
    # is gone, so its storage is too) rather than abandoning the
    # remaining live frames mid-loop.
    for df in [df for df, was_persist in frames if was_persist] + tracked:
        try:
            df.unpersist()
        except Exception:
            pass


def n_session_frames() -> int:
    """Registry size (memoized + tracked frames) — test observability."""
    with _LOCK:
        return len(_FRAMES) + len(_TRACKED)
