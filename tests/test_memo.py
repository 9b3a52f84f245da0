"""Session-memo discipline (yt.operators.memo).

In-query ``persist()`` frames that are never unpersisted make a
long-lived session accumulate InMemoryRelations. These tests pin the
contract: repeated query invocations do not grow executor storage,
release drops every frame the registry owns and unlinks every staged
dir, values survive release, a released session refits with identical
results, and concurrent first callers all get the first writer's entry.
"""

from __future__ import annotations

import os
import threading
from types import SimpleNamespace

import __spark_entry__ as entrymod
from youtube_api_batch_process_with_analytics_spark.operators import memo

_QUERIES = entrymod.queries()
# session_value/acquire_staged only read the application id
_FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-test"))


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_repeat_invocations_do_not_accumulate_storage(spark, sf_dir):
    """Running the memo-backed and persist-bearing queries repeatedly must
    not grow the persistent-RDD registry: the session memo hands every
    repeat the SAME materialized frames, and plan-identical persists
    dedup in the CacheManager."""
    memo.release_session_frames()
    names = ["tfidf_top_terms", "perplexity_buckets", "dedup_exact",
             "semantic_dedup", "curation_pipeline_v2"]
    for n in names:
        _force(_QUERIES[n](spark, sf_dir))
    after_first = _n_persistent(spark)
    for _ in range(2):
        for n in names:
            _force(_QUERIES[n](spark, sf_dir))
    # <= not ==: the contract is NO GROWTH; the asynchronous
    # ContextCleaner may reclaim a dereferenced checkpoint RDD mid-test
    # and legitimately SHRINK the registry under load.
    assert _n_persistent(spark) <= after_first
    memo.release_session_frames()


def _registry_persists() -> list:
    """The persist-backed frames the memo registry holds: its
    ``persist=True`` frames and the tracked per-invocation persists."""
    with memo._LOCK:
        frames = [df for df, was_persist in memo._FRAMES.values() if was_persist]
        return frames + list(memo._TRACKED)


def _n_cached(frames) -> int:
    """How many of ``frames`` Spark's cache manager still holds."""
    from pyspark import StorageLevel

    return sum(df.storageLevel != StorageLevel.NONE for df in frames)


def test_release_unpersists_registry_frames(spark, sf_dir):
    """release_session_frames() must drop every persist-backed frame the
    registry owns (checkpointed frames are reference-dropped; explicit
    persists — the LM cb/cu stats, dedup's shingle frame — must leave
    Spark's cache). Only the registry's own frames are counted: the
    session-wide persistent-RDD count also moves when the ContextCleaner
    reclaims other tests' checkpoint blocks between two counts."""
    memo.release_session_frames()
    base = _n_cached(_registry_persists())
    _force(_QUERIES["tfidf_top_terms"](spark, sf_dir))
    before_lm = memo.n_session_frames()
    _force(_QUERIES["bigram_lm_quality"](spark, sf_dir))
    assert memo.n_session_frames() - before_lm == 3  # lm_occ, lm_cb, lm_cu
    _force(_QUERIES["dedup_exact"](spark, sf_dir))
    persisted = _registry_persists()
    grown = _n_cached(persisted)
    assert grown > base  # the fit actually pinned storage
    memo.release_session_frames()
    assert memo.n_session_frames() == 0
    remaining = _n_cached(persisted)
    assert remaining < grown


def test_release_then_refit_matches(spark, sf_dir):
    """A released session must refit from scratch with identical results
    (unpersist of lineage-bearing frames is safe; nothing dangling)."""
    memo.release_session_frames()
    first = sorted(
        _QUERIES["perplexity_buckets"](spark, sf_dir).collect(),
        key=lambda r: (r["bucket"], r["lang"]),
    )
    memo.release_session_frames()
    second = sorted(
        _QUERIES["perplexity_buckets"](spark, sf_dir).collect(),
        key=lambda r: (r["bucket"], r["lang"]),
    )
    assert first == second
    memo.release_session_frames()


def test_memo_keyed_by_sf_dir(spark, sf_dir):
    """Two corpora must never share a fitted artifact: the registry key
    includes sf_dir, so a same-session query against a different corpus
    fits its own frames (and reads its own data, not the first corpus's
    memoized tables)."""
    memo.release_session_frames()
    df1 = _QUERIES["tfidf_top_terms"](spark, sf_dir)
    _force(df1)
    n_one_corpus = memo.n_session_frames()
    assert n_one_corpus > 0
    # every registry key carries the sf_dir it was fitted on
    with memo._LOCK:
        assert all(k[1] == sf_dir for k in memo._FRAMES)
    # same sf_dir → no new frames
    _force(_QUERIES["tfidf_top_terms"](spark, sf_dir))
    assert memo.n_session_frames() == n_one_corpus
    # a DIFFERENT corpus in the same session fits its OWN frames and
    # returns different data — a regression dropping sf_dir from the key
    # would fail both assertions
    other = (
        "/root/testdata/sf0.01"
        if sf_dir != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    df2 = _QUERIES["tfidf_top_terms"](spark, other)
    _force(df2)
    assert memo.n_session_frames() > n_one_corpus
    with memo._LOCK:
        dirs = {k[1] for k in memo._FRAMES}
    assert dirs == {sf_dir, other}
    rows1 = sorted(map(tuple, df1.collect()))
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 != rows2  # different corpora -> different top terms
    memo.release_session_frames()


def test_score_micro_bound_holds(spark, sf_dir):
    """The perplexity histogram's bounded-window contract (ranking.py):
    score_micro = round(mean-probability · 1e6) must land in [0, 1e6], so
    the histogram can never exceed 1e6+1 rows regardless of corpus size."""
    from youtube_api_batch_process_with_analytics_spark.operators.ranking import (
        lm_scores_frame,
    )
    from pyspark.sql import functions as F

    memo.release_session_frames()
    row = (
        lm_scores_frame(spark, sf_dir)
        .select(F.round(F.col("lm_score") * 1e6).cast("long").alias("m"))
        .agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
        .collect()[0]
    )
    assert 0 <= row["lo"] <= row["hi"] <= 1_000_000
    memo.release_session_frames()


def test_staged_release_defers_while_in_use():
    """A release must never delete a staged dir out from under an active
    reader. Release unlinks every staged dir: idle ones are deleted at
    once, one in use is doomed and deleted by its last reader's exit.
    No Spark needed — staging is bookkeeping around ``stage(path)``."""
    staged_into = []

    def stage(path):
        staged_into.append(path)
        with open(os.path.join(path, "part-0.parquet"), "wb") as f:
            f.write(b"x")

    memo.release_session_frames()
    busy = memo.acquire_staged(_FAKE_SPARK, "sf-test", "busy", stage)
    assert memo.acquire_staged(_FAKE_SPARK, "sf-test", "busy", stage) == busy
    assert staged_into == [busy]  # staged once, two readers
    memo.release_staged(busy)
    idle = memo.acquire_staged(_FAKE_SPARK, "sf-test", "idle", stage)
    memo.release_staged(idle)

    memo.release_session_frames()
    assert not os.path.exists(idle)  # idle: deleted by release
    assert os.path.isdir(busy)  # still on disk: reader active
    with memo._LOCK:
        assert busy not in memo._STAGED.values()  # but unlinked
        assert busy in memo._DOOMED
    restaged = memo.acquire_staged(_FAKE_SPARK, "sf-test", "busy", stage)
    assert restaged != busy  # a released key stages afresh

    memo.release_staged(busy)  # last reader exits
    assert not os.path.exists(busy)
    with memo._LOCK:
        assert busy not in memo._IN_USE
        assert busy not in memo._DOOMED

    memo.release_staged(restaged)
    memo.release_session_frames()
    assert not os.path.exists(restaged)

    # a failed stage leaves neither a dir nor a registry entry behind
    def broken(path):
        staged_into.append(path)
        raise RuntimeError("stage failed")

    try:
        memo.acquire_staged(_FAKE_SPARK, "sf-test", "broken", broken)
    except RuntimeError:
        pass
    assert not os.path.exists(staged_into[-1])
    with memo._LOCK:
        assert ("app-test", "sf-test", "broken") not in memo._STAGED
        assert staged_into[-1] not in memo._IN_USE


def _assert_release_defers_while_in_use(tag, stage):
    """Release with one dir of ``tag`` in use and one idle: the idle dir
    is deleted at once; the busy one stays on disk, unlinked and doomed,
    until its last reader's exit deletes it."""
    memo.release_session_frames()
    busy = memo.acquire_staged(_FAKE_SPARK, "sf-busy", tag, stage)
    idle = memo.acquire_staged(_FAKE_SPARK, "sf-idle", tag, stage)
    memo.release_staged(idle)

    memo.release_session_frames()
    assert not os.path.exists(idle)  # idle: deleted by release
    assert os.path.isdir(busy)  # still on disk: reader active
    with memo._LOCK:
        assert ("app-test", "sf-busy", tag) not in memo._STAGED  # unlinked
        assert busy in memo._DOOMED

    memo.release_staged(busy)  # last reader exits
    assert not os.path.exists(busy)
    with memo._LOCK:
        assert busy not in memo._IN_USE
        assert busy not in memo._DOOMED


def test_latch_source_release_defers_while_in_use():
    """A second acquire of the streaming latch's source for the same
    (session, corpus) returns the SAME staged dir without restaging, and
    a release must never delete it out from under an active run
    (quota_latch_final holds it between acquire_staged and
    release_staged)."""
    staged_into = []

    def stage(path):
        staged_into.append(path)
        with open(os.path.join(path, "part-0.parquet"), "wb") as f:
            f.write(b"x")

    memo.release_session_frames()
    first = memo.acquire_staged(_FAKE_SPARK, "sf-latch", "latch_src", stage)
    second = memo.acquire_staged(_FAKE_SPARK, "sf-latch", "latch_src", stage)
    memo.release_staged(second)
    memo.release_staged(first)
    assert second == first
    assert staged_into == [first]

    _assert_release_defers_while_in_use("latch_src", stage)


def test_retention_root_release_defers_while_in_use():
    """A release must never delete the post-drop retention layout out
    from under an executing retention_applied scan (the returned handle
    holds it until collected)."""

    def stage(path):
        os.mkdir(os.path.join(path, "day=2026-01-01"))

    _assert_release_defers_while_in_use("retention_applied", stage)


def test_session_value_race_first_writer_wins():
    """Eight threads racing one cold key all build (outside the lock) and
    all get the first writer's object; release_session_frames() leaves
    values in place and n_session_frames() does not count them."""
    n = 8
    barrier = threading.Barrier(n)
    built, got = [], [None] * n

    def build():
        obj = object()
        built.append(obj)
        barrier.wait()  # every thread is inside build before any writes
        return obj

    def run(i):
        got[i] = memo.session_value(_FAKE_SPARK, "sf-race", "value", build)

    frames_before = memo.n_session_frames()
    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(built) == n
    assert got[0] in built
    assert all(g is got[0] for g in got)
    assert memo.n_session_frames() == frames_before

    memo.release_session_frames()

    def rebuild():
        raise AssertionError("value was dropped by release")

    assert memo.session_value(_FAKE_SPARK, "sf-race", "value", rebuild) is got[0]


def test_retention_applied_handle_pins_staged_root(spark, sf_dir):
    """The refcount brackets the HANDLE's lifetime: a release while a
    retention_applied frame is live defers the rmtree; the frame still
    collects correctly afterwards; dropping the last handle performs the
    deferred delete."""
    import gc

    from youtube_api_batch_process_with_analytics_spark.sources import (
        partitioned as pt,
    )

    memo.release_session_frames()
    out = pt.retention_applied(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, "retention_applied")
    with memo._LOCK:
        root = memo._STAGED[key]
        assert memo._IN_USE.get(root) == 1

    memo.release_session_frames()  # races the live handle
    assert os.path.isdir(root)  # deferred: handle still live
    rows = out.collect()  # a scan an eager delete would break
    assert len(rows) > 0

    del out
    gc.collect()
    assert not os.path.exists(root)  # last handle performed the delete
    with memo._LOCK:
        assert root not in memo._IN_USE
        assert root not in memo._DOOMED
