"""Hostile-corpus differential for the STREAMING twins.

tests/test_hostile_corpus.py replays the 87 gated batch queries over
poisoned base tables; the streaming twins were previously pinned only on
clean fixtures. These tests seed the same degenerate-row classes — NULL
timestamps, NULL keys, NULL event types, NULL values, NULL/empty text —
through each stateful streaming operator and pin the shared contracts:

- NULL event-time rows are dropped by the engine's watermark machinery,
  exactly matching the batch side's explicit ``ts IS NOT NULL`` filter
  (the contract every batch window operator carries);
- NULL grouping keys form their own state group (Spark groupBy semantics,
  same as batch) and flow through keyed state without poisoning others;
- NULL text fingerprints as '' on both the stream and history sides
  (the shared NULL→'' content contract of the dedup family).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.sources import load_table


def _ts(day: int, hour: int, minute: int = 0):
    return datetime(2024, 1, day, hour, minute)


@pytest.fixture()
def hostile_events(spark, sf_dir, tmp_path):
    """Fixture events plus degenerate rows: NULL ts, NULL user_id, NULL
    event_type, empty-string type, and a duplicated event_id."""
    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    hostile = spark.createDataFrame(
        [
            (8100001, None, 91001, "error", 1.0, None),  # NULL ts
            (8100002, _ts(15, 12), None, "error", 2.0, None),  # NULL key
            (8100003, _ts(15, 12, 1), 91002, None, 3.0, None),  # NULL type
            (8100004, _ts(15, 12, 2), 91002, "", 4.0, None),  # empty type
            (8100005, _ts(15, 12, 3), None, None, None, None),  # all NULL
            (8100005, _ts(15, 12, 4), 91003, "view", 5.0, None),  # dup id
        ],
        schema=batch.schema,
    )
    poisoned = batch.unionAll(hostile)
    path = str(tmp_path / "hostile_events")
    poisoned.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    return spark.readStream.schema(batch.schema).parquet(path), static


def test_hostile_sessionization_stream(spark, hostile_events):
    """NULL-ts rows must be invisible to streaming sessionization (the
    watermark cannot place them), matching the batch operator's explicit
    filter; NULL user_id sessions survive as their own group."""
    from youtube_api_batch_process_with_analytics_spark.operators.windows import (
        SESSION_GAP_HOURS,
    )
    from youtube_api_batch_process_with_analytics_spark.streaming import (
        user_sessions_stream,
    )

    stream_df, static = hostile_events
    q = (
        user_sessions_stream(stream_df)
        .writeStream.format("memory")
        .queryName("hostile_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM hostile_sessions").collect()
        }
    finally:
        q.stop()
    # batch twin over the same poisoned frame, with the explicit contract
    sw = F.session_window(F.col("ts"), f"{SESSION_GAP_HOURS} hours")
    want_all = {
        tuple(r)
        for r in static.filter(F.col("ts").isNotNull())
        .groupBy("user_id", sw.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select("user_id", "w.start", "w.end", "n_events", "n_errors")
        .collect()
    }
    assert got <= want_all and got
    # the NULL-user session closed long before the stream's frontier, so it
    # must actually be EMITTED, not just allowed
    assert any(t[0] is None for t in want_all)
    emitted_users = {t[0] for t in got}
    closed_users = {
        t[0] for t in want_all if t[2] < max(w[2] for w in want_all)
    }
    if None in closed_users:
        assert None in emitted_users


def test_hostile_quota_usage_stream(spark, hostile_events):
    """Windowed quota counters: NULL-ts rows dropped (no window), NULL
    event_type counts as a non-error request, NULL key_id aggregates as
    its own group — bit-identical to the batch aggregation under the
    shared ts IS NOT NULL contract."""
    from youtube_api_batch_process_with_analytics_spark.streaming import (
        quota_usage_stream,
    )

    stream_df, static = hostile_events
    q = (
        quota_usage_stream(stream_df)
        .writeStream.format("memory")
        .queryName("hostile_quota")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r.key_id, r.window_start): (r.requests, r.failures)
            for r in spark.sql("SELECT * FROM hostile_quota").collect()
        }
    finally:
        q.stop()
    expected = {
        (r.user_id, r.ws): (r.requests, r.failures)
        for r in static.filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("ws"))
        .agg(
            F.count("*").alias("requests"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "failures"
            ),
        )
        .collect()
    }
    assert got == expected
    # the NULL-key window actually exists and carries the right counts
    assert (None, _ts(15, 12)) in got
    assert got[(None, _ts(15, 12))] == (2, 1)


def test_hostile_quota_latch_stream(spark, hostile_events):
    """The exhaustion latch under NULL keys: a NULL user_id is its own
    state group, and every clean key's totals match the batch groupBy
    over the poisoned frame."""
    from youtube_api_batch_process_with_analytics_spark.streaming import (
        quota_latch_stream,
    )

    stream_df, static = hostile_events
    q = (
        quota_latch_stream(stream_df, quota=50)
        .writeStream.format("memory")
        .queryName("hostile_latch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        rows = spark.sql(
            "select * from (select *, row_number() over "
            "(partition by key_id order by total_requests desc) as rn "
            "from hostile_latch) where rn = 1"
        ).collect()
        got = {
            r.key_id: (r.total_requests, r.total_failures, r.is_exhausted)
            for r in rows
        }
    finally:
        q.stop()
    expected = {
        r.user_id: (r.n, r.fails)
        for r in static.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "fails"
            ),
        )
        .collect()
    }
    assert len(got) == len(expected) > 0
    for k, (n, fails) in expected.items():
        assert got[k][0] == n and got[k][1] == fails
        assert got[k][2] is (n >= 50)
    # the two NULL-keyed events (one 'error', one all-NULL) share one group
    assert got[None][:2] == (2, 1)


def test_hostile_ttl_cache_stream(spark, tmp_path):
    """Keyed TTL-cache state under degenerate entries: a NULL cache_key is
    its own state group, a NULL value stores (and re-emits) as NULL without
    poisoning the hit count, and clean keys are unaffected. A NULL-ts
    write counts (value and hits) but does not move the key's expiry: key
    "c" still expires at its stamped write + TTL, and key "n", written
    only without a timestamp, has no expiry at all."""
    from youtube_api_batch_process_with_analytics_spark.streaming import (
        ttl_cache_stream,
    )

    src = spark.createDataFrame(
        [
            ("a", 1.0, _ts(15, 12)),
            ("a", 2.0, _ts(15, 12, 1)),
            (None, 9.0, _ts(15, 12, 2)),
            (None, None, _ts(15, 12, 3)),
            ("b", None, _ts(15, 12, 4)),
            ("c", 5.0, _ts(15, 1)),  # expires at 02:00, before 12:04
            ("c", 6.0, None),  # a write, but no new expiry
            ("n", 4.0, None),  # never stamped: never expires
        ],
        "cache_key string, value double, ts timestamp",
    )
    path = str(tmp_path / "hostile_cache_stream")
    src.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        ttl_cache_stream(stream, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("hostile_cache")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    try:
        rows = spark.sql("SELECT * FROM hostile_cache").collect()
    finally:
        q.stop()
    got = {r.cache_key: (r.value, r.hits, r.evicted) for r in rows if not r.evicted}
    evicted = {(r.cache_key, r.value, r.hits) for r in rows if r.evicted}
    assert got["a"] == (2.0, 2, False)
    # last write for the NULL-key group was a NULL value; both entries hit
    assert got[None] == (None, 2, False)
    # a single NULL-value write stores NULL, not NaN/0.0
    assert got["b"] == (None, 1, False)
    assert got["c"] == (6.0, 2, False)
    assert got["n"] == (4.0, 1, False)
    assert evicted == {("c", 6.0, 2)}


def test_hostile_incremental_dedup_stream(spark, tmp_path):
    """Stream-static anti-join ingest under NULL/empty text: NULL text
    fingerprints as '' on BOTH sides (the shared NULL→'' contract), so a
    NULL-text shard is dropped when history holds an empty-text doc, and
    the stream result matches the batch anti-join exactly."""
    from youtube_api_batch_process_with_analytics_spark.streaming.ingest import (
        content_fingerprint,
        incremental_dedup_stream,
    )

    history = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None)], "doc_id long, text string"
    )
    new_docs = spark.createDataFrame(
        [
            (10, "alpha beta"),  # exact dup -> dropped
            (11, None),  # NULL ≡ '' ≡ history doc 2/3 -> dropped
            (12, ""),  # same -> dropped
            (13, "gamma delta"),  # genuinely new -> survives
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "hostile_ingest")
    new_docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(new_docs.schema).parquet(path)
    q = (
        incremental_dedup_stream(stream, history)
        .writeStream.format("memory")
        .queryName("hostile_ingest")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {r.doc_id for r in spark.table("hostile_ingest").collect()}
    finally:
        q.stop()
    expected = {
        r.doc_id
        for r in new_docs.withColumn("fp", content_fingerprint())
        .join(
            history.select(content_fingerprint().alias("fp")).distinct(),
            "fp",
            "left_anti",
        )
        .collect()
    }
    assert got == expected == {13}
