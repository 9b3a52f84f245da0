"""Structured Streaming tests: feed the quota/level transforms from a file
stream of the events table and check the aggregates match the batch analog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.sources import load_table
from youtube_api_batch_process_with_analytics_spark.streaming import (
    quota_usage_stream,
    watermarked_level_counts,
)


@pytest.fixture()
def event_stream(spark, sf_dir, tmp_path):
    batch = load_table(spark, sf_dir, "events")
    # file-source stream with the exact batch schema (ts already micros)
    path = str(tmp_path / "events_stream")
    batch.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(batch.schema).parquet(path), batch


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_sessionization_stream_matches_batch(spark, sf_dir, event_stream):
    """Streaming session_window (append mode + watermark) must emit rows
    byte-identical to the batch user_sessions operator: every emitted
    session appears in the batch result, and every session the final
    watermark has strictly passed is emitted."""
    from youtube_api_batch_process_with_analytics_spark.operators.windows import (
        user_sessions,
    )
    from youtube_api_batch_process_with_analytics_spark.streaming import (
        user_sessions_stream,
    )

    stream_df, batch = event_stream
    q = (
        user_sessions_stream(stream_df)
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM sessions_stream").collect()
        }
    finally:
        q.stop()
    want_all = {tuple(r) for r in user_sessions(spark, sf_dir).collect()}
    assert got <= want_all
    # final watermark trails the max event time by WATERMARK_DELAY
    from datetime import timedelta

    from youtube_api_batch_process_with_analytics_spark.streaming.sessions import (
        WATERMARK_DELAY,
    )

    n, unit = WATERMARK_DELAY.split()
    wm = batch.agg(F.max("ts")).collect()[0][0] - timedelta(
        **{unit.rstrip("s") + "s": int(n)}
    )
    closed = {t for t in want_all if t[2] < wm}  # session_end < watermark
    assert closed <= got and got


def test_quota_usage_stream_matches_batch(spark, event_stream):
    stream_df, batch = event_stream
    q = _run_to_memory(quota_usage_stream(stream_df), "quota_stream")
    try:
        got = {
            (r.key_id, r.window_start): (r.requests, r.failures, r.quota_warning)
            for r in spark.sql("select * from quota_stream").collect()
        }
        expected = {
            (r.user_id, r.ws): (r.requests, r.failures)
            for r in batch.groupBy(
                "user_id", F.date_trunc("hour", "ts").alias("ws")
            )
            .agg(
                F.count("*").alias("requests"),
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                    "failures"
                ),
            )
            .collect()
        }
        assert len(got) == len(expected) > 0
        for k, (req, fail) in expected.items():
            assert got[k][0] == req and got[k][1] == fail
            assert got[k][2] is (req >= 900)
    finally:
        q.stop()


def test_watermarked_level_counts(spark, event_stream):
    stream_df, batch = event_stream
    q = _run_to_memory(watermarked_level_counts(stream_df), "level_stream")
    try:
        got = spark.sql("select sum(cnt) as n from level_stream").collect()[0].n
        assert got == batch.count()
    finally:
        q.stop()


def test_quota_latch_stream(spark, event_stream):
    """The streaming latch: final per-key totals must match the batch
    groupBy, and is_exhausted must latch exactly when requests >= quota."""
    from youtube_api_batch_process_with_analytics_spark.streaming import quota_latch_stream

    stream_df, batch = event_stream
    QUOTA = 50  # small quota so both latch states occur in the fixture
    out = quota_latch_stream(stream_df, quota=QUOTA)
    q = (
        out.writeStream.format("memory")
        .queryName("latch_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        # update mode emits one row per key per micro-batch; keep the last
        rows = spark.sql(
            "select * from (select *, row_number() over "
            "(partition by key_id order by total_requests desc) as rn "
            "from latch_stream) where rn = 1"
        ).drop("rn").collect()
        got = {r.key_id: (r.total_requests, r.total_failures, r.is_exhausted) for r in rows}
        expected = {
            r.user_id: (r.n, r.fails)
            for r in batch.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("fails"),
            )
            .collect()
        }
        assert len(got) == len(expected) > 0
        n_exhausted = 0
        for k, (n, fails) in expected.items():
            assert got[k][0] == n and got[k][1] == fails
            assert got[k][2] is (n >= QUOTA)
            n_exhausted += int(n >= QUOTA)
        assert 0 < n_exhausted  # fixture actually exercises the latch
    finally:
        q.stop()


def test_ttl_cache_stream(spark, tmp_path):
    """TTL cache state: latest value + hit count per key survive micro-batches,
    and a key whose last write is older than the TTL (by event time) is
    evicted with a tombstone — after which the availableNow run ends on
    its own instead of idling to the caller's cap."""
    from datetime import datetime

    from youtube_api_batch_process_with_analytics_spark.streaming import ttl_cache_stream

    src = spark.createDataFrame(
        [
            ("a", 1.0, datetime(2024, 1, 1, 10, 0)),
            ("a", 2.0, datetime(2024, 1, 1, 10, 1)),
            ("b", 7.0, datetime(2024, 1, 1, 10, 2)),
            # written 10 h before b with a 1 h TTL: expires
            ("old", 3.0, datetime(2024, 1, 1, 0, 2)),
        ],
        "cache_key string, value double, ts timestamp",
    )
    path = str(tmp_path / "cache_stream")
    src.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        ttl_cache_stream(stream, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("cache_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    try:
        rows = spark.sql("select * from cache_stream").collect()
        got = {r.cache_key: (r.value, r.hits, r.evicted) for r in rows if not r.evicted}
        evicted = {(r.cache_key, r.value, r.hits) for r in rows if r.evicted}
        assert got["a"] == (2.0, 2, False)
        assert got["b"] == (7.0, 1, False)
        assert got["old"] == (3.0, 1, False)
        assert evicted == {("old", 3.0, 1)}
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup: duplicated event rows collapse to one within
    the watermark (dropDuplicatesWithinWatermark keys state eviction to
    event time — bounded state on an unbounded stream, the streaming twin
    of the batch dedup_exact operator)."""
    batch = load_table(spark, sf_dir, "events").select("event_id", "ts")
    doubled = batch.unionAll(batch)
    path = str(tmp_path / "dup_stream")
    doubled.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(doubled.schema).parquet(path)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = spark.table("dedup_stream").count()
        assert got == batch.count()
    finally:
        q.stop()


def test_incremental_dedup_stream_vs_history(spark, sf_dir, tmp_path):
    """Stream-static anti-join ingest: documents already fingerprinted in
    the historical corpus are dropped; genuinely new ones survive. The
    expected set comes from the batch anti-join over the same frames."""
    from youtube_api_batch_process_with_analytics_spark.streaming.ingest import (
        incremental_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 5 != 0)  # 80% already ingested
    path = str(tmp_path / "ingest_stream")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        incremental_dedup_stream(stream, history)
        .writeStream.format("memory")
        .queryName("ingest_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {r.doc_id for r in spark.table("ingest_dedup").collect()}
        expected_df = docs.join(
            history.select(F.md5("text").alias("fp")).distinct(),
            F.md5(docs.text) == F.col("fp"),
            "left_anti",
        )
        expected = {r.doc_id for r in expected_df.collect()}
        assert got == expected and got
    finally:
        q.stop()


def test_sessionization_multibatch_out_of_order(spark, tmp_path):
    """Pin both sides of the sessionization lateness bound across REAL
    micro-batch boundaries (maxFilesPerTrigger=1, one file per batch, file
    order forced via mtime) — the availableNow parity test above lands all
    data in one batch, so cross-batch reordering was never exercised:

    - an event arriving a later batch, behind the frontier but within
      WATERMARK_DELAY + gap of state eviction, still merges into its
      session (batch-identical result);
    - an event whose whole possible session (ts + gap) is behind the
      watermark is dropped — the state-eviction contract.
    """
    import os
    import time
    from datetime import datetime

    import pandas as pd

    from youtube_api_batch_process_with_analytics_spark.streaming import (
        user_sessions_stream,
    )

    d = tmp_path / "ooo_events"
    d.mkdir()

    def jan(day, hour, minute=0):
        return datetime(2020, 1, day, hour, minute)

    files = [
        # batch 0: A opens a session, B's event sets the frontier
        [(1, jan(1, 0), "view"), (1, jan(1, 1), "view"), (2, jan(1, 5), "error")],
        # batch 1: A@04:30 is BEHIND the frontier but within bound ->
        # must merge into A's open session
        [(1, jan(1, 4, 30), "view")],
        # batch 2: C jumps the frontier (wm -> Jan 4 23:00 after commit)
        [(3, jan(5, 0), "view")],
        # batch 3: E advances further (wm -> Jan 9 23:00), closing A and B
        [(5, jan(10, 0), "view")],
        # batch 4: D is far behind even the PREVIOUS batch's watermark
        # (late-event filtering lags eviction by one batch, SPARK-40925)
        # -> dropped entirely, no session row ever
        [(4, jan(1, 6), "view")],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
        # micros, not pandas-default nanos: Spark reads TIMESTAMP_MICROS
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(d / f"f{i}.parquet", index=False)
        mt = time.time() - 100 + i * 10
        os.utime(d / f"f{i}.parquet", (mt, mt))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        user_sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        n_dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.n_errors)
            for r in spark.sql("SELECT * FROM ooo_sessions").collect()
        }
    finally:
        q.stop()
    assert n_batches >= 5, f"expected one micro-batch per file, saw {n_batches}"
    assert n_dropped == 1, f"expected exactly the out-of-bound row dropped, saw {n_dropped}"
    assert got == {
        # the in-bound late event extended A's session and counts in it
        (1, jan(1, 0), jan(1, 16, 30), 3, 0),
        (2, jan(1, 5), jan(1, 17), 1, 1),
        (3, jan(5, 0), jan(5, 12), 1, 0),
        # no user-4 row (out-of-bound drop), no user-5 row (still open)
    }, sorted(got)


def test_rate_limit_pacer_stream_matches_batch_across_batches(
    spark, sf_dir, tmp_path
):
    """The incremental pacer must reproduce the batch closed form
    (operators/windows.py::rate_limit_pacer) under the in-order-per-key
    contract, across REAL micro-batch boundaries: events are split into
    three files in global ts order (so each key's rows arrive in order)
    and fed one file per trigger, forcing the per-key state to carry the
    last-admit stamp between batches."""
    import os
    import time

    from youtube_api_batch_process_with_analytics_spark.streaming import (
        rate_limit_pacer_stream,
    )
    from youtube_api_batch_process_with_analytics_spark.streaming.state import (
        MIN_REQUEST_INTERVAL_US,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("arrival_us"))
    )
    rows = sorted(events.collect(), key=lambda r: (r.arrival_us, r.event_id))
    assert len(rows) > 100

    d = tmp_path / "pacer_stream"
    d.mkdir()
    import pandas as pd

    third = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        pdf = pd.DataFrame(
            [(r.user_id, r.event_id, r.arrival_us) for r in chunk],
            columns=["user_id", "event_id", "arrival_us"],
        )
        pdf.to_parquet(d / f"f{i}.parquet", index=False)
        mt = time.time() - 100 + i * 10
        os.utime(d / f"f{i}.parquet", (mt, mt))

    stream = (
        spark.readStream.schema("user_id long, event_id long, arrival_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        rate_limit_pacer_stream(stream)
        .writeStream.format("memory")
        .queryName("pacer_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        got = {
            r.event_id: (r.arrival_us, r.admit_us)
            for r in spark.sql("SELECT * FROM pacer_stream").collect()
        }
    finally:
        q.stop()
    assert n_batches >= 3, f"expected one micro-batch per file, saw {n_batches}"

    # reference recurrence, folded per key in (arrival, event_id) order
    expected: dict[int, tuple[int, int]] = {}
    last: dict[int, int] = {}
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    for uid, krows in by_key.items():
        for r in krows:
            admit = (
                r.arrival_us
                if uid not in last
                else max(r.arrival_us, last[uid] + MIN_REQUEST_INTERVAL_US)
            )
            last[uid] = admit
            expected[r.event_id] = (r.arrival_us, admit)
    assert got == expected


def test_rate_limit_pacer_stream_hostile_rows(spark, tmp_path):
    """Degenerate rows through the streaming pacer: a NULL-arrival row is
    emitted unpaced (NULL admit) without corrupting its key's state, and a
    NULL-keyed row forms a real group instead of killing the query."""
    import pandas as pd

    from youtube_api_batch_process_with_analytics_spark.streaming import (
        rate_limit_pacer_stream,
    )

    d = tmp_path / "pacer_hostile"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "user_id": pd.array([1, 1, 1, None, 7], dtype="Int64"),
            "event_id": pd.array([10, 11, 12, 13, None], dtype="Int64"),
            "arrival_us": pd.array(
                [1_000_000, None, 1_050_000, 2_000_000, 3_000_000], dtype="Int64"
            ),
        }
    )
    pdf.to_parquet(d / "f0.parquet", index=False)
    stream = spark.readStream.schema(
        "user_id long, event_id long, arrival_us long"
    ).parquet(str(d))
    q = (
        rate_limit_pacer_stream(stream)
        .writeStream.format("memory")
        .queryName("pacer_hostile")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r.user_id, r.event_id): (r.arrival_us, r.admit_us)
            for r in spark.sql("SELECT * FROM pacer_hostile").collect()
        }
    finally:
        q.stop()
    assert got == {
        (1, 10): (1_000_000, 1_000_000),
        # second stamped event for key 1 paced off the FIRST one —
        # the NULL-arrival row in between did not advance the state
        (1, 12): (1_050_000, 1_100_000),
        (1, 11): (None, None),  # unstamped: passed through, not dropped
        (None, 13): (2_000_000, 2_000_000),  # NULL key is a real group
        (7, None): (3_000_000, 3_000_000),  # NULL event_id tolerated
    }, sorted(got.items(), key=lambda kv: str(kv))


def test_quota_latch_checkpoint_recovery(spark, tmp_path):
    """Exactly-once recovery of the streaming aggregate's state store:
    stop the latch query after run 1, deliver more events, restart from
    the SAME checkpoint — the per-key counts (the latch's only input) must
    be restored, so run 2 emits CUMULATIVE totals and the latch flips only
    on the cross-restart cumulative count. A fresh-state restart would
    emit 2 requests for user 1 and never latch."""
    import pandas as pd

    from youtube_api_batch_process_with_analytics_spark.streaming.state import (
        quota_latch_stream,
    )

    src = tmp_path / "latch_events"
    src.mkdir()
    cp = str(tmp_path / "latch_cp")

    def write(name, rows):
        pd.DataFrame(rows, columns=["user_id", "event_type"]).to_parquet(
            src / name, index=False
        )

    def run(sink_rows):
        stream = spark.readStream.schema(
            "user_id long, event_type string"
        ).parquet(str(src))

        def sink(df, _epoch):
            sink_rows.extend(tuple(r) for r in df.collect())

        q = (
            quota_latch_stream(stream, quota=4)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # run 1: u1 under quota (3 < 4), u2 untouched afterwards
    write("f0.parquet", [(1, "view"), (1, "error"), (1, "view"), (2, "view")])
    got1: list = []
    run(got1)
    assert (1, 3, 1, False) in got1 and (2, 1, 0, False) in got1

    # run 2, same checkpoint: 2 more u1 events + a new user
    write("f1.parquet", [(1, "view"), (1, "view"), (3, "view")])
    got2: list = []
    run(got2)
    by_key = {r[0]: r for r in got2}
    # cumulative 3+2=5 requests, restored failure count, latch crossed
    assert by_key[1] == (1, 5, 1, True)
    assert by_key[3] == (3, 1, 0, False)
    # no replay of run-1 offsets: u2 got no new events, so no row
    assert 2 not in by_key


def test_sessionization_checkpoint_recovery_watermark_restored(
    spark, tmp_path
):
    """Restarting the sessionization stream from its checkpoint must
    restore BOTH source offsets (committed files are not reprocessed —
    no duplicate session rows in the file sink) and the event-time
    watermark (a late event arriving after the restart is still dropped
    against the PRE-restart frontier). Final emitted set must equal the
    single-run result pinned by test_sessionization_multibatch_out_of_order."""
    import os
    import time
    from datetime import datetime

    import pandas as pd

    from youtube_api_batch_process_with_analytics_spark.streaming import (
        user_sessions_stream,
    )

    src = tmp_path / "cr_events"
    src.mkdir()
    cp = str(tmp_path / "cr_cp")
    out = str(tmp_path / "cr_out")

    def jan(day, hour, minute=0):
        return datetime(2020, 1, day, hour, minute)

    def write(i, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(src / f"f{i}.parquet", index=False)
        mt = time.time() - 100 + i * 10
        os.utime(src / f"f{i}.parquet", (mt, mt))

    def run():
        stream = (
            spark.readStream.schema(
                "user_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            user_sessions_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        q.stop()
        return dropped

    # run 1: same first three batches as the single-run pin
    write(0, [(1, jan(1, 0), "view"), (1, jan(1, 1), "view"), (2, jan(1, 5), "error")])
    write(1, [(1, jan(1, 4, 30), "view")])  # late but in-bound -> merges
    write(2, [(3, jan(5, 0), "view")])  # frontier jumps to Jan 4 23:00
    assert run() == 0

    # run 2 from the same checkpoint: E advances the watermark further,
    # then D (Jan 1 06:00) is behind even the restored pre-restart
    # frontier -> must be dropped, which proves the watermark survived
    write(3, [(5, jan(10, 0), "view")])
    write(4, [(4, jan(1, 6), "view")])
    assert run() == 1

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.n_errors)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, jan(1, 0), jan(1, 16, 30), 3, 0),
        (2, jan(1, 5), jan(1, 17), 1, 1),
        (3, jan(5, 0), jan(5, 12), 1, 0),
    }, sorted(got)
    # exactly-once: no duplicate emission across the restart
    assert spark.read.parquet(out).count() == 3


def test_quota_latch_gate_single_microbatch(spark, sf_dir):
    """The gate wrapper's staged source must feed availableNow as ONE
    micro-batch (coalesced staging write, well under maxFilesPerTrigger):
    per-batch startup (planning, state-store commit, sink write) would
    otherwise repeat for every file, and the result must equal the batch
    groupBy of the same events."""
    import uuid

    from youtube_api_batch_process_with_analytics_spark.operators.memo import (
        acquire_staged,
        release_staged,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table
    from youtube_api_batch_process_with_analytics_spark.streaming import state as st

    events = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    src = acquire_staged(
        spark, sf_dir, "latch_src", lambda p: st._stage_latch_source(events, p)
    )
    name = "latch_bc_" + uuid.uuid4().hex[:6]
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            st.quota_latch_stream(stream, quota=st.LATCH_GATE_QUOTA)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
        assert len(fed) == 1, f"expected 1 non-empty micro-batch, got {len(fed)}"
        got = {
            r.key_id: (r.total_requests, r.total_failures, r.is_exhausted)
            for r in spark.sql(f"select * from {name}").collect()
        }
        exp = {
            r.user_id: (r.n, r.f, r.n >= st.LATCH_GATE_QUOTA)
            for r in events.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("event_type") == "error", 1).otherwise(0)
                ).alias("f"),
            )
            .collect()
        }
        assert got == exp
    finally:
        release_staged(src)


def test_quota_latch_stream_empty_source_completes(spark, tmp_path):
    """An empty staged source (schema-only parquet) must complete the
    availableNow run cleanly with an empty memory table — the gate query
    cannot hang or crash on a corpus with zero events."""
    import uuid

    from youtube_api_batch_process_with_analytics_spark.streaming.state import (
        quota_latch_stream,
    )

    src = str(tmp_path / "empty_events")
    spark.createDataFrame(
        [], "user_id long, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    name = "latch_empty_" + uuid.uuid4().hex[:8]
    stream = spark.readStream.schema("user_id long, event_type string").parquet(src)
    q = (
        quota_latch_stream(stream, quota=5)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    assert spark.sql(f"select * from {name}").count() == 0
