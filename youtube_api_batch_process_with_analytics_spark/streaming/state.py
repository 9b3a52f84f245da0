"""Keyed streaming state (SURVEY.md §2.9 ST1/ST2/ST3).

- the per-key **exhaustion latch** (``APIKeyStats.is_exhausted``,
  youtube_api_handler.py:47-79): once a key crosses its quota it stays
  exhausted. The request count only grows, so the latch is a column
  derived from a plain keyed count — Spark's built-in streaming
  aggregate, with its state in the JVM state store.
- the **TTL cache** (youtube_api_handler.py:81-105): key→value entries
  that lazily expire; streaming form = ``applyInPandasWithState`` with an
  event-time timeout.
- the **min-interval pacer** (youtube_api_handler.py:361-367): an
  order-dependent fold per key, ``applyInPandasWithState``.

State is per-group and partitioned by the grouping key, so at production
scale it shards across executors with the shuffle; each group's state is
a few scalars (bounded, no unbounded growth).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.memo import acquire_staged, release_staged
from ..operators.windows import DAILY_QUOTA, MIN_REQUEST_INTERVAL_US


def quota_latch_stream(events: DataFrame, quota: int = DAILY_QUOTA) -> DataFrame:
    """ST2's exhaustion latch: per-key running request/failure counts with
    ``is_exhausted`` set once ``requests >= quota``
    (youtube_api_handler.py:47-79). Emits one updated row per key per
    micro-batch in update mode.

    ``events`` needs (user_id LONG, event_type STRING). The latch never
    un-sets, and over a count that only grows ``exhausted or requests >=
    quota`` is ``requests >= quota``: a derived column of the streaming
    ``count``, no custom state. A NULL user_id is its own group. A NULL
    event_type is not an error (``==`` yields NULL; the coalesce pins 0).
    """
    err = F.coalesce((F.col("event_type") == "error").cast("long"), F.lit(0))
    return (
        events.groupBy(F.col("user_id").alias("key_id"))
        .agg(
            F.count(F.lit(1)).alias("total_requests"),
            F.sum(err).alias("total_failures"),
        )
        .withColumn("is_exhausted", F.col("total_requests") >= quota)
    )


CACHE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("cache_key", T.StringType(), True),  # NULL key = real group
        T.StructField("value", T.DoubleType()),
        T.StructField("hits", T.LongType()),
        T.StructField("evicted", T.BooleanType()),
    ]
)

CACHE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.DoubleType()),
        T.StructField("hits", T.LongType()),
    ]
)


def ttl_cache_stream(entries: DataFrame, ttl_ms: int = 300_000) -> DataFrame:
    """ST1's TTL cache as streaming state: latest value + hit count per key,
    evicted ``ttl_ms`` of event time after the key's latest timestamped
    write (the streaming twin of the lazy ``del`` at
    youtube_api_handler.py:93-94).

    ``entries`` needs (cache_key STRING, value DOUBLE, ts TIMESTAMP).
    Expiry is an event-time timeout under a zero-delay watermark on
    ``ts``, so an ``availableNow`` run evicts what its own input has aged
    out and then ends. A write with a NULL ``ts`` counts (value and hits)
    but does not move the key's expiry; a key with no timestamped write
    has none. A write at or behind the watermark is late and the engine
    drops it. On timeout the operator emits a tombstone row
    (evicted=true) and drops the state — bounded state for an unbounded
    stream.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        value, hits = state.get if state.exists else (None, 0)
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {
                    "cache_key": [key[0]],
                    "value": [value],
                    "hits": [hits],
                    "evicted": [True],
                }
            )
            return
        expiry = None
        for pdf in pdfs:
            if len(pdf):
                # a NULL value is still a write: store (and re-emit) NULL,
                # never NaN — pandas surfaces the Arrow NULL as NaN here
                last = pdf["value"].iloc[-1]
                value = None if pd.isna(last) else float(last)
                hits += len(pdf)
                latest = pdf["ts_ms"].max()  # NaN: no stamped write
                if pd.notna(latest):
                    expiry = max(expiry or 0, int(latest) + ttl_ms)
        state.update((value, hits))
        if expiry is not None:
            state.setTimeoutTimestamp(expiry)
        yield pd.DataFrame(
            {
                "cache_key": [key[0]],
                "value": [value],
                "hits": [hits],
                "evicted": [False],
            }
        )

    # epoch millis taken JVM-side: pandas would see ts as a naive
    # wall-clock time in the session time zone
    return (
        entries.withWatermark("ts", "0 seconds")
        .withColumn("ts_ms", F.unix_millis("ts"))
        .groupBy("cache_key")
        .applyInPandasWithState(
            update,
            CACHE_OUTPUT_SCHEMA,
            CACHE_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


PACER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),  # NULL key = real group
        T.StructField("event_id", T.LongType(), True),
        T.StructField("arrival_us", T.LongType()),
        T.StructField("admit_us", T.LongType()),
    ]
)

PACER_STATE_SCHEMA = T.StructType([T.StructField("last_admit_us", T.LongType())])


def rate_limit_pacer_stream(
    events: DataFrame, interval_us: int = MIN_REQUEST_INTERVAL_US
) -> DataFrame:
    """ST3 streaming — the min-interval pacer (``_rate_limit``,
    youtube_api_handler.py:361-367) as incremental state: one BIGINT (the
    previous admit stamp) per key, folded through
    ``admit = max(arrival, last_admit + interval)`` for each event.

    ``events`` needs (user_id LONG, event_id LONG, arrival_us LONG — an
    unstamped request carries NULL and is passed through unpaced with a
    NULL admit, never dropped and never corrupting the key's state).
    Within a micro-batch rows are folded in (arrival_us, event_id) order;
    across micro-batches the in-order-per-key contract applies — the same
    single-threaded ordering the reference's pacer sees, and the same
    contract the sessionization twin documents. Equivalence with the
    batch closed form (operators/windows.py::rate_limit_pacer) under that
    contract is pinned by tests/test_streaming_state.py, including
    arbitrary micro-batch splits.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (last,) = state.get if state.exists else (None,)
        for pdf in pdfs:
            if not len(pdf):
                continue
            stamped = pdf[pdf["arrival_us"].notna()].sort_values(
                ["arrival_us", "event_id"]
            )
            out_ids, out_arr, out_adm = [], [], []
            for eid, arr in zip(stamped["event_id"], stamped["arrival_us"]):
                arr = int(arr)
                admit = arr if last is None else max(arr, last + interval_us)
                last = admit
                out_ids.append(None if pd.isna(eid) else int(eid))
                out_arr.append(arr)
                out_adm.append(admit)
            unstamped = pdf[pdf["arrival_us"].isna()]
            for eid in unstamped["event_id"]:
                out_ids.append(None if pd.isna(eid) else int(eid))
                out_arr.append(None)
                out_adm.append(None)
            if out_ids:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(out_ids),
                        "event_id": out_ids,
                        "arrival_us": pd.array(out_arr, dtype="Int64"),
                        "admit_us": pd.array(out_adm, dtype="Int64"),
                    }
                )
        if last is not None:
            state.update((last,))

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        PACER_OUTPUT_SCHEMA,
        PACER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


LATCH_GATE_QUOTA = 50  # small quota so the sf0.01 fixture hits the latch


def _stage_latch_source(events: DataFrame, path: str) -> None:
    """Write the latch gate's parquet source. Staged file count caps at
    the upstream scan's split count (coalesce never shuffles): one file at
    the small gate tiers, the source's own split count at sf1+. The cap
    matters because the streaming batch's map side gets one task per
    staged file — 4 files at sf1 serialized a 1M-row scan onto 4 cores,
    and the starved map side was ~40% of addBatch."""
    events.coalesce(16).write.mode("overwrite").parquet(path)


def quota_latch_final(spark, sf_dir: str) -> DataFrame:
    """Driver-gate wrapper: runs the REAL streaming latch (file source →
    streaming aggregate → memory sink, availableNow trigger) and returns
    the final per-key state. The final state is deterministic regardless of
    micro-batch splits (counts are associative; the latch is monotone), so
    a SQL oracle can verify the streaming engine's answer bit-for-bit.
    It writes no session conf: the state partitions follow the session's
    shuffle-partition default, so concurrent runs on one session (as under
    ``run_batch``) cannot disturb each other or other queries.
    """
    import uuid

    from ..sources import load_table

    # only the columns the latch consumes — ts never reaches the operator,
    # so staging it would just inflate the source files and the scan
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    # The staged source directory is HARNESS plumbing, not query cost: a
    # production stream reads an existing source, it doesn't re-write its
    # own input first. Stage once per (session, corpus); the streaming
    # run itself (fresh checkpoint, state stores, memory sink) stays
    # fully per-invocation.
    name = "latch_gate_" + uuid.uuid4().hex[:8]
    # acquire LAST and enter the guarded region immediately: anything
    # thrown between acquire and the finally would leak the in-use
    # count and pin the staged dir forever
    src = acquire_staged(
        spark, sf_dir, "latch_src", lambda path: _stage_latch_source(events, path)
    )
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            quota_latch_stream(stream, quota=LATCH_GATE_QUOTA)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    finally:
        release_staged(src)
    w = "(partition by key_id order by total_requests desc)"
    return (
        spark.sql(
            f"select * from (select *, row_number() over {w} as rn from {name})"
            " where rn = 1"
        )
        .drop("rn")
    )


ORACLE_QUOTA_LATCH_FINAL = f"""
SELECT user_id AS key_id, COUNT(*) AS total_requests,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS total_failures,
       COUNT(*) >= {LATCH_GATE_QUOTA} AS is_exhausted
FROM events GROUP BY user_id ORDER BY key_id
"""


QUERIES = {"quota_latch_final": quota_latch_final}
ORACLES = {"quota_latch_final": ORACLE_QUOTA_LATCH_FINAL}
