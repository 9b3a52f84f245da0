"""Custom stateful streaming operators (SURVEY.md §2.9 ST1/ST2).

Two pieces of reference state don't reduce to a windowed aggregate:

- the per-key **exhaustion latch** (``APIKeyStats.is_exhausted``,
  youtube_api_handler.py:55,61): once a key crosses its quota it stays
  exhausted until explicitly reset — a monotone flag over arbitrary many
  micro-batches, i.e. true user-defined state.
- the **TTL cache** (youtube_api_handler.py:81-105): key→value entries
  that lazily expire; streaming form = state with a processing-time
  timeout.

Both are implemented with ``applyInPandasWithState`` — Arrow-batched
grouped state, the idiomatic Spark shape for custom stateful operators.
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

DAILY_QUOTA = 10_000  # config.py:15

# Grouping keys are NULLABLE in both output schemas: Spark's groupBy makes
# NULL a real key group, and a non-nullable StructField here turns the
# first NULL-keyed row into an EXPRESSION_DECODING_FAILED that kills the
# WHOLE streaming query — one poisoned event taking down the pipeline
# (found by tests/test_streaming_hostile.py).
LATCH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key_id", T.LongType(), True),
        T.StructField("total_requests", T.LongType()),
        T.StructField("total_failures", T.LongType()),
        T.StructField("is_exhausted", T.BooleanType()),
    ]
)

LATCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("requests", T.LongType()),
        T.StructField("failures", T.LongType()),
        T.StructField("exhausted", T.BooleanType()),
    ]
)


def quota_latch_stream(events: DataFrame, quota: int = DAILY_QUOTA) -> DataFrame:
    """ST2's exhaustion latch: per-key running request/failure counts with a
    monotone ``is_exhausted`` flag that latches once ``requests >= quota``
    (youtube_api_handler.py:47-79). Emits one updated row per key per
    micro-batch.

    ``events`` needs (user_id LONG, event_type STRING). The latch is the
    part a plain windowed aggregate can't express: it must survive window
    boundaries until an operator reset — hence GroupState.

    The error flag is encoded JVM-side BEFORE the stateful exchange: the
    Python state workers only ever see two LONG columns per row instead
    of the raw event strings (round-9 — Arrow transfer volume, not state
    logic, dominated this operator's wall-clock; the string comparison
    runs in whole-stage codegen where it belongs).
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            requests, failures, exhausted = state.get
        else:
            requests, failures, exhausted = 0, 0, False
        for pdf in pdfs:
            requests += len(pdf)
            failures += int(pdf["err"].sum())
        exhausted = exhausted or requests >= quota  # the latch: never un-sets
        state.update((requests, failures, exhausted))
        yield pd.DataFrame(
            {
                "key_id": [key[0]],
                "total_requests": [requests],
                "total_failures": [failures],
                "is_exhausted": [exhausted],
            }
        )

    slim = events.select(
        "user_id",
        # NULL event_type is not an error (== yields NULL; the old pandas
        # comparison yielded False) — pin that with an explicit coalesce
        F.coalesce(
            (F.col("event_type") == "error").cast("long"), F.lit(0)
        ).alias("err"),
    )
    return slim.groupBy("user_id").applyInPandasWithState(
        update,
        LATCH_OUTPUT_SCHEMA,
        LATCH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
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
    evicted ``ttl_ms`` after the last write (processing-time timeout — the
    streaming twin of the lazy ``del`` at youtube_api_handler.py:93-94).

    ``entries`` needs (cache_key STRING, value DOUBLE). On timeout the
    operator emits a tombstone row (evicted=true) and drops the state —
    bounded state for an unbounded stream.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            value, hits = state.get if state.exists else (None, 0)
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
        value, hits = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf):
                # a NULL value is still a write: store (and re-emit) NULL,
                # never NaN — pandas surfaces the Arrow NULL as NaN here
                last = pdf["value"].iloc[-1]
                value = None if pd.isna(last) else float(last)
                hits += len(pdf)
        state.update((value, hits))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "cache_key": [key[0]],
                "value": [value],
                "hits": [hits],
                "evicted": [False],
            }
        )

    return entries.groupBy("cache_key").applyInPandasWithState(
        update,
        CACHE_OUTPUT_SCHEMA,
        CACHE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
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

MIN_REQUEST_INTERVAL_US = 100_000  # config.py:33 — 0.1 s between requests


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
    applyInPandasWithState → memory sink, availableNow trigger) and returns
    the final per-key state. The final state is deterministic regardless of
    micro-batch splits (counts are associative; the latch is monotone), so
    a SQL oracle can verify the streaming engine's answer bit-for-bit.
    """
    import os
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
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_arrow = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    # acquire LAST and enter the guarded region immediately: anything
    # thrown between acquire and the finally would leak the in-use
    # count and pin the staged dir forever
    src = acquire_staged(
        spark, sf_dir, "latch_src", lambda path: _stage_latch_source(events, path)
    )
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        # State-partition sizing follows the DATA, not a fixed constant:
        # a pinned 8 suits the 150-key gate fixture but serialized 1M sf1
        # rows onto 8 Python state workers (4.95 s, addBatch ~95% of the
        # wall-clock, scaling with per-worker row volume). The staged dir is a local tempdir
        # by construction, so its byte size is a free, exact proxy:
        # ~64 KB of staged parquet per state partition, floored at 8
        # (state per key is three scalars — below the floor more workers
        # are pure startup overhead), capped at the session parallelism.
        staged_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        n_parts = max(8, min(
            spark.sparkContext.defaultParallelism, staged_bytes // 65_536
        ))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        # Bigger Arrow batches for the state exchange: at the default
        # 10k records the 1M-row sf1 batch pays ~100 Arrow flushes per
        # partition; 64k batches cut the addBatch wall-clock ~25%
        # (measured) with bounded memory (two LONG columns per row).
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "65536"
        )
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
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev_arrow
        )
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
