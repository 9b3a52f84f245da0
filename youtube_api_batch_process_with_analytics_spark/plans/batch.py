"""Heterogeneous batch execution (SURVEY.md §2.11 C1/C3, §3.2).

The reference's ``/api/batch`` dispatches up to 20 typed requests
sequentially with per-item error isolation (api_server.py:473-570), and
``batch_process_mixed_requests`` runs the same dispatch across a ≤5-thread
pool (youtube_api_handler.py:891-924).

Spark analog: each request is an independent DataFrame query; a driver-side
thread pool submits them concurrently and Spark's scheduler interleaves the
jobs across the cluster (enable the FAIR scheduler for true sharing).
Failures are isolated per request — one bad query yields an error entry,
not a failed batch (mirroring api_server.py:556-562).
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

MAX_BATCH_REQUESTS = 20  # api_server.py:504-514
MAX_CONCURRENT_WORKERS = 5  # config.py:40
FUTURE_TIMEOUT_S = 30.0  # youtube_api_handler.py:918


@dataclass
class BatchRequest:
    """One typed request: a registered query name + optional params."""

    type: str
    params: dict[str, Any] = field(default_factory=dict)


def run_batch(
    spark: SparkSession,
    sf_dir: str,
    requests: list[BatchRequest],
    registry: dict[str, Callable[[SparkSession, str], DataFrame]],
    max_workers: int = MAX_CONCURRENT_WORKERS,
    collect: bool = False,
) -> dict[str, dict[str, Any]]:
    """Execute a mixed batch; results keyed ``f"{type}_{i}"``
    (api_server.py:523).

    Returns per-request dicts with ``status``/``data``/``error``. With
    ``collect=False`` the value is the (lazy) DataFrame — callers sink it
    themselves; ``collect=True`` materializes counts for smoke use.

    Each request runs under a job group of its own, described by its
    ``type``, so its jobs can be told apart (and cancelled) by group.

    The batch waits at most ``FUTURE_TIMEOUT_S`` per request in total.
    Items still running or queued at that deadline get an
    ``error="timeout"`` entry; queued ones are cancelled, and the call
    returns without waiting for running ones.
    """
    if len(requests) > MAX_BATCH_REQUESTS:
        raise ValueError(
            f"batch size {len(requests)} exceeds limit {MAX_BATCH_REQUESTS}"
        )

    sc = spark.sparkContext
    batch_id = uuid.uuid4().hex

    def one(i: int, req: BatchRequest) -> dict[str, Any]:
        # job group and description are thread-local properties: set per
        # request, cleared before the pool reuses the thread
        sc.setJobGroup(f"batch_{batch_id}_{i}", req.type)
        try:
            fn = registry[req.type]
            df = fn(spark, sf_dir, **req.params)
            data: Any = df
            if collect:
                data = {"rows": df.count(), "columns": df.columns}
            return {"status": "success", "data": data, "error": None}
        except Exception as exc:  # per-item isolation (api_server.py:556-562)
            return {"status": "error", "data": None, "error": str(exc)}
        finally:
            sc._jsc.clearJobGroup()

    pool = ThreadPoolExecutor(max_workers=max_workers)
    futures = [pool.submit(one, i, req) for i, req in enumerate(requests)]
    wait(futures, timeout=FUTURE_TIMEOUT_S * len(requests))
    pool.shutdown(wait=False, cancel_futures=True)
    timed_out = {"status": "error", "data": None, "error": "timeout"}
    return {
        f"{req.type}_{i}": (
            fut.result() if fut.done() and not fut.cancelled() else dict(timed_out)
        )
        for i, (req, fut) in enumerate(zip(requests, futures))
    }
