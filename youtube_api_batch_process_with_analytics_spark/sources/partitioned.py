"""Date-partitioned table layout — the 100-TB deployment shape.

The fixture tiers ship flat parquet, so nothing in the gate exercises
Catalyst's PARTITION pruning — the mechanism every production events/logs
table actually lives on (`.../events/day=2026-08-14/part-*.parquet`).
This module is the layout's write/read pair:

* ``write_events_day_partitioned`` — land the events table partitioned by
  ``day = to_date(ts)``. At 100 TB this is the ingest sink's layout; it
  also makes S8-style retention a metadata drop of whole partitions
  instead of a rewrite (reference parity anchor: the retention DELETE in
  ``sqlite_logger.py`` — here old days disappear by partition, no row
  scan).
* ``read_events_day`` — scan the layout with an optional day-range
  predicate ON THE PARTITION COLUMN. Catalyst turns that predicate into
  ``PartitionFilters`` on the file scan: non-matching directories are
  never listed into the scan, so a one-day query over a 3-year table
  reads ~1/1000th of the files. ``tests/test_scale_plans.py`` pins the
  plan (PartitionFilters present, day absent from the data filters), and
  README's partition-pruning row records the measured pruned-vs-full
  scan cost at the sf1 tier.

The predicate must stay a plain comparison on the partition column —
wrapping it in an expression over ``ts`` (e.g. ``to_date(ts) = d``)
defeats pruning and rescans every partition; that is the classic
production regression this module's plan pin exists to catch.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.memo import acquire_staged, release_staged


def write_events_day_partitioned(events: DataFrame, out_dir: str) -> None:
    """Write ``events`` (needs a ``ts`` timestamp column) partitioned by
    calendar day. One directory per day; within a day, files inherit the
    upstream parallelism (a real ingest job would also size-target files
    via ``spark.sql.files.maxRecordsPerFile``)."""
    events.withColumn("day", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(out_dir)


def retention_drop_days(
    spark: SparkSession, root: str, days: int = 7
) -> dict:
    """S8 retention as a PARTITION-LEVEL pass over the day-partitioned
    layout (round-8 verdict task #3; reference parity:
    ``cleanup_old_logs``, sqlite_logger.py:317-350, a row-level
    ``DELETE WHERE timestamp < cutoff`` + VACUUM).

    Same retention predicate as the gated ``retention_cleanup`` query
    (keep ``ts >= max(ts) − days``), executed the way a 100-TB events
    table actually does it:

    1. days strictly OLDER than the cutoff's calendar day are dropped as
       whole directories — a metadata delete, no row is ever read;
    2. the single BOUNDARY day (the one the cutoff timestamp falls
       inside) is the only partition rewritten: its survivors are staged
       to a sibling directory and swapped in (on Delta/Iceberg this pass
       is ``DELETE WHERE`` + ``VACUUM``; on a filesystem layout it is
       stage-and-rename, never overwrite-while-reading);
    3. newer days — the overwhelming majority of a production table —
       are never rewritten: files bit-identical after the pass (the audit
       row counts scan them column-free; a metastore-backed table would
       take even those from partition statistics).

    The NULL-day partition (rows with no ``ts``) has no age and is left
    in place, mirroring ``retention_cleanup``'s exclusion of NULL-ts rows
    from retention accounting.

    Returns the audit dict the caller cross-checks against the gated
    query: kept/deleted row counts plus which directories were dropped,
    rewritten, and left untouched. The only driver-side data are the
    1-row max(ts) anchor and per-partition counts — bounded regardless
    of corpus size.
    """
    import os
    import shutil

    df = spark.read.parquet(root)
    anchor = df.agg(F.max("ts").alias("max_ts")).collect()[0]["max_ts"]
    if anchor is None:  # no aged rows at all — nothing to retire
        return {
            "kept": 0,
            "deleted": 0,
            "dropped_days": [],
            "rewritten_days": [],
            "untouched_days": [],
        }
    cutoff_ts = anchor - _dt.timedelta(days=days)
    cutoff_day = cutoff_ts.date()

    day_dirs = sorted(
        d for d in os.listdir(root) if d.startswith("day=")
    )

    def _day_of(dirname: str):
        val = dirname.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":
            return None
        return _dt.date.fromisoformat(val)

    dropped, rewritten, untouched = [], [], []
    kept = deleted = 0
    for d in day_dirs:
        day = _day_of(d)
        path = os.path.join(root, d)
        if day is None:
            untouched.append(d)  # no age: excluded from accounting
            continue
        if day < cutoff_day:
            # fully-expired partition: metadata drop, rows never read
            deleted += spark.read.parquet(path).count()
            shutil.rmtree(path)
            dropped.append(d)
        elif day == cutoff_day:
            # the one partition the cutoff timestamp bisects: stage the
            # survivors, then swap the directory (atomic on a POSIX fs)
            part = spark.read.parquet(path)
            n_total = part.count()
            staging = os.path.join(root, f"_retention_staging_{d}")
            # cast the literal to the column's own timestamp flavor —
            # the layout round-trips TIMESTAMP_NTZ on some fixture
            # encodings, and an uncast (tz-aware) literal comparison
            # would fail analysis there
            cutoff_lit = F.lit(cutoff_ts).cast(
                part.schema["ts"].dataType.simpleString()
            )
            survivors = part.filter(F.col("ts") >= cutoff_lit)
            survivors.write.mode("overwrite").parquet(staging)
            n_kept = spark.read.parquet(staging).count()
            shutil.rmtree(path)
            # drop the _SUCCESS marker so the swapped dir holds only data
            marker = os.path.join(staging, "_SUCCESS")
            if os.path.exists(marker):
                os.remove(marker)
            os.rename(staging, path)
            kept += n_kept
            deleted += n_total - n_kept
            rewritten.append(d)
        else:
            kept += spark.read.parquet(path).count()
            untouched.append(d)
    return {
        "kept": kept,
        "deleted": deleted,
        "dropped_days": dropped,
        "rewritten_days": rewritten,
        "untouched_days": untouched,
    }


RETENTION_DAYS = 7  # config parity with the gated retention_cleanup


def _stage_retention_applied(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write the day-partitioned events layout for ``sf_dir`` to ``path``
    and run ``retention_drop_days`` on it. Staged once per (session,
    corpus) — harness plumbing: a production table already lives in this
    layout and the pass runs on a schedule, not per query."""
    from . import load_table

    write_events_day_partitioned(load_table(spark, sf_dir, "events"), path)
    retention_drop_days(spark, path, days=RETENTION_DAYS)


def retention_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated capstone for the S8 retention path: read the events table
    AFTER the real partition-drop pass (``retention_drop_days`` — whole
    expired days removed as directories, the boundary day rewritten,
    newer days untouched) and report the
    surviving per-level counts. The DuckDB oracle computes the keep side
    on the ORIGINAL table, so the driver row attests that the MUTATING
    pass preserves exactly the keep-side contract of the gated
    ``retention_cleanup`` query — drop + read ≡ filter. NULL-ts rows
    survive in the layout's NULL-day partition (no age, never retired)
    and are excluded from the report on both engines, mirroring
    ``retention_cleanup``'s accounting.

    The staged root is ACQUIRED (refcounted) for the returned handle's
    lifetime: the frame scans the directory lazily, and any thread
    executing the RETURNED frame necessarily holds a Python reference to
    it, so the finalizer-driven release — and hence a doomed root's
    deferred rmtree — cannot run while such a scan is in flight. A
    ``release_session_frames()`` racing an executing scan only marks the
    root doomed; the last live handle's collection deletes it.

    Caveat: the pin rides THIS object, not the plan. A caller that
    derives a frame (``retention_applied(...).filter(...)``) and drops the
    original handle loses the pin — the finalizer fires on
    CPython GC of the returned object, and a subsequent release deletes
    the root out from under the still-executable derived plan. Callers
    must keep the returned handle alive for as long as any derived frame
    may execute (all in-repo callers do). The release moment is also
    CPython-GC-timing dependent by construction (refcount drop → eager
    finalize on CPython; delayed on other runtimes)."""
    import weakref

    root = acquire_staged(
        spark, sf_dir, "retention_applied",
        lambda path: _stage_retention_applied(spark, sf_dir, path),
    )
    try:
        post = spark.read.parquet(root)
        out = (
            post.filter(F.col("ts").isNotNull())
            .groupBy(F.col("event_type").alias("level"))
            .agg(F.count("*").alias("kept_count"))
        )
        weakref.finalize(out, release_staged, root)
    except BaseException:
        release_staged(root)
        raise
    return out


ORACLE_RETENTION_APPLIED = f"""
SELECT event_type AS level, COUNT(*) AS kept_count
FROM events
WHERE ts IS NOT NULL
  AND ts >= (SELECT MAX(ts) FROM events) - INTERVAL {RETENTION_DAYS} DAY
GROUP BY event_type ORDER BY level
"""


def read_events_day(
    spark: SparkSession,
    root: str,
    day: str | _dt.date | None = None,
    day_to: str | _dt.date | None = None,
) -> DataFrame:
    """Scan the day-partitioned layout, pruning to ``day`` (exact) or
    ``[day, day_to]`` (inclusive range) when given. The filter compares
    the PARTITION column directly, so it compiles to PartitionFilters —
    directory-level pruning before any file is opened."""
    df = spark.read.parquet(root)
    if day is not None and day_to is not None:
        return df.filter(
            (F.col("day") >= F.lit(day)) & (F.col("day") <= F.lit(day_to))
        )
    if day is not None:
        return df.filter(F.col("day") == F.lit(day))
    if day_to is not None:  # open-ended "everything up to X"
        return df.filter(F.col("day") <= F.lit(day_to))
    return df
