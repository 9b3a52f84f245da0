"""Parquet sources for the synthetic star schema (TESTDATA.md).

Models the reference's scan operators (SURVEY.md §2.1 S1-S7): where the
reference fetches JSON/XML/SQLite row-at-a-time over the network
(``youtube_api_handler.py:430-513``, ``sqlite_logger.py:121-255``), the
engine reads columnar parquet and lets Catalyst push filters and prune
columns into the scan — check ``df.explain`` for ``PushedFilters`` /
``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Reads INT64 TIMESTAMP(NANOS) columns as longs (``events.ts``).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Memoized DataFrame handles per (session, sf_dir, table). A DataFrame is an
# immutable logical plan, so reuse is safe; this avoids re-reading parquet
# footers (a driver-side file-listing + schema RPC, ~0.1-0.3 s each) on every
# query in a suite — the per-query analog of a catalog/metastore a production
# cluster consults once.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
# View names are session-global, so track which sf_dir the session's views
# currently point at — a later call with a different sf_dir re-registers.
_VIEWS_CURRENT: dict[str, str] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Schema comes from parquet footers (explicit, fixed).

    ``events.ts`` has shipped under two physical encodings, so normalize by
    the *loaded* dtype rather than assuming one:

    - INT64 TIMESTAMP(NANOS): Spark rejects it natively; read nanos as long
      (legacy conf) and rebuild TimestampType with exact integer division
      (``div 1000`` — no double roundtrip, nanos exceed 2^53).
    - TIMESTAMP_MICROS (isAdjustedToUTC=0 → TIMESTAMP_NTZ in Spark): pass
      through, casting NTZ → TIMESTAMP so downstream ``window()`` / interval
      arithmetic keeps identical semantics (session tz is UTC in this repo).

    Either way callers see one canonical ``ts: timestamp`` column whose
    micros values match what DuckDB/Python produce for the same data.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # Harmless when ts is already a parquet timestamp; required when it
        # is INT64 TIMESTAMP(NANOS) (the read would fail without it).
        # ``get_spark`` sets it at build time: queries share the session,
        # so one only writes it into a session built elsewhere.
        if spark.conf.get(NANOS_AS_LONG, "false") != "true":
            spark.conf.set(NANOS_AS_LONG, "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Raw INT64 epoch: decide the unit by magnitude per row (all
            # plausible test epochs are ~2020s: seconds ~1.7e9, millis
            # ~1.7e12, micros ~1.7e15, nanos ~1.7e18 — four orders apart,
            # so the thresholds are unambiguous). A pure expression inside
            # codegen; survives the testdata regenerating under yet another
            # encoding without a loader change.
            ts = F.col("ts")
            micros = (
                F.when(ts >= F.lit(10**17), F.expr("ts div 1000"))
                .when(ts >= F.lit(10**14), ts)
                .when(ts >= F.lit(10**11), ts * F.lit(1000))
                .otherwise(ts * F.lit(1_000_000))
            )
            df = df.withColumn("ts", F.timestamp_micros(micros.cast("long")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        # ts_type == "timestamp": already canonical.
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    _TABLE_CACHE[key] = df
    return df


def footer_rows(sf_dir: str, name: str) -> int | None:
    """Rows of one table as its parquet footers record them — read on the
    driver, no Spark job — or None when they cannot be read. An upper
    bound on any filtered view of the table."""
    import pyarrow.dataset as ds

    try:
        return ds.dataset(
            os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
        ).count_rows()
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow input across the session's cores — only when needed.

    The small test fixtures arrive as a single parquet split, which would
    serialize expression-heavy map work (hashing, regex, array transforms)
    onto one core. A real cluster scan already arrives as many splits, and
    an unconditional round-robin repartition there would be a full-corpus
    shuffle bought for nothing — so this is a NO-OP whenever the plan
    already yields >= the target partition count and the scan's natural
    splits flow straight into the map work (plan-pinned:
    ``tests/test_scale_plans.py::test_spread_noop_on_multisplit_input``
    asserts no round-robin Exchange appears on a multi-split input).

    The partition probe (``df.rdd.getNumPartitions()``) runs the physical
    planner once on the driver but launches no job; for the scan-shaped
    inputs this guards it is file-listing already done by ``load_table``.

    Round 12: the guard is proportional, not exact — a NEARLY-parallel
    input (≥ 3/4 of the target) is also a no-op. The sf3 tier ships the
    documents table as 30 part files against a 32-core target, and the
    exact guard bought a full shuffle of the text corpus for a 30→32
    partition bump — worth at most 6% map parallelism, costing a
    corpus-sized exchange in every text-family query at that tier (part
    of the round-11 doc_repetition_stats/doc_novelty sf3 breaches). The
    fan-out still fires where it pays: single-split fixtures and
    genuinely under-parallel scans (< 3/4 of the cores busy).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if 4 * df.rdd.getNumPartitions() >= 3 * target:
        return df
    return df.repartition(target)


def spread_shuffled(
    df: DataFrame, probe: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Guarded fan-out for a frame DOWNSTREAM of a shuffle.

    ``spread()``'s partition probe is planning-only for scan-shaped frames,
    but when ``df`` sits behind an Exchange under AQE the probe EXECUTES the
    upstream query stages (AQE must materialize the shuffle to report the
    coalesced count) — doubling the work of the query. So for post-shuffle
    frames the wide/narrow decision is taken from a scan-shaped ``probe``
    frame instead (typically the raw ``load_table`` scan the query reads):
    if the source scan already yields >= the target splits, the run is
    cluster-scale — AQE keeps the shuffle output proportionally wide and a
    round-robin repartition would be a pointless extra exchange, so this is
    a NO-OP. Only a narrow (single-split fixture) scan buys the fan-out,
    where AQE would otherwise coalesce a tiny-but-CPU-heavy frame onto one
    core. Same proportional no-op band as ``spread`` (≥ 3/4 of target).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if 4 * probe.rdd.getNumPartitions() >= 3 * target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API (idempotent per
    session + sf_dir, like a shared catalog)."""
    app_id = spark.sparkContext.applicationId
    if _VIEWS_CURRENT.get(app_id) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_CURRENT[app_id] = sf_dir
