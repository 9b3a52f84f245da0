"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configuration below is
written for that *and* for a real cluster: AQE enabled (runtime shuffle
re-planning, skew-join splitting, partition coalescing), Arrow enabled for
the few Pandas-UDF code paths, UTC session timezone so timestamp semantics
match the DuckDB oracle byte-for-byte.

Each generated class compiles once per session: Spark's codegen cache
holds 4,096 classes, more than the registry generates, so no query's
classes are evicted by the queries run before it. ``get_spark`` fixes
that capacity when it builds the session (see ``_init_codegen_cache``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "youtube_api_batch_process_with_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are environment-driven so the driver harness can steer them:
    ``SPARK_GRAFT_CPUS`` sets local parallelism, shuffle partitions default
    to the same value (at 100 TB on a real cluster this would be sized to
    ~128 MB per shuffle partition instead — AQE coalescing makes the exact
    number non-critical).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # parallelismFirst stays at its default (true) — measured BOTH
        # ways at two scales in round 7. false (size-targeted
        # coalescing) is ~15% faster on the sf0.1 suite, where stage
        # latency is scheduling-dominated; but at sf1 it coalesces the
        # CPU-dense tiny-byte verification stages (interpreted HOF dot
        # products behind the LSH/posting-list joins) onto 1-2 cores:
        # dedup_embedding_cosine 5.8 s -> 16.2 s, doc_novelty 6.6 -> 10.8.
        # spread_shuffled() deliberately no-ops on multi-split scans and
        # defers to AQE there, so the engine's scale design point is
        # parallelism-first. Keeping the default trades a little
        # small-scale latency for the setting that survives 100 TB.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts may be INT64 TIMESTAMP(NANOS); load_table rebuilds it
        # from the longs. Set here once, so no query writes session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        # one sequential sf0.01 pass of the registry compiles about 1,220
        # distinct classes; the headroom covers routes that run only at
        # larger tiers
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # 16g: a long-lived bench session holds broadcast blocks, cached
        # partitions and its generated classes, each compiled once (the
        # codegen cache outsizes the registry's classes, so none is
        # evicted and recompiled); at 8g the old gen fills and per-action
        # GC pauses inflate every small job by ~0.3-0.5s late in the
        # suite (measured). The test box has 128 GiB.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _init_codegen_cache(spark)
    return spark


def _init_codegen_cache(spark: SparkSession) -> None:
    """Size the codegen cache from this session's conf.

    ``CodeGenerator`` builds its cache once per JVM, in its static
    initializer, from ``SQLConf.get`` on whichever thread compiles first.
    A Python worker thread's JVM twin has no active session, so there
    ``SQLConf.get`` holds Spark's defaults (100 entries) and the conf
    above would be ignored. So the class is initialized here, with the
    session active on the thread that built it; once the JVM has
    initialized it, this is a no-op."""
    jvm = spark._jvm
    jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(spark._jsparkSession)
    jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.MUTABLESTATEARRAY_SIZE_LIMIT()


def codegen_compiles(spark: SparkSession) -> int:
    """How many classes this JVM's Janino compiler has compiled so far
    (cache hits compile nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
