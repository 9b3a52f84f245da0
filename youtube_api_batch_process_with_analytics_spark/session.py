"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configuration below is
written for that *and* for a real cluster: AQE enabled (runtime shuffle
re-planning, skew-join splitting, partition coalescing), Arrow enabled for
the few Pandas-UDF code paths, UTC session timezone so timestamp semantics
match the DuckDB oracle byte-for-byte.
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
        # 16g: the long-lived 65-query bench session accumulates codegen
        # classes, broadcast blocks, and cached partitions; at 8g the old
        # gen fills and per-action GC pauses inflate every small job by
        # ~0.3-0.5s late in the suite (measured). The test box has 128 GiB.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
