"""Channel analytics — the flagship pipeline (SURVEY.md §3.1).

Models ``get_channel_recent_videos`` (youtube_api_handler.py:515-686) on the
synthetic star schema per FIXTURES.md:

- channel  → ``customer``  (c_acctbal as the subscriber-like measure)
- video    → ``orders``    (o_custkey→channel, o_orderdate→published_at,
                            o_totalprice→views-like, o_orderstatus→type code
                            'O'→shorts-like, 'F'→long-like, 'P'→unknown)

Where the reference computes its {shorts,long,overall} × {last-6,last-15}
metric matrix with 10 separate Python aggregation passes
(youtube_api_handler.py:569-595), the engine does ONE pass: rank → window
expansion → GROUPING SETS — a single shuffle for the ranking window and a
single hash aggregate. At 100 TB this is the difference between 10 scans
and 1.

Determinism vs the DuckDB oracle: money sums go through DECIMAL(18,2)
(exact, order-independent) before the final cast to double, so the
value-hash matches bit-for-bit regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ratios import floor_div, pct_of, safe_rate
from ..operators.topn import top_n_per_group
from ..sources import load_table

def _recency():
    # Deterministic recency order (SURVEY.md §7.5): published_at DESC, unique id.
    return [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()]


def ranked_recent_videos(spark: SparkSession, sf_dir: str, n: int = 15) -> DataFrame:
    """T1: top-N most recent 'videos' (orders) per 'channel' (customer).

    Attribution contract (hostile-relational differential): a video with a
    NULL channel key cannot be attributed and a NULL publish date cannot be
    recency-ranked — both are excluded on BOTH engines (also keeps the
    oracle's BIGINT channel_id column NULL-free, avoiding the pandas
    float64 coercion)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    return top_n_per_group(orders, "o_custkey", _recency(), n)


def channel_video_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A4: the grouped metric matrix in one pass.

    Output grain: (channel_id, window_n, video_type) where video_type is an
    order-status code or 'overall'. Columns mirror the reference's
    ``_calculate_video_metrics`` (youtube_api_handler.py:926-966): count,
    sum, floor-div average, and engagement rate vs the subscriber-like
    measure (``youtube_api_handler.py:968-987``).
    """
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_acctbal")
    )
    topn = ranked_recent_videos(spark, sf_dir, 15)

    # Window expansion: a rank-r row belongs to every window w >= r.
    expanded = topn.select(
        "o_custkey",
        "o_orderstatus",
        "rn",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
        F.explode(F.array(F.lit(6), F.lit(15))).alias("window_n"),
    ).filter(F.col("rn") <= F.col("window_n"))

    agg = (
        expanded.groupingSets(
            [["o_custkey", "window_n", "o_orderstatus"], ["o_custkey", "window_n"]],
            "o_custkey",
            "window_n",
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("video_count"),
            F.sum("price_dec").alias("total_dec"),
        )
        .withColumn("video_type", F.coalesce(F.col("o_orderstatus"), F.lit("overall")))
        .withColumn("total_views", F.col("total_dec").cast("double"))
    )

    # No presentation sort: 114k output rows at sf0.1, and the gate hashes
    # order-insensitively — a global range sort here is pure overhead, and
    # final_metrics_struct would immediately destroy it with its groupBy.
    #
    # No static broadcast hint on `customer`: the channel dim grows
    # linearly with scale factor, so a hard hint would OOM the driver at
    # 100 TB and disable AQE's size-based demotion. AQE still picks a
    # broadcast join at every fixture sf (plan-pinned in
    # tests/test_plan_shape.py::test_flagship_dim_join_broadcasts_without_hint)
    # and demotes to sort-merge when the dim outgrows the threshold.
    return agg.join(
        customer, agg.o_custkey == customer.c_custkey, "left"
    ).select(
        F.col("o_custkey").alias("channel_id"),
        F.col("window_n"),
        F.col("video_type"),
        F.col("video_count"),
        F.col("total_views"),
        floor_div(F.col("total_views"), F.col("video_count")).alias("avg_views"),
        safe_rate(F.col("total_views"), F.col("c_acctbal")).alias("engagement_rate"),
    )


ORACLE_CHANNEL_VIDEO_METRICS = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey ASC
         ) AS rn
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
expanded AS (
  SELECT r.*, w.window_n
  FROM ranked r CROSS JOIN (VALUES (6), (15)) AS w(window_n)
  WHERE r.rn <= w.window_n AND r.rn <= 15
),
agg AS (
  SELECT o_custkey, window_n,
         COALESCE(o_orderstatus, 'overall') AS video_type,
         COUNT(*) AS video_count,
         CAST(SUM(price_dec) AS DOUBLE) AS total_views
  FROM expanded
  GROUP BY GROUPING SETS ((o_custkey, window_n, o_orderstatus),
                          (o_custkey, window_n))
)
SELECT a.o_custkey AS channel_id,
       a.window_n,
       a.video_type,
       a.video_count,
       a.total_views,
       CAST(FLOOR(a.total_views / GREATEST(a.video_count, 1)) AS BIGINT) AS avg_views,
       CASE WHEN c.c_acctbal IS NOT NULL AND c.c_acctbal > 0
            THEN ROUND(a.total_views / c.c_acctbal * 100.0 * 10000, 0) / 10000
            ELSE 0.0 END AS engagement_rate
FROM agg a LEFT JOIN customer c ON a.o_custkey = c.c_custkey
ORDER BY channel_id, window_n, video_type
"""


def final_metrics_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7.4 nested result shaping: the reference's deeply nested
    ``final_metrics.{shorts,long,overall}.{last_6,last_15}.{...}`` response
    (youtube_api_handler.py:1033-1069), assembled from the flat A4 matrix.

    Round-12 rewrite (guide §2.3/§2.4; 2.93×/2.08× DuckDB at sf1/sf3 on
    the round-opening pair): the old shape re-ran the full A4 matrix —
    window-expansion ``explode`` (×2 rows), GROUPING SETS ``Expand`` (×2
    again), a matrix aggregate behind ``Expand``'s UnknownPartitioning
    (forced exchange), then a SECOND full pivot aggregate on channel_id
    (another exchange, since the matrix partitioning (custkey, window,
    type, gid) cannot serve a channel-only groupBy) — 3 exchanges and 4×
    the ranked rows through aggregation, only for 18 of the pivot cells.
    Every leaf is a conditional aggregate OVER THE RANKED ROWS
    THEMSELVES: cell (type t, window w) counts/sums rows with
    ``rn <= w`` and status t ('overall' = all statuses, exactly the
    (custkey, window) grouping set). The single aggregate keys on
    o_custkey — the ranking window's own partitioning — so the whole
    query is ONE exchange + the customer broadcast, with each ranked row
    touched once. Derived cells reproduce the matrix expressions
    verbatim: total = CAST(SUM(DECIMAL(18,2)) AS DOUBLE) (exact,
    order-independent), avg = floor_div(total, count), er =
    safe_rate(total, c_acctbal); absent cells (count 0) take the pivot's
    COALESCE defaults (0, 0L, 0.0). Equivalence to the unchanged DuckDB
    twin is pinned by the gate at every tier ('P'-status rows still fall
    outside the shorts/long leaves but inside 'overall', as 'unknown'
    does in the reference).
    """
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_acctbal")
    )
    ranked = ranked_recent_videos(spark, sf_dir, 15).select(
        "o_custkey",
        "o_orderstatus",
        "rn",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )

    def cond(t: str, w: int):
        in_window = F.col("rn") <= w
        if t == "overall":
            return in_window
        return in_window & (F.col("o_orderstatus") == t)

    aggs = []
    for t, tag in (("O", "s"), ("F", "l"), ("overall", "o")):
        for w in (6, 15):
            aggs.append(
                F.count(F.when(cond(t, w), F.lit(1))).alias(f"_{tag}{w}_n")
            )
            aggs.append(
                F.sum(F.when(cond(t, w), F.col("price_dec")))
                .cast("double")
                .alias(f"_{tag}{w}_total")
            )
    per_channel = ranked.groupBy("o_custkey").agg(*aggs)

    joined = per_channel.join(
        customer, per_channel.o_custkey == customer.c_custkey, "left"
    )
    cols = [F.col("o_custkey").alias("channel_id")]
    for t, tag in (("O", "s"), ("F", "l"), ("overall", "o")):
        for w in (6, 15):
            n, total = F.col(f"_{tag}{w}_n"), F.col(f"_{tag}{w}_total")
            present = n > 0
            cols.append(n.alias(f"{tag}{w}_video_count"))
            # COALESCE not WHEN/OTHERWISE for the derived cells: the old
            # pivot's coalesce also zeroed a PRESENT cell whose value was
            # NULL (all-NULL prices ⇒ total NULL ⇒ avg/er NULL) — keep
            # that exact behavior for hostile inputs.
            cols.append(
                F.coalesce(
                    F.when(present, floor_div(total, n)), F.lit(0).cast("long")
                ).alias(f"{tag}{w}_avg_views")
            )
            cols.append(
                F.coalesce(
                    F.when(present, safe_rate(total, F.col("c_acctbal"))),
                    F.lit(0.0),
                ).alias(f"{tag}{w}_er")
            )
    return joined.select(*cols)


def _oracle_final_metrics_struct() -> str:
    cells = []
    for t, tag in (("O", "s"), ("F", "l"), ("overall", "o")):
        for w in (6, 15):
            for m, d in (
                ("video_count", "0"),
                ("avg_views", "CAST(0 AS BIGINT)"),
                ("er", "0.0"),
            ):
                cells.append(
                    f"COALESCE(MAX(CASE WHEN video_type = '{t}' AND window_n = {w}"
                    f" THEN {m} END), {d}) AS {tag}{w}_{m}"
                )
    return (
        "WITH ranked AS (\n"
        "  SELECT o_custkey, o_orderkey, o_orderstatus,\n"
        "         CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,\n"
        "         row_number() OVER (\n"
        "           PARTITION BY o_custkey\n"
        "           ORDER BY o_orderdate DESC, o_orderkey ASC\n"
        "         ) AS rn\n"
        "  FROM orders\n"
        "  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL\n"
        "),\n"
        "expanded AS (\n"
        "  SELECT r.*, w.window_n\n"
        "  FROM ranked r CROSS JOIN (VALUES (6), (15)) AS w(window_n)\n"
        "  WHERE r.rn <= w.window_n AND r.rn <= 15\n"
        "),\n"
        "agg AS (\n"
        # Round-13 semantics pin (round-12 ADVICE item 1): the 'overall'
        # label belongs to the GROUPING-SET TOTAL row only. The old
        # COALESCE(o_orderstatus, 'overall') let a NULL-status SUBGROUP
        # share the label, and the pivot's column-wise MAX could then
        # stitch 'overall' cells from two different rows — while the
        # Spark side's conditional aggregate always returns the total's.
        # GROUPING(o_orderstatus) distinguishes the two: the total row
        # (grouping=1) is 'overall'; a NULL-status subgroup keeps NULL
        # video_type and matches no pivot cell (it still counts inside
        # the total, exactly like Spark's unconditional 'overall' CASE).
        # Identical output on every fixture tier (no NULL-status order
        # with a valid key+date exists; the hostile differential now
        # pins one — tests/oracle_utils HOSTILE_ORDER_ROWS).
        "  SELECT o_custkey, window_n,\n"
        "         CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'overall'\n"
        "              ELSE o_orderstatus END AS video_type,\n"
        "         COUNT(*) AS video_count,\n"
        "         CAST(SUM(price_dec) AS DOUBLE) AS total_views\n"
        "  FROM expanded\n"
        "  GROUP BY GROUPING SETS ((o_custkey, window_n, o_orderstatus),\n"
        "                          (o_custkey, window_n))\n"
        "),\n"
        "matrix AS (\n"
        "  SELECT a.o_custkey AS channel_id, a.window_n, a.video_type,\n"
        "         a.video_count,\n"
        "         CAST(FLOOR(a.total_views / GREATEST(a.video_count, 1)) AS BIGINT)\n"
        "           AS avg_views,\n"
        "         CASE WHEN c.c_acctbal IS NOT NULL AND c.c_acctbal > 0\n"
        "              THEN ROUND(a.total_views / c.c_acctbal * 100.0 * 10000, 0) / 10000\n"
        "              ELSE 0.0 END AS er\n"
        "  FROM agg a LEFT JOIN customer c ON a.o_custkey = c.c_custkey\n"
        ")\n"
        "SELECT channel_id,\n       "
        + ",\n       ".join(cells)
        + "\nFROM matrix GROUP BY channel_id ORDER BY channel_id"
    )


ORACLE_FINAL_METRICS_STRUCT = _oracle_final_metrics_struct()


def channel_type_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + ``_analyze_channel_type`` (youtube_api_handler.py:989-1014,
    1073-1092): shorts/long distribution over the last-15 window and the
    >=70%-threshold channel classification, in one aggregate.
    """
    topn = ranked_recent_videos(spark, sf_dir, 15)
    shorts = F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
    longs = F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
    total = F.count("*")
    agg = topn.groupBy(F.col("o_custkey").alias("channel_id")).agg(
        total.alias("total_videos"),
        shorts.alias("shorts_count"),
        longs.alias("long_count"),
    )
    shorts_pct = pct_of(F.col("shorts_count"), F.col("total_videos"))
    long_pct = pct_of(F.col("long_count"), F.col("total_videos"))
    return agg.select(
        "channel_id",
        "total_videos",
        "shorts_count",
        "long_count",
        shorts_pct.alias("shorts_percentage"),
        long_pct.alias("long_percentage"),
        F.when(shorts_pct >= 70.0, F.lit("shorts"))
        .when(long_pct >= 70.0, F.lit("long"))
        .otherwise(F.lit("mixed"))
        .alias("channel_type"),
    )


ORACLE_CHANNEL_TYPE_CLASSIFICATION = """
WITH ranked AS (
  SELECT o_custkey, o_orderstatus,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey ASC
         ) AS rn
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
agg AS (
  SELECT o_custkey AS channel_id,
         COUNT(*) AS total_videos,
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS shorts_count,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS long_count
  FROM ranked WHERE rn <= 15 GROUP BY o_custkey
),
pcts AS (
  SELECT *,
         CASE WHEN total_videos > 0
              THEN ROUND(shorts_count / total_videos * 100.0, 1) ELSE 0.0 END
           AS shorts_percentage,
         CASE WHEN total_videos > 0
              THEN ROUND(long_count / total_videos * 100.0, 1) ELSE 0.0 END
           AS long_percentage
  FROM agg
)
SELECT channel_id, total_videos, shorts_count, long_count,
       shorts_percentage, long_percentage,
       CASE WHEN shorts_percentage >= 70.0 THEN 'shorts'
            WHEN long_percentage >= 70.0 THEN 'long'
            ELSE 'mixed' END AS channel_type
FROM pcts ORDER BY channel_id
"""


def language_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-channel argmax 'language' with deterministic tie-break.

    Models the audio-language mode (youtube_api_handler.py:1125-1131) with
    ``o_orderpriority`` as the language-like code. The reference tie-breaks
    by dict-insertion order; the engine pins lowest-code-wins (SURVEY §7.5)
    and computes confidence = round(mode_count/total*100, 1)
    (youtube_api_handler.py:1148).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & (F.col("o_orderpriority") != "")
    )  # reference drops falsy languages (youtube_api_handler.py:1115-1116)
    counts = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    w_total = Window.partitionBy("o_custkey")
    return (
        counts.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("total", F.sum("cnt").over(w_total))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("channel_id"),
            F.col("o_orderpriority").alias("mode_language"),
            F.col("cnt").alias("mode_count"),
            F.round(F.col("cnt") / F.col("total") * 100.0, 1).alias("confidence"),
        )
    )


ORACLE_LANGUAGE_MODE = """
WITH counts AS (
  SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
        AND o_orderpriority <> ''
  GROUP BY o_custkey, o_orderpriority
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY cnt DESC, o_orderpriority ASC
         ) AS rn,
         SUM(cnt) OVER (PARTITION BY o_custkey) AS total
  FROM counts
)
SELECT o_custkey AS channel_id,
       o_orderpriority AS mode_language,
       cnt AS mode_count,
       ROUND(cnt / total * 100.0, 1) AS confidence
FROM ranked WHERE rn = 1 ORDER BY channel_id
"""


def language_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-channel language distribution rows with share-of-total pct
    (youtube_api_handler.py:1133-1151). Exploded rows instead of the
    reference's dict-of-structs — the relational form joins/filters cleanly.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & (F.col("o_orderpriority") != "")
    )  # reference drops falsy languages (youtube_api_handler.py:1115-1116)
    counts = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w_total = Window.partitionBy("o_custkey")
    return (
        counts.withColumn("total", F.sum("cnt").over(w_total))
        .select(
            F.col("o_custkey").alias("channel_id"),
            F.col("o_orderpriority").alias("language"),
            F.col("cnt").alias("language_count"),
            pct_of(F.col("cnt"), F.col("total")).alias("percentage"),
        )
    )


ORACLE_LANGUAGE_DISTRIBUTION = """
WITH counts AS (
  SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
        AND o_orderpriority <> ''
  GROUP BY o_custkey, o_orderpriority
),
tot AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY o_custkey) AS total FROM counts
)
SELECT o_custkey AS channel_id,
       o_orderpriority AS language,
       cnt AS language_count,
       CASE WHEN total > 0 THEN ROUND(cnt / total * 100.0, 1) ELSE 0.0 END
         AS percentage
FROM tot ORDER BY channel_id, language
"""
