"""Temporal join operators Spark lacks natively: as-of and range joins.

Neither exists in the reference (SURVEY.md §2.4: all joins are equi-joins)
nor as a Spark builtin — they're the canonical "custom operator as a
composition of DataFrame ops" case (time-series enrichment and
interval-membership joins are everywhere in log/training pipelines).

Both are built on the SCALE-SAFE formulations, not the naive theta join:

- **as-of**: union both sides with a marker, ONE sort-shuffle on
  (key, time), then ``last_value(ignoreNulls)`` carries the most recent
  left-side attributes forward onto each right-side row. Cost: one
  shuffle of |L|+|R| rows, no pair expansion, no inequality join. (A
  theta join `l.t <= r.t` would expand to O(|L|×|R|) pairs per key
  before aggregation.)
- **range**: intervals are exploded into fixed-width buckets and the
  probe side equi-joins on (key, bucket) with a residual predicate. The
  shuffle is keyed on buckets, so the optimizer runs a plain hash join;
  candidate volume is interval_width/bucket_width per row, not |R| per
  row.

DuckDB verifies both against its native ASOF JOIN / inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import load_table

RANGE_DAYS = 7  # order validity interval for the range join
BUCKET = "1 week"


def asof_join(left: DataFrame, right: DataFrame, key: str, time_col: str,
              value_cols: list[str], tie_break: bool = False) -> DataFrame:
    """Generic as-of join: for each ``right`` row, attach the most recent
    ``left`` row's ``value_cols`` with left.time <= right.time (per key).

    Returns the right rows + as-of values (null when no left row precedes).

    ``tie_break=True`` additionally orders equal-``(time_col, side)`` left
    rows by the value tuple ascending inside the carry-forward window, so
    the row with the LEXICOGRAPHIC MAX value tuple sorts last and wins the
    carry. This makes a pre-deduplication of equal-time left rows
    (``groupBy(key, time).agg(max(struct(*values)))``) unnecessary —
    identical to joining against the deduplicated table, minus the
    dedup's own full shuffle of the left side (round-12 optimization,
    guide §2.4: remove shuffles outright).

    The value columns ride the window as ONE struct and a SINGLE
    ``last(ignoreNulls)`` carries that struct atomically (round-13,
    round-12 ADVICE item 2): per-column ``last(ignorenulls)`` rested on
    the unenforced precondition that every left row is non-null in every
    value column — a left row with a NULL value column tied at the same
    timestamp could have stitched values from DIFFERENT rows, diverging
    from the oracle's row_number dedup. The struct is non-null for every
    left row (even when its fields are null), so the carry always
    returns one physically-consistent tuple — and one window expression
    replaces len(value_cols) of them.
    """
    passthrough = [c for c in right.columns if c not in (key, time_col)]
    vals_type = T.StructType(
        [T.StructField(c, left.schema[c].dataType) for c in value_cols]
    )
    lhs = left.select(
        F.col(key), F.col(time_col), F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_vals"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in passthrough
        ],
    )
    rhs = right.select(
        F.col(key), F.col(time_col), F.lit(1).alias("_side"),
        F.lit(None).cast(vals_type).alias("_vals"),
        *[F.col(c) for c in passthrough],
    )
    # left rows sort before right rows at the same timestamp → "<=" semantics
    unioned = lhs.unionByName(rhs)
    order = [F.col(time_col).asc(), F.col("_side").asc()]
    if tie_break:
        # equal-time left rows: max value tuple sorts last → wins last().
        # Struct asc compares field-wise (same lexicographic order as
        # listing the columns). Right rows are NULL-struct and already
        # ordered after every left row at the same time by _side, so
        # appending _vals leaves their placement unchanged.
        order += [F.col("_vals").asc()]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        key,
        time_col,
        "_side",
        *passthrough,
        F.last(F.col("_vals"), ignorenulls=True).over(w).alias("_vals"),
    )
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            key,
            time_col,
            *passthrough,
            *[F.col(f"_vals.{c}").alias(c) for c in value_cols],
        )
    )


def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event gets the most recent order (price,
    status) of the matching customer as of the event time. Events are 2024,
    orders span 1992-2003 — every key's history resolves to its latest
    order, and customers with no orders stay null (outer as-of)."""
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"), F.col("ts"), "event_id"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_totalprice").alias("asof_price"),
        F.col("o_orderstatus").alias("asof_status"),
    )
    # Deterministic tie-break at equal order dates: keep the max
    # (price, status) pair so the result is partition-stable. Round 12
    # (guide §2.4): the explicit pre-dedup
    # ``groupBy(custkey, ts).agg(max(struct(price, status)))`` cost a
    # full orders-sized shuffle BEFORE the as-of union's own sort
    # shuffle; the same max-tuple-wins semantics now rides the window's
    # tie-break ordering (``tie_break=True`` sorts equal-(ts,side) order
    # rows by (price, status) asc, so last_value carries the lexicographic
    # max — exactly the row the dedup kept). One exchange instead of two.
    out = asof_join(
        orders,
        events,
        key="custkey",
        time_col="ts",
        value_cols=["asof_price", "asof_status"],
        tie_break=True,
    )
    return out.select(
        "event_id", "custkey", "ts", "asof_price", "asof_status"
    )  # no presentation sort: gate hashes order-insensitively


ORACLE_EVENTS_ASOF_LATEST_ORDER = """
WITH dedup AS (
  SELECT o_custkey AS custkey, o_orderdate AS ots,
         o_totalprice AS asof_price, o_orderstatus AS asof_status,
         row_number() OVER (
           PARTITION BY o_custkey, o_orderdate
           ORDER BY o_totalprice DESC, o_orderstatus DESC
         ) AS rn
  FROM orders
),
d2 AS (
  SELECT custkey, ots, asof_price, asof_status FROM dedup WHERE rn = 1
)
SELECT e.event_id, e.user_id AS custkey, e.ts,
       d2.asof_price, d2.asof_status
FROM events e
ASOF LEFT JOIN d2 ON e.user_id = d2.custkey AND e.ts >= d2.ots
ORDER BY e.event_id
"""


def events_in_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count 2024 'replay' events whose timestamp falls inside
    [o_orderdate, o_orderdate + RANGE_DAYS) for same-key 2024-shifted
    orders — implemented as bucket-explode + equi-join + residual filter.

    Orders' dates are deterministically projected into the events' month
    (keeping day-of-month spread) so the interval join is non-trivial.

    Round-12 audit (the round-11 floor-erosion watch item, 8.3×→10.6×
    DuckDB from sf1 to sf3): two alternatives were built and measured
    against this shape in one interleaved session per tier (6 reps, min
    after JIT; see OPTIMIZATION_r12.md):

    - candidate-start PROFILE inversion (events explode into their ≤W
      midnight-aligned window starts, partial-agg to a (custkey,
      valid_from) profile, orders equi-join picks their cell — no pair
      expansion, no per-order re-agg): WINS at sf0.1 (2.7 vs 2.9 s in
      that session) but LOSES where it matters — sf1 2.30 vs 2.17 s,
      sf3 5.0 vs 3.2 s. The profile grain (keys × up-to-37 candidate
      days) compresses nothing at fixture density (~1.3 events per
      cell), so the explode×7 pass plus a same-magnitude shuffle costs
      more than the pair join it replaces. Rejected, joining the
      round-11-rejected day-grain probe pre-agg on the record.
    - SHUFFLE_HASH hint on the probe side (kept, below): ties sf1
      (2.09 vs 2.17 s), wins sf3 (2.64 vs 3.19 s) and sf0.1 (2.0 vs
      2.9 s) — past the broadcast tiers the planner's sort-merge pays
      two big sorts this equi-join does not need (guide §3.1: pick the
      strategy deliberately); the hint builds the hash on the NARROWER
      probe rows per partition. At 100 TB the build side stays bounded
      per partition by AQE's advisory partition sizing; a build-side
      spill regression would surface as OOMs here first.

    The remaining ~2.6 s at sf3 decomposes as exploded-build + 9 M-row
    (custkey, bucket) shuffle vs DuckDB's in-memory IEJoin; it is the
    distributable shape — a single-node inequality join cannot shard,
    this can.
    """
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"), "ts", "event_id"
    )
    orders = load_table(spark, sf_dir, "orders")
    # project order dates into 2024-01 (the events month), preserving spread
    start = F.to_timestamp(
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.dayofmonth("o_orderdate") % 28 + 1).cast("string"), 2, "0"),
        )
    )
    intervals = orders.select(
        F.col("o_orderkey"),
        F.col("o_custkey").alias("custkey"),
        start.alias("valid_from"),
        (start + F.expr(f"INTERVAL {RANGE_DAYS} DAYS")).alias("valid_to"),
    )
    # explode each interval into its covering week-buckets (≤2 for 7 days)
    exploded = intervals.select(
        "o_orderkey",
        "custkey",
        "valid_from",
        "valid_to",
        F.explode(
            F.sequence(
                F.date_trunc("week", "valid_from"),
                F.date_trunc("week", "valid_to"),
                F.expr("INTERVAL 1 WEEK"),
            )
        ).alias("bucket"),
    )
    # Shuffled hash join, built per partition on the probe side (the
    # narrower rows); sort-merge was measured slower at sf0.1-sf3 (the
    # docstring's numbers). That build grows with event volume and does
    # not spill gracefully, so an executor OOM in this stage means more
    # shuffle partitions, not a different strategy.
    probes = events.withColumn("bucket", F.date_trunc("week", "ts")).hint(
        "shuffle_hash"
    )
    joined = probes.join(exploded, ["custkey", "bucket"]).filter(
        (F.col("ts") >= F.col("valid_from")) & (F.col("ts") < F.col("valid_to"))
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_events_in_window"),
            F.min("ts").alias("first_event"),
        )
    )


ORACLE_EVENTS_IN_ORDER_WINDOW = f"""
WITH intervals AS (
  SELECT o_orderkey, o_custkey AS custkey,
         CAST('2024-01-01' AS TIMESTAMP)
           + ((dayofmonth(o_orderdate) % 28)) * INTERVAL 1 DAY AS valid_from
  FROM orders
),
iv AS (
  SELECT o_orderkey, custkey, valid_from,
         valid_from + INTERVAL {RANGE_DAYS} DAYS AS valid_to
  FROM intervals
)
SELECT iv.o_orderkey,
       COUNT(*) AS n_events_in_window,
       MIN(e.ts) AS first_event
FROM events e JOIN iv
  ON e.user_id = iv.custkey
 AND e.ts >= iv.valid_from AND e.ts < iv.valid_to
GROUP BY iv.o_orderkey
ORDER BY iv.o_orderkey
"""


QUERIES = {
    "events_asof_latest_order": events_asof_latest_order,
    "events_in_order_window": events_in_order_window,
}

ORACLES = {
    "events_asof_latest_order": ORACLE_EVENTS_ASOF_LATEST_ORDER,
    "events_in_order_window": ORACLE_EVENTS_IN_ORDER_WINDOW,
}
