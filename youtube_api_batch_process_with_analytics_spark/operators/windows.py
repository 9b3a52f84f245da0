"""Calendar-windowed / stateful-flavored operators (SURVEY.md §2.9).

The reference keeps daily/hourly API-quota counters that reset at calendar
boundaries (``APIKeyStats``, youtube_api_handler.py:33-79) and warns at 90%
of quota (277-289). Batch form: tumbling ``window()`` aggregation over the
``events`` request log — calendar-aligned exactly like the reference's
``now.date()``/``now.hour`` resets. The streaming twin lives in
``streaming/quota.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .memo import track_persisted

DAILY_QUOTA = 10_000  # config.py:15
HOURLY_QUOTA = 1_000  # config.py:16


def daily_usage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 daily — per key (user_id) per calendar day: request count, failure
    count, pct-of-quota, and the 90% warn flag (youtube_api_handler.py:287-289).
    """
    events = load_table(spark, sf_dir, "events")
    # Explicit NULL-ts exclusion: an unstamped event cannot be placed in
    # time. window()/session_window drop such rows silently; the filter
    # makes the contract visible and the DuckDB twin mirrors it with
    # WHERE ts IS NOT NULL (hostile-events differential).
    events = events.filter(F.col("ts").isNotNull())
    return (
        events.groupBy(
            F.col("user_id").alias("key_id"),
            F.window(F.col("ts"), "1 day").alias("w"),
        )
        .agg(
            F.count("*").alias("requests"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "failures"
            ),
        )
        .select(
            "key_id",
            F.col("w.start").alias("day_start"),
            "requests",
            "failures",
            F.round(F.col("requests") / F.lit(DAILY_QUOTA) * 100.0, 2).alias(
                "quota_pct"
            ),
            (F.col("requests") >= 0.9 * DAILY_QUOTA).alias("quota_warning"),
        )
    )


ORACLE_DAILY_USAGE_WINDOWS = f"""
SELECT user_id AS key_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       COUNT(*) AS requests,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failures,
       ROUND(COUNT(*) / {DAILY_QUOTA} * 100.0, 2) AS quota_pct,
       COUNT(*) >= {DAILY_QUOTA * 9 // 10} AS quota_warning
FROM events WHERE ts IS NOT NULL
GROUP BY user_id, date_trunc('day', ts)
ORDER BY key_id, day_start
"""


def hourly_usage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 hourly — global per-hour request counts with the hourly-quota
    admission flag (F2, youtube_api_handler.py:63-68)."""
    events = load_table(spark, sf_dir, "events")
    events = events.filter(F.col("ts").isNotNull())  # see daily twin's note
    return (
        events.groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(
            F.count("*").alias("requests"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "requests",
            "total_value",
            (F.col("requests") < HOURLY_QUOTA).alias("admitted"),
        )
    )


ORACLE_HOURLY_USAGE_WINDOWS = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       COUNT(*) AS requests,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       COUNT(*) < {HOURLY_QUOTA} AS admitted
FROM events WHERE ts IS NOT NULL
GROUP BY date_trunc('hour', ts)
ORDER BY hour_start
"""


def key_usage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — per-key lifetime rollup (``get_api_key_stats``,
    youtube_api_handler.py:291-315): totals, success/failure split, success
    rate, active days, and the JSON-carried payload size summed from
    ``props`` via native JSON path extraction (no UDF).
    """
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy(F.col("user_id").alias("key_id"))
        .agg(
            F.count("*").alias("total_requests"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "failed"
            ),
            F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0)).alias(
                "succeeded"
            ),
            F.countDistinct(F.to_date("ts")).alias("active_days"),
            # coalesce: a key whose payloads all fail to parse carries 0
            # bytes, not NULL — and a nullable BIGINT would coerce the whole
            # oracle column to float64 through the pandas fetch
            F.coalesce(F.sum("k"), F.lit(0)).alias("total_k"),
        )
        .withColumn(
            "success_rate",
            F.round(F.col("succeeded") / F.col("total_requests") * 100.0, 2),
        )
    )


ORACLE_KEY_USAGE_ROLLUP = """
SELECT user_id AS key_id,
       COUNT(*) AS total_requests,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS succeeded,
       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
       COALESCE(CAST(SUM(CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT), 0)
         AS total_k,
       ROUND(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
             / COUNT(*) * 100.0, 2) AS success_rate
FROM events GROUP BY user_id ORDER BY key_id
"""


def cache_ttl_filter(spark: SparkSession, sf_dir: str, ttl_seconds: int = 1800) -> DataFrame:
    """ST1/F1 — TTL-cache semantics as a table: an entry written at ``ts``
    is live iff ``anchor < ts + ttl`` (CacheEntry.is_expired,
    youtube_api_handler.py:23-31). Anchor = max(ts) for determinism;
    returns live/expired tallies per event type (hit/miss bookkeeping A11).
    """
    events = load_table(spark, sf_dir, "events")
    # an unstamped entry has no age — excluded on both engines
    events = events.filter(F.col("ts").isNotNull())
    anchor = events.agg(F.max("ts").alias("now_ts"))
    flagged = events.crossJoin(F.broadcast(anchor)).withColumn(
        "live",
        F.col("now_ts")
        < F.col("ts") + F.expr(f"INTERVAL {ttl_seconds} SECONDS"),
    )
    return (
        flagged.groupBy(F.col("event_type").alias("entry_type"))
        .agg(
            F.sum(F.when(F.col("live"), 1).otherwise(0)).alias("live_entries"),
            F.sum(F.when(~F.col("live"), 1).otherwise(0)).alias("expired_entries"),
        )
    )


ORACLE_CACHE_TTL_FILTER = """
SELECT event_type AS entry_type,
       CAST(SUM(CASE WHEN (SELECT MAX(ts) FROM events)
                     < ts + INTERVAL 1800 SECOND THEN 1 ELSE 0 END) AS BIGINT)
         AS live_entries,
       CAST(SUM(CASE WHEN (SELECT MAX(ts) FROM events)
                     < ts + INTERVAL 1800 SECOND THEN 0 ELSE 1 END) AS BIGINT)
         AS expired_entries
FROM events WHERE ts IS NOT NULL
GROUP BY event_type ORDER BY entry_type
"""


SESSION_GAP_HOURS = 12


def user_sessions(
    spark: SparkSession, sf_dir: str, gap_hours: int = SESSION_GAP_HOURS
) -> DataFrame:
    """Sessionization via native ``session_window`` (engine extension —
    the reference has no session semantics, SURVEY.md §2.9 note; a
    training-data/log pipeline needs them for activity analysis).

    A session is a maximal run of per-user events with gaps below
    SESSION_GAP_HOURS; ``session_window`` merges them in one pass with
    state bounded per key — the same operator Structured Streaming uses
    for live sessionization. The oracle reproduces the semantics with a
    gaps-and-islands window chain (lag → flag → running sum → group).
    """
    events = load_table(spark, sf_dir, "events")
    events = events.filter(F.col("ts").isNotNull())  # see daily twin's note
    sw = F.session_window(F.col("ts"), f"{gap_hours} hours")
    return (
        events.groupBy(F.col("user_id"), sw.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "n_errors",
        )
    )


ORACLE_USER_SESSIONS = f"""
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {SESSION_GAP_HOURS} HOURS
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
),
numbered AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_HOURS} HOURS AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def distinct_usage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation surface (SURVEY.md §2.5 note: absent from the
    reference, exposed by the engine): exact distinct users and active
    days per event type. COUNT(DISTINCT) expands to a two-stage aggregate
    (distinct-expand shuffle then count) — exact, unlike the approximate
    sketch path a 100 TB deployment would often prefer; both shapes are
    one ``agg`` call apart."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.countDistinct(F.date_trunc("day", F.col("ts"))).alias("active_days"),
            F.count("*").alias("n_events"),
        )
    )


ORACLE_DISTINCT_USAGE_STATS = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS distinct_users,
       COUNT(DISTINCT date_trunc('day', ts)) AS active_days,
       COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


# F2 admission quotas, scaled to fixture volume (DAILY_QUOTA config.py:15,
# HOURLY_QUOTA config.py:16). Shared by both ST4 rotation policies.
DAILY_CAP = 40
HOURLY_CAP = 4


def _admitted_pool(events: DataFrame) -> DataFrame:
    """F2 admission (youtube_api_handler.py:63-68) as a per-(key, day)
    table: daily count + peak hourly count, filtered to keys under both
    quotas. Shared by all three ST4 rotation policies.

    Shape: ONE exchange of the raw 16-byte (key, ts) rows,
    hash-partitioned on (key, day); the hourly and daily aggregates then
    both run exchange-free because hash(key, day) is a subset of either
    grouping. Letting each groupBy plan its own exchange costs more: the
    hourly grain retains ~96% of raw rows on every tier (measured sf0.1
    and sf1), so its map-side partial aggregation compresses nothing and
    two exchanges carry ~2.7× the bytes of the single raw one, plus a
    stage barrier. Skew bound: one partition key is (api key, calendar
    day) whose row count the daily quota itself caps at production
    scale."""
    # a request without a key is not a key: NULL user_id is excluded
    # EXPLICITLY on both engines. Without the filter a NULL key surviving
    # admission would take a slot, and the engines disagree on where it
    # sorts (Spark asc() is NULLS FIRST, DuckDB ASC is NULLS LAST) —
    # every other key's slot would shift and the rotation twins diverge.
    pre = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            F.col("user_id").alias("key_id"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .repartition(F.col("key_id"), F.col("day"))
    )
    hourly = pre.groupBy("key_id", "day", "hour").agg(
        F.count("*").alias("hour_cnt")
    )
    per_day = hourly.groupBy("key_id", "day").agg(
        F.sum("hour_cnt").alias("daily_cnt"),
        F.max("hour_cnt").alias("peak_hour_cnt"),
    )
    return per_day.filter(
        (F.col("daily_cnt") < DAILY_CAP) & (F.col("peak_hour_cnt") < HOURLY_CAP)
    )


_ADMISSION_SQL = f"""hourly AS (
  SELECT user_id AS key_id,
         date_trunc('day', ts) AS day,
         date_trunc('hour', ts) AS hour,
         COUNT(*) AS hour_cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3
),
per_day AS (
  SELECT key_id, day,
         SUM(hour_cnt) AS daily_cnt,
         MAX(hour_cnt) AS peak_hour_cnt
  FROM hourly GROUP BY key_id, day
),
admitted AS (
  SELECT * FROM per_day
  WHERE daily_cnt < {DAILY_CAP} AND peak_hour_cnt < {HOURLY_CAP}
)"""


def key_rotation_least_used(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 key-rotation scheduling, ``least_used`` policy
    (youtube_api_handler.py:222-275).

    The reference picks, per request, the API key with the lowest daily
    count among keys passing F2 admission (not exhausted AND daily < dq
    AND hourly < hq, youtube_api_handler.py:63-68). Batch/relational form
    over the ``events`` request log: per calendar day, compute each key's
    daily count and peak hourly count, admit keys under both (scaled)
    quotas, and select the least-used admitted key — argmin by count with
    the reference's deterministic lowest-key tie-break (`round_robin`
    starts from index order, youtube_api_handler.py:249-261; `random` is
    non-deterministic and has no relational analog).

    Scale shape: two partial-aggregable hash aggregates sharing the
    (key, day) grain — the hourly max re-aggregates the finer (key, day,
    hour) counts, so one wide shuffle on (key, day, hour) feeds both —
    then a per-day ranking window. No driver-side loop; the per-request
    sequential selection collapses into one declarative argmin per window.
    """
    admitted = _admitted_pool(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("day").orderBy(F.col("daily_cnt").asc(), F.col("key_id").asc())
    n_w = W.partitionBy("day")
    return (
        admitted.withColumn("rn", F.row_number().over(w))
        .withColumn("admitted_keys", F.count("*").over(n_w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").cast("date").alias("day"),
            F.col("key_id").alias("selected_key"),
            "daily_cnt",
            "peak_hour_cnt",
            "admitted_keys",
        )
    )


ORACLE_KEY_ROTATION_LEAST_USED = f"""
WITH {_ADMISSION_SQL},
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY day ORDER BY daily_cnt ASC, key_id ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY day) AS admitted_keys
  FROM admitted
)
SELECT day, key_id AS selected_key, CAST(daily_cnt AS BIGINT) AS daily_cnt,
       CAST(peak_hour_cnt AS BIGINT) AS peak_hour_cnt, admitted_keys
FROM ranked WHERE rn = 1 ORDER BY day
"""


def key_rotation_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 — a deterministic per-day analog of the reference's
    ``round_robin`` key-selection policy (youtube_api_handler.py:249-261:
    a persistent ``(i + 1) % len(keys)`` cursor over the FULL key list,
    carried across requests and days, skipping unavailable keys). Not a
    bit-exact replay: the cursor here restarts per calendar day and
    cycles the *admitted* pool only, so assignments diverge from the
    reference whenever a key is quota-excluded mid-cycle — the analog
    preserves the policy's load-spreading semantics, not its cursor
    state.

    Per calendar day: the admitted key pool (same daily/hourly quota
    admission as ``key_rotation_least_used``) is ranked by key_id into
    slots 0..n-1; the day's requests are numbered in arrival order
    ``(ts, event_id)``; request ``seq`` is served by slot ``seq % n``.
    Output is the per-(day, key) service rollup — how many requests each
    key would serve and the first sequence it serves.

    (The reference's third policy, ``random`` (:243-244), draws from a
    non-seeded RNG; its seeded analog is ``key_rotation_seeded``.)

    Scale shape: the per-request sequence number is never materialized,
    because the rollup is CLOSED FORM (a plan that numbers every request
    takes 10 exchanges, and its DuckDB ratio grows with scale). Per day,
    requests are numbered 0..N-1 and slot ``s`` of an
    ``n``-key pool serves exactly the seqs ≡ s (mod n): so
    ``served_requests = (N - 1 - s) DIV n + 1`` and ``first_seq = s``,
    for every slot with s < N. The request-volume window sort, the
    offsets prefix sum, and both request-sized broadcast joins all
    vanish — what remains is the admission chain, ONE partial-aggregable
    per-day request count, and arithmetic over the slots dim (days ×
    admitted keys). The definitional per-request replay survives as the
    DuckDB twin, which continues to pin hash-exactness of the closed
    form at every tier.
    """
    events = load_table(spark, sf_dir, "events")
    admitted = _admitted_pool(events)
    slot_w = W.partitionBy("day").orderBy(F.col("key_id").asc())
    # slot numbering and pool size share one exchange (same partitioning,
    # two window functions over the tiny admitted dim)
    slots = admitted.select(
        "day",
        "key_id",
        (F.row_number().over(slot_w) - 1).alias("slot"),
        F.count("*").over(W.partitionBy("day")).alias("n_keys"),
    )
    # Per-day request volume: same NULL-ts exclusion the old numbering
    # branch applied (a NULL-day request never joined a pool).
    day_counts = (
        events.select(F.date_trunc("day", F.col("ts")).alias("day"))
        .filter(F.col("day").isNotNull())
        .groupBy("day")
        .agg(F.count("*").alias("n_req"))
    )
    # slots is days × admitted keys (tiny, window over the admitted dim);
    # day_counts is days-sized. The join broadcasts the counts. A slot
    # with slot >= n_req never gets a request (the day has fewer requests
    # than keys) — dropped, matching the per-request replay's inner joins.
    zero = F.lit(0).cast("long")
    return (
        slots.join(F.broadcast(day_counts), "day")
        .filter(F.col("slot") < F.col("n_req"))
        .select(
            F.col("day").cast("date").alias("day"),
            "key_id",
            F.expr("(n_req - 1 - slot) DIV n_keys + 1").alias(
                "served_requests"
            ),
            (zero + F.col("slot")).alias("first_seq"),
        )
    )


ORACLE_KEY_ROTATION_ROUND_ROBIN = f"""
WITH {_ADMISSION_SQL},
slots AS (
  SELECT key_id, day,
         row_number() OVER (PARTITION BY day ORDER BY key_id ASC) - 1 AS slot
  FROM admitted
),
pool AS (
  SELECT day, COUNT(*) AS n_keys FROM slots GROUP BY day
),
requests AS (
  SELECT date_trunc('day', ts) AS day,
         row_number() OVER (
           PARTITION BY date_trunc('day', ts) ORDER BY ts ASC, event_id ASC
         ) - 1 AS seq
  FROM events
)
SELECT CAST(r.day AS DATE) AS day, s.key_id,
       COUNT(*) AS served_requests,
       CAST(MIN(r.seq) AS BIGINT) AS first_seq
FROM requests r
JOIN pool p ON r.day = p.day
JOIN slots s ON s.day = r.day AND s.slot = r.seq % p.n_keys
GROUP BY r.day, s.key_id
ORDER BY day, key_id
"""


ROT_SALT = "rot42:"


def key_rotation_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 — the reference's third rotation policy, ``random``
    (youtube_api_handler.py:243-244: ``random.choice(available_keys)``
    per request), as a SEEDED deterministic analog: each request draws
    uniformly over the day's admitted key pool via an md5 hash of its
    request id (``slot = hex64(md5('rot42:' || event_id)) % n_keys``).
    The reference's non-seeded RNG has no bit-replayable trace, so this
    pins the policy's SEMANTICS — independent uniform choice per request,
    no cursor state, load spread ∝ 1/n — while staying reproducible
    across runs and engines (the same md5-draw contract as
    ``sample_corpus_hash`` and DSIR's acceptance draw). With it every
    ST4 rotation branch of the reference is modeled.

    Scale shape: strictly LIGHTER than round_robin's replay — no
    request-numbering sort window at all. The draw is map-side codegen on
    the scan; the per-day pool is a tiny broadcast; assignment is an
    equi-join on (day, slot); the rollup is partial-aggregable. NULL
    ts/event_id rows fall out of the equi-joins identically on both
    engines (NULL never equals a slot).

    Output: per (day, key) service rollup — request count and the lowest
    served request id.
    """
    events = load_table(spark, sf_dir, "events")
    # Persist the WINDOWED slots dim, not the raw admitted pool. slot and
    # n_keys come out of ONE day-partitioned window pass (row_number +
    # count share the exchange, the round_robin precedent), and `pool` is
    # a cache-side filter (slot == 0) instead of its own groupBy subtree.
    # The persist must sit ABOVE the window: the two broadcasts are
    # separate jobs, so with `admitted` persisted instead, the pool's
    # subtree would re-run the row_number exchange. This way both
    # broadcast builds read the cached windowed rows, and the admission
    # aggregate + slot window run once per invocation (3 exchanges / 2
    # broadcast builds over one cached dim, against 5 / 2 unfused).
    # Persisted per invocation, released via release_session_frames();
    # the frame is days × admitted keys — the same tiny dim round_robin
    # broadcasts. The forced broadcasts below carry round_robin's
    # day-span bound (see the note there): slots/pool grow with
    # days × keys, not with request volume — drop the hints past a
    # multi-year × thousands-of-keys span.
    slot_w = W.partitionBy("day").orderBy(F.col("key_id").asc())
    slots_nk = track_persisted(
        _admitted_pool(events)
        .select(
            "day",
            "key_id",
            (F.row_number().over(slot_w) - 1).alias("slot"),
            F.count("*").over(W.partitionBy("day")).alias("n_keys"),
        )
        .persist()
    )
    slots = slots_nk.select("day", "key_id", "slot")
    pool = slots_nk.filter(F.col("slot") == 0).select("day", "n_keys")
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(ROT_SALT), F.col("event_id").cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    requests = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_id"
    ).withColumn("_draw", draw)
    assigned = (
        requests.join(F.broadcast(pool), "day")
        .withColumn("slot", F.col("_draw") % F.col("n_keys"))
        .join(F.broadcast(slots), ["day", "slot"])
    )
    return (
        assigned.groupBy(F.col("day").cast("date").alias("day"), "key_id")
        .agg(
            F.count("*").alias("served_requests"),
            F.min("event_id").alias("first_event_id"),
        )
        .select("day", "key_id", "served_requests", "first_event_id")
    )


def _oracle_hex64(expr: str) -> str:
    # DuckDB-side hex→int fold (same idiom as sampling._oracle_hex_int;
    # duplicated literally to keep windows.py's oracle strings
    # self-contained like the rest of this module)
    return f"""list_reduce(
           list_transform(
             string_split_regex({expr}, ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
           ),
           (a, x) -> a * 16 + x
         )"""


ORACLE_KEY_ROTATION_SEEDED = f"""
WITH {_ADMISSION_SQL},
slots AS (
  SELECT key_id, day,
         row_number() OVER (PARTITION BY day ORDER BY key_id ASC) - 1 AS slot
  FROM admitted
),
pool AS (
  SELECT day, COUNT(*) AS n_keys FROM slots GROUP BY day
),
requests AS (
  SELECT date_trunc('day', ts) AS day, event_id,
         {_oracle_hex64(f"substr(md5('{ROT_SALT}' || CAST(event_id AS VARCHAR)), 1, 8)")}
           AS _draw
  FROM events
)
SELECT CAST(r.day AS DATE) AS day, s.key_id,
       COUNT(*) AS served_requests,
       CAST(MIN(r.event_id) AS BIGINT) AS first_event_id
FROM requests r
JOIN pool p ON r.day = p.day
JOIN slots s ON s.day = r.day AND s.slot = r._draw % p.n_keys
GROUP BY r.day, s.key_id
ORDER BY day, key_id
"""


def rolling_daily_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window surface (§2.6 note: absent from the reference,
    free in the engine): 7-day trailing average of daily request volume
    per event type, ``rowsBetween(-6, 0)`` over day-aggregated rows.

    Scale shape: the expensive aggregation (events → daily counts) is a
    partial-aggregable groupBy; the frame window then runs over ~days×types
    rows — trivially small at any data scale. Sums route through DECIMAL
    so the trailing mean is order-independent for the hash gate.

    NULL-ts rows are filtered on BOTH engines (the shared NULL-timestamp
    contract): a NULL day has no place on a daily timeline, and the
    engines disagree on where it would sit in the window frame — Spark
    orders ASC nulls-first while DuckDB 1.0's default_null_order is
    nulls_last, so an unfiltered NULL-day group silently joins the
    trailing window of the first (Spark) vs last (DuckDB) six days of its
    event_type. In tests/test_hostile_corpus.py the divergence only
    manifests when the nondeterministically-poisoned NULL-ts row carries
    a non-NULL event_type, so without the filter it fails only
    sometimes."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    daily = events.groupBy(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v_dec"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, W.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n",
        F.col("v_dec").cast("double").alias("value_sum"),
        F.round(F.avg("n").over(w), 6).alias("n_7d_avg"),
        F.round(
            F.sum("v_dec").over(w).cast("double") / F.count("*").over(w), 6
        ).alias("value_7d_avg"),
    )


ORACLE_ROLLING_DAILY_AVERAGE = """
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS v_dec
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, day, n,
       CAST(v_dec AS DOUBLE) AS value_sum,
       ROUND(AVG(n) OVER w, 6) AS n_7d_avg,
       ROUND(CAST(SUM(v_dec) OVER w AS DOUBLE) / COUNT(*) OVER w, 6)
         AS value_7d_avg
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


MIN_REQUEST_INTERVAL_US = 100_000  # config.py:33 — 0.1 s between requests
MAX_RETRIES = 3  # config.py:34
RETRY_DELAY_US = 1_000_000  # config.py:35 — 1.0 s


def rate_limit_pacer(
    spark: SparkSession, sf_dir: str, interval_us: int = MIN_REQUEST_INTERVAL_US
) -> DataFrame:
    """ST3 — the reference's min-interval rate limiter as dataflow
    (``_rate_limit``, youtube_api_handler.py:361-367): each request is
    admitted at ``max(arrival, previous_admit + MIN_REQUEST_INTERVAL)``.

    The recurrence ``admit_i = max(t_i, admit_{i-1} + I)`` looks
    inherently sequential, but it is a max-plus scan with the exact
    closed form

        ``admit_i = slot_i + running_max_j<=i(t_j - slot_j)``,
        ``slot_i = (i - 1) * I``

    so the whole pacer compiles to ONE running-max window per key — no
    iteration, no UDF, one shuffle on the key, and the per-key scan is
    linear and incremental (WindowExec keeps a single running max). All
    arithmetic is integer microseconds (``unix_micros`` / ``epoch_us``),
    so the DuckDB twin matches bit-for-bit. The incremental streaming
    form (same recurrence, state = one BIGINT per key) is
    ``streaming/state.py::rate_limit_pacer_stream``; equivalence is
    pinned by ``tests/test_streaming_state.py``.

    Returns the per-key admission summary a quota dashboard would serve:
    request count, delayed count, total/max imposed wait, final admit.
    """
    events = load_table(spark, sf_dir, "events")
    # An unstamped request cannot be paced; contract shared with the twin.
    events = events.filter(F.col("ts").isNotNull())
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = F.row_number().over(order)
    step1 = events.select(
        "user_id",
        "ts",
        "event_id",
        F.unix_micros("ts").alias("arrival_us"),
        ((seq - F.lit(1)).cast("long") * F.lit(interval_us)).alias(
            "slot_us"
        ),
    )
    # Same partition+order spec as `order`, so Catalyst plans one
    # WindowExec for both the row_number above and this running max —
    # a single sort within the single key shuffle.
    step2 = step1.withColumn(
        "admit_us",
        F.max(F.col("arrival_us") - F.col("slot_us")).over(run) + F.col("slot_us"),
    )
    wait = F.col("admit_us") - F.col("arrival_us")
    return step2.groupBy("user_id").agg(
        F.count("*").alias("n_requests"),
        F.sum(F.when(wait > 0, 1).otherwise(0)).alias("n_delayed"),
        F.sum(wait).alias("total_wait_us"),
        F.max(wait).alias("max_wait_us"),
        F.max("admit_us").alias("last_admit_us"),
    )


ORACLE_RATE_LIMIT_PACER = f"""
WITH e AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS arrival_us,
         (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
           * {MIN_REQUEST_INTERVAL_US} AS slot_us
  FROM events WHERE ts IS NOT NULL
), p AS (
  SELECT user_id, arrival_us,
         MAX(arrival_us - slot_us) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) + slot_us AS admit_us
  FROM e
)
SELECT user_id,
       COUNT(*) AS n_requests,
       CAST(SUM(CASE WHEN admit_us > arrival_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_delayed,
       CAST(SUM(admit_us - arrival_us) AS BIGINT) AS total_wait_us,
       CAST(MAX(admit_us - arrival_us) AS BIGINT) AS max_wait_us,
       CAST(MAX(admit_us) AS BIGINT) AS last_admit_us
FROM p GROUP BY user_id ORDER BY user_id
"""


def retry_schedule(
    spark: SparkSession,
    sf_dir: str,
    max_retries: int = MAX_RETRIES,
    delay_us: int = RETRY_DELAY_US,
) -> DataFrame:
    """ST5 — the retry-with-backoff contract as dataflow (MAX_RETRIES /
    RETRY_DELAY, config.py:34-35; the 429 retry path in ``_make_request``,
    youtube_api_handler.py:400-404): each failed request is retried up to
    MAX_RETRIES times. The reference EXECUTES this schedule imperatively
    with ``time.sleep``; the dataflow analog COMPUTES it — one row per
    (failed request, attempt) with the reference's constant-delay stamp
    (``retry_at_us``) and the exponential-backoff generalization a
    production pipeline would use (``retry_at_backoff_us`` =
    failed + delay * (2^attempt - 1), i.e. delay, 2·delay, 4·delay gaps).
    ``gave_up`` marks the final attempt. Explode over a literal
    1..MAX_RETRIES sequence: map-only, shuffle-free, integer-exact.
    """
    events = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error") & F.col("ts").isNotNull()
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("failed_us"),
        F.explode(F.sequence(F.lit(1), F.lit(max_retries))).alias("attempt"),
    ).select(
        "event_id",
        "user_id",
        F.col("attempt").cast("long").alias("attempt"),
        (F.col("failed_us") + F.col("attempt").cast("long") * delay_us).alias(
            "retry_at_us"
        ),
        (
            F.col("failed_us")
            + (F.expr("CAST(shiftleft(1, attempt) AS BIGINT)") - F.lit(1))
            * delay_us
        ).alias("retry_at_backoff_us"),
        (F.col("attempt") == max_retries).alias("gave_up"),
    )


ORACLE_RETRY_SCHEDULE = f"""
SELECT e.event_id, e.user_id, g.attempt,
       epoch_us(e.ts) + g.attempt * {RETRY_DELAY_US} AS retry_at_us,
       epoch_us(e.ts) + ((1 << g.attempt) - 1) * {RETRY_DELAY_US}
         AS retry_at_backoff_us,
       g.attempt = {MAX_RETRIES} AS gave_up
FROM events e
CROSS JOIN (SELECT UNNEST(generate_series(1, {MAX_RETRIES})) AS attempt) g
WHERE e.event_type = 'error' AND e.ts IS NOT NULL
ORDER BY e.event_id, g.attempt
"""


QUERIES = {
    "daily_usage_windows": daily_usage_windows,
    "rolling_daily_average": rolling_daily_average,
    "key_rotation_least_used": key_rotation_least_used,
    "key_rotation_round_robin": key_rotation_round_robin,
    "key_rotation_seeded": key_rotation_seeded,
    "hourly_usage_windows": hourly_usage_windows,
    "key_usage_rollup": key_usage_rollup,
    "cache_ttl_filter": cache_ttl_filter,
    "user_sessions": user_sessions,
    "distinct_usage_stats": distinct_usage_stats,
    "rate_limit_pacer": rate_limit_pacer,
    "retry_schedule": retry_schedule,
}

ORACLES = {
    "daily_usage_windows": ORACLE_DAILY_USAGE_WINDOWS,
    "rolling_daily_average": ORACLE_ROLLING_DAILY_AVERAGE,
    "key_rotation_least_used": ORACLE_KEY_ROTATION_LEAST_USED,
    "key_rotation_round_robin": ORACLE_KEY_ROTATION_ROUND_ROBIN,
    "key_rotation_seeded": ORACLE_KEY_ROTATION_SEEDED,
    "hourly_usage_windows": ORACLE_HOURLY_USAGE_WINDOWS,
    "key_usage_rollup": ORACLE_KEY_USAGE_ROLLUP,
    "cache_ttl_filter": ORACLE_CACHE_TTL_FILTER,
    "user_sessions": ORACLE_USER_SESSIONS,
    "distinct_usage_stats": ORACLE_DISTINCT_USAGE_STATS,
    "rate_limit_pacer": ORACLE_RATE_LIMIT_PACER,
    "retry_schedule": ORACLE_RETRY_SCHEDULE,
}
