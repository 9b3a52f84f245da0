"""Parameter-space differential: the driver gate pins ONE constant per
operator (TTL=1800s, quota page limit=100, interval=100ms, ...). These
tests sweep each parameterized operator across several parameter points
and cross-check against a parameterized DuckDB oracle — proving the
operator is correct as a FUNCTION of its parameters, not just at the
gate's pinned point. Same comparison machinery as the driver gate
(row count + column set + order-insensitive value hash).

Parameter points are deterministic (no RNG): chosen to cross behavioral
boundaries — a TTL shorter/longer than the fixture's span, an offset past
the filtered row count, a retry count of 1 (no backoff gap visible), a
session gap small enough to split every burst.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling tests)

from tests.oracle_utils import fetch_duck, value_hash
from youtube_api_batch_process_with_analytics_spark.operators import logs as _logs
from youtube_api_batch_process_with_analytics_spark.operators import (
    windows as _win,
)


def _check(df, duck, sql):
    rows = [tuple(r) for r in df.collect()]
    cols = df.columns
    dcols, drows = fetch_duck(duck, sql)
    assert len(rows) == len(drows), (len(rows), len(drows))
    assert sorted(cols) == sorted(dcols), (cols, dcols)
    assert value_hash(rows, cols) == value_hash(drows, dcols)
    return len(rows)


@pytest.mark.parametrize(
    "level,contains,limit,offset",
    [
        ("error", None, 25, 0),  # lowercase level exercises the ci-equality
        ("VIEW", None, 7, 3),
        ("click", "1", 50, 10),  # logger-substring filter on
        ("view", None, 5, 100000),  # offset past the data -> empty page
    ],
)
def test_log_page_params(spark, sf_dir, duck, level, contains, limit, offset):
    df = _logs.log_page(
        spark, sf_dir, level=level, logger_contains=contains, limit=limit,
        offset=offset,
    )
    where = f"UPPER(event_type) = UPPER('{level}')"
    if contains is not None:
        where += f" AND CAST(user_id AS VARCHAR) LIKE '%{contains}%'"
    _check(
        df,
        duck,
        f"""SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE {where}
            ORDER BY ts DESC, event_id ASC LIMIT {limit} OFFSET {offset}""",
    )


@pytest.mark.parametrize("k", [1, 3, 25])
def test_top_loggers_params(spark, sf_dir, duck, k):
    n = _check(
        _logs.top_loggers(spark, sf_dir, k=k),
        duck,
        f"""SELECT user_id AS logger, COUNT(*) AS cnt FROM events
            GROUP BY user_id ORDER BY cnt DESC, logger ASC LIMIT {k}""",
    )
    n_loggers = duck.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert n == min(k, n_loggers)


@pytest.mark.parametrize("days", [1, 3, 10000])  # 10000 -> nothing deleted
def test_retention_cleanup_params(spark, sf_dir, duck, days):
    _check(
        _logs.retention_cleanup(spark, sf_dir, days=days),
        duck,
        f"""SELECT event_type AS level,
             CAST(SUM(CASE WHEN ts >= (SELECT MAX(ts) FROM events)
                      - INTERVAL {days} DAY THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_count,
             CAST(SUM(CASE WHEN ts >= (SELECT MAX(ts) FROM events)
                      - INTERVAL {days} DAY THEN 0 ELSE 1 END) AS BIGINT)
               AS deleted_count
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type ORDER BY level""",
    )


@pytest.mark.parametrize("ttl", [60, 86400, 10_000_000])  # min, day, ~all-live
def test_cache_ttl_filter_params(spark, sf_dir, duck, ttl):
    _check(
        _win.cache_ttl_filter(spark, sf_dir, ttl_seconds=ttl),
        duck,
        f"""SELECT event_type AS entry_type,
             CAST(SUM(CASE WHEN (SELECT MAX(ts) FROM events)
                  < ts + INTERVAL {ttl} SECOND THEN 1 ELSE 0 END) AS BIGINT)
               AS live_entries,
             CAST(SUM(CASE WHEN (SELECT MAX(ts) FROM events)
                  < ts + INTERVAL {ttl} SECOND THEN 0 ELSE 1 END) AS BIGINT)
               AS expired_entries
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type ORDER BY entry_type""",
    )


@pytest.mark.parametrize("gap_h", [1, 4, 100000])  # 100000h -> one session/user
def test_user_sessions_params(spark, sf_dir, duck, gap_h):
    _check(
        _win.user_sessions(spark, sf_dir, gap_hours=gap_h),
        duck,
        f"""
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {gap_h} HOURS
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
), grouped AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
  ) AS session_id
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {gap_h} HOURS AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM grouped GROUP BY user_id, session_id
ORDER BY user_id, session_start""",
    )


@pytest.mark.parametrize(
    "interval_us",
    [1, 100_000, 60_000_000],  # 1µs -> nothing delayed; 60s -> most delayed
)
def test_rate_limit_pacer_params(spark, sf_dir, duck, interval_us):
    _check(
        _win.rate_limit_pacer(spark, sf_dir, interval_us=interval_us),
        duck,
        f"""
WITH e AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS arrival_us,
         (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
           * {interval_us} AS slot_us
  FROM events WHERE ts IS NOT NULL
), p AS (
  SELECT user_id, arrival_us,
         MAX(arrival_us - slot_us) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) + slot_us AS admit_us
  FROM e
)
SELECT user_id, COUNT(*) AS n_requests,
       CAST(SUM(CASE WHEN admit_us > arrival_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_delayed,
       CAST(SUM(admit_us - arrival_us) AS BIGINT) AS total_wait_us,
       CAST(MAX(admit_us - arrival_us) AS BIGINT) AS max_wait_us,
       CAST(MAX(admit_us) AS BIGINT) AS last_admit_us
FROM p GROUP BY user_id ORDER BY user_id""",
    )


@pytest.mark.parametrize(
    "retries,delay_us", [(1, 500_000), (3, 1_000_000), (6, 250_000)]
)
def test_retry_schedule_params(spark, sf_dir, duck, retries, delay_us):
    _check(
        _win.retry_schedule(spark, sf_dir, max_retries=retries, delay_us=delay_us),
        duck,
        f"""
SELECT e.event_id, e.user_id, g.attempt,
       epoch_us(e.ts) + g.attempt * {delay_us} AS retry_at_us,
       epoch_us(e.ts) + ((1 << g.attempt) - 1) * {delay_us}
         AS retry_at_backoff_us,
       g.attempt = {retries} AS gave_up
FROM events e
CROSS JOIN (SELECT UNNEST(generate_series(1, {retries})) AS attempt) g
WHERE e.event_type = 'error' AND e.ts IS NOT NULL
ORDER BY e.event_id, g.attempt""",
    )


@pytest.mark.parametrize("k,n_iter", [(4, 1), (16, 2)])
def test_kmeans_cells_params(spark, sf_dir, duck, k, n_iter):
    """The integer-exact Lloyd gate twin as a FUNCTION of (k, n_iter):
    the generated DuckDB oracle chain re-derives the same rounds."""
    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    assigned, _ = C._gate_kmeans(spark, sf_dir, k=k, n_iter=n_iter)
    _check(
        assigned.select("vec_id", "cluster"),
        duck,
        C.oracle_kmeans_cells(k=k, n_iter=n_iter),
    )


@pytest.mark.parametrize(
    "k,tau",
    [
        (8, 0.3),  # coarser cells than the gate's k=32 -> more candidates
        (32, 0.9),  # near-exact-duplicate threshold -> few/no dups
        (16, 0.15),  # loose threshold -> heavy pruning
    ],
)
def test_semantic_dedup_params(spark, sf_dir, duck, k, tau):
    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    _check(
        C.semantic_dedup(spark, sf_dir, k=k, tau=tau),
        duck,
        C.oracle_semantic_dedup(k=k, tau=tau),
    )


@pytest.mark.parametrize(
    "chunk_tokens,overlap",
    [(16, 0), (32, 31), (100000, 5)],  # no-overlap, max-overlap, one-chunk
)
def test_chunk_documents_params(spark, sf_dir, duck, chunk_tokens, overlap):
    from youtube_api_batch_process_with_analytics_spark.operators import (
        chunking as CH,
    )

    _check(
        CH.chunk_documents(
            CH._docs(spark, sf_dir), chunk_tokens=chunk_tokens, overlap=overlap
        ),
        duck,
        CH.oracle_chunk_documents(chunk_tokens=chunk_tokens, overlap=overlap),
    )


@pytest.mark.parametrize("val_permille", [0, 500, 1000])  # none, half, all
def test_split_by_hash_params(spark, sf_dir, duck, val_permille):
    from youtube_api_batch_process_with_analytics_spark.operators import (
        chunking as CH,
    )

    df = CH.split_by_hash(
        CH._docs(spark, sf_dir).select("doc_id"), val_permille=val_permille
    ).select("doc_id", "split_bucket", "split")
    _check(df, duck, CH.oracle_split_by_hash(val_permille=val_permille))


@pytest.mark.parametrize("budget", [1, 64, 10**9])  # every-doc-own-bin .. one-bin
def test_pack_sequences_params(spark, sf_dir, duck, budget):
    from youtube_api_batch_process_with_analytics_spark.operators import (
        chunking as CH,
    )

    with_tokens = CH._docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    _check(
        CH.pack_sequences(with_tokens, budget=budget),
        duck,
        CH.oracle_pack_sequences(budget=budget),
    )


@pytest.mark.parametrize("n_merges", [1, 3])  # the gate pins 6
def test_bpe_merges_params(spark, sf_dir, duck, n_merges):
    """BPE training as a function of the merge count: the n-round DuckDB
    CTE chain re-derives the same greedy argmax sequence."""
    from youtube_api_batch_process_with_analytics_spark.operators import bpe as B

    merges = B._fitted_bpe(spark, sf_dir, n_merges=n_merges).merges
    df = spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string,"
        " merged_sym string, pair_count long",
    )
    _check(df, duck, B.oracle_bpe_merges(n_merges=n_merges))


@pytest.mark.parametrize("n_merges", [2])
def test_bpe_fertility_params(spark, sf_dir, duck, n_merges):
    """Fertility under a SMALLER learned vocabulary than the gate's."""
    from youtube_api_batch_process_with_analytics_spark.operators import bpe as B
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        spread,
    )

    model = B._fitted_bpe(spark, sf_dir, n_merges=n_merges)
    df = B.bpe_fertility(spread(load_table(spark, sf_dir, "documents")), model)
    _check(df, duck, B.oracle_bpe_fertility(n_merges=n_merges))


@pytest.mark.parametrize(
    "n_bands,band_bits,threshold",
    [
        (2, 8, 0.25),  # fewer/wider bands: fewer candidates (scale-up knob)
        (8, 4, 0.3),  # more/narrower bands: higher recall
        (1, 12, 0.2),  # single wide band
    ],
)
def test_dedup_embedding_cosine_params(
    spark, sf_dir, duck, n_bands, band_bits, threshold
):
    """The sign-LSH band structure as a FUNCTION of (bands, bits, τ) —
    the documented 100 TB scale knob (wider bands cut candidate volume
    as the corpus grows, like MinHash's (bands, rows))."""
    from youtube_api_batch_process_with_analytics_spark.operators import (
        dedup as D,
    )

    _check(
        D.dedup_embedding_cosine(
            spark, sf_dir, n_bands=n_bands, band_bits=band_bits,
            threshold=threshold,
        ),
        duck,
        D.oracle_dedup_embedding_cosine(
            n_bands=n_bands, band_bits=band_bits, threshold=threshold
        ),
    )


@pytest.mark.parametrize("n_buckets", [2, 4, 7])  # the gate pins CCNet's 3
def test_perplexity_buckets_params(spark, sf_dir, duck, n_buckets):
    """Equal-count LM-quality partitioning as a FUNCTION of the quantile
    count — 2 (median split), 4 (quartiles), 7 (odd, non-divisor of the
    corpus size, exercises the ceil boundaries and tie spill)."""
    from youtube_api_batch_process_with_analytics_spark.operators import (
        ranking as R,
    )

    _check(
        R.perplexity_buckets(spark, sf_dir, n_buckets=n_buckets),
        duck,
        R.oracle_perplexity_buckets(n_buckets=n_buckets),
    )


@pytest.mark.parametrize(
    "n_hash_buckets,target_lang",
    [
        (64, "de"),  # coarse feature space, minority-language target
        (256, "zh"),
        (1024, "xx"),  # nonexistent target -> Nt=0, pure-smoothing ratios
    ],
)
def test_dsir_importance_weights_params(
    spark, sf_dir, duck, n_hash_buckets, target_lang
):
    """DSIR weights as a FUNCTION of (feature-space size, target domain),
    including the degenerate empty-target corner where every ratio
    collapses to the Laplace prior."""
    from youtube_api_batch_process_with_analytics_spark.operators import (
        sampling as S,
    )

    _check(
        S.dsir_importance_weights(
            spark, sf_dir, n_hash_buckets=n_hash_buckets,
            target_lang=target_lang,
        ),
        duck,
        S.oracle_dsir_importance_weights(
            n_hash_buckets=n_hash_buckets, target_lang=target_lang
        ),
    )


@pytest.mark.parametrize(
    "per_cluster,k",
    [
        (1, 8),  # medoid-like: single representative per cell
        (5, 4),
        (10_000, 8),  # quota above every cell size -> full corpus back
    ],
)
def test_cluster_balanced_sample_params(spark, sf_dir, duck, per_cluster, k):
    """Cluster-balanced sampling as a FUNCTION of (quota, cell count),
    including the degenerate everything-selected corner."""
    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    _check(
        C.cluster_balanced_sample(spark, sf_dir, per_cluster=per_cluster, k=k),
        duck,
        C.oracle_cluster_balanced_sample(per_cluster=per_cluster, k=k),
    )
