"""Ratio/percentage expressions with the reference's guard semantics.

Reference: integer floor-division ratios (``youtube_api_handler.py:743-744,
961-963``), percentage math with zero-guards (``youtube_api_handler.py:
970-987, 1012-1013``). All pure Column expressions — JVM-side, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def floor_div(numer: Column, denom: Column) -> Column:
    """Python ``//`` on the positive domain: ``floor(a / max(b, 1))``.

    Mirrors ``avg_views_per_video = view_count // max(video_count, 1)``
    (youtube_api_handler.py:743-744) including the divide-by-zero guard.
    Returns BIGINT.
    """
    return F.floor(numer / F.greatest(denom, F.lit(1))).cast("long")


def pct_of(count: Column, total: Column, scale: int = 1) -> Column:
    """``round(count / total * 100, scale)`` with 0.0 when total==0.

    Mirrors shorts/long percentage (youtube_api_handler.py:1012-1013) and
    language distribution pct (1142, 1148).
    """
    return F.when(total > 0, F.round(count / total * 100.0, scale)).otherwise(
        F.lit(0.0)
    )


def safe_rate(numer: Column, denom: Column, scale: int = 4) -> Column:
    """Engagement-rate shape: ``numer / denom * 100`` rounded half-up to
    ``scale`` decimals, with a 0.0 guard when the denominator is
    null/zero/negative.

    Mirrors ``youtube_api_handler.py:968-987`` (zero-subscriber guard at
    970-971, formula + round(...,4) at 986-987). The rounding is written
    out as ``round(x * 10^scale, 0) / 10^scale`` so the SQL twin rounds
    the same double: Spark's ``round(x, scale)`` rounds the shortest
    decimal of ``x`` while DuckDB's scales first, and the two differ when
    ``x`` sits one ulp below a half (70340.93 / 1760 * 100 gives
    3996.6437 against 3996.6438).
    """
    p = 10**scale
    return F.when(
        denom.isNotNull() & (denom > 0), F.round(numer / denom * 100.0 * p, 0) / p
    ).otherwise(F.lit(0.0))
