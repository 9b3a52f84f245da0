"""Hypothesis differential fuzzing for the expression library.

Each test draws a random batch of inputs, evaluates the Column expression
in ONE Spark pass, and compares against a plain-Python model of the
reference semantics (youtube_api_handler.py helpers). This extends the
exhaustive grids in test_property_grid.py with adversarial random inputs —
malformed durations, handle edge shapes, whitespace soup — that a
hand-written grid misses.

Model fidelity notes (why the alphabets below are mostly ASCII):
- Java ``\\s`` is ASCII-only; Python ``\\s`` also matches Unicode
  whitespace. Tests that fuzz whitespace semantics restrict the alphabet
  so the Python model and the JVM expression agree by construction.
- Spark ``F.trim`` strips the space character only, not tabs/newlines —
  the models use ``.strip(' ')``, not ``.strip()``.
- Spark ``round()`` on doubles is BigDecimal HALF_UP over the shortest
  decimal repr (== Python ``repr(float)``), not banker's rounding — the
  models quantize a ``Decimal(repr(x))``.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.functions.ratios import (
    floor_div,
    pct_of,
    safe_rate,
)
from youtube_api_batch_process_with_analytics_spark.functions.text import (
    EMAIL_PATTERN,
    VIDEO_ID_PATTERN,
    classify_video_type,
    extract_email,
    extract_video_id,
    iso8601_duration_seconds,
    normalize_handle,
    token_count,
)

SETTINGS = dict(max_examples=8, deadline=None)

# printable ASCII plus the whitespace Java \s covers
_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=60,
)
_ASCII_WS = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, include_characters="\t\n\x0b\f\r"
    ),
    max_size=60,
)
# fragments that bias random text toward the interesting structures
_EMAILISH = st.sampled_from(
    ["user@example.com", "a@b.co", "@@", "x@y", "no.at.sign", "a.b-c@d-e.f.gg", ""]
)
_URLISH = st.sampled_from(
    [
        "https://youtube.com/watch?v=abc_12-X&t=1",
        "https://youtube.com/shorts/QqQ-9_z?x=1",
        "/watch?v=",
        "/shorts/",
        "watch?v=zz",
        "",
    ]
)
_DURATIONISH = st.sampled_from(
    ["PT1M47S", "P1DT2H", "PT", "P", "T5M", "PT99H99M99S", "1M2S", "PTS", ""]
)


def _batch(spark, vals, expr, schema="x string"):
    """One Spark pass: vals -> [expr(x) for x in vals], order-preserved."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x " + schema.split()[-1])
    rows = df.select("i", expr(F.col("x")).alias("y")).orderBy("i").collect()
    return [r["y"] for r in rows]


@given(st.lists(st.one_of(_ASCII, _EMAILISH, st.tuples(_ASCII, _EMAILISH, _ASCII).map(" ".join)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_extract_email_fuzz(spark, texts):
    got = _batch(spark, texts, extract_email)
    for s, g in zip(texts, got):
        m = re.search(EMAIL_PATTERN, s)
        assert g == (m.group(0) if m else None), repr(s)


@given(st.lists(st.one_of(_ASCII, _URLISH, st.tuples(_ASCII, _URLISH).map("".join)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_extract_video_id_fuzz(spark, urls):
    got = _batch(spark, urls, extract_video_id)
    for s, g in zip(urls, got):
        m = re.search(VIDEO_ID_PATTERN, s)
        want = m.group(1) if m and m.group(1) is not None else ""
        assert g == want, repr(s)


@given(st.lists(st.one_of(_ASCII, _URLISH, st.tuples(_URLISH, _URLISH).map("".join)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_classify_video_type_fuzz(spark, urls):
    got = _batch(spark, urls, classify_video_type)
    for s, g in zip(urls, got):
        want = (
            "shorts"
            if "/shorts/" in s
            else "long" if "/watch?v=" in s else "unknown"
        )
        assert g == want, repr(s)


@given(st.lists(st.one_of(_ASCII, st.tuples(st.sampled_from(["", "@", "@@", "@@@"]), _ASCII).map("".join)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_normalize_handle_fuzz(spark, handles):
    got = _batch(spark, handles, normalize_handle)
    for s, g in zip(handles, got):
        assert g == "@" + re.sub(r"^@+", "", s), repr(s)


def _duration_model(s: str) -> int:
    def part(pattern: str) -> int:
        m = re.search(pattern, s)
        v = m.group(1) if m else None
        return int(v) if v else 0

    return (
        part(r"P(?:(\d+)D)?") * 86400
        + part(r"T(?:(\d+)H)?") * 3600
        + part(r"T(?:\d+H)?(?:(\d+)M)?") * 60
        + part(r"T(?:\d+H)?(?:\d+M)?(?:(\d+)S)?")
    )


@given(st.lists(st.one_of(_ASCII, _DURATIONISH, st.tuples(_DURATIONISH, _DURATIONISH).map("".join)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_iso8601_duration_fuzz(spark, durations):
    """Malformed / concatenated / arbitrary strings: the expression must
    agree with a Python model of the exact same regex fallback chain."""
    got = _batch(spark, durations, iso8601_duration_seconds)
    for s, g in zip(durations, got):
        assert g == _duration_model(s), repr(s)


@given(st.lists(_ASCII_WS, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_token_count_fuzz(spark, texts):
    got = _batch(spark, texts, token_count)
    for s, g in zip(texts, got):
        trimmed = s.strip(" ")
        want = 0 if trimmed == "" else len(re.split(r"[ \t\n\x0b\f\r]+", trimmed))
        assert g == want, repr(s)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_floor_div_fuzz(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a long, b long"
    )
    rows = (
        df.select("i", floor_div(F.col("a"), F.col("b")).alias("y"))
        .orderBy("i")
        .collect()
    )
    for (a, b), r in zip(pairs, rows):
        assert r["y"] == math.floor(a / max(b, 1)), (a, b)


def _round_half_up(v: float, scale: int) -> float:
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=-5, max_value=10**9),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_pct_and_rate_fuzz(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, n long, d long"
    )
    rows = (
        df.select(
            "i",
            pct_of(F.col("n"), F.col("d")).alias("p"),
            safe_rate(F.col("n"), F.col("d")).alias("r"),
        )
        .orderBy("i")
        .collect()
    )
    for (n, d), r in zip(pairs, rows):
        want_p = _round_half_up(n / d * 100.0, 1) if d > 0 else 0.0
        # safe_rate scales before rounding (the DuckDB twin's order)
        want_r = _round_half_up(n / d * 100.0 * 10**4, 0) / 10**4 if d > 0 else 0.0
        assert r["p"] == want_p and r["r"] == want_r, (n, d)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # key
            st.integers(min_value=0, max_value=500_000),  # arrival offset us
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_rate_limit_pacer_closed_form_fuzz(spark, events):
    """The pacer's closed form (admit_i = slot_i + running_max(t_j - slot_j))
    must equal the literal reference recurrence admit_i = max(t_i,
    admit_{i-1} + I) — checked independently of the DuckDB twin, which
    shares the closed form and so could share a bug."""
    from pyspark.sql import Window as W

    from youtube_api_batch_process_with_analytics_spark.operators.windows import (
        MIN_REQUEST_INTERVAL_US as I,
    )

    rows = [
        (key, eid, 1_700_000_000_000_000 + off)
        for eid, (key, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, arrival_us long")
    order = W.partitionBy("user_id").orderBy("arrival_us", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = F.row_number().over(order)
    got = {
        r.event_id: r.admit_us
        for r in df.withColumn("slot_us", (seq - F.lit(1)).cast("long") * F.lit(I))
        .withColumn(
            "admit_us",
            F.max(F.col("arrival_us") - F.col("slot_us")).over(run)
            + F.col("slot_us"),
        )
        .collect()
    }
    last: dict[int, int] = {}
    for key, eid, arr in sorted(rows, key=lambda t: (t[2], t[1])):
        admit = arr if key not in last else max(arr, last[key] + I)
        last[key] = admit
        assert got[eid] == admit, (eid, arr, got[eid], admit)


# --- line-level boilerplate removal: Spark vs an exact Python model -----
# Line pool kept SMALL so cross-doc recurrence actually happens inside
# max_size=12 corpora; padded/blank/unique arms exercise the trim
# normalization and the empty-key exemption. NOTE the model must strip
# SPACES ONLY (str.strip(' ')) — Spark's trim() and DuckDB's trim()
# remove the ASCII space, not \t/\x0b, and a full str.strip() model
# silently diverges on tab-padded lines.
_BP_LINE = st.one_of(
    st.sampled_from(
        ["BANNER", "FOOTER", " BANNER ", "", "  ", "\tBANNER", "x y", "solo"]
    ),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=5),
)
_BP_DOC = st.lists(_BP_LINE, min_size=0, max_size=6).map("\n".join)


@given(st.lists(st.one_of(st.none(), _BP_DOC), min_size=1, max_size=12))
@settings(**SETTINGS)
def test_remove_boilerplate_lines_fuzz(spark, texts):
    from collections import defaultdict

    from youtube_api_batch_process_with_analytics_spark.operators.text_analysis import (
        remove_boilerplate_lines,
    )

    cap = 2
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in remove_boilerplate_lines(docs, df_cap=cap).collect()
    }

    norm = {i: ("" if t is None else t) for i, t in rows}
    dfc: dict[str, set] = defaultdict(set)
    for i, t in norm.items():
        for ln in t.split("\n"):
            k = ln.strip(" ")
            if k != "":
                dfc[k].add(i)
    hot = {k for k, s in dfc.items() if len(s) > cap}
    for i, t in norm.items():
        lines = t.split("\n")
        kept = [
            ln for ln in lines if ln.strip(" ") == "" or ln.strip(" ") not in hot
        ]
        assert got[i] == ("\n".join(kept), len(lines) - len(kept)), (
            i,
            repr(t),
            got[i],
        )
