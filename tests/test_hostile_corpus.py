"""Hostile-corpus differential: every document- or event-consuming gated
query must stay Spark↔DuckDB hash-identical on degenerate rows the shipped
fixtures never contain — for documents: NULL, empty, whitespace-only
(incl. the vertical tab that Java's \\s matches and RE2's does not),
single-token, and repeated-token text; for events: NULL event_type/value/
props, malformed and empty JSON, a NULL timestamp, an empty-string type,
and a duplicated event_id.

The relational pass (orders/lineitem/customer: NULL keys, NULL dates,
NULL measures, empty strings) caught: a NULL title/date/views nulling the
ENTIRE synthesized RSS <entry> (element now omitted instead), channel
analytics attributing videos with NULL channel keys inconsistently (now an
explicit both-engine attribution contract: non-null channel key + publish
date; falsy languages dropped exactly like the reference's
`if audio_lang:`), and three oracle-only NULL-propagation gaps
(topics/categories strings, has_description, un-coalesced view counts
flipping oracle BIGINT columns to float64).

The events pass caught its own batch of latent divergences: NULL-ts rows
silently dropped by Spark's window()/session_window but counted by the
oracles' CASE..ELSE buckets (now an explicit shared ``ts IS NOT NULL``
contract), DuckDB's json_extract erroring on malformed JSON where Spark's
get_json_object yields NULL (now json_valid-guarded), a non-null-safe
event_type join dropping the NULL group from the sketch attestation (now
eqNullSafe), and a nullable SUM turning an oracle BIGINT column into
float64 through the pandas fetch (now COALESCE(..., 0) on both engines).

This is the systematic form of the ``chunk_documents`` NULL-text finding
(round-4 ADVICE): with ANSI off, Spark's ``size(split(trim(NULL)))`` is -1
while DuckDB propagates NULL; with ANSI on, an empty doc turns a ratio
denominator into a DIVIDE_BY_ZERO crash. On first run this differential
caught 8 real latent divergences (two ANSI crashes, NULL-shingle
asymmetries in MinHash/Jaccard/CC, a nullable-INT float64 coercion in the
fingerprint oracle, a \\x0b class gap in the BPE token regex, NULL-content
media rows) — all fixed by coalescing NULL→'' at every tokenize/length
site on BOTH engines, ``try_divide`` (NULL on zero, exactly DuckDB's x/0),
and no-media-row-without-payload semantics.

The hostile rows are APPENDED to the real sf0.001 corpus so every query
keeps realistic strata/groups; all non-document tables are the sf0.001
originals. Fix semantics here are identity on NULL-free corpora, so the
driver gate hashes are unchanged.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

import __spark_entry__ as em
import tools.compare_oracle as co
from tests.oracle_utils import fetch_duck
from youtube_api_batch_process_with_analytics_spark.sources import TABLES

HOSTILE_ROWS = """
    (9000001, NULL, 'en', 'web', 0),
    (9000002, '', 'en', 'web', 0),
    (9000003, '   ', 'en', 'web', 3),
    (9000004, CAST(e'\\t\\n \\x0b' AS VARCHAR), 'de', 'web', 4),
    (9000005, 'single', 'de', 'books', 6),
    (9000006, 'two words', 'fr', 'web', 9),
    (9000007, CAST(e'a\\tb\\nc  d' AS VARCHAR), 'en', 'books', 8),
    (9000008, 'x x x x x x x x', 'en', 'web', 15),
    (9000100, NULL, 'en', 'web', 0),
    (9000200, '', 'de', 'books', 0)
"""


ZERO64 = "[" + ",".join(["0.0"] * 64) + "]"
# a valid, non-zero vector: only its NULL id makes the row degenerate
REAL64 = "[" + ",".join(str((i % 5 - 2) * 0.5 + 0.125) for i in range(64)) + "]"
HOSTILE_EMB_ROWS = f"""
    (6000000, CAST({ZERO64} AS FLOAT[]), 1),
    (6000001, NULL, 2),
    (6000002, CAST([] AS FLOAT[]), 3),
    (6000003, CAST([1.5, 2.5] AS FLOAT[]), 1),
    (6000050, CAST({ZERO64} AS FLOAT[]), 2),
    (NULL, CAST({REAL64} AS FLOAT[]), 1)
"""

HOSTILE_ORDER_ROWS = """
    (7000001, NULL, 'O', 100.5, TIMESTAMP '2024-01-10 00:00:00', '1-URGENT'),
    (7000002, 1, NULL, NULL, NULL, NULL),
    (7000003, 999999999, 'F', 0.0, TIMESTAMP '2024-01-11 00:00:00', ''),
    (7000004, 2, NULL, 222.25, TIMESTAMP '2024-01-12 00:00:00', '2-HIGH'),
    (7000005, 3, 'O', NULL, TIMESTAMP '2024-01-14 00:00:00', '3-MEDIUM'),
    (7000006, 3, 'F', 50.0, TIMESTAMP '2024-01-14 00:00:00', '3-MEDIUM')
"""
# 7000004 (round-12 ADVICE item 1): NULL status with a VALID key+date —
# survives the ranked filter, so the grouping-set NULL subgroup exists and
# the 'overall' cells must come from the TOTAL row on both engines (the
# GROUPING() pin in ORACLE_FINAL_METRICS_STRUCT).
# 7000005/7000006 (ADVICE item 2): two orders TIED on (custkey, date), one
# with a NULL value column — the as-of tie-break must carry ONE physically
# consistent (price, status) tuple, not stitch per-column last-non-nulls
# across the tied rows (the struct-atomic carry in asof_join).

HOSTILE_LINEITEM_ROWS = """
    (7000001, 1, 1, 1, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
    (7000003, NULL, NULL, 2, 5.0, 100.0, 0.0, 0.0, 'N', 'O', TIMESTAMP '2024-01-12 00:00:00'),
    (999999998, 1, 1, 1, 1.0, 1.0, 1.0, 1.0, 'R', 'F', TIMESTAMP '2024-01-13 00:00:00')
"""

HOSTILE_CUSTOMER_ROWS = """
    (5000001, NULL, NULL, NULL, NULL),
    (5000002, '', 0, -5.25, '')
"""

HOSTILE_EVENT_ROWS = """
    (8000001, TIMESTAMP '2024-01-15 12:00:00', 77001, NULL, 5.0, '{"k": 1}'),
    (8000002, TIMESTAMP '2024-01-15 12:01:00', 77001, 'error', NULL, '{"k": 2}'),
    (8000003, TIMESTAMP '2024-01-15 12:02:00', 77002, 'click', 1.5, NULL),
    (8000004, TIMESTAMP '2024-01-15 12:03:00', 77002, 'view', 2.5, 'not json at all'),
    (8000005, TIMESTAMP '2024-01-15 12:04:00', 77003, 'view', 3.5, '{}'),
    (8000006, TIMESTAMP '2024-01-15 12:05:00', 77003, 'view', 0.0, '{"k": null}'),
    (8000007, NULL, 77004, 'error', 9.9, '{"k": 3}'),
    (8000007, TIMESTAMP '2024-01-15 12:07:00', 77004, 'purchase', 9.9, '{"k": 4}'),
    (8000009, TIMESTAMP '2024-01-15 12:08:00', 77005, '', -1.0, '{"k": -5}'),
    (8000010, TIMESTAMP '2024-01-16 12:00:00', 3, 'view', 1.0, '{}')
"""
# 8000010: an event for user 3 AFTER the tied 7000005/7000006 order pair,
# so the as-of join actually exercises the tied-timestamp carry.


@pytest.fixture(scope="module")
def hostile_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile")
    hostile = {
        "documents": ("(doc_id, text, lang, source, n_chars)", HOSTILE_ROWS),
        "events": ("(event_id, ts, user_id, event_type, value, props)", HOSTILE_EVENT_ROWS),
        "embeddings": ("(vec_id, embedding, label)", HOSTILE_EMB_ROWS),
        "orders": (
            "(o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            " o_orderdate, o_orderpriority)",
            HOSTILE_ORDER_ROWS,
        ),
        "lineitem": (
            "(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
            " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
            " l_shipdate)",
            HOSTILE_LINEITEM_ROWS,
        ),
        "customer": (
            "(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)",
            HOSTILE_CUSTOMER_ROWS,
        ),
    }
    for t in TABLES:
        if t not in hostile:
            shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    try:
        for t, (schema, rows) in hostile.items():
            # events.ts has shipped under several physical encodings;
            # normalize through a TIMESTAMP cast so the UNION coerces
            cast = (
                "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,"
                " event_type, value, props"
                if t == "events"
                else "*"
            )
            con.execute(
                f"""
COPY (
  SELECT {cast} FROM '{sf_dir}/{t}.parquet'
  UNION ALL
  SELECT * FROM (VALUES {rows}
  ) t{schema}
) TO '{d}/{t}.parquet' (FORMAT PARQUET)
"""
            )
    finally:
        con.close()
    return str(d)


def _doc_query_names():
    # every base table now carries hostile rows -> run the full gated surface
    return list(em.oracle_sql())


def _differential(spark, hostile_dir, queries):
    """Spark-vs-DuckDB hash differential of ``queries`` (name → query function)
    over the hostile corpus; returns one failure line per diverging
    query."""
    oracles = em.oracle_sql()
    con = duckdb.connect()
    failures = []
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{hostile_dir}/{t}.parquet'"
            )
        for name, build in queries.items():
            try:
                df = build(spark, hostile_dir)
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
            except Exception as e:  # ANSI crashes are exactly what we hunt
                failures.append(f"{name}: SPARK_ERR {e!r}"[:200])
                continue
            dcols, drows = fetch_duck(con, oracles[name])
            if len(rows) != len(drows):
                failures.append(f"{name}: rows {len(rows)} != {len(drows)}")
            elif sorted(cols) != sorted(dcols):
                failures.append(f"{name}: cols {sorted(cols)} != {sorted(dcols)}")
            elif co.value_hash(rows, cols) != co.value_hash(drows, dcols):
                so = sorted(range(len(cols)), key=lambda i: cols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = {"|".join(co._fmt(r[i]) for i in so) for r in rows}
                dset = {"|".join(co._fmt(r[i]) for i in do) for r in drows}
                failures.append(
                    f"{name}: value hash mismatch; spark-only="
                    f"{sorted(sset - dset)[:2]} duck-only={sorted(dset - sset)[:2]}"
                )
    finally:
        con.close()
    return failures


def test_hostile_corpus_full_differential(spark, hostile_dir):
    qs = em.queries()
    failures = _differential(
        spark, hostile_dir, {name: qs[name] for name in _doc_query_names()}
    )
    assert not failures, failures


def test_hostile_corpus_fan_out_routes(spark, hostile_dir, monkeypatch):
    """The full differential again with spread()'s row floor forced to 0,
    so every query over the small hostile tables takes its round-robin
    fan-out route as a large single-split scan would."""
    from youtube_api_batch_process_with_analytics_spark.operators import memo
    from youtube_api_batch_process_with_analytics_spark.sources import tables

    monkeypatch.setattr(tables, "SPREAD_MIN_ROWS", 0)
    # drops the registry's plan cache, so every query is rebuilt routed
    memo.release_session_frames()
    qs = em.queries()
    try:
        plan = qs["doc_text_stats"](spark, hostile_dir)._jdf.queryExecution()
        assert "RoundRobinPartitioning" in plan.executedPlan().toString()
        failures = _differential(
            spark, hostile_dir, {name: qs[name] for name in _doc_query_names()}
        )
    finally:
        memo.release_session_frames()
    assert not failures, failures


def test_hostile_corpus_kernel_routes(spark, hostile_dir, monkeypatch):
    """Second pass over every registered query that reaches a GEMM router
    (k-means cells, PQ codes, semantic_dedup's pair scoring), with both
    work thresholds forced to 0 so the Arrow kernels run on the hostile
    embeddings — the gate tiers never reach them by volume. Each query
    must still hash-match its DuckDB twin, and each plan must actually
    carry a kernel node."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
    monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 0)
    # both Lloyd fits (k-means cells, PQ codebooks) run their distributed
    # rounds, whose reassignments go through the kernel, rather than the
    # driver-side fit
    monkeypatch.setattr(cl, "LOCAL_FIT_MAX_ROWS", 0)
    # a fresh value store, so the Lloyd fit rounds route through the
    # kernel too instead of reusing the first pass's fitted centroids
    monkeypatch.setattr(memo, "_VALUES", {})
    # the query functions themselves: the registry's plan cache would return
    # the first pass's expression-path plans
    oracles = em.oracle_sql()
    routed = {n: fn for n, fn in sorted(cl.QUERIES.items()) if n in oracles}
    try:
        for name, build in routed.items():
            plan = (
                build(spark, hostile_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "InPandas" in plan, name
        failures = _differential(spark, hostile_dir, routed)
    finally:
        memo.release_session_frames()
    assert not failures, failures


def test_hostile_corpus_label_routes(spark, hostile_dir, monkeypatch):
    """The k-means consumers return the same rows over the hostile
    embeddings whether they take the driver fit's held labels and query
    probes or assign and probe in Spark."""
    from tests.test_clustering import LABEL_ROUTE_QUERIES, label_route_rows

    held = label_route_rows(spark, hostile_dir, monkeypatch, held=True)
    assigned = label_route_rows(spark, hostile_dir, monkeypatch, held=False)
    for name in LABEL_ROUTE_QUERIES:
        assert held[name] == assigned[name] and held[name], name


def test_hostile_rows_actually_flow_through(spark, hostile_dir):
    """Guard against the differential silently passing because the hostile
    rows got filtered out everywhere: the fingerprint query must emit all
    of them, and NULL/'' docs must share the '' content group."""
    from youtube_api_batch_process_with_analytics_spark.operators.text_analysis import (
        doc_fingerprint,
    )

    rows = {
        r.doc_id: r
        for r in doc_fingerprint(spark, hostile_dir).collect()
        if r.doc_id >= 9000001
    }
    assert len(rows) == 10
    empty_fp = {rows[i].fingerprint for i in (9000001, 9000002, 9000003, 9000100)}
    assert len(empty_fp) == 1  # NULL ≡ '' ≡ whitespace-only after normalize


def test_fixture_embedding_dim_matches_contract(spark, sf_dir):
    """EMB_DIM is the statically-configured vector dimension every
    embedding operator validates against (an index-schema contract). If
    the driver ever regenerates fixtures at another dimension, this fails
    loudly instead of the hygiene gate silently dropping the whole table."""
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        EMB_DIM,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    dims = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .distinct()
        .collect()
    )
    assert {r.d for r in dims} == {EMB_DIM}


def test_hostile_vectors_are_dropped_not_fatal(spark, hostile_dir):
    """The hygiene gate drops exactly the degenerate vectors (NULL, empty,
    wrong-dim, zero, NULL id) and keeps every real one — previously any
    single such row crashed the whole ANN/clustering job (ANSI
    div-by-zero, banding index error, NaN in the GEMM kernel, a NULL
    k-means seed key)."""
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        valid_embeddings,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    emb = load_table(spark, hostile_dir, "embeddings")
    kept = {r.vec_id for r in valid_embeddings(emb).select("vec_id").collect()}
    assert not kept & {6000000, 6000001, 6000002, 6000003, 6000050, None}
    assert len(kept) == emb.count() - 6
