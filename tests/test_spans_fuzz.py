"""Hypothesis differential fuzzing for the span family.

Random small corpora over a 3-symbol alphabet (so cross-document shared
k-grams are dense) are run through duplicate_spans /
remove_duplicate_spans / doc_novelty and compared against a brute-force
Python model of the semantics: enumerate windows, mark cross-doc
duplicates, merge islands with the gap > k rule, cut all-but-canonical
occurrences. This pins exactly the properties the per-query oracle hash
checks only on the one committed fixture.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from youtube_api_batch_process_with_analytics_spark.operators.spans import (
    doc_novelty,
    duplicate_spans,
    remove_duplicate_spans,
)

K = 3

_doc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=18)
_corpus = st.lists(_doc, min_size=2, max_size=4)


def _windows(toks):
    return [tuple(toks[i : i + K]) for i in range(len(toks) - K + 1)]


def _gram_index(corpus):
    docs_of = {}
    for d, toks in corpus.items():
        for g in _windows(toks):
            docs_of.setdefault(g, set()).add(d)
    return docs_of


def _islands(positions):
    """Merge sorted window-start positions with the gap > K rule."""
    spans = []
    for p in sorted(positions):
        if spans and p - spans[-1][1] <= K:
            spans[-1][1] = p
            spans[-1][2] += 1
        else:
            spans.append([p, p, 1])
    return [(s, e + K - 1, n) for s, e, n in spans]


def _ref_duplicate_spans(corpus):
    docs_of = _gram_index(corpus)
    out = set()
    for d, toks in corpus.items():
        hits = [
            i
            for i, g in enumerate(_windows(toks))
            if len(docs_of[g]) > 1
        ]
        for s, e, n in _islands(hits):
            out.add((d, s, e, e - s + 1, n))
    return out


def _ref_remove(corpus):
    docs_of = _gram_index(corpus)
    out = {}
    for d, toks in corpus.items():
        hits = [
            i
            for i, g in enumerate(_windows(toks))
            if len(docs_of[g]) > 1 and min(docs_of[g]) != d
        ]
        spans = _islands(hits)
        covered = {
            i for s, e, _ in spans for i in range(s, e + 1)
        }
        cleaned = [t for i, t in enumerate(toks) if i not in covered]
        out[d] = (
            len(toks),
            len(spans),
            sum(e - s + 1 for s, e, _ in spans),
            " ".join(cleaned),
        )
    return out


def _ref_novelty(corpus):
    docs_of = _gram_index(corpus)
    out = {}
    for d, toks in corpus.items():
        ws = _windows(toks)
        if not ws:
            continue
        novel = sum(1 for g in ws if min(docs_of[g]) == d)
        out[d] = (len(ws), novel, (1000 * novel) // len(ws))
    return out


def _spark_corpus(spark, corpus):
    return spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in corpus.items()],
        "doc_id long, text string",
    )


def _ref_waterfill(caps: dict[str, int], permille: int):
    budget = (sum(caps.values()) * permille) // 1000
    remaining, alloc = budget, {}
    todo = sorted(caps.items(), key=lambda kv: (kv[1], kv[0]))
    while todo:
        level, n = remaining // len(todo), len(todo)
        src, cap = todo[0]
        if cap <= level:
            alloc[src] = cap
            remaining -= cap
            todo.pop(0)
        else:
            rem = remaining % n
            for i, (s, _) in enumerate(sorted(todo)):
                alloc[s] = level + (1 if i < rem else 0)
            todo = []
    return budget, alloc


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=0, max_value=500),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=0, max_value=1000),
)
def test_fuzz_waterfill(spark, caps, permille):
    from youtube_api_batch_process_with_analytics_spark.operators.sampling import (
        waterfill,
    )

    df = spark.createDataFrame(
        list(caps.items()), "source string, capacity long"
    )
    rows = waterfill(df, permille).collect()
    budget, want = _ref_waterfill(caps, permille)
    assert {r.source: r.allocation for r in rows} == want
    assert all(r.budget_total == budget for r in rows)
    assert sum(r.allocation for r in rows) == min(budget, sum(caps.values()))


_word = st.text(alphabet="ab", min_size=1, max_size=6)


@settings(max_examples=4, deadline=None)
@given(st.lists(st.lists(_word, min_size=1, max_size=8), min_size=1, max_size=3))
def test_fuzz_bpe_vs_reference(spark, docs):
    """Random 2-symbol corpora maximize merge collisions, ties, overlap
    runs and early exhaustion; the engine's merge sequence must equal the
    dict-based reference AND the DuckDB oracle's chained-CTE rounds
    exactly (tie-break included) — the oracle is the reference that does
    not share the engine's in-process algorithm."""
    from collections import Counter

    import duckdb

    from youtube_api_batch_process_with_analytics_spark.operators.bpe import (
        bpe_train,
        oracle_bpe_merges,
    )
    from tests.test_bpe import _ref_bpe

    words = Counter(w for d in docs for w in d)
    rows = [(i + 1, " ".join(d)) for i, d in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (m.merge_round, m.left_sym, m.right_sym, m.merged_sym, m.pair_count)
        for m in bpe_train(sdf, n_merges=4)
    ]
    assert got == _ref_bpe(dict(words), 4)
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        assert got == con.execute(oracle_bpe_merges(4)).fetchall()


@settings(max_examples=6, deadline=None)
@given(_corpus)
def test_fuzz_duplicate_spans(spark, docs):
    corpus = {i + 1: t for i, t in enumerate(docs)}
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_grams)
        for r in duplicate_spans(_spark_corpus(spark, corpus), k=K).collect()
    }
    assert got == _ref_duplicate_spans(corpus)


@settings(max_examples=6, deadline=None)
@given(_corpus)
def test_fuzz_remove_and_novelty(spark, docs):
    corpus = {i + 1: t for i, t in enumerate(docs)}
    df = _spark_corpus(spark, corpus)
    got_rm = {
        r.doc_id: (
            r.n_tokens,
            r.n_spans_removed,
            r.n_tokens_removed,
            r.cleaned_text,
        )
        for r in remove_duplicate_spans(df, k=K).collect()
    }
    assert got_rm == _ref_remove(corpus)
    got_nv = {
        r.doc_id: (r.n_windows, r.n_novel, r.novelty_permille)
        for r in doc_novelty(df, k=K).collect()
    }
    assert got_nv == _ref_novelty(corpus)
