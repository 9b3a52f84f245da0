"""Unit tests for BPE merge training.

Oracle-differential coverage is in tests/test_oracle_parity.py; these pin
the algorithm itself against a transparent reference implementation of
Sennrich-style BPE (pair stats over a weighted vocabulary, greedy
left-to-right merge application), plus the overlap edge the fold must get
right.
"""

from __future__ import annotations

from collections import Counter

from youtube_api_batch_process_with_analytics_spark.operators.bpe import (
    BPE_MERGES,
    bpe_train,
)


def _ref_bpe(words: dict[str, int], n_merges: int):
    """Reference BPE: dict-based, obviously-correct."""
    vocab = {w: list(w) for w in words}
    out = []
    for rnd in range(1, n_merges + 1):
        stats: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += words[w]
        if not stats:
            break
        # count DESC, then pair lexicographic — the engine's tie-break
        (l, r), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rnd, l, r, l + r, cnt))
        for w, syms in vocab.items():
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    new.append(l + r)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            vocab[w] = new
    return out


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_matches_reference_on_hand_corpus(spark):
    docs = _docs(
        spark,
        [
            (1, "low low low low low lower lower newest newest"),
            (2, "newest newest newest newest widest widest widest"),
        ],
    )
    words = Counter(
        "low low low low low lower lower newest newest".split()
        + "newest newest newest newest widest widest widest".split()
    )
    got = [
        (m.merge_round, m.left_sym, m.right_sym, m.merged_sym, m.pair_count)
        for m in bpe_train(docs, n_merges=5)
    ]
    assert got == _ref_bpe(dict(words), 5)


def test_bpe_greedy_overlap_run(spark):
    """'aaaa' with best pair (a,a): greedy non-overlap counts and merges —
    round 1 must merge positions 0-1 and 2-3, and the NEXT round's stats
    must see ['aa','aa'], never an overlapped ['a','aa','a'] artifact."""
    docs = _docs(spark, [(1, "aaaa aaaa b"), (2, "aaaa c")])
    words = {"aaaa": 3, "b": 1, "c": 1}
    got = [
        (m.merge_round, m.left_sym, m.right_sym, m.merged_sym, m.pair_count)
        for m in bpe_train(docs, n_merges=3)
    ]
    want = _ref_bpe(words, 3)
    assert got == want
    # round 1: (a,a) appears 3 times per 'aaaa' occurrence (overlapping
    # stats, per Sennrich), ×3 occurrences = 9
    assert got[0] == (1, "a", "a", "aa", 9)
    # round 2: ['aa','aa'] → pair (aa,aa) ×3
    assert got[1] == (2, "aa", "aa", "aaaa", 3)


def test_bpe_train_jobs_do_not_scale_with_rounds(spark, jobs_in_group):
    """Training collects the vocabulary once and runs every merge round
    on the driver: 6 rounds launch exactly the jobs 1 round does."""
    docs = _docs(
        spark,
        [(1, "low low lower newest newest widest"), (2, "newest low widest wider")],
    )
    one, jobs_one = jobs_in_group(lambda: bpe_train(docs, n_merges=1))
    six, jobs_six = jobs_in_group(lambda: bpe_train(docs, n_merges=6))
    assert len(one) == 1 and len(six) == 6  # no early exhaustion
    assert jobs_one and len(jobs_six) == len(jobs_one)


def test_bpe_exhaustion_engine_oracle_parity(spark):
    """When the vocabulary fully merges before BPE_MERGES rounds, the
    engine stops early and the generated oracle's later rounds must carry
    the chain forward unchanged — fertility must still emit one row per
    doc on both sides (regression: the oracle's cross-join against an
    empty argmax round used to empty the whole chain)."""
    import duckdb

    from youtube_api_batch_process_with_analytics_spark.operators.bpe import (
        bpe_fertility,
        bpe_fit,
        oracle_bpe_fertility,
        oracle_bpe_merges,
    )

    rows = [(1, "ab ab ab aa"), (2, "aa babb babb")]
    docs = _docs(spark, rows)
    model = bpe_fit(docs, n_merges=6)
    merges = model.merges
    assert len(merges) == 4  # exhausts early

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    oracle_merges = con.execute(oracle_bpe_merges(6)).fetchall()
    assert oracle_merges == [
        (m.merge_round, m.left_sym, m.right_sym, m.merged_sym, m.pair_count)
        for m in merges
    ]
    got = sorted(
        tuple(r) for r in bpe_fertility(docs, model).collect()
    )
    want = sorted(tuple(r) for r in con.execute(oracle_bpe_fertility(6)).fetchall())
    assert got == want and len(got) == 2


def test_bpe_fertility_accounting(spark, sf_dir):
    """Fertility bounds: merges only shrink segmentations, so per doc
    n_bpe_tokens ≤ total characters of its words and ≥ n_words."""
    from youtube_api_batch_process_with_analytics_spark.operators.bpe import (
        bpe_fertility_query,
    )

    out = {r.doc_id: r for r in bpe_fertility_query(spark, sf_dir).collect()}
    assert out
    for r in out.values():
        assert r.n_words <= r.n_bpe_tokens
        assert r.fertility_permille == (1000 * r.n_bpe_tokens) // r.n_words


def test_pack_sequences_bpe_uses_fertility_measure(spark, sf_dir):
    """BPE packing must budget by the fertility counts and reproduce the
    per-source streaming prefix-sum exactly."""
    from youtube_api_batch_process_with_analytics_spark.operators.bpe import (
        bpe_fertility_query,
        pack_sequences_bpe_query,
    )
    from youtube_api_batch_process_with_analytics_spark.operators.chunking import (
        PACK_BUDGET,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    fert = {r.doc_id: r.n_bpe_tokens for r in bpe_fertility_query(spark, sf_dir).collect()}
    src = {
        r.doc_id: r.source
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    packed = pack_sequences_bpe_query(spark, sf_dir).collect()
    assert {r.doc_id: r.n_tokens for r in packed} == fert
    # recompute the stream per source in doc_id order
    by_source: dict = {}
    for d in sorted(fert):
        by_source.setdefault(src[d], []).append(d)
    want = {}
    for s, ids in by_source.items():
        cum = 0
        for d in ids:
            want[d] = (cum // PACK_BUDGET, cum % PACK_BUDGET)
            cum += fert[d]
    assert {r.doc_id: (r.bin, r.bin_offset) for r in packed} == want


def test_bpe_fixture_counts_monotone_sanity(spark, sf_dir):
    """On the real fixture: rounds produce non-increasing... not
    guaranteed in general — instead pin structural invariants: merged_sym
    is always the concatenation, rounds are 1..N, counts positive."""
    merges = bpe_train(
        __import__(
            "youtube_api_batch_process_with_analytics_spark.sources",
            fromlist=["load_table"],
        ).load_table(spark, sf_dir, "documents"),
        n_merges=BPE_MERGES,
    )
    assert [m.merge_round for m in merges] == list(range(1, len(merges) + 1))
    for m in merges:
        assert m.merged_sym == m.left_sym + m.right_sym
        assert m.pair_count > 0
