"""BPE vocabulary induction (byte-pair-encoding merge training).

Beyond the reference surface (SURVEY.md §7.1 M7 scale extensions):
tokenizer training is the step a 100-TB corpus pipeline runs right before
chunking/packing (``operators/chunking.py`` consumes its output in real
life). This is Sennrich et al. 2016 BPE, Spark-first:

- **One corpus pass, one vocabulary collect.** ``word_counts`` is one
  shuffle over the corpus (map-side partial aggregation); its (word,
  count) rows are collected once, and every merge round then runs on
  the driver over that vocabulary, as HF tokenizers and SentencePiece
  train: adjacent pairs weighted by word count, argmax with a
  total-order tie-break (count DESC, then pair lexicographic — all
  integer counts), then a greedy left-to-right non-overlapping merge.
- **The fit holds the segmentation.** The last round's vocabulary is
  every word's segmentation under the learned merges, so the fitted
  model keeps ``(word, n_syms)`` next to the merge list, and
  ``bpe_fertility`` joins the corpus against it as one broadcast — the
  corpus is never re-folded and the vocabulary never recounted in Spark.
- **Greedy fold**: appending-or-merging against the accumulator's last
  element (``_merge``) implements the sequential i+=2 scan exactly,
  because a merged token ``a||b`` is strictly longer than ``a`` and so
  can never false-match as the left partner in one pass.

The DuckDB oracle replays the identical rounds as generated chained CTEs
(the ``oracle_kmeans_cells`` pattern): pair stats → LIMIT-1 argmax →
``list_reduce`` string-accumulator fold (DuckDB 1.0's accumulator must be
scalar, so the symbol list threads through the fold joined by chr(30) —
tokens are [a-z0-9]-only, so the separator can't collide).

Reference parity anchor: none — the reference has no tokenizer machinery;
its only string segmentation is delimiter ``str.split()`` over language
codes and URLs (``youtube_api_handler.py:353,813-815``).
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table, spread
from .memo import session_value
from .ranking import TOKEN_SPLIT_RE, _tokens

BPE_MERGES = 6
_SEP_SQL = "chr(30)"


def word_counts(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )


class BpeModel(NamedTuple):
    """A fitted BPE tokenizer: one Row per merge round, and every
    vocabulary word with its segment count under those merges."""

    merges: list[Row]
    words: list[str]
    n_syms: list[int]


def bpe_fit(docs: DataFrame, n_merges: int = BPE_MERGES) -> BpeModel:
    """Learn ``n_merges`` BPE merges and the segmentation they give.

    One Spark job chain (``word_counts``) and one collect of the
    vocabulary, whatever ``n_merges`` is; the rounds then recount pairs
    over the held vocabulary: O(rounds × Σ word lengths) driver work and
    O(Σ word lengths) driver memory — the work a per-round Spark
    aggregate over the vocabulary would do, without a job per round.
    """
    rows = word_counts(docs).collect()
    words = [r.word for r in rows]
    vocab = [(list(r.word), r.wcount) for r in rows]
    merges: list[Row] = []
    for rnd in range(1, n_merges + 1):
        stats: Counter = Counter()
        for syms, wcount in vocab:
            for pair in zip(syms, syms[1:]):
                stats[pair] += wcount
        if not stats:
            break
        (left, right), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(
            Row(
                merge_round=rnd,
                left_sym=left,
                right_sym=right,
                merged_sym=left + right,
                pair_count=cnt,
            )
        )
        vocab = [(_merge(syms, left, right), wcount) for syms, wcount in vocab]
    return BpeModel(merges, words, [len(syms) for syms, _ in vocab])


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES) -> list[Row]:
    """The merge list of ``bpe_fit``."""
    return bpe_fit(docs, n_merges).merges


def _merge(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of (left, right)."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def _fitted_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> BpeModel:
    """The fitted model as a session value: the merges and the
    segmentation ARE the model — rounds × 1 row plus the vocabulary — so
    consumers (bpe_merges, bpe_fertility, pack_sequences_bpe) share one
    fit: one word-count job chain and one vocabulary collect per corpus."""
    return session_value(
        spark, sf_dir, f"bpe_{n_merges}",
        lambda: bpe_fit(spread(load_table(spark, sf_dir, "documents")), n_merges),
    )


def bpe_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _fitted_bpe(spark, sf_dir).merges,
        "merge_round int, left_sym string, right_sym string,"
        " merged_sym string, pair_count long",
    )


def oracle_bpe_merges(n_merges: int = BPE_MERGES) -> str:
    sep = _SEP_SQL
    parts = [
        f"""WITH tok AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '{TOKEN_SPLIT_RE}'),
           t -> t <> '')) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS wcount FROM tok GROUP BY word),
s0 AS (
  SELECT word, wcount,
         array_to_string(string_split_regex(word, ''), {sep}) AS symstr
  FROM vocab
)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(f""",
p{r} AS (
  SELECT sy[i] AS lft, sy[i + 1] AS rgt, CAST(SUM(wcount) AS BIGINT) AS cnt
  FROM (
    SELECT wcount, string_split(symstr, {sep}) AS sy,
           unnest(range(1, len(string_split(symstr, {sep})))) AS i
    FROM s{p}
  )
  GROUP BY sy[i], sy[i + 1]
),
b{r} AS (SELECT lft, rgt, cnt FROM p{r} ORDER BY cnt DESC, lft, rgt LIMIT 1),
s{r} AS (
  -- LEFT JOIN ON TRUE + pass-through: when the vocabulary exhausts
  -- before round {r} (b{r} empty), the chain must carry s{p} forward
  -- unchanged — the engine stops merging at that point too.
  SELECT word, wcount,
         CASE WHEN b.lft IS NULL THEN symstr ELSE
         list_reduce(string_split(symstr, {sep}),
           (acc, s) -> CASE
             WHEN (string_split(acc, {sep}))[-1] = b.lft AND s = b.rgt
             THEN array_to_string(
                    (string_split(acc, {sep}))
                      [1:len(string_split(acc, {sep})) - 1]
                      || [b.lft || b.rgt], {sep})
             ELSE acc || {sep} || s END) END AS symstr
  FROM s{p} LEFT JOIN b{r} b ON TRUE
)""")
    rounds_union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_round, lft AS left_sym, rgt AS right_sym,"
        f" lft || rgt AS merged_sym, cnt AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append(
        f"\nSELECT * FROM (\n{rounds_union}\n) ORDER BY merge_round"
    )
    return "".join(parts)


def bpe_fertility_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fertility under the learned BPE vocabulary: how many
    BPE tokens each word-tokenized document becomes.

    The composition a tokenizer-aware pipeline runs before packing
    (``chunking.pack_sequences`` budgets by token count — this is where
    that count comes from). Segmentation is a *vocabulary-level* property
    the fit already computed on the driver, and the corpus just joins its
    words against it — the corpus is never re-folded.

    Scale shape: the ``(word, n_syms)`` segmentation is as large as the
    vocabulary the fit collected, and goes out as one broadcast, so the
    corpus ⋈ vocab join is map-side: no shuffle on ``word`` and no
    stopword skew. The one shuffle is the per-document aggregate.
    Fertility ratio uses integer DIV permille, exact on both engines.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return bpe_fertility(docs, _fitted_bpe(spark, sf_dir))


def bpe_fertility(docs: DataFrame, model: BpeModel) -> DataFrame:
    """Core of ``bpe_fertility_query`` over any (doc_id, text) frame and
    the model fitted on it — see the query docstring for the scale shape."""
    import pyarrow as pa

    # an Arrow table under the local-relation threshold becomes a
    # LocalRelation: no scan, but broadcasting it is still one job (the
    # LocalTableScan, one task per default-parallelism slice)
    seg = docs.sparkSession.createDataFrame(
        pa.table(
            {
                "word": pa.array(model.words, pa.string()),
                "n_syms": pa.array(model.n_syms, pa.int64()),
            }
        )
    )
    corpus = docs.select("doc_id", F.explode(_tokens()).alias("word"))
    return (
        corpus.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.expr("(1000 * n_bpe_tokens) DIV n_words").alias(
                "fertility_permille"
            ),
        )
    )


def oracle_bpe_fertility(n_merges: int = BPE_MERGES) -> str:
    # Reuse the merge-training CTE chain; segment lengths come from the
    # final round's symbol strings, joined back to per-doc words.
    base = oracle_bpe_merges(n_merges)
    chain = base[: base.rindex("\nSELECT * FROM (")]
    return f"""{chain},
vocab_syms AS (
  SELECT word,
         CAST(len(string_split(symstr, {_SEP_SQL})) AS BIGINT) AS n_syms
  FROM s{n_merges}
),
corpus AS (
  SELECT doc_id,
         unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '{TOKEN_SPLIT_RE}'),
           t -> t <> '')) AS word
  FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(1000 * SUM(n_syms) // COUNT(*) AS BIGINT) AS fertility_permille
FROM corpus JOIN vocab_syms USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""


def pack_sequences_bpe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the REAL token measure: bins budgeted by
    BPE token counts (``bpe_fertility``) instead of whitespace words.

    This is the composition a production data loader actually runs —
    whitespace counts under-budget by the fertility factor (~1.5-3×
    depending on vocabulary size), so packing by them overflows the
    context window. Reuses ``chunking.pack_sequences`` unchanged: the
    packing operator is measure-agnostic, only the ``n_tokens`` column
    changes. Documents with zero alphanumeric tokens have nothing to
    pack and are absent, same as the fertility table.
    """
    from .chunking import pack_sequences

    docs = spread(load_table(spark, sf_dir, "documents"))
    fert = bpe_fertility(docs, _fitted_bpe(spark, sf_dir)).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pack_sequences(src.join(fert, "doc_id"))


def oracle_pack_sequences_bpe(n_merges: int = BPE_MERGES) -> str:
    from .chunking import PACK_BUDGET

    return f"""
WITH fert AS (
  SELECT doc_id, n_bpe_tokens FROM ({oracle_bpe_fertility(n_merges)})
),
t AS (
  SELECT d.doc_id, d.source, CAST(f.n_bpe_tokens AS BIGINT) AS n_tokens
  FROM documents d JOIN fert f USING (doc_id)
),
c AS (
  SELECT *,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(start // {PACK_BUDGET} AS BIGINT) AS bin,
       CAST(start % {PACK_BUDGET} AS BIGINT) AS bin_offset
FROM c ORDER BY doc_id
"""


QUERIES = {
    "bpe_merges": bpe_merges_query,
    "bpe_fertility": bpe_fertility_query,
    "pack_sequences_bpe": pack_sequences_bpe_query,
}

ORACLES = {
    "bpe_merges": oracle_bpe_merges(),
    "bpe_fertility": oracle_bpe_fertility(),
    "pack_sequences_bpe": oracle_pack_sequences_bpe(),
}
