"""Incremental corpus ingest: dedup a document stream against history.

The production shape of exact dedup (operators/dedup.py ``dedup_exact``)
is incremental: new crawl shards arrive continuously and must be dropped
if their content already exists in the curated corpus. In Spark that is a
**stream-static left-anti join** on the content fingerprint:

- the static side (historical fingerprints) is a normal DataFrame — at
  100 TB a parquet/Delta fingerprint table, pruned to the single
  ``fingerprint`` column at the scan;
- stream-static equi-joins are **stateless**: each micro-batch joins
  against the static table and carries no streaming state, so state never
  grows with corpus size (unlike stream-stream joins);
- duplicates *within* the stream are a separate concern with event-time
  semantics — ``dropDuplicatesWithinWatermark`` (pinned in
  tests/test_streaming.py) — composable in front of this operator.

The reference has no streaming surface (SURVEY.md §2.9: its state is
quota/cache counters); this operator belongs to the LLM-pipeline
extension set, streaming twin of the batch dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_fingerprint(text_col: str = "text"):
    """md5 of the raw text — the same fingerprint the batch ``dedup_exact``
    operator groups on, so batch-curated history and streaming ingest
    agree on identity."""
    return F.md5(F.coalesce(F.col(text_col), F.lit("")))


def incremental_dedup_stream(
    new_docs: DataFrame, history: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Drop streamed documents whose fingerprint already exists in
    ``history``. Emits surviving rows with their ``fingerprint`` attached
    (downstream appends them to the fingerprint table, making the next
    shard's history complete).
    """
    hist_fp = history.select(
        content_fingerprint(text_col).alias("fingerprint")
    ).distinct()
    return new_docs.withColumn(
        "fingerprint", content_fingerprint(text_col)
    ).join(hist_fp, "fingerprint", "left_anti")


INGEST_SHARD_MOD = 5  # doc_id % 5 == 0 → the incoming shard; rest = history


def ingest_dedup_incremental(spark, sf_dir: str) -> DataFrame:
    """Driver-gate wrapper: runs the REAL stream-static anti-join ingest
    (file source → left-anti join against the static fingerprint history →
    memory sink, availableNow trigger) and returns the surviving shard rows
    with their fingerprints. Stream-static joins are stateless, so the
    result is deterministic regardless of micro-batch splits and a SQL
    oracle (the same anti-join over the history partition of ``documents``)
    verifies the streaming engine's answer bit-for-bit.

    The corpus splits deterministically on ``doc_id % INGEST_SHARD_MOD``:
    the ``== 0`` fifth plays the incoming crawl shard, the rest is the
    already-curated history. The shard is staged to parquet once per
    (session, corpus) through the session memo's staged dirs — a
    production stream reads an existing source; staging is harness
    plumbing, not query cost. The streaming run itself (fresh checkpoint,
    memory sink) stays fully per-invocation.
    """
    import uuid

    from ..operators.memo import acquire_staged, release_staged
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shard = docs.filter(F.col("doc_id") % INGEST_SHARD_MOD == 0)
    history = docs.filter(F.col("doc_id") % INGEST_SHARD_MOD != 0)
    name = "ingest_gate_" + uuid.uuid4().hex[:8]
    # coalesce caps the staged file count, as for the latch source: the
    # stream's map side gets one task per staged file
    src = acquire_staged(
        spark, sf_dir, "ingest_src",
        lambda path: shard.coalesce(16).write.mode("overwrite").parquet(path),
    )
    try:
        stream = spark.readStream.schema(shard.schema).parquet(src)
        q = (
            incremental_dedup_stream(stream, history)
            .select("doc_id", "fingerprint")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    finally:
        release_staged(src)
    return spark.table(name)


ORACLE_INGEST_DEDUP_INCREMENTAL = f"""
SELECT d.doc_id, md5(coalesce(d.text, '')) AS fingerprint
FROM documents d
WHERE d.doc_id % {INGEST_SHARD_MOD} = 0
  AND md5(coalesce(d.text, '')) NOT IN (
      SELECT md5(coalesce(text, ''))
      FROM documents
      WHERE doc_id % {INGEST_SHARD_MOD} <> 0)
"""


QUERIES = {"ingest_dedup_incremental": ingest_dedup_incremental}
ORACLES = {"ingest_dedup_incremental": ORACLE_INGEST_DEDUP_INCREMENTAL}
