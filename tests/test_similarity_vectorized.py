"""The Arrow kernels must compute exactly what the fold expressions do.

`ann_cosine_topk` is the oracle-hash-matched baseline (sequential folds,
bit-identical to DuckDB). `cosine_topk_vectorized` and the in-cell scoring
of `ann_ivf_topk` run the NumPy scorer `_top_cosines`, whose fold dot,
fold norms and round-to-6 (`operators/kernels.py`) reproduce Spark's
doubles bit for bit, so both kernels must equal their expression paths
row for row. The property tests pin the twins against Spark itself:
`round6` against `F.round(y, 6)` on values at and beside every kind of
6-dp tie, and the fold cosine against `_dot / (qnrm * nrm)` on every
sf0.01 query × vector pair.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
    ann_cosine_topk,
    cosine_topk_vectorized,
)


def test_vectorized_matches_fold(spark, sf_dir):
    base = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["label"], r["cosine"])
        for r in ann_cosine_topk(spark, sf_dir).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["label"], r["cosine"])
        for r in cosine_topk_vectorized(spark, sf_dir).collect()
    }
    assert base.keys() == fast.keys()
    for k, (nb, lab, cos) in base.items():
        nb2, lab2, cos2 = fast[k]
        assert nb2 == nb and lab2 == lab, (k, (nb, nb2))
        assert cos2 == cos, (k, cos, cos2)

    t0_base = len(base)
    assert t0_base > 0


def test_ivf_gemm_shortlist_matches_expression_path(spark, sf_dir):
    """ann_ivf_topk's kernel must reproduce the expression-only reference
    BIT-FOR-BIT: it scores with Spark's own numerics and keeps each
    batch's top (k + 1) per query; a kernel that ever mis-scored or
    dropped a true top-k candidate would differ here and in the oracle
    gate."""
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        ann_ivf_topk,
    )

    ref = sorted(
        tuple(r) for r in ann_ivf_topk(spark, sf_dir, gemm_shortlist=False).collect()
    )
    got = sorted(tuple(r) for r in ann_ivf_topk(spark, sf_dir).collect())
    assert len(ref) > 0
    assert got == ref


def test_vectorized_local_topk_bounds_shuffle_volume(spark, sf_dir):
    """The kernel stage must emit only per-batch local top-(k+1) candidate
    rows into the ranking shuffle — not all |Q|×N pairs. Upper bound:
    n_arrow_batches × |Q| × (TOP_K + 1); with default Arrow batching the
    fixture yields ≤ one batch per partition."""
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        QUERY_STRIDE,
        TOP_K,
        _vectorized_scored,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import (
        load_table,
        spread,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    nq = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).count()
    n_parts = emb.rdd.getNumPartitions()
    arrow_batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    n_batches = n_parts + n // max(arrow_batch, 1)

    shuffled = _vectorized_scored(spark, sf_dir).count()
    cap = n_batches * nq * (TOP_K + 1)
    assert shuffled <= cap, (shuffled, cap)
    # and the cut is real: far fewer rows than the full pair expansion
    assert shuffled < nq * n, (shuffled, nq * n)


def test_vectorized_bound_attestation_green(spark, sf_dir):
    """The gated attestation rows: full top-k per query, every rank equal
    to the fold path's."""
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        TOP_K,
        ann_vectorized_bound,
    )

    rows = ann_vectorized_bound(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_ranked == TOP_K, r
        assert r.vec_within_bound is True, r


def test_ivf_gemm_shortlist_survives_duplicate_vector_tie_class(spark, tmp_path):
    """A batch whose candidates are one big class of IDENTICAL vectors
    (cos = 1.0 with the query for every member — the exact shape
    replicated-embedding corpora produce) must keep the class's LOWEST
    vec_ids, because that is how the exact path and the oracle break
    rounded-cosine ties. A selection without the id tie-break keeps
    arbitrary class members. 31 identical vectors in ONE file (one Arrow
    batch) > keep = IVF_TOP_K + 1 forces the selection to actually
    decide."""
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        EMB_DIM,
        IVF_TOP_K,
        ann_ivf_topk,
    )

    base = [float((d % 7) + 1) for d in range(EMB_DIM)]
    rows = [(i, base, 1) for i in range(31)]  # vec_id 0 is the query
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    got = ann_ivf_topk(spark, str(tmp_path)).collect()
    ref = ann_ivf_topk(spark, str(tmp_path), gemm_shortlist=False).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    by_rank = {r["rank"]: r["neighbor_id"] for r in got}
    # the tie class must resolve to the lowest non-query ids, in order
    assert [by_rank[k] for k in range(1, IVF_TOP_K + 1)] == [1, 2, 3, 4, 5]


def test_round6_matches_spark_round(spark):
    """``kernels.round6`` is Spark's ``F.round(y, 6)`` bit for bit: on
    500k doubles within ±2 ulps of a 6-dp tie (b + 0.5)/1e6, where the
    decimal repr decides the HALF_UP step, and on 100k uniform values.
    A float-only HALF_UP estimate gets thousands of the tie neighbours
    wrong."""
    import numpy as np
    import pandas as pd

    from youtube_api_batch_process_with_analytics_spark.operators.kernels import (
        round6,
    )

    rng = np.random.default_rng(20261019)
    ties = (rng.integers(-1_000_000, 1_000_000, 100_000) + 0.5) / 1e6
    beside = np.concatenate(
        [(ties.view(np.int64) + k).view(np.float64) for k in range(-2, 3)]
    )
    y = np.concatenate([beside, rng.uniform(-1.0, 1.0, 100_000)])
    want = (
        spark.createDataFrame(pd.DataFrame({"i": np.arange(len(y)), "y": y}))
        .select("i", F.round("y", 6).alias("r"))
        .toPandas()
        .sort_values("i")["r"]
        .to_numpy()
    )
    got = round6(y)
    bad = np.flatnonzero(got.view(np.int64) != want.view(np.int64))
    assert bad.size == 0, (bad.size, y[bad[:5]], got[bad[:5]], want[bad[:5]])


def test_fold_cosine_matches_spark_on_every_pair(spark, sf_dir):
    """The NumPy fold cosine equals Spark's ``_dot / (qnrm * nrm)`` on
    every sf0.01 query × vector pair, unrounded and after ``round6``."""
    import os

    import numpy as np

    from youtube_api_batch_process_with_analytics_spark.operators.kernels import (
        fold_dot,
        fold_norm,
        round6,
    )
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        _as_double_array,
        _dot,
        _is_query,
        _norm,
        valid_embeddings,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    tier = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = (
        valid_embeddings(load_table(spark, tier, "embeddings"))
        .select("vec_id", _as_double_array("embedding").alias("vec"))
        .withColumn("nrm", _norm("vec"))
    )
    q = emb.filter(_is_query(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    cos = _dot("qvec", "vec") / (F.col("qnrm") * F.col("nrm"))
    rows = (
        q.crossJoin(emb)
        .select("query_id", "vec_id", cos.alias("c"), F.round(cos, 6).alias("r"))
        .collect()
    )
    vecs = {r.vec_id: r.vec for r in emb.collect()}
    a = np.array([vecs[r.query_id] for r in rows])
    b = np.array([vecs[r.vec_id] for r in rows])
    got = fold_dot(a, b) / (fold_norm(a) * fold_norm(b))
    want = np.array([r.c for r in rows])
    assert rows
    assert np.array_equal(got.view(np.int64), want.view(np.int64))
    assert np.array_equal(round6(got), np.array([r.r for r in rows]))


def test_vectorized_ranks_nan_cosines_as_spark(spark, tmp_path):
    """A vector with a NaN component passes the hygiene gate and scores
    NaN against every query; Spark ranks NaN above every number (DESC),
    so the kernel must keep those rows first in its per-batch cut too,
    ordered by id, or its top-k would lose them."""
    import math

    from youtube_api_batch_process_with_analytics_spark.operators.similarity import (
        EMB_DIM,
    )

    rows = []
    for i in range(30):
        vec = [float(((d * (i + 3)) % 11) - 5) for d in range(EMB_DIM)]
        if i in (4, 17, 23):
            vec[i % EMB_DIM] = math.nan
        rows.append((i, vec, i % 3))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    def keyed(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], repr(r["cosine"]))
            for r in df.collect()
        )

    got = keyed(cosine_topk_vectorized(spark, str(tmp_path)))
    assert got == keyed(ann_cosine_topk(spark, str(tmp_path)))
    assert [nb for _, rank, nb, _ in got if rank <= 3] == [4, 17, 23]
