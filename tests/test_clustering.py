"""Differential tests of the integer-exact Lloyd k-means and the PQ
searches built on it: the fitted cells and centroids against a plain
Python-int replica of the quantized rounds (exact equality), the driver
fit against the distributed rounds, the GEMM kernel against the
expression path, and the ANN compositions' recall."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.sources import load_table

K = 4


def _replica_lloyd(ids, Q, k, n_iter):
    """The quantized Lloyd rounds in plain Python ints: seed cluster
    ``vec_id % k`` (truncated, as Spark's ``%``), centroid = the exact
    (sum-vector, count) of a cluster's members, argmin of
    ``float(Σ(n·x − s)²) / float(n²)`` with ties to the lowest id, a
    cluster left without members dropped. Returns the labels after
    ``n_iter`` assignments and the centroids those labels give."""

    def stats(labels):
        cents = {}
        for q, c in zip(Q, labels):
            s, n = cents.get(c, ([0] * len(q), 0))
            cents[c] = ([a + b for a, b in zip(s, q)], n + 1)
        return cents

    def assign(cents):
        return [
            min(
                sorted(cents),
                key=lambda c: (
                    float(sum((cents[c][1] * x - s) ** 2 for x, s in zip(q, cents[c][0])))
                    / float(cents[c][1] ** 2),
                    c,
                ),
            )
            for q in Q
        ]

    labels = [int(math.fmod(i, k)) for i in ids]
    for _ in range(n_iter):
        labels = assign(stats(labels))
    return labels, stats(labels)


def _valid_quantized(spark, sf_dir):
    """(ids, quantized vectors) of the valid embeddings, computed here:
    non-NULL id, 64 components, not all zero; each component
    round-half-away(float(x) · 1000)."""
    ids, Q = [], []
    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for r in sorted(rows.collect(), key=lambda r: (r.vec_id is None, r.vec_id)):
        e = r.embedding
        if r.vec_id is None or e is None or len(e) != 64 or not any(e):
            continue
        ids.append(r.vec_id)
        Q.append([int(math.copysign(math.floor(abs(x * 1000.0) + 0.5), x)) for x in e])
    return ids, Q


def _fresh_values(monkeypatch, **consts):
    """An empty session-value store (so the next fit runs cold) and the
    given clustering module constants, inside ``monkeypatch``."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    monkeypatch.setattr(memo, "_VALUES", {})
    for name, value in consts.items():
        monkeypatch.setattr(cl, name, value)


def test_kmeans_matches_numpy(spark, sf_dir, monkeypatch):
    """``kmeans_cells`` and the fitted final centroids equal, exactly, a
    Python-int replica of the quantized Lloyd rounds built from the raw
    embeddings — on the driver fit and on the distributed rounds."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    ids, Q = _valid_quantized(spark, sf_dir)
    want_labels, want_final = _replica_lloyd(
        ids, Q, cl.KMEANS_GATE_K, cl.KMEANS_GATE_ITERS
    )
    want = dict(zip(ids, want_labels))
    for cap in (cl.LOCAL_FIT_MAX_ROWS, 0):
        with monkeypatch.context() as m:
            _fresh_values(m, LOCAL_FIT_MAX_ROWS=cap)
            got = {
                r.vec_id: r.cluster
                for r in cl.kmeans_cells_query(spark, sf_dir).collect()
            }
            _, final_cents = cl._gate_kmeans(spark, sf_dir)
        assert got == want, cap
        assert final_cents == want_final, cap


def test_kmeans_assign_is_map_only(spark, sf_dir):
    """The data-sized step must be shuffle-free: at the default spread
    floor the ``kmeans_cells`` plan (literal centroids) has no Exchange."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        kmeans_cells_query,
    )

    df = kmeans_cells_query(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_kmeans_cells_drive_ivf_recall(spark, sf_dir):
    """End-to-end: the gated k-means cells and final centroids feed the
    IVF probe/search shape (probe the nearest centroids by L2, search by
    cosine inside the probed cells) and must recover most of the
    brute-force top-k. This is the production wiring ann_ivf_topk's
    docstring defers to — labels replaced by learned cells."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        _gate_kmeans,
    )

    assigned, final_cents = _gate_kmeans(spark, sf_dir, k=K)
    rows = assigned.select("vec_id", "embedding", "cluster").collect()
    X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cell_of = {r.vec_id: r.cluster for r in rows}
    cell_ids = sorted(final_cents)
    C = np.array(
        [np.array(final_cents[c][0], dtype=np.float64) / final_cents[c][1] for c in cell_ids]
    )
    ids = sorted(X)
    M = np.stack([X[i] for i in ids])
    norms = np.linalg.norm(M, axis=1)
    queries = [i for i in ids if i % 10 == 0]

    top_k, n_probe, hits, total = 5, 2, 0, 0
    for q in queries:
        qv = X[q]
        cos = (M @ qv) / (norms * np.linalg.norm(qv))
        order = [i for _, i in sorted(zip(-cos, ids)) if i != q]
        truth = set(order[:top_k])
        # probe the n_probe nearest centroids (qvec is x·1000), search
        # only inside them
        d2 = ((C - qv * 1000.0) ** 2).sum(axis=1)
        probed = {cell_ids[j] for j in np.argsort(d2, kind="stable")[:n_probe]}
        cand = [i for i in ids if cell_of[i] in probed and i != q]
        cand.sort(key=lambda i: -cos[ids.index(i)])
        got = set(cand[:top_k])
        hits += len(truth & got)
        total += top_k
    recall = hits / total
    assert recall >= 0.5, f"IVF-over-kmeans recall too low: {recall:.2f}"


def test_kmeans_empty_cluster_reseeds(spark, tmp_path, monkeypatch):
    """k above the number of distinct points empties clusters: every
    vector still gets exactly one label, and the emptied clusters are
    absent from the fitted centroids (they stop competing) — on the
    driver fit and on the distributed rounds."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    a, b = [1] * 64, [-2] + [3] * 63
    d = _write_corpus(tmp_path / "two_points", list(range(6)), [a, b] * 3)
    for cap in (cl.LOCAL_FIT_MAX_ROWS, 0):
        with monkeypatch.context() as m:
            _fresh_values(m, LOCAL_FIT_MAX_ROWS=cap)
            assigned, final_cents = cl._gate_kmeans(spark, d, k=5, n_iter=2)
            rows = assigned.select("vec_id", "cluster").collect()
            cents, *_ = memo.session_value(
                spark, d, "kmeans_k5_i2", lambda: pytest.fail("not fitted")
            )
        assert sorted(r.vec_id for r in rows) == list(range(6)), cap
        # seeds 0..4 hold {a, b}, {b}, {a}, {b}, {a}: a ties between
        # cells 2 and 4 and b between 1 and 3, so 0, 3 and 4 empty
        assert {r.vec_id: r.cluster for r in rows} == {
            i: 2 if i % 2 == 0 else 1 for i in range(6)
        }, cap
        assert sorted(final_cents) == [1, 2] and sorted(cents) == [1, 2], cap


def test_kmeans_cells_gate_matches_oracle(spark, duck, sf_dir):
    """The integer-exact gated twin must be bit-identical to its DuckDB
    oracle — the whole point of the quantized formulation."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        kmeans_cells_query,
        oracle_kmeans_cells,
    )

    assert_oracle_match(kmeans_cells_query(spark, sf_dir), duck, oracle_kmeans_cells())


def test_ann_ivf_kmeans_gate_matches_oracle(spark, duck, sf_dir):
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        ann_ivf_kmeans,
        oracle_ann_ivf_kmeans,
    )

    assert_oracle_match(ann_ivf_kmeans(spark, sf_dir), duck, oracle_ann_ivf_kmeans())


def test_gate_kmeans_assignment_is_map_only(spark, sf_dir, monkeypatch):
    """After a distributed fit, the final gated assignment must be a
    literal-centroid expression: the only Exchange allowed is spread()'s
    deliberate round-robin fan-out of the single-file fixture scan — no
    hash shuffle from the compute. The row floor is forced to 0 so the
    small fixture takes the fan-out."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        kmeans_cells_query,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import tables

    monkeypatch.setattr(tables, "SPREAD_MIN_ROWS", 0)
    # the distributed fit's route: a driver fit's labels join back instead
    _fresh_values(monkeypatch, LOCAL_FIT_MAX_ROWS=0)
    df = kmeans_cells_query(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1 and "RoundRobinPartitioning" in plan, plan
    assert "hashpartitioning" not in plan, plan


@pytest.mark.parametrize("fit", ["kmeans", "pq"])
def test_fit_publishes_n_valid_without_a_count(
    spark, sf_dir, tmp_path, monkeypatch, jobs_in_group, fit
):
    """The k-means and PQ fits' first aggregate already counts every
    valid vector: a cold fit runs no count of its own and publishes that
    sum, so ``_n_valid`` afterwards launches no job — and it is exact."""
    import shutil

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        _gate_kmeans,
        _n_valid,
        _pq_fit,
        _quantized,
    )

    # a new corpus key: nothing is fitted or counted for it yet
    shutil.copy(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    fresh = str(tmp_path)
    counted = []
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    real_count = frame_cls.count
    with monkeypatch.context() as m:
        m.setattr(
            frame_cls, "count", lambda df: counted.append(df) or real_count(df)
        )
        (_gate_kmeans if fit == "kmeans" else _pq_fit)(spark, fresh)
    assert counted == []
    n, jobs = jobs_in_group(lambda: _n_valid(spark, fresh))
    assert jobs == []
    assert n == _quantized(spark, fresh).count() > 0


def test_pq_adc_recall_and_code_validity(spark, sf_dir):
    """PQ two-stage sanity: codes are in [0, PQ_K); ADC shortlist=100 +
    exact rerank achieves recall@5 >= 0.5 against exact quantized-L2
    (raw 12-bit ADC alone measures ~0.08 on this near-uniform fixture —
    the rerank stage is what makes PQ a usable index)."""
    import numpy as np

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        PQ_K,
        PQ_M,
        QUANT_SCALE,
        pq_adc_topk,
        pq_codes_query,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    codes = pq_codes_query(spark, sf_dir).collect()
    assert all(
        0 <= getattr(r, f"code_{m}") < PQ_K for r in codes for m in range(PQ_M)
    )

    adc = pq_adc_topk(spark, sf_dir, top_k=5, stride=50, shortlist=100).collect()
    got = {}
    for r in adc:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    mat = np.rint(
        np.array([r.embedding for r in emb], dtype=np.float64) * QUANT_SCALE
    )
    hits = total = 0
    for q in sorted(got):
        qi = np.where(ids == q)[0][0]
        d = ((mat - mat[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[:5]].tolist())
        hits += len(got[q] & exact)
        total += 5
    recall = hits / total
    assert recall >= 0.5, f"PQ/ADC+rerank recall too low: {recall:.2f}"


def test_pq_survives_empty_clusters(spark, tmp_path):
    """With fewer distinct vectors than PQ_K codes, subspace clusters MUST
    empty during fitting; codes must only reference populated clusters,
    the ADC distance tables must stay cluster-id-aligned (an empty slot
    is +inf, never a shifted lookup), and the two-stage search must still
    return exact-reranked neighbors without error."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        PQ_DIM,
        PQ_K,
        PQ_M,
        _pq_fit,
        pq_adc_topk,
        pq_codes_query,
    )

    # 4 distinct vectors replicated -> at most 4 populated clusters per subspace
    base = [[float((v + 1) * (d % 7 + 1)) / 10.0 for d in range(PQ_DIM)] for v in range(4)]
    rows = [(i, base[i % 4], i % 4) for i in range(200)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    books, _ = _pq_fit(spark, str(tmp_path))
    assert len(books) == PQ_M
    assert any(len(cents) < PQ_K for _, _, cents in books)  # clusters did empty
    codes = pq_codes_query(spark, str(tmp_path)).collect()
    for r in codes:
        for field, _, cents in books:
            assert getattr(r, field) in cents
    out = pq_adc_topk(spark, str(tmp_path), top_k=3, stride=50, shortlist=20).collect()
    assert out
    # identical replicas of the query vector must rerank to exact_dist 0
    assert all(r.exact_dist == 0 for r in out if r.rank == 1)


def test_semantic_dedup_matches_numpy_reference(spark, sf_dir):
    """Independent replica of semantic_dedup in numpy: take the ENGINE's
    cluster assignment (itself oracle- and numpy-pinned above), then
    re-derive the keep-first survivorship from scratch — exact int64
    dot/norm arithmetic, same rounded-cosine threshold. Catches a shared
    closed-form bug the DuckDB twin (same SQL shape) could hide."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_COS_THRESHOLD,
        SEMDEDUP_K,
        _gate_kmeans,
        semantic_dedup,
    )

    assigned, _ = _gate_kmeans(spark, sf_dir, k=SEMDEDUP_K)
    rows = assigned.select("vec_id", "cluster", "qvec").collect()
    got = {
        r.vec_id: (r.cluster, r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir).collect()
    }

    by_cell: dict[int, list] = {}
    for r in rows:
        q = np.array(r.qvec, dtype=np.int64)
        if (q * q).sum() == 0:
            continue
        by_cell.setdefault(r.cluster, []).append((r.vec_id, q))
    want = {}
    for cell, members in by_cell.items():
        members.sort()
        mats = np.stack([q for _, q in members])
        norms = np.sqrt((mats * mats).sum(axis=1).astype(np.float64))
        for i, (vid, q) in enumerate(members):
            dup_of = -1
            for j in range(i):
                dot = int(np.dot(mats[j], q))  # exact int64
                cos = round(dot / (norms[j] * norms[i]), 6)
                if cos >= SEMDEDUP_COS_THRESHOLD:
                    dup_of = members[j][0]
                    break  # members sorted -> first hit IS the min id
            want[vid] = (cell, dup_of, dup_of != -1)
    assert got == want


def test_cluster_balanced_sample_invariants(spark, sf_dir):
    """Exactly min(per_cluster, n_c) rows per cell; selected rows carry
    the SAME cluster assignment as the gated kmeans_cells query (shared
    fitted model); ranks are contiguous from 1; the draw is the md5
    order (smallest-hash prefix property, like corpus_sample_hash)."""
    from collections import Counter

    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    per = 5
    rows = C.cluster_balanced_sample(spark, sf_dir, per_cluster=per).collect()
    cells = {
        r.vec_id: r.cluster
        for r in C.kmeans_cells_query(spark, sf_dir).collect()
    }
    sizes = Counter(cells.values())
    got_sizes = Counter(r.cluster for r in rows)
    assert got_sizes == {c: min(per, n) for c, n in sizes.items()}
    for r in rows:
        assert cells[r.vec_id] == r.cluster
    ranks = sorted((r.cluster, r.sample_rank) for r in rows)
    for c, n in got_sizes.items():
        assert [x[1] for x in ranks if x[0] == c] == list(range(1, n + 1))


def test_semantic_dedup_cell_cap_guard(spark, sf_dir):
    """Mega-cell guard (round-6 verdict): a pathologically large k-means
    cell must not go quadratic. With a tiny cell_cap every fixture cell is
    'oversized', so the guard's two layers both engage:

    1. the sign-LSH sub-bucket bound holds — per (cell, sub) pairing
       group, the comparison pool is at most cell_cap rows, so join work
       is Σ |group|·cap, never Σ |cell|²;
    2. exactness properties survive: capped results are a SUBSET of the
       unguarded duplicate set (guarding only removes comparisons), every
       reported dup_of matches the unguarded assignment or a later
       (higher-id) representative, and identical vectors are still caught
       (same signs → same sub-bucket, group-min is rank 1).
    """
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_SUB_BITS,
        semantic_dedup,
    )

    cap = 3
    guarded = {
        r.vec_id: (r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir, cell_cap=cap).collect()
    }
    exact = {
        r.vec_id: (r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir, cell_cap=None).collect()
    }
    assert set(guarded) == set(exact)  # every valid vector still reported
    n_guard = sum(1 for d, f in guarded.values() if f)
    n_exact = sum(1 for d, f in exact.values() if f)
    assert n_guard <= n_exact  # guarding only removes comparisons
    for vid, (dup_of, is_dup) in guarded.items():
        if is_dup:
            # a guarded dup must be a real duplicate (of the same or a
            # later representative — never an invented pair)
            assert exact[vid][1]
            assert dup_of >= exact[vid][0]

    # the pairing-pool bound itself: rebuild the guard's grouping and
    # assert no group contributes more than |group|·cap comparisons
    # while the unguarded form would pair |cell|² on a mega-cell.
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_K,
        _gate_kmeans,
    )

    assigned, _ = _gate_kmeans(spark, sf_dir, k=SEMDEDUP_K)
    sign_key = sum(
        (
            F.when(
                F.try_element_at("qvec", F.lit(i + 1)) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(SEMDEDUP_SUB_BITS)
        ),
        F.lit(0),
    )
    groups = (
        assigned.select("vec_id", "cluster", sign_key.alias("sub"))
        .groupBy("cluster", "sub")
        .count()
    )
    comparisons = groups.agg(
        F.sum(F.col("count") * F.least(F.col("count"), F.lit(cap))).alias(
            "bounded"
        ),
        F.sum(F.col("count") * F.col("count")).alias("quadratic"),
    ).collect()[0]
    assert comparisons["bounded"] <= comparisons["quadratic"]
    assert comparisons["bounded"] <= cap * sum(
        r["count"] for r in groups.collect()
    )


def test_semantic_dedup_hostile_mega_cell(spark):
    """50%-of-corpus-in-one-cell hostile case: a frame where half the
    vectors are near-identical (one k-means cell, one sign bucket —
    the sign split cannot separate them) must still complete with the
    rank-cap bounding join work, and keep-lowest semantics must hold
    exactly for the identical group (dup_of = group minimum)."""
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    n = 400
    # ids 0..199: identical positive vectors (one cell, one sub-bucket);
    # ids 200..399: alternating-sign vectors spread across sub-buckets
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < n // 2, F.lit(0))
        .otherwise((F.col("id") % 8).cast("int"))
        .alias("cluster"),
        F.when(
            F.col("id") < n // 2,
            F.array(*[F.lit(1000)] * 8),
        )
        .otherwise(
            F.array(
                *[
                    (F.col("id") * (i + 1) % 7 - 3).cast("long") * 300
                    for i in range(8)
                ]
            )
        )
        .alias("qvec"),
    )
    nrm2 = F.aggregate(
        F.transform("qvec", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    v = base.withColumn("nrm2", nrm2).filter(F.col("nrm2") > 0)

    cap = 16
    sizes = v.groupBy("cluster").agg(F.count("*").alias("_cell_n"))
    sign_key = sum(
        (
            F.when(
                F.try_element_at("qvec", F.lit(i + 1)) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(C.SEMDEDUP_SUB_BITS)
        ),
        F.lit(0),
    )
    paired = (
        v.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "sub",
            F.when(F.col("_cell_n") > cap, sign_key).otherwise(F.lit(-1)),
        )
        .drop("_cell_n")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("cluster", "sub").orderBy(F.col("vec_id").asc())
    )
    a_pool = paired.withColumn("_rn", rn).filter(F.col("_rn") <= cap)
    # join work bound: |paired ⋈ a_pool on (cluster, sub)| ≤ Σ|group|·cap
    pool_sizes = a_pool.groupBy("cluster", "sub").count().collect()
    assert all(r["count"] <= cap for r in pool_sizes)
    joined = paired.join(
        a_pool.select(
            F.col("vec_id").alias("a_id"),
            F.col("cluster").alias("a_cell"),
            F.col("sub").alias("a_sub"),
            F.col("qvec").alias("a_q"),
            F.col("nrm2").alias("a_n"),
        ),
        (F.col("a_cell") == F.col("cluster"))
        & (F.col("a_sub") == F.col("sub"))
        & (F.col("a_id") < F.col("vec_id")),
    )
    n_pairs = joined.count()
    assert n_pairs <= cap * n  # linear envelope, vs ~ (n/2)^2 unguarded
    # keep-lowest exactness on the identical mega-group: every identical
    # vector (cos = 1.0 with the rank-1 member, id 0) dups vec 0
    dot = F.aggregate(
        F.zip_with("a_q", "qvec", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = F.round(
        dot.cast("double")
        / (
            F.sqrt(F.col("a_n").cast("double"))
            * F.sqrt(F.col("nrm2").cast("double"))
        ),
        6,
    )
    dups = (
        joined.withColumn("cos", cos)
        .filter(F.col("cos") >= 0.99)
        .groupBy("vec_id")
        .agg(F.min("a_id").alias("dup_of"))
        .collect()
    )
    mega = {r.vec_id: r.dup_of for r in dups if r.vec_id < n // 2}
    assert set(mega) == set(range(1, n // 2))
    assert all(d == 0 for d in mega.values())


def test_ivf_pq_topk_containment_and_recall(spark, sf_dir):
    """IVFADC composition invariants:

    1. **cell containment** — every returned neighbor's cell is one of
       its query's probed cells, recomputed here in exact rational
       arithmetic (Fraction) from the fitted centroids: the whole point
       of the composition is that the ADC scan never leaves the probe.
    2. **recall differential vs full-scan ADC** — ivf_pq restricts the
       candidate pool to ~N_PROBE/k of the corpus, so its recall@5 vs
       exact quantized-L2 may trail pq_adc_topk's but must stay usable
       (>= 0.3 on the fixture) and the differential is bounded.
    3. **exact_dist is the true quantized L2** (NumPy check) — the
       rerank stage never approximates."""
    from fractions import Fraction

    import numpy as np

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        IVF_KM_N_PROBE,
        QUANT_SCALE,
        _gate_kmeans,
        ivf_pq_topk,
        kmeans_cells_query,
        pq_adc_topk,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    rows = ivf_pq_topk(spark, sf_dir).collect()
    assert rows, "ivf_pq_topk returned no rows"
    _, cents = _gate_kmeans(spark, sf_dir)
    cells = {r.vec_id: r.cluster for r in kmeans_cells_query(spark, sf_dir).collect()}

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    mat = np.rint(
        np.array([r.embedding for r in emb], dtype=np.float64) * QUANT_SCALE
    ).astype(np.int64)
    qvec = {int(i): mat[k] for k, i in enumerate(ids)}

    def probe(qid):
        dists = []
        for c, (svec, n) in cents.items():
            d = sum(
                Fraction(int(n) * int(x) - int(s), 1) ** 2
                for x, s in zip(qvec[qid], svec)
            ) / Fraction(n * n)
            dists.append((d, c))
        dists.sort()
        return {c for _, c in dists[:IVF_KM_N_PROBE]}

    got = {}
    for r in rows:
        # 1. containment: neighbor's cell is probed, and matches the gate
        assert r.cell == cells[r.neighbor_id]
        assert r.cell in probe(r.query_id), (
            f"neighbor {r.neighbor_id} of query {r.query_id} "
            f"lies outside the probed cells"
        )
        # 3. exact rerank distance is the true quantized L2
        d = int(((qvec[r.query_id] - qvec[r.neighbor_id]) ** 2).sum())
        assert r.exact_dist == d
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    adc = pq_adc_topk(spark, sf_dir, top_k=5, stride=50, shortlist=100).collect()
    full = {}
    for r in adc:
        full.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(res):
        hits = total = 0
        for q, neigh in res.items():
            d = ((mat - qvec[q]) ** 2).sum(axis=1)
            d[np.where(ids == q)[0][0]] = np.iinfo(np.int64).max
            exact = set(ids[np.argsort(d, kind="stable")[:5]].tolist())
            hits += len(neigh & exact)
            total += 5
        return hits / total

    r_ivf, r_full = recall(got), recall(full)
    assert r_ivf >= 0.3, f"IVFADC recall too low: {r_ivf:.2f}"
    # the probe restriction can only lose so much on this fixture
    assert r_full - r_ivf <= 0.5, (
        f"recall differential suspicious: full={r_full:.2f} ivf={r_ivf:.2f}"
    )


def test_semantic_dedup_fitted_k_binds_and_floor_is_exact(spark, duck, sf_dir):
    """The fitted-k contract (round-10):

    1. the production default (target_cell=640) resolves to the k=32
       floor on every shipped fixture, so the default run is bit-
       identical to an explicit k=32 run;
    2. the gate knob (target_cell=10) makes the fit BIND — more distinct
       cells than the floor — and still hash-matches its scalar-subquery
       DuckDB twin."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_GATE_TARGET_CELL,
        SEMDEDUP_K_MIN,
        fitted_semdedup_k,
        oracle_semantic_dedup,
        semantic_dedup,
        semantic_dedup_fitted,
    )

    assert fitted_semdedup_k(spark, sf_dir) == SEMDEDUP_K_MIN
    default_rows = sorted(
        map(tuple, semantic_dedup(spark, sf_dir).collect())
    )
    fixed_rows = sorted(
        map(tuple, semantic_dedup(spark, sf_dir, k=SEMDEDUP_K_MIN).collect())
    )
    assert default_rows == fixed_rows

    k_gate = fitted_semdedup_k(
        spark, sf_dir, target_cell=SEMDEDUP_GATE_TARGET_CELL
    )
    assert k_gate > SEMDEDUP_K_MIN
    fitted = semantic_dedup_fitted(spark, sf_dir)
    n_cells = fitted.select("cluster").distinct().count()
    assert n_cells > SEMDEDUP_K_MIN  # the fit demonstrably bound
    assert_oracle_match(
        fitted,
        duck,
        oracle_semantic_dedup(target_cell=SEMDEDUP_GATE_TARGET_CELL),
    )


def test_gemm_assign_bit_identical_to_expression_path(spark, sf_dir, monkeypatch):
    """The Arrow GEMM assignment kernel is the EXACT twin of the
    interpreted expression path: same integer distances (algebraic
    expansion in int64), same double division, same lowest-cluster tie
    break — assignments must agree row-for-row with the kernel forced on
    and forced off, across every registered k shape (floor k=32 and the
    binding gate fit)."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    def run(query):
        return sorted(map(tuple, query(spark, sf_dir).collect()))

    for query in (cl.semantic_dedup, cl.semantic_dedup_fitted):
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 10**18)
        expr_rows = run(query)
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
        gemm_rows = run(query)
        assert expr_rows == gemm_rows and expr_rows


def test_gemm_assign_property_differential(spark):
    """Property differential for the GEMM kernel on synthetic integer
    vectors: random qvecs and random (sum, count) centroid dicts —
    including magnitudes near the documented exactness envelope
    (n_cell·|q| well below 3e9) and exact-tie constructions — must
    produce identical assignments through both paths, for the one-book
    whole-vector case (k-means) and the sliced multi-book case (M=4
    codebooks over 4-wide slices of d=16, the PQ encode shape). Seeded,
    not hypothesis-driven, so the fixture is reproducible."""
    import random

    import numpy as np

    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    rng = random.Random(20260816)
    d = 16
    for trial in range(3):
        n_rows, k = 200, rng.choice([3, 7, 17])
        rows = [
            (i, [rng.randint(-8000, 8000) for _ in range(d)])
            for i in range(n_rows)
        ]
        # exact-tie construction: duplicate vectors (equal distance to
        # every centroid) exercise the lowest-cluster tie-break
        rows += [(n_rows + j, list(rows[0][1])) for j in range(3)]
        df = spark.createDataFrame(rows, "vec_id long, qvec array<long>")
        cents = {
            c: (
                [rng.randint(-8000 * 50, 8000 * 50) for _ in range(d)],
                rng.randint(1, 50),
            )
            for c in rng.sample(range(100), k)  # non-contiguous ids
        }
        expr_rows = dict(
            df.withColumn("cluster", cl._int_assign_expr(cents))
            .select("vec_id", "cluster")
            .collect()
        )
        gemm_rows = dict(
            cl._gemm_assign_codes(df, [("cluster", None, cents)])
            .select("vec_id", "cluster")
            .collect()
        )
        assert expr_rows == gemm_rows, f"trial {trial} diverged"
        # sliced multi-book case: M=4 codebooks, each over its own 4-wide
        # slice, k varying per book; n_rows=0 keeps the router on its
        # expression path
        width = d // 4
        books = [
            (
                f"code_{m}",
                slice(m * width, (m + 1) * width),
                {
                    c: (
                        [rng.randint(-8000 * 50, 8000 * 50) for _ in range(width)],
                        rng.randint(1, 50),
                    )
                    for c in rng.sample(range(20), rng.choice([2, 5, 8]))
                },
            )
            for m in range(4)
        ]
        fields = ["vec_id"] + [f for f, _, _ in books]
        expr_codes = cl._assign_codes(df, books, 0, None)
        assert "MapInPandas" not in expr_codes._jdf.queryExecution().logical().toString()
        gemm_codes = cl._gemm_assign_codes(df, books)
        assert sorted(map(tuple, expr_codes.select(fields).collect())) == sorted(
            map(tuple, gemm_codes.select(fields).collect())
        ), f"trial {trial} sliced books diverged"
        # envelope sanity: the largest |n·x − s| term stays far inside
        # int64 when squared and summed over d
        n_max = max(n for _, n in cents.values())
        s_max = max(abs(v) for s, _ in cents.values() for v in s)
        term = n_max * 8000 + s_max
        assert d * term * term < 2**63 - 1


def test_pq_codes_gemm_bit_identical_to_expression_path(spark, sf_dir, monkeypatch):
    """The fused PQ-code kernel (_gemm_assign_codes — ONE
    mapInPandas pass assigning all M codes) is the EXACT twin of the M
    per-subspace expression folds: same integer-exact distances, same
    double division, same lowest-code tie break. pq_codes_query must
    return identical rows with the kernel forced on and forced off, and
    the routed plan must actually switch (expression plan has no Python
    node; forced plan has exactly one MapInPandas)."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    def run():
        df = cl.pq_codes_query(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, df.collect())), plan

    monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 10**18)
    expr_rows, expr_plan = run()
    assert "MapInPandas" not in expr_plan
    monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
    gemm_rows, gemm_plan = run()
    assert gemm_plan.count("MapInPandas") == 1
    assert expr_rows == gemm_rows and expr_rows

    # the IVFADC composition routes the same encode — full-query parity
    monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 10**18)
    expr_ivf = sorted(map(tuple, cl.ivf_pq_topk(spark, sf_dir).collect()))
    monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
    gemm_ivf = sorted(map(tuple, cl.ivf_pq_topk(spark, sf_dir).collect()))
    assert expr_ivf == gemm_ivf and expr_ivf


def test_semdedup_combined_gate_fold_is_feasible(spark, duck, sf_dir):
    """Round-11 capacity pre-proof: the two gate-knob attestation
    queries (semantic_dedup_fitted, semantic_dedup_capped) can FOLD into
    one registered query that exercises the fitted-k path AND both
    mega-cell guard layers simultaneously against one combined twin —
    verified hash-exact here so the fold (which frees a head slot for
    any round-11 registration) is a mechanical registry change, not new
    verification work."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_GATE_CAP,
        SEMDEDUP_GATE_SUB_BITS,
        SEMDEDUP_GATE_TARGET_CELL,
        SEMDEDUP_K_MIN,
        oracle_semantic_dedup_capped,
        semantic_dedup,
    )

    combined = semantic_dedup(
        spark,
        sf_dir,
        cell_cap=SEMDEDUP_GATE_CAP,
        sub_bits=SEMDEDUP_GATE_SUB_BITS,
        target_cell=SEMDEDUP_GATE_TARGET_CELL,
    )
    # the fitted k binds (more cells than the floor) while the tiny cap
    # forces both guard layers — one run covers everything the two
    # separate gate rows cover
    assert combined.select("cluster").distinct().count() > SEMDEDUP_K_MIN
    assert_oracle_match(
        combined,
        duck,
        oracle_semantic_dedup_capped(
            k=None, target_cell=SEMDEDUP_GATE_TARGET_CELL
        ),
    )


def test_gemm_envelope_check_routes_fallback(spark):
    """ADVICE r10: the GEMM router must detect — on the driver, from
    max|s|, n, and the centroid aggregate's own max|x| — when the
    expanded intermediates could exceed int64, and keep the expression
    path. Checked both ways: the exact boundary arithmetic, and the
    router's plan choice under a forced-on work volume."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    d = 4
    # inside: d·(n·xb + s)² just under 2^63
    xb = 10**6
    n = 1000
    s_in = int((2**63 / d) ** 0.5) - n * xb - 10**6
    ok_cents = {0: ([s_in] * d, n), 1: ([-s_in] * d, n)}
    assert cl._gemm_envelope_ok(ok_cents, xb)
    # outside: bump max|s| past the boundary
    s_out = int((2**63 / d) ** 0.5) - n * xb + 10**6
    bad_cents = {0: ([s_in] * d, n), 1: ([s_out] * d, n)}
    assert not cl._gemm_envelope_ok(bad_cents, xb)
    # unknown bound: never GEMM
    assert not cl._gemm_envelope_ok(ok_cents, None)

    df = spark.createDataFrame(
        [(i, [i % 5] * d) for i in range(10)], "vec_id long, qvec array<long>"
    )
    # work volume forced over the threshold: envelope decides the route
    gemm = cl._assign_codes(df, [("cluster", None, ok_cents)], 10**9, xb)
    expr = cl._assign_codes(df, [("cluster", None, bad_cents)], 10**9, xb)
    assert "MapInPandas" in gemm._jdf.queryExecution().logical().toString()
    assert "MapInPandas" not in expr._jdf.queryExecution().logical().toString()
    # and both routes still assign (tiny sanity execute on the safe dict)
    assert gemm.count() == 10 and expr.count() == 10


def test_int_centroids_reports_global_component_bound(spark, tmp_path):
    """The distributed fit's x_bound is the corpus max|x| although the
    extreme component sits in a one-member cluster — for k-means (one
    whole-vector part) and for PQ slice parts that do not hold it — and
    its round-0 centroids are the exact seed sums and counts."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    base = [[1, -7] + [0] * 62, [2, 3] + [0] * 62, [4, 4] + [0] * 62]
    extreme = [-11, 5] + [0] * 40 + [-90_000] + [0] * 21
    # k = 2: ids 0, 2, 4 seed cluster 0; id 1 alone seeds cluster 1
    d = _write_corpus(tmp_path / "bound", [0, 2, 4, 1], base + [extreme])
    rounds, x_bound = cl._distributed_lloyd(spark, d, [None], 2, 2)
    assert x_bound == 90_000
    assert rounds[0] == [{0: ([7, 0] + [0] * 62, 3), 1: (extreme, 1)}]
    parts = [slice(0, 32), slice(32, 64)]
    rounds, x_bound = cl._distributed_lloyd(spark, d, parts, 2, 2)
    assert x_bound == 90_000
    assert rounds[0][0] == {0: ([7, 0] + [0] * 30, 3), 1: (extreme[:32], 1)}
    assert cl._local_lloyd(spark, d, parts, 2, 2) == (rounds, x_bound)


def test_semdedup_pair_kernel_bit_identical_to_expression_path(
    spark, sf_dir, monkeypatch
):
    """The grouped pair-scoring kernel (_semdedup_pair_kernel —
    one int64 GEMM per (cell, sub) group emitting the dups aggregate
    directly) is the EXACT twin of the window + pair-join + groupBy
    expression path: same integer dot/norms, same IEEE double chain, and
    the round-to-6 threshold gate replaced by the provably-equivalent
    double cutoff. semantic_dedup must return identical rows with the
    kernel forced on and forced off — including with a tiny cap that
    forces both mega-cell guard layers — and the routed plan must
    actually switch (expression plan has no grouped-map Python node; the
    forced plan drops the rank window and the pair join entirely).
    Releases its session frames on exit: each invocation tracks a
    persisted dim, and leaving four of them to the NEXT test file's
    release turns test_memo's persistent-RDD baseline into a race
    against the non-blocking unpersist."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    def run(**kw):
        df = cl.semantic_dedup(spark, sf_dir, **kw)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, df.collect())), plan

    try:
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 10**18)
        expr_rows, expr_plan = run()
        assert "FlatMapGroupsInPandas" not in expr_plan
        assert "Window" in expr_plan  # the rank pool on the expression path
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 0)
        gemm_rows, gemm_plan = run()
        assert "FlatMapGroupsInPandas" in gemm_plan
        assert "Window" not in gemm_plan
        assert expr_rows == gemm_rows and expr_rows

        # cap-binding variant: layer-1 sub-buckets AND the layer-2 rank
        # cap must survive the kernel translation (candidates = cap
        # lowest ids)
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 10**18)
        expr_cap, _ = run(cell_cap=2, sub_bits=2)
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 0)
        gemm_cap, _ = run(cell_cap=2, sub_bits=2)
        assert expr_cap == gemm_cap and expr_cap
    finally:
        memo.release_session_frames()


def test_semdedup_round6_cutoff_is_exact():
    """The kernel's vectorized gate `cos >= cutoff` must be EXACTLY
    Spark's `round(cos, 6) >= tau` for every double: _round6_ge_cutoff
    returns the smallest qualifying double (its predecessor must fail),
    and a dense random sweep across the rounding boundary agrees with
    the bit-exact BigDecimal-twin predicate."""
    import random
    import struct

    from youtube_api_batch_process_with_analytics_spark.operators.kernels import (
        _round6_ge_cutoff,
        _spark_round6,
    )

    for tau in (0.3, 0.82, 0.25, 0.7999995, 1.0):
        c = _round6_ge_cutoff(tau)
        below = struct.unpack(
            "<d",
            struct.pack(
                "<q", struct.unpack("<q", struct.pack("<d", c))[0] - 1
            ),
        )[0]
        assert _spark_round6(c) >= tau and _spark_round6(below) < tau
        rng = random.Random(int(tau * 1e7))
        for _ in range(20000):
            y = rng.uniform(tau - 1e-5, tau + 1e-5)
            assert (y >= c) == (_spark_round6(y) >= tau), (tau, y)


# --- local (driver) Lloyd fit vs the distributed rounds ---------------------


def _write_corpus(path, ids, comps):
    """An embeddings table from integer components: each float32 is
    ``c / 1000``, so Spark's quantization gives back exactly ``c``; a
    None component stays a NULL element."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    vecs = [[None if c is None else c / 1000 for c in row] for row in comps]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )
    return str(path)


def _fits(spark, sf_dir, monkeypatch, cap, k=8, gemm=False):
    """The fitted k-means value (without the driver route's held labels),
    the PQ model and which route each fit took (True = local: it ran no
    distributed rounds), under ``LOCAL_FIT_MAX_ROWS = cap``. Fits are
    session values, so each call gets an empty value store. Argmin blocks
    of 7 rows make every local assignment span several blocks. With
    ``gemm``, ``GEMM_ASSIGN_MIN_WORK`` is 0 and the values also hold
    ``gemm_books``: the book count of each kernel assignment that ran."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    routes = []
    distributed = []
    real = cl._distributed_lloyd

    def spy(*args):
        distributed.append(args)
        return real(*args)

    kernel_books = []
    real_kernel = cl._gemm_assign_codes

    def kernel_spy(df, books, **kw):
        kernel_books.append(len(books))
        return real_kernel(df, books, **kw)

    with monkeypatch.context() as m:
        m.setattr(cl, "LOCAL_FIT_MAX_ROWS", cap)
        m.setattr(cl, "ARGMIN_BLOCK_CELLS", 7 * k)
        m.setattr(cl, "_distributed_lloyd", spy)
        m.setattr(memo, "_VALUES", {})
        if gemm:
            m.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
            m.setattr(cl, "_gemm_assign_codes", kernel_spy)
        for fit in (
            lambda: cl._gate_kmeans(spark, sf_dir, k=k),
            lambda: cl._pq_fit(spark, sf_dir),
        ):
            before = len(distributed)
            fit()
            routes.append(len(distributed) == before)
        values = {
            tag: value[:4] if tag.startswith("kmeans_") else value
            for (_, d, tag), value in memo._VALUES.items()
            if d == sf_dir
        }
    if gemm:
        values["gemm_books"] = kernel_books
    return values, routes


def _random_comps(rng, n, lo=-3000, hi=3000):
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        PQ_DIM,
    )

    return rng.integers(lo, hi, size=(n, PQ_DIM)).tolist()


@pytest.mark.parametrize("k", [8, 200])
def test_local_lloyd_fit_equals_distributed_rounds(spark, tmp_path, monkeypatch, k):
    """The driver-side fit gives exactly the distributed rounds' fitted
    values — k-means ``(cents, final_cents, x_bound, n)``, the PQ
    ``(books, x_bound)`` over M slice books, and ``n_valid`` — on seeded
    random integer corpora with negative vec_ids (Spark's truncated
    ``vec_id % k`` seeds negative cluster ids), a coarse corpus full of
    exact distance ties, and a planted tie that empties a cluster. The
    distributed rounds give the same values again when every
    reassignment takes the GEMM kernel (``GEMM_ASSIGN_MIN_WORK = 0``)."""
    rng = np.random.default_rng(20261017 + k)
    n = 3 * k
    corpora = {
        "random": (list(range(-n // 2, n - n // 2)), _random_comps(rng, n)),
        # components in {-1, 0, 1}: many vectors sit at exactly equal
        # distance from two centroids
        "coarse": (list(range(n)), _random_comps(rng, n, -1, 2)),
    }
    # clusters 0 and 1 seed from identical member sets, so their
    # centroids coincide, every vector ties between them and goes to 0:
    # cluster 1 loses every member in round one
    ids = list(range(n))
    comps = _random_comps(rng, n)
    for i in range(0, n - 1, k):
        comps[i + 1] = list(comps[i])
    corpora["emptied"] = (ids, comps)
    for name, (ids, comps) in corpora.items():
        d = _write_corpus(tmp_path / name, ids, comps)
        local, routes = _fits(spark, d, monkeypatch, cap=10_000, k=k)
        assert routes == [True, True], name
        dist, routes = _fits(spark, d, monkeypatch, cap=0, k=k)
        assert routes == [False, False], name
        assert local == dist, name
        # the distributed rounds again, reassigning through the GEMM
        # kernel: three k-means rounds and the final cell column (one
        # book each), then the PQ round (four books)
        kernel, routes = _fits(spark, d, monkeypatch, cap=0, k=k, gemm=True)
        assert routes == [False, False], name
        assert kernel.pop("gemm_books") == [1, 1, 1, 1, 4], name
        assert local == kernel, name
        assert local["n_valid"] == n
        cents, final_cents, _, _ = local[f"kmeans_k{k}_i3"]
        if name == "random":
            assert min(cents) < 0  # negative seeds took part
        if name == "emptied":
            assert 1 not in cents and 1 not in final_cents and 0 in cents


def test_local_lloyd_fall_back_triggers(spark, tmp_path, monkeypatch, jobs_in_group):
    """Each corpus the local fit cannot reproduce bit for bit — over the
    row cap, a codebook outside the int64 envelope, a NULL component —
    takes the distributed rounds, and the fitted values equal the
    forced-distributed ones. Over either cap (rows, or rows × Σk) the
    route comes from the parquet footers, so the local path launches no
    job at all; under both, its one collect is one job."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    PQ_DIM = cl.PQ_DIM
    rng = np.random.default_rng(7)
    n = 120
    ids = list(range(n))
    comps = _random_comps(rng, n)
    d = _write_corpus(tmp_path / "cap", ids, comps)
    at_cap, routes = _fits(spark, d, monkeypatch, cap=n)
    assert routes == [True, True]
    over_cap, routes = _fits(spark, d, monkeypatch, cap=n - 1)
    assert routes == [False, False]
    assert over_cap == at_cap

    def local(rows, work):
        with monkeypatch.context() as m:
            m.setattr(cl, "LOCAL_FIT_MAX_ROWS", rows)
            m.setattr(cl, "LOCAL_FIT_MAX_WORK", work)
            return jobs_in_group(lambda: cl._local_lloyd(spark, d, [slice(None)], 8, 4))

    for rows, work in ((n - 1, n * 8), (n, n * 8 - 1)):
        out, jobs = local(rows, work)
        assert out is None and jobs == [], (rows, work)
    out, jobs = local(n, n * 8)
    assert out is not None and len(jobs) == 1

    # one constant 50000.0 component: x_bound 5·10^7 with ~15 members
    # per cluster puts w·(n·x_bound + max|s|)² past 2^63 for the whole
    # vector and for its 16-wide PQ slice, while every exact distance
    # stays small (the constant cancels)
    big = [[50_000_000] + row[1:] for row in comps]
    d = _write_corpus(tmp_path / "envelope", ids, big)
    routed, routes = _fits(spark, d, monkeypatch, cap=10_000)
    assert routes == [False, False]
    forced, _ = _fits(spark, d, monkeypatch, cap=0)
    assert routed == forced and routed["kmeans_k8_i3"][2] == 50_000_000

    holed = [list(row) for row in comps]
    holed[3][PQ_DIM // 2] = None
    d = _write_corpus(tmp_path / "null_component", ids, holed)
    routed, routes = _fits(spark, d, monkeypatch, cap=10_000)
    assert routes == [False, False]
    forced, _ = _fits(spark, d, monkeypatch, cap=0)
    assert routed == forced and routed["n_valid"] == n


def test_cold_fits_jobs_do_not_scale_with_rounds(
    spark, sf_dir, tmp_path, monkeypatch, jobs_in_group
):
    """The local fit collects the corpus once and runs every Lloyd round
    on the driver: a cold k-means or PQ fit at 5 rounds launches exactly
    the jobs it launches at 1 (the distributed rounds add 2 per round)."""
    import shutil

    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    def cold_dir(name):
        d = tmp_path / name
        d.mkdir()
        shutil.copy(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
        return str(d)

    jobs = {}
    for n_iter in (1, 5):
        _, jobs["kmeans", n_iter] = jobs_in_group(
            lambda: cl._gate_kmeans(spark, cold_dir(f"km{n_iter}"), n_iter=n_iter)
        )
        monkeypatch.setattr(cl, "PQ_ITERS", n_iter)
        _, jobs["pq", n_iter] = jobs_in_group(
            lambda: cl._pq_fit(spark, cold_dir(f"pq{n_iter}"))
        )
    for fit in ("kmeans", "pq"):
        assert jobs[fit, 1] and len(jobs[fit, 5]) == len(jobs[fit, 1]), jobs


# --- the driver fit's held labels vs the assign route -----------------------

LABEL_ROUTE_QUERIES = (
    "kmeans_cells",
    "ann_ivf_kmeans",
    "ivf_pq_topk",
    "semantic_dedup",
    "cluster_balanced_sample",
)


def label_route_rows(spark, sf_dir, monkeypatch, held):
    """Sorted rows of every ``LABEL_ROUTE_QUERIES`` query after a cold
    driver fit, with the fit's held labels in use (``held``) or dropped,
    so every consumer takes ``_assign_codes`` and ``_probe_cells``.
    Asserts the k-means model took the route asked for; releases the
    session frames the queries tracked."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    out = {}
    with monkeypatch.context() as m:
        _fresh_values(m)
        if not held:
            m.setattr(cl, "_held_labels", lambda *args: None)
        try:
            for name in LABEL_ROUTE_QUERIES:
                out[name] = sorted(map(tuple, cl.QUERIES[name](spark, sf_dir).collect()))
            model = cl._kmeans_fit(spark, sf_dir, cl.KMEANS_GATE_K, cl.KMEANS_GATE_ITERS)
        finally:
            memo.release_session_frames()
    assert (model[4] is not None) == held
    return out


def test_label_route_matches_assign_route(spark, sf_dir, monkeypatch):
    """Every consumer of the k-means labels returns the same rows whether
    it takes the driver fit's held labels and query probes or assigns
    and probes in Spark — on the test tier and on the sf0.01 tier."""
    tiers = [sf_dir]
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if os.path.isdir(sf01) and sf01 != sf_dir:
        tiers.append(sf01)
    for d in tiers:
        held = label_route_rows(spark, d, monkeypatch, held=True)
        assigned = label_route_rows(spark, d, monkeypatch, held=False)
        for name in LABEL_ROUTE_QUERIES:
            assert held[name] == assigned[name] and held[name], (d, name)


def test_duplicated_vec_id_takes_assign_codes(spark, tmp_path, monkeypatch):
    """A corpus with a duplicated ``vec_id`` still fits on the driver, but
    holds no labels (a label join keyed on the id would fan out): each
    row is assigned by ``_assign_codes``, with the rows and cells of the
    distributed fit."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    rng = np.random.default_rng(11)
    ids = list(range(40)) + [7]
    d = _write_corpus(tmp_path / "dup", ids, _random_comps(rng, len(ids)))
    rows = {}
    for cap in (cl.LOCAL_FIT_MAX_ROWS, 0):
        calls = []
        real = cl._assign_codes
        with monkeypatch.context() as m:
            _fresh_values(m, LOCAL_FIT_MAX_ROWS=cap)
            m.setattr(
                cl,
                "_assign_codes",
                lambda df, books, *a: calls.append(books[0][0]) or real(df, books, *a),
            )
            rows[cap] = sorted(map(tuple, cl.kmeans_cells_query(spark, d).collect()))
            model = cl._kmeans_fit(spark, d, cl.KMEANS_GATE_K, cl.KMEANS_GATE_ITERS)
        # the distributed rounds reassign their "c0" column through it too
        assert model[4] is None and calls.count("cluster") == 1, cap
    assert rows[cl.LOCAL_FIT_MAX_ROWS] == rows[0] and len(rows[0]) == len(ids)


def test_label_route_without_query_rows(spark, tmp_path, monkeypatch):
    """A corpus with no query row (every ``vec_id`` at or above
    ``QUERY_ID_CAP``) holds an empty query side: ``ann_ivf_kmeans`` is
    empty on both routes, and the labels still serve ``kmeans_cells``."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    rng = np.random.default_rng(5)
    ids = list(range(cl.QUERY_ID_CAP, cl.QUERY_ID_CAP + 30))
    d = _write_corpus(tmp_path / "no_queries", ids, _random_comps(rng, len(ids)))
    for held in (True, False):
        rows = label_route_rows(spark, d, monkeypatch, held)
        assert rows["ann_ivf_kmeans"] == [] and len(rows["kmeans_cells"]) == 30, held


def test_query_side_literal_round_trips_non_finite(spark):
    """The driver-made query side carries each query vector bit for bit
    through its JSON literal — NaN, ±inf, -0.0 and subnormals included —
    and its ``qnrm`` equals Spark's own ``_norm`` of the parsed vector."""
    import pyarrow as pa

    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators.similarity import _norm

    special = [math.nan, math.inf, -math.inf, -0.0, 5e-324, 0.1]
    vecs = np.array(
        [special + [0.25] * 58, [1.5] * 64, [-math.inf] + [2.0] * 63, [-0.0] * 64],
        dtype=np.float64,
    )
    held = cl._HeldLabels(
        pa.table({"vec_id": pa.array([], pa.int64()), "cluster": pa.array([], pa.int32())}),
        np.array([0, 50, 100, 150], dtype=np.int64),
        np.array([[1] * 64, [-3] * 64, [2] * 64, [0] * 64], dtype=np.int64),
        vecs,
    )
    cents = {c: ([v] * 64, 1) for c, v in ((0, 1), (1, -3), (2, 2), (3, -1))}
    got = (
        spark.range(1)
        .select(F.explode(cl._query_side(held, cents)).alias("q"))
        .select("q.*", _norm("q.qvec_f").alias("spark_nrm"))
        .collect()
    )
    assert [r.query_id for r in got] == [0, 50, 100, 150]
    for r, want in zip(got, vecs):
        assert np.array(r.qvec_f).tobytes() == want.tobytes()
        assert (math.isnan(r.qnrm) and math.isnan(r.spark_nrm)) or (
            r.qnrm == r.spark_nrm
        )
    # each query's two nearest cells; query 150 ties cells 0 and 3
    assert [r.cells for r in got] == [[0, 2], [1, 3], [2, 0], [0, 3]]
