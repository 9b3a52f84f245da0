"""Similarity search over embeddings (SURVEY.md M7 — ANN).

Two paths over the ``embeddings`` table (``vec_id, embedding array<float>,
label``):

- **brute-force cosine top-k** — the exactness baseline. The (small) query
  set broadcasts; every partition scores its vectors locally and a ranking
  window keeps k per query. No O(n²) materialization beyond the
  query×vector pairs, and at 100 TB the scan side never shuffles (the
  ranking shuffle moves only (query, candidate-k) rows).
- **IVF top-k** — the scale path: coarse quantization by centroid
  (here the per-label mean vector — at production scale the centroids come
  from a k-means job), probe the ``nprobe`` nearest cells, brute-force only
  inside probed cells. Cuts scored pairs by ~nprobe/ncells.

Numerics: dot products are sequential folds over zipped arrays
(``F.aggregate`` ↔ DuckDB ``list_reduce``) — identical operation order →
bit-identical doubles on both engines. Centroid components route through
DECIMAL sums (order-independent) before the double division. Cosines are
rounded to 6 places before ranking so rank ties are broken identically
(then by vec_id). The Arrow kernels (``_top_cosines``) compute the same
doubles with the NumPy twins in ``operators/kernels.py``, so a kernel
route changes no emitted bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table, spread
from .kernels import fold_dot, fold_norm, round6

TOP_K = 10
IVF_TOP_K = 5
N_PROBE = 2
QUERY_STRIDE = 50  # vec_id % 50 == 0 → deterministic query subset
# The serving workload is FIXED, not corpus-proportional: a 10× larger
# corpus answers the same dashboard/search queries, it doesn't ask 10×
# more of them. Capping query ids bounds |Q| so scan×|Q| work grows
# LINEARLY with corpus size; without it the fixture's stride-only subset
# made the sf1 tier quadratic (|Q| and cell sizes both ×10 → ann_ivf_topk
# 14.3 s). The cap exceeds every vec_id at sf0.01/sf0.1, so those tiers'
# results are bit-identical; at sf1 (ids key-offset into the millions)
# it selects exactly the original 40-query serving set.
QUERY_ID_CAP = 2_000
_DUCK_IS_QUERY = f"vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}"


def _is_query(col: Column) -> Column:
    return (col % QUERY_STRIDE == 0) & (col < QUERY_ID_CAP)

# Fixture embedding dimensionality (tests pin the data matches; a 100 TB
# deployment configures this statically, exactly like an index schema).
EMB_DIM = 64


def valid_embeddings(df: DataFrame, require_nonzero: bool = True) -> DataFrame:
    """Vector-hygiene gate shared by every embedding consumer: drops NULL
    ids, NULL vectors, wrong-dimension vectors, and (for cosine-based
    operators) zero vectors — any one of which otherwise kills the whole
    job (ANSI division by zero in cosine, ArrayIndexOutOfBounds in
    banding, NaN in the GEMM kernel, a NULL ``vec_id % k`` seed key in
    k-means; all observed via the hostile-embeddings differential). A
    vector without an id cannot be reported as a neighbour, member or
    duplicate. Map-only filter in codegen; DuckDB twins mirror it with the
    ``_DUCK_EMB_*`` WHERE fragments. Zero vectors are dropped everywhere
    by default: no direction for cosine, and degenerate encoder output for
    clustering/quantization — one uniform corpus contract."""
    ok = (
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == EMB_DIM)
    )
    if require_nonzero:
        ok = ok & F.expr("exists(embedding, x -> x <> 0.0)")
    return df.filter(ok)


_DUCK_EMB_VALID = (
    f"vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
)
_DUCK_EMB_NONZERO = (
    _DUCK_EMB_VALID + " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def _dot(a: str, b: str):
    """Sequential-fold dot product of two double arrays (deterministic)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _as_double_array(col: str):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the query subset (vec_id % 50 == 0).

    CORRECTNESS BASELINE ONLY — do not lift into production. This is the
    exact |Q|×N pair expansion kept because it is the one ANN query a
    plain-SQL oracle can verify bit-for-bit; at corpus scale it is the
    wrong shape by construction. The production paths are
    ``cosine_topk_vectorized`` (Arrow full-scan kernel, gated via
    ``ann_vectorized_bound``), ``ann_ivf_topk`` / ``ann_ivf_kmeans``
    (pruned probe-and-search), and ``pq_adc_topk`` (memory-bound ADC).

    Norms are materialized once per vector before the pair expansion
    (caching a deterministic value changes no bits vs the oracle's
    per-pair formula), so each of the |Q|×N pairs costs one dot fold,
    not dot + two norm folds.
    """
    emb = (
        valid_embeddings(spread(load_table(spark, sf_dir, "embeddings")))
        .select("vec_id", _as_double_array("embedding").alias("vec"), "label")
        .withColumn("nrm", _norm("vec"))
    )
    queries = emb.filter(_is_query(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = F.broadcast(queries).crossJoin(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("vec"), "label", "nrm")
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn(
        "cosine",
        F.round(_dot("qvec", "vec") / (F.col("qnrm") * F.col("nrm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "label", "cosine")
    )


_DUCK_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)
_DUCK_NORM = (
    "sqrt(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, y) -> acc + y))"
)


ORACLE_ANN_COSINE_TOPK = f"""
WITH emb AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE {_DUCK_EMB_NONZERO}
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM emb
  WHERE {_DUCK_IS_QUERY}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         ROUND({_DUCK_DOT.format(a="q.qvec", b="e.embedding")}
               / ({_DUCK_NORM.format(a="q.qvec")}
                  * {_DUCK_NORM.format(a="e.embedding")}), 6) AS cosine
  FROM q JOIN emb e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, label, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _ivf_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        valid_embeddings(spread(load_table(spark, sf_dir, "embeddings")))
        .select("vec_id", _as_double_array("embedding").alias("vec"), "label")
        .withColumn("nrm", _norm("vec"))
    )


def _label_centroids_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vectors — the coarse-quantizer codebook. A fitted
    index artifact (built once per corpus version, read by every probe),
    so session-memoized like the k-means model cache; 10 rows, plain
    persist. Decimal sums keep components order-independent."""
    from .memo import session_frame

    def build() -> DataFrame:
        ex = _ivf_emb(spark, sf_dir).select(
            "label", F.posexplode("vec").alias("pos", "val")
        )
        cent_flat = ex.groupBy("label", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
        return (
            cent_flat.groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("cvec")
            )
            .select(F.col("label").alias("cell"), "cvec")
        )

    return session_frame(
        spark, sf_dir, "ivf_label_centroids", build, persist=True
    )


def _ivf_probed(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(query_id, qvec, qnrm, cell) — each query's N_PROBE nearest cells."""
    queries = emb.filter(_is_query(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    centroids = _label_centroids_frame(spark, sf_dir)
    qc = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "ccos",
        F.round(_dot("qvec", "cvec") / (F.col("qnrm") * _norm("cvec")), 6),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= N_PROBE)
        .select("query_id", "qvec", "qnrm", "cell")
    )


def _top_cosines(pdf, queries: tuple, keep: int):
    """The one scorer of both Arrow kernels: every row of the batch
    ``pdf`` (vec_id, embedding, label) against every query of
    ``queries`` = (ids, double vectors, ``fold_norm``s), with Spark's own
    numerics — fold dot, fold norms, one division, ``round6`` — so each
    emitted ``cosine`` is the double ``round(_dot / (qnrm * nrm), 6)``
    yields. Per query it keeps the batch's top ``keep`` rows under the
    final ranking's order, (cosine DESC, vec_id ASC), with NaN first as
    Spark sorts it; the union of the batches' top ``keep`` therefore
    holds each query's global top ``keep``, ties included."""
    import numpy as np
    import pandas as pd

    q_ids, q_vecs, q_nrm = queries
    v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    n_ids = pdf["vec_id"].to_numpy()
    # (batch, |Q|), folded 1,024 rows at a time so the fold's
    # accumulator stays in cache (half the time of one whole-batch fold)
    cos = np.concatenate(
        [
            fold_dot(b[:, None, :], q_vecs[None, :, :])
            / (q_nrm[None, :] * fold_norm(b)[:, None])
            for b in (v[i : i + 1024] for i in range(0, len(v), 1024))
        ]
    )
    cos = round6(cos)
    rows, cols = _top_rows(cos, n_ids, keep)
    return pd.DataFrame(
        {
            "query_id": q_ids[cols.ravel()],
            "neighbor_id": n_ids[rows.ravel()],
            "label": pdf["label"].to_numpy()[rows.ravel()],
            "cosine": cos[rows, cols].ravel(),
        }
    )


def _top_rows(cos, n_ids, keep: int):
    """Per column of the (rows, queries) matrix ``cos``, its first ``keep``
    rows under (NaN first, cosine DESC, ``n_ids`` ASC), as (keep, queries)
    row and column indices. Only each column's candidates are sorted: the
    rows at or above its ``keep``-th largest cosine (``np.partition``, NaN
    counted as +inf), a superset of its top ``keep`` however ties fall."""
    import numpy as np

    n, nq = cos.shape
    keep = min(keep, n)
    if not keep:
        return np.empty((0, nq), dtype=np.intp), np.empty((0, nq), dtype=np.intp)
    big = np.where(np.isnan(cos), np.inf, cos)
    cut = np.partition(big, n - keep, axis=0)[n - keep]
    r, c = np.nonzero(big >= cut)
    # lexsort: the last key is primary
    order = np.lexsort((n_ids[r], -cos[r, c], ~np.isnan(cos[r, c]), c))
    r, c = r[order], c[order]
    starts = np.searchsorted(c, np.arange(nq))
    pick = starts[None, :] + np.arange(keep)[:, None]
    return r[pick], c[pick]


def _query_pack(ids: list, vecs: list) -> tuple:
    """(ids, vectors, norms) of a query set, as ``_top_cosines`` takes it."""
    import numpy as np

    mat = np.array(vecs, dtype=np.float64).reshape(len(ids), EMB_DIM)
    return np.array(ids, dtype=np.int64), mat, fold_norm(mat)


def _kernel_scored(df: DataFrame, score) -> DataFrame:
    """``score`` (batches of ``df`` → ``_top_cosines`` frames) as a
    ``mapInPandas`` stage, without the self-pairs. pandas → Arrow turns a
    NaN cosine (a vector with a NaN or inf component) into NULL, and a
    NULL ranks last where Spark ranks NaN first; a cosine is never NULL,
    so NULL maps back to NaN."""
    return (
        df.mapInPandas(
            score, "query_id long, neighbor_id long, label int, cosine double"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.coalesce("cosine", F.lit(float("nan"))))
    )


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, gemm_shortlist: bool = True
) -> DataFrame:
    """IVF-style ANN: probe the N_PROBE nearest centroids, then search
    only inside the probed cells.

    Centroids here are per-label mean vectors (labels stand in for k-means
    cell assignments, which at scale come from a separate clustering job —
    ``operators/clustering.py:_gate_kmeans`` is that job, and
    ``ann_ivf_kmeans`` probes its cells; the probe/search plumbing is
    identical).

    The in-cell scoring runs in the Arrow kernel ``_top_cosines`` instead
    of per-pair interpreted fold expressions: each Arrow batch of a probed
    cell is scored against that cell's queries with Spark's own numerics,
    and only the batch's top ``IVF_TOP_K + 1`` rows per query (the +1 is
    the self-pair) reach the ranking window. Ranks and cosines therefore
    equal the expression-only reference (``gemm_shortlist=False``, kept
    for the differential test) and the DuckDB oracle. The probe
    assignment (|Q|·N_PROBE rows) is collected driver-side — the bounded
    serving-set contract.
    """
    emb = _ivf_emb(spark, sf_dir)
    probed = _ivf_probed(spark, sf_dir, emb)

    if not gemm_shortlist:
        cands = probed.join(emb, probed.cell == emb.label).filter(
            F.col("vec_id") != F.col("query_id")
        )
        scored = cands.withColumn(
            "cosine",
            F.round(_dot("qvec", "vec") / (F.col("qnrm") * F.col("nrm")), 6),
        )
        return _ivf_rank(scored)

    import pandas as pd

    # a NULL-label cell can be probed (its centroid exists), but NULL
    # never equals NULL in the candidate equi-join, so the expression
    # path yields no candidates from it; the kernel skips it too
    prows = [
        r
        for r in probed.select("query_id", "cell", "qvec").collect()
        if r["cell"] is not None
    ]
    if not prows:  # no serving queries in this corpus — trivially empty
        return ann_ivf_topk(spark, sf_dir, gemm_shortlist=False)
    by_cell: dict = {}
    for r in prows:
        ids, vecs = by_cell.setdefault(r["cell"], ([], []))
        ids.append(r["query_id"])
        vecs.append(r["qvec"])
    cells = sorted(by_cell)
    bq = spark.sparkContext.broadcast(
        {c: _query_pack(ids, vecs) for c, (ids, vecs) in by_cell.items()}
    )
    keep = IVF_TOP_K + 1

    def score(batches):
        cellq = bq.value
        for pdf in batches:
            if len(pdf):
                yield pd.concat(
                    [
                        _top_cosines(sub, cellq[cell], keep)
                        for cell, sub in pdf.groupby("label", sort=False)
                    ],
                    ignore_index=True,
                )

    raw = valid_embeddings(
        spread(load_table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "embedding", "label")
    scored = _kernel_scored(raw.filter(F.col("label").isin(cells)), score)
    return _ivf_rank(scored.withColumnRenamed("neighbor_id", "vec_id"))


def _ivf_rank(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            "label",
            "cosine",
        )
    )


ORACLE_ANN_IVF_TOPK = f"""
WITH emb AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE {_DUCK_EMB_NONZERO}
),
ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
  FROM emb
),
cent_flat AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS c
  FROM ex GROUP BY label, pos
),
centroids AS (
  SELECT label AS cell, list(c ORDER BY pos) AS cvec
  FROM cent_flat GROUP BY label
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM emb
  WHERE {_DUCK_IS_QUERY}
),
qc AS (
  SELECT q.query_id, q.qvec, c.cell,
         ROUND({_DUCK_DOT.format(a="q.qvec", b="c.cvec")}
               / ({_DUCK_NORM.format(a="q.qvec")}
                  * {_DUCK_NORM.format(a="c.cvec")}), 6) AS ccos
  FROM q CROSS JOIN centroids c
),
probed AS (
  SELECT query_id, qvec, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ccos DESC, cell ASC
    ) AS crank FROM qc
  ) WHERE crank <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id, e.label,
         ROUND({_DUCK_DOT.format(a="p.qvec", b="e.embedding")}
               / ({_DUCK_NORM.format(a="p.qvec")}
                  * {_DUCK_NORM.format(a="e.embedding")}), 6) AS cosine
  FROM probed p JOIN emb e ON p.cell = e.label AND e.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, label, cosine
FROM ranked WHERE rank <= {IVF_TOP_K}
ORDER BY query_id, rank
"""


def _vectorized_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brute-force Arrow stage with PER-BATCH LOCAL TOP-K: each batch
    emits only its ``TOP_K + 1`` best candidates per query
    (``_top_cosines``), so the ranking shuffle carries ~|Q|·(k+1) rows per
    Arrow batch instead of all |Q|×batch pairs — a ~N/k shuffle-volume cut
    at corpus scale. The +1 slot absorbs the self-pair (query_id ==
    neighbor_id), which is filtered after the kernel; with it, every
    global top-k row survives its batch's local cut.
    """
    emb = valid_embeddings(spread(load_table(spark, sf_dir, "embeddings"))).select(
        "vec_id", "embedding", "label"
    )
    qrows = (
        emb.filter(_is_query(F.col("vec_id")))
        .select("vec_id", "embedding")
        .collect()
    )  # the query set is small by construction; at scale it broadcasts
    bq = spark.sparkContext.broadcast(
        _query_pack([r["vec_id"] for r in qrows], [r["embedding"] for r in qrows])
    )
    keep = TOP_K + 1

    def score(batches):
        for pdf in batches:
            if len(pdf):
                yield _top_cosines(pdf, bq.value, keep)

    return _kernel_scored(emb, score)


def cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production kernel for the brute-force path: Arrow-batched
    ``mapInPandas`` scoring each partition's vectors against the broadcast
    query matrix — no per-pair row expansion at all.

    At 100 TB this is the shape that wins: the scan side streams through
    executors partition-by-partition, each Arrow batch is scored against
    every query in one vectorized fold, and only each batch's local top-k
    candidate rows reach the ranking shuffle (see ``_vectorized_scored``).
    The kernel computes Spark's own cosine doubles, so the result equals
    the fold-expression ``ann_cosine_topk`` row for row; the gate attests
    that through ``ann_vectorized_bound``.
    """
    scored = _vectorized_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "label",
            "cosine",
        )
    )


def ann_vectorized_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate attestation for the vectorized kernel (the sketch contract,
    sketches.py pattern): per query, the exact top-1 neighbor/cosine from
    the fold-expression path (DuckDB-recomputable) plus deterministic
    booleans that the kernel returned a full top-k whose neighbors and
    cosines equal the fold path's at every rank. A kernel regression
    (missing candidates, wrong scores, wrong tie order) turns
    ``n_ranked`` or ``vec_within_bound`` red."""
    fold = ann_cosine_topk(spark, sf_dir).select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("exact_neighbor_id"),
        F.col("cosine").alias("exact_cosine"),
    )
    vec = cosine_topk_vectorized(spark, sf_dir).select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("vec_neighbor_id"),
        F.col("cosine").alias("vec_cosine"),
    )
    return (
        fold.join(vec, ["query_id", "rank"])
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_ranked"),
            F.max(F.when(F.col("rank") == 1, F.col("exact_neighbor_id"))).alias(
                "exact_top1_neighbor"
            ),
            F.max(F.when(F.col("rank") == 1, F.col("exact_cosine"))).alias(
                "exact_top1_cosine"
            ),
            F.bool_and(
                (F.col("vec_neighbor_id") == F.col("exact_neighbor_id"))
                & (F.col("vec_cosine") == F.col("exact_cosine"))
            ).alias("vec_within_bound"),
        )
    )


ORACLE_ANN_VECTORIZED_BOUND = f"""
WITH emb AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE {_DUCK_EMB_NONZERO}
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM emb
  WHERE {_DUCK_IS_QUERY}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND({_DUCK_DOT.format(a="q.qvec", b="e.embedding")}
               / ({_DUCK_NORM.format(a="q.qvec")}
                  * {_DUCK_NORM.format(a="e.embedding")}), 6) AS cosine
  FROM q JOIN emb e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id,
       CAST({TOP_K} AS BIGINT) AS n_ranked,
       MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS exact_top1_neighbor,
       MAX(CASE WHEN rank = 1 THEN cosine END) AS exact_top1_cosine,
       TRUE AS vec_within_bound
FROM ranked WHERE rank <= {TOP_K}
GROUP BY query_id
ORDER BY query_id
"""


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_vectorized_bound": ann_vectorized_bound,
}

ORACLES = {
    "ann_cosine_topk": ORACLE_ANN_COSINE_TOPK,
    "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "ann_vectorized_bound": ORACLE_ANN_VECTORIZED_BOUND,
}
