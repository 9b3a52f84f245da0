"""K-means clustering over the embedding column (Lloyd iterations).

The clustering job `ann_ivf_topk`'s docstring defers to: IVF's coarse cells
at production scale come from k-means over the corpus embeddings, not from
pre-existing labels. This is that job, integer-exact so that the DuckDB
twins reproduce it bit for bit:

- components quantize to BIGINT once: round(x * 1000). For float32
  inputs the scaled value can never land exactly on a .5 boundary
  ((2k+1)/2000 has a factor-125 denominator, never dyadic), so both
  engines round identically.
- a centroid is the exact rational (sum-vector, count) — never divided.
  The squared L2 distance to it, scaled by n², is the exact BIGINT
  Σ (n·x_i − s_i)²; the argmin compares dist/n² after one deterministic
  BIGINT→DOUBLE cast and one IEEE division, identical on both engines,
  with ties to the lowest cluster id.
- clusters that lose every member simply stop competing (standard Lloyd
  never re-populates them); both sides mirror that.
- **assign** (the data-sized step): a fit run on the driver already
  holds every final label, so its consumers join them back as one
  broadcast table; after a distributed fit it is map-only, with the
  centroids as literals, the same contract as Spark ML's driver-held
  ``clusterCenters``.

Initialization is deterministic — cluster c starts as the sum and count
of the vectors with ``vec_id % k == c`` (random-partition init, seeded by
the stable id) — so results are reproducible run-to-run. One fit serves
k-means (one whole-vector part) and the PQ codebooks (one part per
component slice): ``_driver_rounds`` runs the rounds on the driver from
one collect, ``_distributed_lloyd`` with one aggregate per round.
Quantization at 1e-3 granularity is itself a production technique
(scalar-quantized IVF).

Non-reference extension (training-pipeline clustering; pairs with
operators/similarity.py's IVF probe/search plumbing).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import footer_rows, load_table, spread
from .kernels import _round6_ge_cutoff
from .memo import session_value, track_persisted
from .similarity import QUERY_ID_CAP, QUERY_STRIDE, _is_query
from .similarity import _DUCK_EMB_NONZERO as _EMB_VALID

KMEANS_GATE_K = 8
KMEANS_GATE_ITERS = 3
QUANT_SCALE = 1000
IVF_KM_TOP_K = 5
IVF_KM_N_PROBE = 2

if TYPE_CHECKING:
    import numpy as np
    import pyarrow as pa


def _quantized(spark: SparkSession, sf_dir: str, fan_out: bool = True) -> DataFrame:
    """Valid embeddings with their BIGINT-quantized ``qvec``; ``fan_out``
    spreads a narrow scan across the cores for the map work that follows
    (a driver-side collect has none to spread)."""
    from .similarity import valid_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return valid_embeddings(spread(emb) if fan_out else emb).select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"),
        ).alias("qvec"),
    )


def _part_col(col: str, part: slice | None) -> F.Column:
    """The component slice ``part`` of the array ``col`` (the whole array
    when ``part`` is None)."""
    if part is None:
        return F.col(col)
    return F.slice(col, part.start + 1, part.stop - part.start)


def _dist_sql(svec: list[int], n: int, col: str = "qvec") -> str:
    """SQL snippet: CAST(Σ(n·x − s)² AS DOUBLE) / n² over ``col``."""
    arr = ",".join(str(int(v)) for v in svec)
    n = int(n)
    return (
        f"CAST(aggregate(zip_with({col}, array({arr}), "
        f"(x, s) -> ({n} * x - s) * ({n} * x - s)), "
        f"CAST(0 AS BIGINT), (acc, d) -> acc + d) AS DOUBLE) "
        f"/ CAST({n * n} AS DOUBLE)"
    )


def _int_assign_expr(
    cents: dict[int, tuple[list[int], int]],
    field: str = "cluster",
    col: str = "qvec",
):
    """argmin_c  Σ(n_c·x − s_c)² / n_c²  as a map-only Column over qvec.

    Built as ONE SQL string handed to ``F.expr`` — the k×d literal matrix
    parses JVM-side in a single py4j call. The equivalent Column-API
    construction costs ~k·d individual ``F.lit`` round trips (~1500 JVM
    calls per Lloyd round), which measurably drags the driver (~0.5s per
    round in a long-lived session) while producing the identical
    expression tree."""
    structs = ", ".join(
        f"named_struct('d', {_dist_sql(*cents[c], col=col)}, '{field}', {int(c)})"
        for c in sorted(cents)
    )
    return F.expr(f"array_min(array({structs})).{field}")


# Assignment-kernel selection: argmin-over-k×d is n·k·d work however it
# runs, but the EXPRESSION form (k literal distance structs, interpreted
# higher-order functions — codegen does not cover aggregate/zip_with)
# costs ~50-100× more per term than a vectorized Arrow kernel. Below the
# threshold the expression path wins anyway (no Python worker round-trip,
# full column pruning, and the plan stays whole-stage); above it the
# mapInPandas GEMM kernel takes over. The kernel is BIT-IDENTICAL, not
# approximately equal: it computes the same integer-exact distance by
# algebraic expansion — Σ(n·x−s)² = n²Σx² − 2nΣxs + Σs², exact in int64
# inside the envelope ``_gemm_envelope_ok`` checks — then the identical
# CAST-to-double division and the identical lowest-id tie break, so the
# choice is invisible in results and gated tiers keep the expression plan
# (sf0.01: n·Σk ≤ 25k at every registered k). Measured: the k=200 gate
# fit at sf0.1 drops 12.2s → ~2s cold; semantic_dedup at sf3 (n·k = 5.6M)
# drops ~18s → ~12s; the PQ encode inside ivf_pq_topk at sf1 2.04 → 1.35s.
GEMM_ASSIGN_MIN_WORK = 200_000  # n_rows × Σk over the codebooks


def _book_arrays(bk: dict[int, tuple[list[int], int]]) -> tuple:
    """A codebook as the int64 arrays ``_argmin_codes`` takes."""
    import numpy as np

    ids = sorted(bk)
    S = np.array([bk[c][0] for c in ids], dtype=np.int64)  # (k, w)
    nv = np.array([bk[c][1] for c in ids], dtype=np.int64)  # (k,)
    return (
        np.array(ids, dtype=np.int32),
        S,
        nv,
        (S * S).sum(axis=1),  # Σs²
        (nv * nv).astype(np.float64),  # divisor, exact < 2^53
        nv * nv,  # int64 n² for the exact integer term
    )


# Rows × k per _argmin_codes block: keeps each (rows, k) int64 term
# near 32 MB however large the batch or the codebook.
ARGMIN_BLOCK_CELLS = 1 << 22


def _code_dists(B, arrays: tuple):
    """``CAST(Σ(n·x − s)² AS DOUBLE) / n²`` from every row of the int64
    matrix ``B`` to every entry of the codebook ``arrays``, as a
    (rows, k) double matrix: the integer distance by algebraic expansion,
    one integer GEMM (exact inside ``_gemm_envelope_ok``), then the same
    double division as the expression path."""
    import numpy as np

    _, S, nv, ss, n2, nn = arrays
    xx = (B * B).sum(axis=1)  # (b,) Σx²
    cross = B @ S.T  # (b, k) Σx·s — integer matmul, exact
    return (nn * xx[:, None] - 2 * nv * cross + ss).astype(np.float64) / n2


def _argmin_codes(Xm, arrays: tuple):
    """Per row of the int64 matrix ``Xm``, the id of the codebook entry
    with the least ``_code_dists``, one row block at a time, ties to the
    lowest id (``argmin`` takes the first minimum over the sorted ids)."""
    import numpy as np

    ids = arrays[0]
    out = np.empty(len(Xm), dtype=ids.dtype)
    step = max(1, ARGMIN_BLOCK_CELLS // max(1, len(ids)))
    for i in range(0, len(Xm), step):
        dists = _code_dists(Xm[i : i + step], arrays)
        out[i : i + step] = ids[np.argmin(dists, axis=1)]
    return out


def _gemm_assign_codes(
    df: DataFrame,
    books: list[tuple[str, slice | None, dict[int, tuple[list[int], int]]]],
    col: str = "qvec",
) -> DataFrame:
    """Arrow twin of the per-book ``_int_assign_expr`` argmins: ONE
    ``mapInPandas`` pass appends every ``field`` — the argmin of
    ``col[part]`` (the whole vector when ``part`` is None) over its
    codebook — with one batched integer GEMM per book and Arrow batch
    instead of k interpreted folds per row. k-means assignment is the
    one-book, whole-vector case; the PQ encode is M books over disjoint
    slices. Callers pre-project to exactly the columns the downstream
    needs: an opaque kernel defeats column pruning, so nothing heavy may
    ride through it."""
    import numpy as np
    from pyspark.sql import types as T

    mats = [
        (field, slice(None) if part is None else part, _book_arrays(bk))
        for field, part, bk in books
    ]
    schema = T.StructType(
        df.schema.fields
        + [T.StructField(field, T.IntegerType()) for field, _, _ in books]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                for field, *_ in mats:
                    pdf[field] = np.array([], dtype=np.int32)
                yield pdf
                continue
            X = np.stack(pdf[col].to_numpy()).astype(np.int64)  # (b, d)
            for field, part, arrays in mats:
                pdf[field] = _argmin_codes(X[:, part], arrays)
            yield pdf

    return df.mapInPandas(gen, schema)


def _gemm_envelope_ok(
    cents: dict[int, tuple[list[int], int]], x_bound: int | None
) -> bool:
    """Driver-side int64-safety check for the GEMM kernel's EXPANDED
    intermediates: with every component |x| ≤ ``x_bound``, each
    per-cluster intermediate the kernel materializes — n²Σx², 2n|Σxs|,
    Σs², and the combined distance — is bounded by d·(n·x_bound + max|s|)²,
    so that quantity fitting in int64 makes the expansion exact (the
    accumulator-form expression path shares the same worst case but never
    expands, so typical values cancel; outside the envelope the router
    falls back to it). Computed in exact Python ints from driver-held
    values only — max|s| and n from the centroid dict, x_bound from the
    centroid aggregate itself."""
    if x_bound is None:
        return False
    xb = int(x_bound)
    for svec, n in cents.values():
        s_max = max((abs(int(v)) for v in svec), default=0)
        if len(svec) * (int(n) * xb + s_max) ** 2 >= 2**63:
            return False
    return True


def _assign_codes(
    df: DataFrame,
    books: list[tuple[str, slice | None, dict[int, tuple[list[int], int]]]],
    n_rows: int,
    x_bound: int | None,
    col: str = "qvec",
) -> DataFrame:
    """Append one argmin column per (field, part, codebook) book, routed
    by work volume: the GEMM kernel when ``n_rows × Σk`` reaches
    ``GEMM_ASSIGN_MIN_WORK`` and every codebook passes the int64 envelope
    check (outside it the expanded intermediates could wrap silently),
    else the expression path. Results are bit-identical either way. On
    the expression path a whole-vector book labels its argmin struct with
    its field; a sliced book projects its slice as ``_sub{i}`` and labels
    the struct ``code``."""
    work = n_rows * sum(len(bk) for _, _, bk in books)
    if work >= GEMM_ASSIGN_MIN_WORK and all(
        _gemm_envelope_ok(bk, x_bound) for _, _, bk in books
    ):
        return _gemm_assign_codes(df, books, col=col)
    out = df
    for i, (field, part, bk) in enumerate(books):
        if part is None:
            out = out.withColumn(field, _int_assign_expr(bk, field=field, col=col))
        else:
            out = out.withColumn(f"_sub{i}", _part_col(col, part)).withColumn(
                field, _int_assign_expr(bk, field="code", col=f"_sub{i}")
            )
    return out


# When the Lloyd fits run on the driver from one collect instead of
# distributed rounds. Cold fits on the replica tiers (tools/make_sf1.py
# copies of sf0.1, 4-core local[4] session, default iterations, a
# process's first fit left out), local vs distributed: k=8 0.7-0.9 vs
# 4.1-4.9 s at 20k vectors, 2.2 vs 5.8 s at 60k, 5.4-5.5 vs 12.6-13.1 s
# at 200k; PQ 0.4-0.5 vs 2.2-2.7 s, 1.5-1.8 vs 5.0-6.9 s, 4.2-4.3 vs
# 12.0-13.9 s. The local rounds are one NumPy thread, so the distributed
# ones win once the argmin work is large: k=2000 at 20k vectors
# (rows × k = 40M) 15.6 vs 23.0 s, k=312 at 200k (62M) 25.6 vs 19.3 s.
# ROWS bounds driver memory at the largest size measured (the collect,
# the int64 matrix and one round's sorted copy: the Python driver's peak
# RSS grew 348 MB at 200k); WORK (rows × Σk over the parts, as
# GEMM_ASSIGN_MIN_WORK counts it) sits at the largest measured local win.
LOCAL_FIT_MAX_ROWS = 200_000
LOCAL_FIT_MAX_WORK = 40_000_000


def _driver_corpus(
    spark: SparkSession, sf_dir: str, work_per_row: int, with_queries: bool = False
) -> tuple | None:
    """The driver fit's input: ``(ids, X, queries)`` from ONE collect of
    ``(vec_id, qvec)`` — ``X`` the int64 (rows, d) matrix — or None when
    the fit must run distributed. With ``with_queries`` the collect also
    carries the raw ``embedding`` of the query rows (``vec_id %
    QUERY_STRIDE == 0`` below ``QUERY_ID_CAP``, NULL on every other row),
    returned as ``queries``; else ``queries`` is None.

    The route is chosen before any job from the embeddings footers' row
    count (at least the valid count): it must be at most
    ``LOCAL_FIT_MAX_ROWS``, and times ``work_per_row`` (Σk over the
    parts) at most ``LOCAL_FIT_MAX_WORK``, so a corpus routed away pays
    nothing for this path. After the collect, the fit still goes
    distributed when the corpus is empty or holds a NULL ``vec_id`` or a
    NULL component (the expression path's NULL semantics are not
    reproduced here)."""
    import numpy as np

    bound = footer_rows(sf_dir, "embeddings")
    if (
        bound is None
        or bound > LOCAL_FIT_MAX_ROWS
        or bound * work_per_row > LOCAL_FIT_MAX_WORK
    ):
        return None
    cols = [F.col("vec_id"), F.col("qvec")]
    if with_queries:
        is_q = _is_query(F.col("vec_id"))
        cols.append(F.when(is_q, F.col("embedding")).alias("query_vec"))
    tbl = _quantized(spark, sf_dir, fan_out=False).select(*cols).toArrow()
    n = tbl.num_rows
    if not n or tbl.column("vec_id").null_count:
        return None
    comps = tbl.column("qvec").combine_chunks().flatten()
    if comps.null_count:
        return None
    X = comps.to_numpy().astype(np.int64, copy=False).reshape(n, -1)
    queries = tbl.column("query_vec") if with_queries else None
    return tbl.column("vec_id").to_numpy(), X, queries


def _driver_rounds(ids, X, parts: list[slice | None], k: int, n_rounds: int):
    """The exact Lloyd rounds on the driver over a collected corpus: per
    part (a component slice, None for the whole vector) seed cluster
    ``vec_id % k`` (Spark's truncated remainder, so ``np.fmod``), exact
    int64 per-cluster sums and counts, assignment by ``_argmin_codes``.
    Returns ``n_rounds`` centroid rounds (round 0 from the seed, each
    later one from the previous round's assignment; a cluster left
    without members is absent and stops competing), the corpus-wide
    max|x|, and per part the last assignment (the labels the final
    round's centroids come from) — or None when a round's codebook fails
    ``_gemm_envelope_ok`` (the expanded int64 terms could wrap)."""
    import numpy as np

    x_bound = int(np.abs(X).max())
    parts = [slice(None) if p is None else p for p in parts]
    labels = [np.fmod(ids, k)] * len(parts)
    rounds = []
    for r in range(n_rounds):
        if r:
            labels = [
                _argmin_codes(X[:, p], _book_arrays(bk))
                for p, bk in zip(parts, rounds[-1])
            ]
        books = []
        for p, lab in zip(parts, labels):
            cids, inv, cnt = np.unique(lab, return_inverse=True, return_counts=True)
            order = np.argsort(inv, kind="stable")
            starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            sums = np.add.reduceat(X[order, p], starts, axis=0)  # exact int64
            bk = {int(c): (s, int(m)) for c, s, m in zip(cids, sums.tolist(), cnt)}
            if not _gemm_envelope_ok(bk, x_bound):
                return None
            books.append(bk)
        rounds.append(books)
    return rounds, x_bound, labels


def _local_lloyd(
    spark: SparkSession,
    sf_dir: str,
    parts: list[slice | None],
    k: int,
    n_rounds: int,
) -> tuple[list[list[dict[int, tuple[list[int], int]]]], int] | None:
    """``(rounds, x_bound)`` of ``_driver_rounds`` over the one
    ``_driver_corpus`` collect, or None when either declines and the fit
    must run distributed."""
    corpus = _driver_corpus(spark, sf_dir, k * len(parts))
    fit = None if corpus is None else _driver_rounds(*corpus[:2], parts, k, n_rounds)
    return None if fit is None else fit[:2]


def _distributed_lloyd(
    spark: SparkSession,
    sf_dir: str,
    parts: list[slice | None],
    k: int,
    n_rounds: int,
) -> tuple[list[list[dict[int, tuple[list[int], int]]]], int]:
    """``_local_lloyd``'s rounds as Spark jobs over the persisted
    ``(vec_id, qvec)`` frame, for the corpora the driver fit declines.
    Each part m starts from ``c{m} = vec_id % k``. Each round is ONE
    aggregate keyed on ``(m, cluster, pos)`` over every part's exploded
    slice (the per-part stats commute, so k-means is the M = 1 case),
    returning exact sums, counts and max|x|: every round aggregates every
    valid component, so any round's max is the corpus-wide bound the
    envelope check needs. Reassignment goes through ``_assign_codes``
    with one book per part, so large fits take the GEMM kernel. The
    frame is unpersisted before this returns."""
    cached = _quantized(spark, sf_dir).select("vec_id", "qvec").persist()
    try:
        assigned = cached.select(
            "vec_id",
            "qvec",
            *[
                (F.col("vec_id") % k).cast("int").alias(f"c{m}")
                for m in range(len(parts))
            ],
        )
        rounds: list[list[dict[int, tuple[list[int], int]]]] = []
        x_bound = 0
        for r in range(n_rounds):
            if r:
                books = rounds[-1]
                assigned = _assign_codes(
                    cached,
                    [(f"c{m}", p, bk) for m, (p, bk) in enumerate(zip(parts, books))],
                    sum(cnt for _, cnt in books[0].values()),
                    x_bound,
                )
            slices = F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.col(f"c{m}").alias("cluster"),
                        _part_col("qvec", p).alias("sub"),
                    )
                    for m, p in enumerate(parts)
                ]
            )
            flat = (
                assigned.select(F.explode(slices).alias("e"))
                .select("e.m", "e.cluster", F.posexplode("e.sub").alias("pos", "x"))
                .groupBy("m", "cluster", "pos")
                .agg(
                    F.sum("x").alias("s"),
                    F.count("*").alias("n"),
                    F.max(F.abs(F.col("x"))).alias("mx"),
                )
                .collect()
            )
            sums: list[dict[int, dict[int, int]]] = [{} for _ in parts]
            counts: list[dict[int, int]] = [{} for _ in parts]
            for row in flat:
                sums[row.m].setdefault(row.cluster, {})[row.pos] = row.s
                counts[row.m][row.cluster] = row.n
                if row.mx is not None and row.mx > x_bound:
                    x_bound = int(row.mx)
            rounds.append(
                [
                    {
                        c: ([dims[p] for p in sorted(dims)], counts[m][c])
                        for c, dims in sums[m].items()
                    }
                    for m in range(len(parts))
                ]
            )
    finally:
        cached.unpersist()
    return rounds, x_bound


class _HeldLabels(NamedTuple):
    """What the driver fit of k-means already holds beyond its
    centroids: the final ``(vec_id, cluster)`` labels (the assignment
    against the second-to-last round's centroids, which the final ones
    are summed from) as an Arrow table, and the ids, quantized vectors
    and raw vectors (as doubles) of the query rows."""

    labels: "pa.Table"
    query_ids: "np.ndarray"
    query_q: "np.ndarray"
    query_vecs: "np.ndarray"


def _held_labels(ids, X, queries, labels) -> _HeldLabels | None:
    """The fit's labels and query rows, or None when a ``vec_id`` occurs
    twice: a label table keyed on it would fan the join out."""
    import numpy as np
    import pyarrow as pa

    if np.unique(ids).size < ids.size:
        return None
    is_q = queries.is_valid().to_numpy(zero_copy_only=False)
    vecs = queries.filter(is_q).combine_chunks().flatten().to_numpy()
    return _HeldLabels(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "cluster": pa.array(labels, pa.int32()),
            }
        ),
        ids[is_q],
        X[is_q],
        vecs.astype(np.float64).reshape(-1, X.shape[1]),
    )


def _kmeans_fit(spark: SparkSession, sf_dir: str, k: int, n_iter: int) -> tuple:
    """The session's k-means model ``(cents, final_cents, x_bound, n,
    held)``: n_iter + 1 exact Lloyd rounds over one whole-vector part —
    the assignment centroids and the final ones they produce — on the
    driver when ``_driver_corpus`` and ``_driver_rounds`` take the
    corpus, else ``_distributed_lloyd``. ``held`` is the driver fit's
    ``_HeldLabels`` (None on the distributed route or for a duplicated
    ``vec_id``).

    A session value: deterministic given (data, k, n_iter), so repeat
    invocations reuse it — the same contract as holding a fitted Spark
    ML KMeansModel. The valid-vector count ``n`` is Σ of a round's
    per-cluster counts (every round assigns every valid vector to
    exactly one cluster), published as ``n_valid`` without a count
    job."""

    def fit():
        corpus = _driver_corpus(spark, sf_dir, k, with_queries=True)
        local = (
            None
            if corpus is None
            else _driver_rounds(*corpus[:2], [None], k, n_iter + 1)
        )
        if local is None:
            rounds, x_bound = _distributed_lloyd(spark, sf_dir, [None], k, n_iter + 1)
            held = None
        else:
            rounds, x_bound, labels = local
            held = _held_labels(*corpus, labels[0])
        cents = rounds[-2][0]
        n = sum(c for _, c in cents.values())
        return cents, rounds[-1][0], x_bound, n, held

    model = session_value(spark, sf_dir, f"kmeans_k{k}_i{n_iter}", fit)
    session_value(spark, sf_dir, "n_valid", lambda: model[3])
    return model


def _gate_kmeans(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
) -> tuple[DataFrame, dict[int, tuple[list[int], int]]]:
    """The fitted ``_kmeans_fit`` model applied to the valid embeddings:
    (the embeddings frame with its final ``cluster`` column, the final
    centroids). On the driver-fit route the labels are the fit's own,
    joined to the scan as one broadcast table; otherwise each row is
    assigned by ``_assign_codes``, a map-only argmin against the
    centroids as literals. The labels are identical either way."""
    cents, final_cents, x_bound, n, held = _kmeans_fit(spark, sf_dir, k, n_iter)
    emb = _quantized(spark, sf_dir)
    if held is not None:
        labels = spark.createDataFrame(held.labels)
        return emb.join(F.broadcast(labels), "vec_id"), final_cents
    return _assign_codes(emb, [("cluster", None, cents)], n, x_bound), final_cents


def _gate_labels(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
) -> DataFrame:
    """The fitted model's final ``(vec_id, cluster)`` labels: on the
    driver-fit route the fit's own labels as a local relation, with no
    scan; otherwise ``_gate_kmeans``' assignment."""
    held = _kmeans_fit(spark, sf_dir, k, n_iter)[4]
    if held is not None:
        return spark.createDataFrame(held.labels)
    assigned, _ = _gate_kmeans(spark, sf_dir, k, n_iter)
    return assigned.select("vec_id", "cluster")


def kmeans_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated k-means: final (vec_id, cluster) after KMEANS_GATE_ITERS
    integer-exact Lloyd rounds from the deterministic vec_id % k seed."""
    return _gate_labels(spark, sf_dir)


def oracle_kmeans_cells(
    k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
    scale: int = QUANT_SCALE,
) -> str:
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(_oracle_round(r))
    parts.append(f"\nSELECT vec_id, cluster FROM a{n_iter} ORDER BY vec_id")
    return "".join(parts)


def _oracle_round(r: int, prefix: str = "") -> str:
    p, x = r - 1, prefix
    return f""",
{x}s{r} AS (
  SELECT a.cluster, q.pos, SUM(q.x) AS s, COUNT(*) AS n
  FROM {x}qx q JOIN {x}a{p} a USING (vec_id) GROUP BY a.cluster, q.pos
),
{x}d{r} AS (
  SELECT q.vec_id, s.cluster,
         CAST(SUM((s.n * q.x - s.s) * (s.n * q.x - s.s)) AS DOUBLE)
           / CAST(ANY_VALUE(s.n) * ANY_VALUE(s.n) AS DOUBLE) AS dist
  FROM {x}qx q JOIN {x}s{r} s ON s.pos = q.pos
  GROUP BY q.vec_id, s.cluster
),
{x}a{r} AS (
  SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM {x}d{r}
  ) WHERE rn = 1
)"""


# --- IVF over learned cells (the composition ann_ivf_topk defers to) ------


def _probe_cells(cents: dict[int, tuple[list[int], int]], col: str) -> F.Column:
    """Per query, the IVF_KM_N_PROBE cells with the smallest exact L2
    from ``col`` to their rational centroids (ties to the lower cell) — a
    map-only sorted-literal expression, built as one SQL string for the
    same py4j-batching reason as ``_int_assign_expr``."""
    structs = ", ".join(
        f"named_struct('d', {_dist_sql(*cents[c], col=col)}, 'cell', {int(c)})"
        for c in sorted(cents)
    )
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {IVF_KM_N_PROBE}), "
        f"s -> s.cell)"
    )


_QUERY_SIDE = (
    "array<struct<query_id: bigint, cells: array<int>, "
    "qvec_f: array<double>, qnrm: double>>"
)


def _query_side(
    held: _HeldLabels, cents: dict[int, tuple[list[int], int]]
) -> F.Column:
    """``_probe_cells`` and the query vectors on the driver: per query row
    of ``held``, its IVF_KM_N_PROBE cells by ``_code_dists`` (exact inside
    the envelope the fit checked every round's centroids against; ties to
    the lower cell, as the stable sort keeps the sorted ids' order), its
    double vector and Spark's ``_norm`` of it (``fold_norm``), all as ONE
    JSON literal that ``from_json`` parses at planning time. JSON
    round-trips every double, NaN and ±inf included."""
    import json

    import numpy as np

    from .kernels import fold_norm

    arrays = _book_arrays(cents)
    near = np.argsort(_code_dists(held.query_q, arrays), axis=1, kind="stable")
    cells = arrays[0][near[:, :IVF_KM_N_PROBE]]
    rows = [
        {"query_id": q, "cells": c, "qvec_f": v, "qnrm": r}
        for q, c, v, r in zip(
            held.query_ids.tolist(),
            cells.tolist(),
            held.query_vecs.tolist(),
            fold_norm(held.query_vecs).tolist(),
        )
    ]
    return F.from_json(F.lit(json.dumps(rows)), _QUERY_SIDE)


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose coarse cells come from the gated integer-exact k-means
    (not pre-existing labels): probe the IVF_KM_N_PROBE nearest cells by
    exact rational-centroid L2, then brute-force cosine only inside them.

    This is the production composition `ann_ivf_topk`'s docstring defers
    to — clustering job feeds the quantizer. Probing stays in the exact
    integer domain (no float risk); the in-cell cosine reuses the
    fold-exact + round-to-6 ranking contract that keeps the other ANN
    queries bit-identical to DuckDB. After a driver fit the probes are
    made on the driver (``_query_side``) and each vector pairs with the
    queries probing its cell in a map-side generate; otherwise they are
    ``_probe_cells`` over a broadcast query side.
    """
    from .similarity import _dot, _norm

    held = _kmeans_fit(spark, sf_dir, KMEANS_GATE_K, KMEANS_GATE_ITERS)[4]
    assigned, cents = _gate_kmeans(spark, sf_dir)
    full = assigned.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
        "cluster",
    ).withColumn("nrm", _norm("vec"))

    if held is not None:
        probing = F.filter(
            _query_side(held, cents),
            lambda q: F.array_contains(q["cells"], F.col("cluster")),
        )
        cands = full.select("*", F.explode(probing).alias("q")).select(
            "vec_id",
            "vec",
            "nrm",
            F.col("q.query_id").alias("query_id"),
            F.col("cluster").alias("cell"),
            "q.qvec_f",
            "q.qnrm",
        )
    else:
        # probe cells, query vector and norm for at most QUERY_ID_CAP /
        # QUERY_STRIDE ids: one small broadcast read from the unspread
        # scan, which needs no fan-out and no cluster column
        qside = (
            _quantized(spark, sf_dir, fan_out=False)
            .filter(_is_query(F.col("vec_id")))
            .select(
                F.col("vec_id").alias("query_id"),
                F.explode(_probe_cells(cents, "qvec")).alias("cell"),
                F.transform("embedding", lambda x: x.cast("double")).alias("qvec_f"),
            )
            .withColumn("qnrm", _norm("qvec_f"))
        )
        cands = full.join(F.broadcast(qside), F.col("cluster") == F.col("cell"))
    scored = cands.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "cosine",
        F.round(_dot("qvec_f", "vec") / (F.col("qnrm") * F.col("nrm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_KM_TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell").alias("cell"),
            "cosine",
        )
    )


def oracle_ann_ivf_kmeans(
    k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
    scale: int = QUANT_SCALE,
) -> str:
    duck_dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
    )
    duck_norm = (
        "sqrt(list_reduce(list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, y) -> acc + y))"
    )
    head = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, n_iter + 1):
        head.append(_oracle_round(r))
    head.append(
        f""",
sF AS (
  SELECT a.cluster, q.pos, SUM(q.x) AS s, COUNT(*) AS n
  FROM qx q JOIN a{n_iter} a USING (vec_id) GROUP BY a.cluster, q.pos
),
pd AS (
  SELECT q.vec_id AS query_id, s.cluster AS cell,
         CAST(SUM((s.n * q.x - s.s) * (s.n * q.x - s.s)) AS DOUBLE)
           / CAST(ANY_VALUE(s.n) * ANY_VALUE(s.n) AS DOUBLE) AS dist
  FROM qx q JOIN sF s ON s.pos = q.pos
  WHERE q.vec_id % {QUERY_STRIDE} = 0 AND q.vec_id < {QUERY_ID_CAP}
  GROUP BY q.vec_id, s.cluster
),
probed AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM pd
  ) WHERE rn <= {IVF_KM_N_PROBE}
),
raw AS (SELECT vec_id, embedding FROM embeddings WHERE {_EMB_VALID}),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id, a.cluster AS cell,
         ROUND({duck_dot.format(a="qe.embedding", b="e.embedding")}
               / ({duck_norm.format(a="qe.embedding")}
                  * {duck_norm.format(a="e.embedding")}), 6) AS cosine
  FROM probed p
  JOIN a{n_iter} a ON a.cluster = p.cell
  JOIN raw e ON e.vec_id = a.vec_id AND e.vec_id <> p.query_id
  JOIN raw qe ON qe.vec_id = p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cell, cosine
FROM ranked WHERE rank <= {IVF_KM_TOP_K}
ORDER BY query_id, rank"""
    )
    return "".join(head)


# --- product quantization (PQ) -------------------------------------------
#
# The memory-bound ANN scale path: at 100 TB of embeddings the vectors
# themselves no longer fit hot storage; PQ stores each vector as M small
# codes (here 4×3 bits) against per-subspace codebooks, and ADC search
# scores candidates from an M×k lookup table without touching raw vectors.
# Codebooks are per-subspace integer-exact Lloyd (the same machinery and
# determinism argument as kmeans_cells, run on 16-dim slices), so the code
# assignment is bit-reproducible and gate-verifiable against a generated
# DuckDB oracle. The ADC distance path is NumPy-differential tested
# (tests/test_clustering.py) — recall vs exact search, the metric that
# matters for a lossy index.

PQ_M = 4  # subspaces
PQ_K = 8  # codes per subspace
PQ_ITERS = 2
PQ_DIM = 64  # embeddings fixture dimension; subspace width = PQ_DIM // PQ_M


def _pq_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, slice, dict[int, tuple[list[int], int]]]], int]:
    """Per-subspace exact-rational codebooks as ``(code_m, slice, book)``
    triples — the router's input as-is — plus the corpus component bound
    the GEMM envelope check needs; a session value, like the k-means
    centroids."""
    return session_value(
        spark, sf_dir, f"pq_m{PQ_M}_k{PQ_K}_i{PQ_ITERS}",
        lambda: _pq_train(spark, sf_dir),
    )


def _pq_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, slice, dict[int, tuple[list[int], int]]]], int]:
    """PQ_ITERS centroid rounds per subspace from the ``vec_id % PQ_K``
    seed over PQ_M slice parts (on the driver when ``_local_lloyd`` takes
    the corpus, else ``_distributed_lloyd``), the last round's books."""
    width = PQ_DIM // PQ_M
    parts = [slice(m * width, (m + 1) * width) for m in range(PQ_M)]
    rounds, x_bound = _local_lloyd(
        spark, sf_dir, parts, PQ_K, PQ_ITERS
    ) or _distributed_lloyd(spark, sf_dir, parts, PQ_K, PQ_ITERS)
    books = rounds[-1]
    # Every round assigns each valid vector one code per subspace, so
    # the m = 0 counts sum to n_valid: published here, a cold pq encode
    # needs no count job of its own.
    n = sum(cnt for _, cnt in books[0].values())
    session_value(spark, sf_dir, "n_valid", lambda: n)
    model = [(f"code_{m}", p, bk) for m, (p, bk) in enumerate(zip(parts, books))]
    return model, x_bound


def pq_codes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated PQ encoding: per vector, the M argmin codes against the
    per-subspace codebooks — a single map-only pass once the codebooks
    are fitted (they enter as literals, like Spark ML model application).
    The encode goes through ``_assign_codes``: one Arrow boundary for all
    M codes above the work threshold, M expression folds below it."""
    books, x_bound = _pq_fit(spark, sf_dir)
    emb = _quantized(spark, sf_dir)
    out = _assign_codes(
        emb.select("vec_id", "qvec"), books, _n_valid(spark, sf_dir), x_bound
    )
    return out.select(
        "vec_id", *[F.col(f"code_{m}") for m in range(PQ_M)]
    )


def oracle_pq_codes(
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    dim: int = PQ_DIM,
    scale: int = QUANT_SCALE,
) -> str:
    width = dim // m_sub
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
allqx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
)"""
    ]
    for m in range(m_sub):
        off = m * width
        parts.append(
            f""",
m{m}qx AS (
  SELECT vec_id, pos - {off} AS pos, x FROM allqx
  WHERE pos > {off} AND pos <= {off + width}
),
m{m}a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
        )
        for r in range(1, n_iter + 1):
            parts.append(_oracle_round(r, prefix=f"m{m}"))
    selects = ", ".join(
        f"m{m}a{n_iter}.cluster AS code_{m}" for m in range(m_sub)
    )
    joins = " ".join(
        f"JOIN m{m}a{n_iter} ON m{m}a{n_iter}.vec_id = emb.vec_id"
        for m in range(m_sub)
    )
    parts.append(
        f"\nSELECT emb.vec_id, {selects} FROM emb {joins} ORDER BY emb.vec_id"
    )
    return "".join(parts)


def _adc_rerank(
    queries: DataFrame,
    cand: DataFrame,
    books: list[tuple[str, slice, dict[int, tuple[list[int], int]]]],
    emb: DataFrame,
    shortlist: int,
    top_k: int,
    probe: bool,
) -> DataFrame:
    """The PQ search both serving shapes share: per-query ADC tables, the
    ADC sum over the M codes, the ``shortlist`` window and the exact-L2
    rerank, ranked rows up to ``top_k`` (``rank`` an int, unselected).

    ``queries`` holds ``(query_id, q_qvec)`` and, with ``probe``, the
    ``_cells`` it probes; ``cand`` holds ``neighbor_id`` and the codes
    (with ``probe``, also the ``cell`` it is joined on; without, every
    query pairs with every candidate). Each per-query table is indexed
    BY CLUSTER ID (slot c+1 = centroid c): codes are cluster ids, and a
    cluster that emptied during fitting keeps its slot as +inf — no code
    can reference it, but positional compaction would silently shift
    every later lookup. ``emb`` supplies the quantized vectors of the
    rerank."""
    for m, (_, part, bk) in enumerate(books):
        queries = queries.withColumn(f"_q{m}", _part_col("q_qvec", part)).withColumn(
            f"_dt{m}",
            F.array(
                *[
                    F.expr(_dist_sql(*bk[c], col=f"_q{m}"))
                    if c in bk
                    else F.lit(float("inf"))
                    for c in range(PQ_K)
                ]
            ),
        )
    side = ["query_id", "q_qvec", *[F.col(f"_dt{m}") for m in range(len(books))]]
    if probe:
        probed = queries.select(*side, F.explode("_cells").alias("cell"))
        pairs = F.broadcast(probed).join(cand, "cell")
    else:
        pairs = F.broadcast(queries.select(*side)).crossJoin(cand)
    pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    adc = None
    for m in range(len(books)):
        term = F.element_at(F.col(f"_dt{m}"), F.col(f"code_{m}") + 1)
        adc = term if adc is None else adc + term
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    short = (
        pairs.withColumn("adc_dist", adc)
        .withColumn("_adc_rank", F.row_number().over(w_adc))
        .filter(F.col("_adc_rank") <= shortlist)
        .select(
            "query_id", "q_qvec", "neighbor_id", *(["cell"] if probe else []),
            "adc_dist",
        )
    )
    reranked = short.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("qvec").alias("n_qvec"),
        ),
        "neighbor_id",
    ).withColumn(
        "exact_dist",
        F.aggregate(
            F.zip_with("q_qvec", "n_qvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("neighbor_id").asc()
    )
    return reranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 5,
    stride: int = 50,
    shortlist: int = 100,
) -> DataFrame:
    """Two-stage PQ search, the production serving shape:

    1. **ADC shortlist** — each query scores every candidate as
       Σ_m dist(query_sub_m, centroid[code_m]), an M-term lookup against
       the query's per-subspace distance table; only the code table is
       touched, never raw vectors. Keep the best ``shortlist`` ids.
    2. **Exact rerank** — fetch raw (quantized) vectors for the shortlist
       only and rank by exact L2. At 100 TB this is the whole point: the
       code table is ~2 orders of magnitude smaller than the embeddings,
       so stage 1 streams cheap and stage 2 touches ``shortlist`` rows
       per query instead of the corpus.

    ADC alone cannot resolve near-uniform high-dim data (12-bit codes vs
    64 dims) — measured recall@5 on the fixture: 0.08 raw ADC vs 0.66
    with rerank at shortlist=100. NumPy-differential tested for recall
    AND gated with a full exact DuckDB twin (oracle_pq_adc_topk): the
    index is lossy vs exact search, but every quantity on its decision
    path is integer-exact or fixed-order IEEE, so the twin reproduces the
    identical shortlist and rerank bit-for-bit."""
    books, _ = _pq_fit(spark, sf_dir)
    codes = pq_codes_query(spark, sf_dir)
    emb = _quantized(spark, sf_dir)
    queries = emb.filter(
        (F.col("vec_id") % stride == 0) & (F.col("vec_id") < QUERY_ID_CAP)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec")
    )
    return _adc_rerank(
        queries, codes.withColumnRenamed("vec_id", "neighbor_id"), books, emb,
        shortlist, top_k, probe=False,
    ).select("query_id", "rank", "neighbor_id", "exact_dist", "adc_dist")


def oracle_pq_adc_topk(
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    dim: int = PQ_DIM,
    scale: int = QUANT_SCALE,
    top_k: int = 5,
    stride: int = 50,
    shortlist: int = 100,
) -> str:
    """Exact DuckDB twin of the two-stage PQ search.

    Bit-parity argument (why a lossy index CAN hash-match): every quantity
    on the decision path is integer-exact or a fixed-order IEEE operation —
    codes come from the integer-exact per-subspace Lloyd rounds (the
    pq_codes oracle machinery), each per-subspace ADC term is
    CAST(Σ(n·x−s)² AS DOUBLE)/n² (exact BIGINT sum, one correctly-rounded
    cast + division, identical on both engines), and the M terms add in
    the same literal order ((t0+t1)+t2)+t3 as the Spark column fold. The
    exact rerank distance is a pure BIGINT sum. So ranks, shortlists, and
    output values agree bitwise — no attestation bound needed."""
    width = dim // m_sub
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
allqx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
)"""
    ]
    for m in range(m_sub):
        off = m * width
        parts.append(
            f""",
m{m}qx AS (
  SELECT vec_id, pos - {off} AS pos, x FROM allqx
  WHERE pos > {off} AND pos <= {off + width}
),
m{m}a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
        )
        for r in range(1, n_iter + 1):
            parts.append(_oracle_round(r, prefix=f"m{m}"))
        # per-(query, cluster) ADC term for subspace m, against the FINAL
        # codebook stats m{m}s{n_iter} (the same (s, n) rationals the codes
        # were assigned with)
        parts.append(
            f""",
m{m}qd AS (
  SELECT q.vec_id AS query_id, s.cluster,
         CAST(SUM((s.n * q.x - s.s) * (s.n * q.x - s.s)) AS DOUBLE)
           / CAST(ANY_VALUE(s.n) * ANY_VALUE(s.n) AS DOUBLE) AS d
  FROM m{m}qx q JOIN m{m}s{n_iter} s ON s.pos = q.pos
  WHERE q.vec_id % {stride} = 0 AND q.vec_id < {QUERY_ID_CAP}
  GROUP BY q.vec_id, s.cluster
)"""
        )
    code_cols = ", ".join(
        f"m{m}a{n_iter}.cluster AS code_{m}" for m in range(m_sub)
    )
    code_joins = " ".join(
        f"JOIN m{m}a{n_iter} ON m{m}a{n_iter}.vec_id = emb.vec_id"
        for m in range(m_sub)
    )
    adc_joins = " ".join(
        f"JOIN m{m}qd d{m} ON d{m}.cluster = c.code_{m}"
        + ("" if m == 0 else f" AND d{m}.query_id = d0.query_id")
        for m in range(m_sub)
    )
    adc_sum = "d0.d"
    for m in range(1, m_sub):
        adc_sum = f"({adc_sum} + d{m}.d)"
    parts.append(
        f""",
codes AS (SELECT emb.vec_id, {code_cols} FROM emb {code_joins}),
adcp AS (
  SELECT d0.query_id, c.vec_id AS neighbor_id, {adc_sum} AS adc_dist
  FROM codes c {adc_joins}
  WHERE c.vec_id <> d0.query_id
),
short AS (
  SELECT query_id, neighbor_id, adc_dist FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
    ) AS arn FROM adcp
  ) WHERE arn <= {shortlist}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.adc_dist,
         CAST(SUM((qq.x - nn.x) * (qq.x - nn.x)) AS BIGINT) AS exact_dist
  FROM short s
  JOIN allqx qq ON qq.vec_id = s.query_id
  JOIN allqx nn ON nn.vec_id = s.neighbor_id AND nn.pos = qq.pos
  GROUP BY s.query_id, s.neighbor_id, s.adc_dist
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, exact_dist,
       adc_dist
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY exact_dist ASC, neighbor_id ASC
  ) AS rank FROM rer
) WHERE rank <= {top_k}
ORDER BY query_id, rank"""
    )
    return "".join(parts)


# --- IVF × PQ composition (IVFADC) ----------------------------------------

IVF_PQ_SHORTLIST = 50


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 5,
    stride: int = QUERY_STRIDE,
    shortlist: int = IVF_PQ_SHORTLIST,
) -> DataFrame:
    """IVFADC — the standard 100-TB ANN serving shape (Jégou et al. 2011,
    public method): coarse-quantize the corpus into IVF cells (the gated
    integer-exact k-means), PQ-encode every vector, then per query (1)
    probe the ``IVF_KM_N_PROBE`` nearest cells by exact rational-centroid
    L2, (2) ADC-scan ONLY the probed cells' code lists for a shortlist,
    (3) exact-rerank the shortlist against raw quantized vectors.

    vs `pq_adc_topk`: that operator ADC-scans the FULL code table — O(N)
    lookups per query. Composing with the IVF probe cuts the scan to the
    probed cells (~N_PROBE/k of the corpus), which is what makes ADC
    serving viable when the code table itself is TB-scale. Both the cell
    assignment and the PQ codes are map-only columns on ONE scan (no
    join between the index parts), and the per-query work ships as a
    broadcast of (query × probed-cell) rows against the cell-keyed
    candidate stream.

    Recall is bounded by the probe (a true neighbor in an unprobed cell
    is unreachable) — the recall differential vs `pq_adc_topk` is pinned
    in tests/test_clustering.py. Every decision-path quantity is
    integer-exact or fixed-order IEEE (the pq_adc_topk argument), so the
    DuckDB twin reproduces shortlists and ranks bit-for-bit."""
    assigned, cents = _gate_kmeans(spark, sf_dir)
    books, x_bound = _pq_fit(spark, sf_dir)

    # candidate index: IVF cell + M PQ codes, all map-only on one scan.
    # The pre-projection to (vec_id, cluster, qvec) keeps the encode
    # kernel's opaque boundary from dragging the raw embedding column
    # through Python. At GEMM scale the cell assignment inside `assigned`
    # is a kernel too — two boundaries; below the threshold both fuse
    # into one codegen stage.
    cand = _assign_codes(
        assigned.select("vec_id", "cluster", "qvec"),
        books,
        _n_valid(spark, sf_dir),
        x_bound,
    )
    cand = cand.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        *[F.col(f"code_{m}") for m in range(PQ_M)],
    )

    queries = _quantized(spark, sf_dir).filter(
        (F.col("vec_id") % stride == 0) & (F.col("vec_id") < QUERY_ID_CAP)
    ).select(F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec"))
    # probe: N_PROBE nearest cells by exact rational L2 to the final-
    # assignment centroids (same contract as ann_ivf_kmeans's probe)
    queries = queries.withColumn("_cells", _probe_cells(cents, "q_qvec"))
    return _adc_rerank(
        queries, cand, books, _quantized(spark, sf_dir), shortlist, top_k,
        probe=True,
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "cell",
        "exact_dist",
        "adc_dist",
    )


def oracle_ivf_pq_topk(
    k: int = KMEANS_GATE_K,
    km_iters: int = KMEANS_GATE_ITERS,
    m_sub: int = PQ_M,
    pq_k: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    dim: int = PQ_DIM,
    scale: int = QUANT_SCALE,
    top_k: int = 5,
    stride: int = QUERY_STRIDE,
    shortlist: int = IVF_PQ_SHORTLIST,
    n_probe: int = IVF_KM_N_PROBE,
) -> str:
    """Exact DuckDB twin of the IVFADC composition — the kmeans probe
    CTEs (oracle_ann_ivf_kmeans) fused with the PQ code/ADC CTEs
    (oracle_pq_adc_topk), the ADC scan restricted to probed cells."""
    width = dim // m_sub
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, km_iters + 1):
        parts.append(_oracle_round(r))
    parts.append(
        f""",
sF AS (
  SELECT a.cluster, q.pos, SUM(q.x) AS s, COUNT(*) AS n
  FROM qx q JOIN a{km_iters} a USING (vec_id) GROUP BY a.cluster, q.pos
),
pd AS (
  SELECT q.vec_id AS query_id, s.cluster AS cell,
         CAST(SUM((s.n * q.x - s.s) * (s.n * q.x - s.s)) AS DOUBLE)
           / CAST(ANY_VALUE(s.n) * ANY_VALUE(s.n) AS DOUBLE) AS dist
  FROM qx q JOIN sF s ON s.pos = q.pos
  WHERE q.vec_id % {stride} = 0 AND q.vec_id < {QUERY_ID_CAP}
  GROUP BY q.vec_id, s.cluster
),
probed AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM pd
  ) WHERE rn <= {n_probe}
)"""
    )
    for m in range(m_sub):
        off = m * width
        parts.append(
            f""",
m{m}qx AS (
  SELECT vec_id, pos - {off} AS pos, x FROM qx
  WHERE pos > {off} AND pos <= {off + width}
),
m{m}a0 AS (SELECT vec_id, CAST(vec_id % {pq_k} AS INTEGER) AS cluster FROM emb)"""
        )
        for r in range(1, pq_iters + 1):
            parts.append(_oracle_round(r, prefix=f"m{m}"))
        parts.append(
            f""",
m{m}qd AS (
  SELECT q.vec_id AS query_id, s.cluster,
         CAST(SUM((s.n * q.x - s.s) * (s.n * q.x - s.s)) AS DOUBLE)
           / CAST(ANY_VALUE(s.n) * ANY_VALUE(s.n) AS DOUBLE) AS d
  FROM m{m}qx q JOIN m{m}s{pq_iters} s ON s.pos = q.pos
  WHERE q.vec_id % {stride} = 0 AND q.vec_id < {QUERY_ID_CAP}
  GROUP BY q.vec_id, s.cluster
)"""
        )
    code_cols = ", ".join(
        f"m{m}a{pq_iters}.cluster AS code_{m}" for m in range(m_sub)
    )
    code_joins = " ".join(
        f"JOIN m{m}a{pq_iters} ON m{m}a{pq_iters}.vec_id = emb.vec_id"
        for m in range(m_sub)
    )
    adc_joins = " ".join(
        f"JOIN m{m}qd d{m} ON d{m}.query_id = p.query_id "
        f"AND d{m}.cluster = c.code_{m}"
        for m in range(m_sub)
    )
    adc_sum = "d0.d"
    for m in range(1, m_sub):
        adc_sum = f"({adc_sum} + d{m}.d)"
    parts.append(
        f""",
codes AS (SELECT emb.vec_id, {code_cols} FROM emb {code_joins}),
adcp AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, av.cluster AS cell,
         {adc_sum} AS adc_dist
  FROM probed p
  JOIN a{km_iters} av ON av.cluster = p.cell
  JOIN codes c ON c.vec_id = av.vec_id AND c.vec_id <> p.query_id
  {adc_joins}
),
short AS (
  SELECT query_id, neighbor_id, cell, adc_dist FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
    ) AS arn FROM adcp
  ) WHERE arn <= {shortlist}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.cell, s.adc_dist,
         CAST(SUM((qq.x - nn.x) * (qq.x - nn.x)) AS BIGINT) AS exact_dist
  FROM short s
  JOIN qx qq ON qq.vec_id = s.query_id
  JOIN qx nn ON nn.vec_id = s.neighbor_id AND nn.pos = qq.pos
  GROUP BY s.query_id, s.neighbor_id, s.cell, s.adc_dist
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cell,
       exact_dist, adc_dist
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY exact_dist ASC, neighbor_id ASC
  ) AS rank FROM rer
) WHERE rank <= {top_k}
ORDER BY query_id, rank"""
    )
    return "".join(parts)


SEMDEDUP_COS_THRESHOLD = 0.3
# k is SemDeDup's scale knob: within-cell pairing is Σ|cell|², so a
# production run grows k with the corpus (the paper uses 50k clusters at
# web scale) to hold cell sizes — and therefore per-cell quadratic work —
# constant. That policy is code here: the default k is FITTED from a
# memoized count as max(SEMDEDUP_K_MIN, n_valid // SEMDEDUP_TARGET_CELL),
# so the average cell — and with it the per-cell quadratic pair work —
# stays ~constant as the corpus grows. The DuckDB twin computes the SAME
# k from the same count via a scalar subquery, so the contract stays
# cross-engine exact at every tier. The floor keeps every shipped
# fixture ≤ sf1 at k=32 (n // 640 ≤ 31 there), i.e. bit-identical to a
# fixed k=32; the first tier where the fit binds is sf3 (60k valid
# vectors → k=93, average cell ~645 instead of ~1875).
SEMDEDUP_K_MIN = 32
SEMDEDUP_K = SEMDEDUP_K_MIN  # fixed-k alias (explicit-k callers, twins)
SEMDEDUP_TARGET_CELL = 640


SEMDEDUP_CELL_CAP = 4096
SEMDEDUP_SUB_BITS = 16

# Work volume (valid vectors × bounded within-group partner count) above
# which semantic_dedup's within-cell pair scoring routes through the
# grouped Arrow GEMM kernel instead of the interpreted zip_with/aggregate
# fold expressions — the ``_assign_codes`` routing rule applied to pairs.
# Higher-order functions run outside whole-stage codegen, and the pair
# join evaluates one 64-element fold per CANDIDATE PAIR (6.37 s of the
# 6.42 s warm path at sf1). Every gated tier stays under the threshold
# (sf0.1: 2000 × 63 = 126k), so gate plans keep the expression shape with
# zero Python nodes; the kernel takes over at sf1+ (12.5M/38.7M).
SEMDEDUP_GEMM_MIN_WORK = 2_000_000


def _semdedup_pair_kernel(
    df: DataFrame, tau: float, cell_cap: int | None
) -> DataFrame:
    """Grouped Arrow twin of semantic_dedup's within-cell pair scoring:
    per (cell, sub-bucket) group, ONE int64 GEMM
    scores every (row × capped-candidate) pair instead of one interpreted
    64-element ``zip_with``/``aggregate`` fold per pair, and emits the
    ``dups`` aggregate directly — (vec_id, MIN qualifying lower id). The
    rank window, the pair-expansion join, and the groupBy all collapse
    into the one grouped-map exchange, which ships exactly the bytes the
    window exchange shipped before. Exactness contract (the
    ``_gemm_assign_codes`` discipline): integer dot/norms are exact int64 under
    the Cauchy–Schwarz envelope max(nrm2) < 2^62 (checked per group;
    outside it the group falls back to exact object-dtype integers), the
    float chain is the identical correctly-rounded IEEE ops in the
    identical order, and the round-to-6 threshold gate is replaced by the
    provably-equivalent double cutoff from ``_round6_ge_cutoff``. Memory:
    Spark's grouped-map materializes each (cell, sub) group in the Python
    worker — bounded by the fitted cell target and the sign-LSH split
    except for the documented degenerate case (identical vectors no
    hyperplane can separate), the same group the rank window already
    buffers on the expression path; candidate and score buffers are
    cap-bounded and row-chunked."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cutoff = _round6_ge_cutoff(float(tau))
    cap = int(cell_cap) if cell_cap is not None else None
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("dup_of_raw", T.LongType()),
        ]
    )
    empty = pd.DataFrame(
        {
            "vec_id": np.array([], dtype=np.int64),
            "dup_of_raw": np.array([], dtype=np.int64),
        }
    )

    def find_dups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order].astype(np.int64)
        X = np.stack(pdf["qvec"].to_numpy()[order]).astype(np.int64)
        n2 = pdf["nrm2"].to_numpy()[order].astype(np.int64)
        c = n if cap is None else min(cap, n)
        cand = X[:c]
        cand_ids = ids[:c]
        sq_cand = np.sqrt(n2[:c].astype(np.float64))
        sq_all = np.sqrt(n2.astype(np.float64))
        # |dot| <= sqrt(n2_a * n2_b) <= max(nrm2): int64-exact GEMM iff
        # that bound stays under 2^62 (the 2x headroom absorbs the
        # accumulator's transient sums).
        exact_i64 = int(n2.max()) < 2**62
        out_ids: list[np.ndarray] = []
        out_dup: list[np.ndarray] = []
        step = max(1, 4_000_000 // max(c, 1))
        for lo in range(0, n, step):
            hi = min(n, lo + step)
            rows = X[lo:hi]
            if exact_i64:
                dot = (rows @ cand.T).astype(np.float64)
            else:
                dot = (rows.astype(object) @ cand.T.astype(object)).astype(
                    np.float64
                )
            y = dot / (sq_cand[None, :] * sq_all[lo:hi, None])
            mask = (y >= cutoff) & (cand_ids[None, :] < ids[lo:hi, None])
            hit = mask.any(axis=1)
            if hit.any():
                first = np.argmax(mask[hit], axis=1)
                out_ids.append(ids[lo:hi][hit])
                out_dup.append(cand_ids[first])
        if not out_ids:
            return empty
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_ids),
                "dup_of_raw": np.concatenate(out_dup),
            }
        )

    return df.groupBy("cluster", "sub").applyInPandas(find_dups, schema)


def _n_valid(spark: SparkSession, sf_dir: str) -> int:
    """Count of valid (nonzero, well-formed) embeddings — the base set of
    every clustering operator; a session value (one BIGINT). The k-means
    and PQ fits publish it from their first aggregate; this count job
    only runs for a consumer that comes before any fit."""
    return session_value(
        spark, sf_dir, "n_valid", lambda: _quantized(spark, sf_dir).count()
    )


def fitted_semdedup_k(
    spark: SparkSession, sf_dir: str, target_cell: int = SEMDEDUP_TARGET_CELL
) -> int:
    """SemDeDup's k ∝ N recipe as code: enough cells to hold the average
    cell at ``target_cell`` vectors, floored at ``SEMDEDUP_K_MIN``."""
    return max(SEMDEDUP_K_MIN, _n_valid(spark, sf_dir) // target_cell)


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    tau: float = SEMDEDUP_COS_THRESHOLD,
    cell_cap: int | None = SEMDEDUP_CELL_CAP,
    sub_bits: int = SEMDEDUP_SUB_BITS,
    target_cell: int = SEMDEDUP_TARGET_CELL,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic deduplication (Abbas et al.
    2023, arXiv:2303.09540 — public method): assign every embedding to a
    k-means cell (the gated integer-exact Lloyd model, memoized per
    session like every fitted model here), then prune within-cell
    semantic near-duplicates — a vector is a duplicate if some LOWER-id
    vector in ITS cell has cosine ≥ τ (the paper's keep-one-per-group
    policy made deterministic via keep-first).

    Scale shape: pairing happens ONLY within a cell — Σ|cell|² work, the
    SemDeDup design point (clustering exists precisely so dedup never
    compares across cells); and with ``k=None`` (the default) k is FITTED
    to the corpus as ``max(SEMDEDUP_K_MIN, n_valid // target_cell)`` from
    a memoized count, holding the average cell — and the per-cell
    quadratic work — constant as the corpus grows (a fixed k=32 grows
    pair work quadratically between sf1 and sf3).
    The DuckDB twin computes the identical k via a scalar subquery over
    the same valid-embedding set, so fitted runs stay hash-exact
    cross-engine; the pair join shuffles on the cell key alone. Numerics:
    cosine over the 1e-3-quantized BIGINT vectors — integer-exact dot and
    norms, then one sqrt/multiply/divide IEEE chain and round-to-6 —
    bit-identical across engines (the pq_adc_topk contract). Degenerate
    all-zero quantizations are excluded explicitly on both engines.

    Mega-cell guard: "k ∝ √N keeps cells bounded" is
    policy, not code — a skewed embedding distribution could put 10% of
    a 100 TB corpus in one cell and go quadratic. ``cell_cap`` makes the
    envelope structural, in two layers that leave every cell of size ≤
    cell_cap EXACT (so gated-fixture hashes are unchanged — the largest
    observed cell is 770 at sf1 vs the 4096 default):

    1. cells larger than the cap are sub-bucketed by a sign-LSH key over
       the first SEMDEDUP_SUB_BITS quantized components (dedup.py's
       random-hyperplane band machinery applied inside the cell), and
       pairing is scoped to (cell, sub-bucket);
    2. within every pairing group, each vector compares only against the
       group's ``cell_cap`` LOWEST-id members — exact for groups ≤ cap
       (rank covers the whole group), and linear |group|·cap work for a
       degenerate sub-bucket (e.g. thousands of identical vectors, which
       a sign split cannot separate — and where keep-lowest semantics
       are still exact, since the group minimum is rank 1).

    A duplicate is missed only when its sole cos ≥ τ partners sit in a
    different sub-bucket of an OVERSIZED cell or beyond the cap-rank —
    the documented recall trade on pathological cells only (SemDeDup
    itself accepts cluster-boundary misses by design). ``cell_cap=None``
    restores the unguarded all-pairs-within-cell form. The DuckDB oracle
    models the cap-unbound regime (identical results at gated tiers);
    the hostile-cell bound is pinned in tests/test_clustering.py.

    Output: every valid vector with its cell, prune flag, and the id of
    the retained representative it duplicates (−1 for survivors).
    """
    if cell_cap is not None and cell_cap < 1:
        raise ValueError("cell_cap must be >= 1 (or None to disable)")
    if k is None:
        k = fitted_semdedup_k(spark, sf_dir, target_cell)
    assigned, _ = _gate_kmeans(spark, sf_dir, k=k)
    nrm2 = F.aggregate(
        F.transform("qvec", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # persist: the argmin-over-k assignment expression is the expensive
    # map (k×d literal distance structs per row), and this frame feeds
    # THREE plan branches (both sides of the pair join + the final left
    # join) — without materialization each branch re-evaluates it.
    # SemDeDup itself pipelines cluster-then-dedup as separate jobs with
    # the assignment materialized between them; this is the in-session
    # analog, same contract as the persisted shingle frame in dedup.py.
    # Bounded: (id, cluster, qvec, nrm2) per valid vector.
    v = track_persisted(
        assigned.select("vec_id", "cluster", "qvec")
        .withColumn("nrm2", nrm2)
        .filter(F.col("nrm2") > 0)
        .persist()
    )
    if cell_cap is None:
        paired = v.withColumn("sub", F.lit(-1))
    else:
        # layer 1: cells above the cap get a sign-LSH sub-bucket key
        # (axis-aligned hyperplanes over the quantized components — the
        # in-cell analog of dedup_embedding_cosine's band key); cells
        # within the cap keep the constant key, i.e. exact all-pairs.
        sizes = v.groupBy("cluster").agg(F.count("*").alias("_cell_n"))
        sign_key = sum(
            (
                F.when(
                    F.try_element_at("qvec", F.lit(i + 1)) >= 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i in range(sub_bits)
            ),
            F.lit(0),
        )
        paired = (
            v.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "sub",
                F.when(F.col("_cell_n") > cell_cap, sign_key).otherwise(
                    F.lit(-1)
                ),
            )
            .drop("_cell_n")
        )
    # Route the within-group pair scoring by work volume: above
    # SEMDEDUP_GEMM_MIN_WORK the grouped Arrow GEMM kernel computes the
    # dups aggregate in one grouped-map pass (results identical — pinned
    # by the forced-on/off differential in tests/test_clustering.py);
    # below it the expression plan wins (no Python worker round-trip,
    # zero Python nodes — every gated tier).
    avg_cell = max(1, _n_valid(spark, sf_dir) // max(k, 1))
    partners = avg_cell if cell_cap is None else min(avg_cell, cell_cap)
    if _n_valid(spark, sf_dir) * partners >= SEMDEDUP_GEMM_MIN_WORK:
        dups = _semdedup_pair_kernel(
            paired.select("cluster", "sub", "vec_id", "qvec", "nrm2"),
            tau,
            cell_cap,
        )
    else:
        if cell_cap is None:
            a_pool = paired
        else:
            # layer 2: the comparison pool per (cell, sub) group is its
            # cell_cap lowest ids — a rank window (sort, never a pair
            # expansion), bounding join work at |group|·cap even when a
            # degenerate sub-bucket stays large.
            rn = F.row_number().over(
                Window.partitionBy("cluster", "sub").orderBy(
                    F.col("vec_id").asc()
                )
            )
            a_pool = (
                paired.withColumn("_rn", rn)
                .filter(F.col("_rn") <= cell_cap)
                .drop("_rn")
            )
        a = a_pool.select(
            F.col("vec_id").alias("a_id"),
            F.col("cluster").alias("a_cell"),
            F.col("sub").alias("a_sub"),
            F.col("qvec").alias("a_q"),
            F.col("nrm2").alias("a_n"),
        )
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
            paired.join(
                a,
                (F.col("a_cell") == F.col("cluster"))
                & (F.col("a_sub") == F.col("sub"))
                & (F.col("a_id") < F.col("vec_id")),
            )
            .withColumn("cos", cos)
            .filter(F.col("cos") >= tau)
            .groupBy("vec_id")
            .agg(F.min("a_id").alias("dup_of_raw"))
        )
    return v.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce("dup_of_raw", F.lit(-1)).alias("dup_of"),
        F.col("dup_of_raw").isNotNull().alias("is_dup"),
    )


def _semdedup_k_sql(k: int | None, target_cell: int) -> str:
    """DuckDB expression for the cell count: the explicit k, or the
    fitted-k scalar subquery — the EXACT twin of fitted_semdedup_k()
    (same valid-embedding base set, same floor, same integer floor
    division)."""
    if k is not None:
        return str(int(k))
    return (
        f"(SELECT GREATEST({SEMDEDUP_K_MIN}, COUNT(*) // {int(target_cell)})"
        " FROM emb)"
    )


def oracle_semantic_dedup(
    k: int | None = None,
    n_iter: int = KMEANS_GATE_ITERS,
    scale: int = QUANT_SCALE,
    tau: float = SEMDEDUP_COS_THRESHOLD,
    target_cell: int = SEMDEDUP_TARGET_CELL,
) -> str:
    k_sql = _semdedup_k_sql(k, target_cell)
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k_sql} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(_oracle_round(r))
    parts.append(
        f""",
v AS (
  SELECT e.vec_id, a.cluster, e.qvec,
         list_reduce(list_transform(e.qvec, x -> x * x),
                     (acc, y) -> acc + y) AS nrm2
  FROM emb e JOIN a{n_iter} a USING (vec_id)
  WHERE list_reduce(list_transform(e.qvec, x -> x * x),
                    (acc, y) -> acc + y) > 0
),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of_raw
  FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(CAST(list_reduce(list_transform(list_zip(a.qvec, b.qvec),
                  p -> p[1] * p[2]), (acc, y) -> acc + y) AS DOUBLE)
              / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))),
              6) >= {tau}
  GROUP BY b.vec_id
)
SELECT v.vec_id, v.cluster,
       COALESCE(d.dup_of_raw, -1) AS dup_of,
       d.dup_of_raw IS NOT NULL AS is_dup
FROM v LEFT JOIN dups d USING (vec_id)
ORDER BY v.vec_id"""
    )
    return "".join(parts)


# Fitted-k gate knob: the production target (640) resolves to the k=32
# floor at every shipped tier ≤ sf1 (n // 640 ≤ 31), so the default
# semantic_dedup row can never show the fit BINDING. target_cell=10
# makes it bind hard on the sf0.01 fixture (500 valid vectors → k=50,
# ~10-vector cells), so the whole count → fitted-k → Lloyd → pair
# dataflow gets hash-level cross-engine verification with a k the twin
# must also DERIVE (scalar subquery), not just echo. Excluded from the
# sf1 replica tier only: there the gate knob fits k=2000 and both
# engines' Lloyd replicas go quadratic by construction (the
# ngram_jaccard_pairs precedent); the production target is the one that
# scales, and it is separately green at every tier.
SEMDEDUP_GATE_TARGET_CELL = 10


def semantic_dedup_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine attestation of ``semantic_dedup``'s fitted-k path
    (round-9 verdict item 1, the ``semantic_dedup_capped`` precedent):
    runs the SAME production function with a gate target small enough
    that the fit binds on the fixture (k > the 32 floor), against a
    DuckDB twin that computes the identical k from the identical count
    via a scalar subquery."""
    return semantic_dedup(
        spark, sf_dir, target_cell=SEMDEDUP_GATE_TARGET_CELL
    )


# Gate-variant knobs, chosen so BOTH guard layers demonstrably fire on
# the sf0.01 fixture (measured): cap 4 < the ~15-vector cells, so every
# ordinary cell sub-buckets; 2 sign bits keep buckets coarse (≈3.8
# vectors average, 50 groups still above the cap → the lowest-id
# rank-cap also engages) while retaining 44 within-bucket duplicates —
# a run where the guard both reshapes the pairing AND still finds dups.
SEMDEDUP_GATE_CAP = 4
SEMDEDUP_GATE_SUB_BITS = 2


def semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine attestation of ``semantic_dedup``'s mega-cell guard
    (ADVICE r7): the default-cap gate row only ever exercises the regime
    where the guard does NOT fire (every fixture cell is far below 4096),
    leaving the sub-bucket + rank-cap path pinned solely by the hostile
    pytest. This variant runs the SAME production function with gate
    knobs small enough that most fixture cells are oversized, against a
    DuckDB oracle that encodes the identical sign-LSH sub-bucket and
    lowest-id rank-cap semantics, so the guarded path gets the same
    hash-level cross-engine verification as the exact path.
    """
    return semantic_dedup(
        spark,
        sf_dir,
        cell_cap=SEMDEDUP_GATE_CAP,
        sub_bits=SEMDEDUP_GATE_SUB_BITS,
    )


def semantic_dedup_gate_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 gate FOLD of ``semantic_dedup_fitted`` +
    ``semantic_dedup_capped`` (executing the capacity plan the round-10
    rotation comment pre-proved via
    ``tests/test_clustering.py::test_semdedup_combined_gate_fold_is_feasible``):
    ONE registered query that runs the production ``semantic_dedup`` with
    the fitted gate target (k binds above the 32 floor at sf0.01, k=50)
    AND both mega-cell guard knobs (cap 4 forces sub-bucketing; 2 sign
    bits engage the lowest-id rank-cap), against a single combined twin
    that derives the same k via a scalar subquery and encodes the same
    sign-LSH sub-bucket + rank-cap semantics. Covers everything the two
    retired gate rows covered in one head slot."""
    return semantic_dedup(
        spark,
        sf_dir,
        cell_cap=SEMDEDUP_GATE_CAP,
        sub_bits=SEMDEDUP_GATE_SUB_BITS,
        target_cell=SEMDEDUP_GATE_TARGET_CELL,
    )


def oracle_semantic_dedup_capped(
    k: int | None = None,
    n_iter: int = KMEANS_GATE_ITERS,
    scale: int = QUANT_SCALE,
    tau: float = SEMDEDUP_COS_THRESHOLD,
    cap: int = SEMDEDUP_GATE_CAP,
    sub_bits: int = SEMDEDUP_GATE_SUB_BITS,
    target_cell: int = SEMDEDUP_TARGET_CELL,
) -> str:
    k_sql = _semdedup_k_sql(k, target_cell)
    sign_key = " + ".join(
        f"CASE WHEN qvec[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(sub_bits)
    )
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k_sql} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(_oracle_round(r))
    parts.append(
        f""",
v AS (
  SELECT e.vec_id, a.cluster, e.qvec,
         list_reduce(list_transform(e.qvec, x -> x * x),
                     (acc, y) -> acc + y) AS nrm2
  FROM emb e JOIN a{n_iter} a USING (vec_id)
  WHERE list_reduce(list_transform(e.qvec, x -> x * x),
                    (acc, y) -> acc + y) > 0
),
sizes AS (SELECT cluster, COUNT(*) AS cell_n FROM v GROUP BY cluster),
pv AS (
  SELECT v.*,
         CASE WHEN s.cell_n > {cap} THEN ({sign_key}) ELSE -1 END AS sub
  FROM v JOIN sizes s USING (cluster)
),
pool AS (
  SELECT vec_id, cluster, sub, qvec, nrm2 FROM (
    SELECT pv.*, ROW_NUMBER() OVER (
      PARTITION BY cluster, sub ORDER BY vec_id) AS rn
    FROM pv
  ) WHERE rn <= {cap}
),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of_raw
  FROM pool a JOIN pv b
    ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE ROUND(CAST(list_reduce(list_transform(list_zip(a.qvec, b.qvec),
                  p -> p[1] * p[2]), (acc, y) -> acc + y) AS DOUBLE)
              / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))),
              6) >= {tau}
  GROUP BY b.vec_id
)
SELECT v.vec_id, v.cluster,
       COALESCE(d.dup_of_raw, -1) AS dup_of,
       d.dup_of_raw IS NOT NULL AS is_dup
FROM v LEFT JOIN dups d USING (vec_id)
ORDER BY v.vec_id"""
    )
    return "".join(parts)


CB_SALT = "cb42:"
CB_PER_CLUSTER = 30
CB_SALT_BUCKETS = 16


def cluster_balanced_sample(
    spark: SparkSession,
    sf_dir: str,
    per_cluster: int = CB_PER_CLUSTER,
    k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
) -> DataFrame:
    """Cluster-balanced subset selection: exactly ``min(per_cluster, n_c)``
    vectors from every learned k-means cell, by smallest md5 draw — the
    embedding-space diversity sampler curation pipelines run after
    clustering (equal representation per semantic region instead of
    duplicating the raw density; the cluster-quota counterpart of
    ``mixture_temperature_sample``'s language rebalancing).

    Composes the session-memoized integer-exact Lloyd fit (same fitted
    model as ``kmeans_cells``/``ann_ivf_kmeans``/``semantic_dedup``) and
    reads its labels as ``kmeans_cells`` does, so the marginal cost is
    the two-stage top-k (plus a map-side assignment on the distributed
    route). Scale shape is ``stratified_sample``'s: stage 1 ranks within
    ``(cluster, vec_id % 16)`` salt cells, stage 2 ranks the surviving
    ≤ 16·per_cluster rows per cluster — no task ever holds a full
    cluster, so a hot cell cannot straggle the stage.
    """
    from .sampling import salted_two_stage_topk

    drawn = _gate_labels(spark, sf_dir, k, n_iter).select(
        "vec_id",
        "cluster",
        F.md5(
            F.concat(F.lit(CB_SALT), F.col("vec_id").cast("string"))
        ).alias("draw_key"),
    )
    return salted_two_stage_topk(
        drawn,
        ["cluster"],
        F.lit(per_cluster),
        [F.col("draw_key").asc(), F.col("vec_id").asc()],
        salt_on=F.col("vec_id"),
        n_salts=CB_SALT_BUCKETS,
    ).select("vec_id", "cluster", "draw_key", "sample_rank")


def oracle_cluster_balanced_sample(
    per_cluster: int = CB_PER_CLUSTER,
    k: int = KMEANS_GATE_K,
    n_iter: int = KMEANS_GATE_ITERS,
    scale: int = QUANT_SCALE,
) -> str:
    parts = [
        f"""WITH emb AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
  FROM embeddings WHERE {_EMB_VALID}
),
qx AS (
  SELECT vec_id, generate_subscripts(qvec, 1) AS pos, unnest(qvec) AS x
  FROM emb
),
a0 AS (SELECT vec_id, CAST(vec_id % {k} AS INTEGER) AS cluster FROM emb)"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(_oracle_round(r))
    parts.append(
        f""",
drawn AS (
  SELECT vec_id, cluster,
         md5('{CB_SALT}' || CAST(vec_id AS VARCHAR)) AS draw_key
  FROM a{n_iter}
),
ranked AS (
  SELECT vec_id, cluster, draw_key,
         ROW_NUMBER() OVER (
           PARTITION BY cluster ORDER BY draw_key, vec_id) AS sample_rank
  FROM drawn
)
SELECT vec_id, cluster, draw_key, sample_rank
FROM ranked WHERE sample_rank <= {per_cluster}
ORDER BY cluster, sample_rank"""
    )
    return "".join(parts)


QUERIES = {
    "kmeans_cells": kmeans_cells_query,
    "ann_ivf_kmeans": ann_ivf_kmeans,
    "pq_codes": pq_codes_query,
    "pq_adc_topk": pq_adc_topk,
    "ivf_pq_topk": ivf_pq_topk,
    "semantic_dedup": semantic_dedup,
    # Round-11 fold: semantic_dedup_fitted + semantic_dedup_capped
    # retired into the ONE combined gate row (capacity plan pre-proved in
    # round 10); both retired rows were driver-green in CORRECTNESS_r10
    # and the combined run is pinned hash-exact by
    # test_semdedup_combined_gate_fold_is_feasible.
    "semantic_dedup_gate_combined": semantic_dedup_gate_combined,
    "cluster_balanced_sample": cluster_balanced_sample,
}

ORACLES = {
    "kmeans_cells": oracle_kmeans_cells(),
    "ann_ivf_kmeans": oracle_ann_ivf_kmeans(),
    "pq_codes": oracle_pq_codes(),
    "pq_adc_topk": oracle_pq_adc_topk(),
    "ivf_pq_topk": oracle_ivf_pq_topk(),
    "semantic_dedup": oracle_semantic_dedup(),
    "semantic_dedup_gate_combined": oracle_semantic_dedup_capped(
        k=None, target_cell=SEMDEDUP_GATE_TARGET_CELL
    ),
    "cluster_balanced_sample": oracle_cluster_balanced_sample(),
}
