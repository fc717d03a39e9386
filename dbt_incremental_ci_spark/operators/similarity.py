"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN works on real clusters:

- **Brute-force cosine top-k** — the exactness baseline: cross-join
  queries × corpus with the dot product as a left-to-right ``aggregate``
  fold (deterministic summation order → bit-identical to the DuckDB
  oracle), then per-query ``row_number`` top-k. O(|Q|·|C|·d) — fine for
  small |Q|, the verification path at any scale.
- **LSH-bucketed ANN** (random hyperplanes) — the 100 TB path: each
  vector hashes to a ``n_planes``-bit bucket; queries probe only their
  bucket (optionally multi-probe neighbors). Candidate set shrinks
  ~2^n_planes-fold; one shuffle on the bucket id. Hyperplanes are
  deterministic (hash-derived), not RNG.

No UDFs: the dot product stays in Catalyst's ``aggregate``/``zip_with``
higher-order functions. For very high dims or huge |Q| a Pandas-UDF
matmul (numpy BLAS) would win — noted as the escape hatch, not needed
at this scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# NOTE (measured dead end, kept as a warning): statically unrolling
# the dot product into a[0]*b[0]+…+a[63]*b[63] getItem chains — alone
# or with literal plane coefficients — LOOKS like a codegen win but
# measured 2.5-4× SLOWER end-to-end at sf1 (18 s → 45-66 s): the
# 64-to-2300-node expression trees blow past the whole-stage-codegen
# method budget, fall back to interpreted evaluation of per-node
# virtual calls, and pay huge janino compile times per action. The
# higher-order fold keeps the tree O(1) nodes and is the right form.


def dot_arrow() -> "Column":
    """Arrow-vectorized pairwise dot product UDF — the VERIFY hot path.

    The Catalyst ``aggregate(zip_with(...))`` fold is evaluated
    interpreted, ~100 ns per element: at 2M candidate pairs × 64 dims
    that is 13 s of the 17 s sf1 wall for the banded near-dup verify.
    A batched numpy ``einsum`` does the same row-wise dots in
    microseconds per Arrow batch — the same "vectorize the measured
    Python-adjacent hot loop" call already made for
    ``minhash_signatures_pandas``.

    Determinism: the per-row reduction shape depends only on the
    (fixed) vector length, never on batch size or partitioning, so a
    given pair always yields the same double; downstream
    ``round(·, 6)`` absorbs the last-ulp association difference vs the
    left-to-right fold (validated value-identical against the DuckDB
    oracles at sf0.001/0.01/0.1).
    """

    @F.pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = np.vstack(a.to_numpy())
        bv = np.vstack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", av, bv))

    return _dot


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    n = norm(a) * norm(b)
    return F.when(n > 0, dot(a, b) / n).otherwise(0.0)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    max_pairs: int | None = 10_000_000_000,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches
    (same id) excluded. Ties break by neighbor_id (deterministic).
    The corpus side is the big side; the query side is broadcast.

    This is O(|corpus| x |queries| x dim) BY CONSTRUCTION — the
    exactness baseline, not the scale path. When the estimated pair
    count exceeds ``max_pairs`` it raises rather than silently planning
    a quadratic BroadcastNestedLoopJoin over a 100 TB corpus; use
    :func:`lsh_topk` or :func:`ivf_topk` for large corpora, or pass
    ``max_pairs=None`` to explicitly accept the quadratic. The check
    costs two count jobs (parquet counts are metadata-only; negligible
    next to the cross product it guards).

    Eager contract: with ``max_pairs`` set, those two counts
    (``emb.count()``, ``queries.count()``) run while the DataFrame is
    being built, before this function returns, so plan-only callers
    pay them and an oversized input raises here. ``max_pairs=None``
    keeps the function fully lazy.
    """
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    if max_pairs is not None:
        pairs = emb.count() * queries.count()
        if pairs > max_pairs:
            raise ValueError(
                f"brute_force_topk would score ~{pairs:,} corpus x query pairs "
                f"(> max_pairs={max_pairs:,}). Use lsh_topk or ivf_topk for "
                "corpora this large, or pass max_pairs=None to accept the "
                "quadratic plan."
            )
    q = queries.select(F.col(qid).alias("query_id"), F.col(qvec).alias("__qv"))
    # corpus side carries the O(|Q|·d) fold per row — spread it
    c = ensure_min_parallelism(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane: int, scale_seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component d of
    plane p is a hash of (seed, p, d) mapped to [-1, 1). Same values are
    reproducible anywhere (no RNG state)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.sha256(f"{scale_seed}:{plane}:{d}".encode()).digest()
        v = int.from_bytes(h[:8], "big") / 2**63 - 1.0  # [-1, 1)
        out.append(v)
    return out


def hyperplane_bucket(
    vec_col: Column | str, dim: int, n_planes: int = 8, seed: int = 42
) -> Column:
    """Sign-random-projection LSH bucket id (0 .. 2^n_planes-1)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p, seed)])
        d = dot(v, plane)
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(0)
    return bucket


def ivf_centroid(dim: int, cid: int, seed: int = 7) -> list[float]:
    """Deterministic coarse-quantizer centroid (hash-derived like
    :func:`_hyperplane`, distinct seed namespace). A trained quantizer
    (k-means over a sample) is an offline job in real IVF deployments;
    the engine consumes whatever centroid set it is given — these
    hash-derived ones keep every result value-reproducible. For real
    (clustered) embeddings, :func:`train_ivf_centroids` fits the
    quantizer to the data and recovers the recall/latency balance that
    fixed centroids lose on skewed corpora."""
    return _hyperplane(dim, cid, seed * 1000003)


def train_ivf_centroids(
    emb: DataFrame,
    dim: int,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    sample_cap: int = 100_000,
    iters: int = 10,
    seed: int = 7,
) -> list[list[float]]:
    """Fit IVF coarse-quantizer centroids with k-means over a bounded,
    deterministic sample of the corpus.

    The 100 TB shape: the *sample* is bounded (``sample_cap`` rows via
    a distributed hash-ordered TakeOrderedAndProject — never a full
    sort, never the corpus on the driver), k-means runs driver-side on
    numpy over that sample only, and the resulting ``n_centroids × dim``
    floats are broadcast back into the plan as literals — exactly how
    FAISS-style deployments train a quantizer offline on a sample and
    ship it to the scan. Determinism: the sample is ordered by
    ``xxhash64(vector)`` (no RNG, no partition-order dependence) and
    k-means++ seeding uses a fixed-seed generator, so the same corpus
    always yields the same centroids.

    Returns a plain ``list[list[float]]`` accepted by the ``centroids=``
    parameter of :func:`ivf_assign` / :func:`ivf_probe_lists` /
    :func:`ivf_topk`.
    """
    import numpy as np

    rows = (
        emb.select(F.col(vec_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .withColumn("__h", F.xxhash64(F.col("__v").cast("string")))
        .orderBy("__h")
        .limit(sample_cap)
        .select("__v")
        # driver-bound: <= sample_cap vectors — IVF centroid training sample
        .collect()
    )
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    if X.shape[0] < n_centroids:
        raise ValueError(
            f"need at least n_centroids={n_centroids} sample vectors, got {X.shape[0]}"
        )
    rng = np.random.default_rng(seed)

    # k-means++ seeding: first center uniform, each next center drawn
    # proportional to squared distance from the nearest chosen center.
    centers = np.empty((n_centroids, dim), dtype=np.float64)
    centers[0] = X[rng.integers(X.shape[0])]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, n_centroids):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(X), 1.0 / len(X))
        centers[j] = X[rng.choice(X.shape[0], p=probs)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))

    # Lloyd iterations; ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 keeps it
    # O(n*k*d) without materializing an n×k×d broadcast tensor.
    xsq = (X**2).sum(axis=1, keepdims=True)
    for _ in range(iters):
        dists = xsq - 2.0 * (X @ centers.T) + (centers**2).sum(axis=1)
        assign = dists.argmin(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if members.shape[0]:
                centers[j] = members.mean(axis=0)
            # empty cell: keep the old center (deterministic, no resample)
    return [[float(x) for x in row] for row in centers]


def _centroid_dists(
    v: Column,
    dim: int,
    n_centroids: int,
    seed: int,
    centroids: list[list[float]] | None = None,
) -> Column:
    """Array of squared-L2 distances to each centroid, index = cid.
    Rounded to 9 decimals so argmin/probe ordering is immune to
    engine-level float summation differences (gaps between distinct
    centroid distances are ~O(1); 1e-9 is far below them).
    ``centroids`` (e.g. from :func:`train_ivf_centroids`) overrides the
    hash-derived defaults."""
    dists = []
    for cid in range(n_centroids):
        cvals = centroids[cid] if centroids is not None else ivf_centroid(dim, cid, seed)
        cvec = F.array(*[F.lit(x) for x in cvals])
        dists.append(
            F.round(
                F.aggregate(
                    F.zip_with(
                        v,
                        cvec,
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                9,
            )
        )
    return F.array(*dists)


def ivf_assign(
    vec_col: Column | str,
    dim: int,
    n_centroids: int = 8,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> Column:
    """Nearest-centroid (Voronoi cell / inverted-list) id for a vector.
    Ties break to the lowest cid (``array_position`` of the min)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    d = _centroid_dists(v, dim, n_centroids, seed, centroids)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def ivf_probe_lists(
    vec_col: Column | str,
    dim: int,
    n_centroids: int = 8,
    nprobe: int = 2,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> Column:
    """The ``nprobe`` nearest centroid ids for a query vector —
    IVF's recall knob. Sorted (distance, cid) structs keep tie-breaks
    deterministic and SQL-reproducible."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    d = _centroid_dists(v, dim, n_centroids, seed, centroids)
    ranked = F.array_sort(
        F.transform(
            d,
            lambda dist, i: F.struct(dist.alias("d"), i.cast("int").alias("c")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["c"])


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: the corpus is bucketed into inverted lists by
    nearest centroid (one shuffle key); each query scans only its
    ``nprobe`` nearest lists. Complements :func:`lsh_topk` — IVF
    partitions space into Voronoi cells with a tunable probe count,
    the standard billion-scale layout (cf. FAISS IVF-Flat).
    Output schema matches :func:`brute_force_topk`.

    ``centroids`` accepts a trained quantizer from
    :func:`train_ivf_centroids`; on clustered real-world embeddings
    trained centroids keep the inverted lists balanced and the recall
    high where the hash-derived defaults degrade."""
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    c = ensure_min_parallelism(emb.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        ivf_assign(vec_col, dim, n_centroids, seed, centroids).alias("__list"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(
            ivf_probe_lists(vec_col, dim, n_centroids, nprobe, seed, centroids)
        ).alias("__probe"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__list") == F.col("__probe"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: both sides bucketed by hyperplane LSH; each
    query only scans its bucket. Recall rises as n_planes falls.
    Output schema matches :func:`brute_force_topk`."""
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    bucket = hyperplane_bucket(vec_col, dim, n_planes)
    c = ensure_min_parallelism(emb.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        bucket.alias("__bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        bucket.alias("__qbkt"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__bkt") == F.col("__qbkt"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (cf. Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", and the FAISS PQ
# scan). The 100 TB story: each 64-double vector compresses map-side
# to m small codes (here 8 codes of 3 bits — the scan side carries 8
# ints instead of 64 doubles, a 64× payload cut); queries precompute a
# per-subspace lookup table once and score every corpus code with m
# table lookups — no per-pair dot products at all.
# ---------------------------------------------------------------------
def pq_codebooks(
    dim: int, m: int = 8, ks: int = 8, seed: int = 11, scale: float = 0.25
) -> list[list[list[float]]]:
    """Deterministic hash-derived codebooks: m subspaces × ks codewords
    × (dim/m) components, scaled into the data range. Like
    :func:`ivf_centroid`, these keep every result value-reproducible
    with zero training state; :func:`train_pq_codebooks` fits real
    ones from a sample."""
    sub = dim // m
    return [
        [
            [scale * x for x in _hyperplane(sub, j * 1000 + c, seed * 101)]
            for c in range(ks)
        ]
        for j in range(m)
    ]


def _sq_dist_literal(subvec: Column, codeword: list[float]) -> Column:
    """round(||subvec − codeword||², 9) against a literal codeword —
    rounded so argmin ties resolve identically in Spark and DuckDB
    (same convention as the IVF assignment)."""
    lit = F.array(*[F.lit(x) for x in codeword])
    return F.round(
        F.aggregate(
            F.zip_with(
                subvec, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )


def pq_encode(
    vec_col: Column | str,
    dim: int,
    m: int = 8,
    ks: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 11,
) -> Column:
    """array<int> of m codes: per subspace, the index of the nearest
    codeword (first-index tie-break via array_position of the rounded
    min). Pure Column expressions — the encode is a map-only pass."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, m, ks, seed)
    sub = dim // m
    codes = []
    for j in range(m):
        subvec = F.slice(v, j * sub + 1, sub)
        dists = F.array(*[_sq_dist_literal(subvec, cw) for cw in cbs[j]])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def pq_lut(
    vec_col: Column | str,
    dim: int,
    m: int = 8,
    ks: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 11,
) -> Column:
    """array<array<double>> ADC lookup table for a QUERY vector:
    lut[j][c] = round(||q_sub_j − codeword_jc||², 9)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, m, ks, seed)
    sub = dim // m
    return F.array(
        *[
            F.array(*[_sq_dist_literal(F.slice(v, j * sub + 1, sub), cw) for cw in cbs[j]])
            for j in range(m)
        ]
    )


def pq_encode_pandas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ks: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 11,
    out_id: str = "neighbor_id",
) -> DataFrame:
    """(out_id, __code) via a vectorized Arrow-batch backend.

    The expression backend builds m·ks interpreted ``aggregate``/
    ``zip_with`` folds (64 HOF nodes for the default 8×8) — janino
    compiles and then *interprets* them per row, the same pathology
    measured on the minhash shingler (SCALE.md §4). Here each Arrow
    batch computes all subspace distances with numpy.

    Determinism: the per-(row,codeword) accumulation loops over the
    sub-dimensions IN ORDER (acc += d_i²), reproducing the fold's
    left-to-right double summation bit-for-bit, then rounds to 9dp and
    takes the first argmin — identical codes to :func:`pq_encode` and
    to the DuckDB oracle's ``list_sum``/``list_position``.
    """
    import numpy as np

    cbs = np.asarray(
        codebooks if codebooks is not None else pq_codebooks(dim, m, ks, seed),
        dtype=np.float64,
    )  # (m, ks, sub)
    sub = dim // m

    @F.pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)  # (n, dim)
        n = x.shape[0]
        out = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            dj = x[:, j * sub : (j + 1) * sub][:, None, :] - cbs[j][None, :, :]
            acc = np.zeros((n, ks))
            for i in range(sub):  # in-order: matches the fold exactly
                acc = acc + dj[:, :, i] * dj[:, :, i]
            out[:, j] = np.argmin(np.round(acc, 9), axis=1)
        return pd.Series(list(out))

    return df.select(F.col(id_col).alias(out_id), _enc(F.col(vec_col)).alias("__code"))


def pq_lut_pandas(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ks: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 11,
) -> DataFrame:
    """(query_id, __lut) Arrow twin of :func:`pq_lut` — same in-order
    accumulation + 9dp round as :func:`pq_encode_pandas`."""
    import numpy as np

    cbs = np.asarray(
        codebooks if codebooks is not None else pq_codebooks(dim, m, ks, seed),
        dtype=np.float64,
    )
    sub = dim // m

    @F.pandas_udf("array<array<double>>")
    def _lut(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)
        n = x.shape[0]
        luts = np.empty((n, m, ks))
        for j in range(m):
            dj = x[:, j * sub : (j + 1) * sub][:, None, :] - cbs[j][None, :, :]
            acc = np.zeros((n, ks))
            for i in range(sub):
                acc = acc + dj[:, :, i] * dj[:, :, i]
            luts[:, j, :] = np.round(acc, 9)
        return pd.Series([row for row in luts])

    return queries.select(
        F.col(id_col).alias("query_id"), _lut(F.col(vec_col)).alias("__lut")
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 11,
    backend: str = "pandas",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: encode the corpus
    map-side, broadcast the (small) query set with per-query LUTs, and
    score each corpus code with m table lookups — the compressed-
    domain linear scan. Output: (query_id, neighbor_id, approx_dist
    ASC, rank), self-pairs excluded, ties on neighbor_id.

    The scan never touches the original vectors: at 100 TB the code
    table is ~64× smaller than the embedding column, and re-ranking
    survivors against full vectors (fetch-back join on id) is the
    standard second stage when exactness matters."""
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    cbs = codebooks if codebooks is not None else pq_codebooks(dim, m, ks, seed)
    base = ensure_min_parallelism(emb.select(id_col, vec_col))
    if backend == "pandas":
        # default: Arrow-batch encode/LUT (the 8×8 expression form is
        # 64 interpreted HOF folds per row — measured ~6 s at sf0.001
        # from compile+interpret overhead alone; the Arrow path is the
        # same determinism contract at numpy speed)
        c = pq_encode_pandas(base, id_col, vec_col, dim, m, ks, cbs, seed)
        q = pq_lut_pandas(queries, id_col, vec_col, dim, m, ks, cbs, seed)
    else:
        c = base.select(
            F.col(id_col).alias("neighbor_id"),
            pq_encode(vec_col, dim, m, ks, cbs).alias("__code"),
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            pq_lut(vec_col, dim, m, ks, cbs).alias("__lut"),
        )
    approx = F.element_at(F.element_at("__lut", 1), F.element_at("__code", 1) + 1)
    for j in range(1, m):
        approx = approx + F.element_at(
            F.element_at("__lut", j + 1), F.element_at("__code", j + 1) + 1
        )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(approx, 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def train_pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 8,
    vec_col: str = "embedding",
    sample_cap: int = 100_000,
    iters: int = 10,
    seed: int = 11,
) -> list[list[list[float]]]:
    """Fit PQ codebooks with per-subspace k-means over a bounded,
    deterministic sample (same 100 TB shape as
    :func:`train_ivf_centroids`: hash-ordered TakeOrderedAndProject
    sample, driver-side numpy on the sample only, literals shipped
    back into the plan)."""
    import numpy as np

    rows = (
        emb.select(F.col(vec_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .withColumn("__h", F.xxhash64(F.col("__v").cast("string")))
        .orderBy("__h")
        .limit(sample_cap)
        .select("__v")
        # driver-bound: <= sample_cap vectors — PQ codebook training sample
        .collect()
    )
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    if X.shape[0] < ks:
        raise ValueError(f"need at least ks={ks} sample vectors, got {X.shape[0]}")
    sub = dim // m
    out: list[list[list[float]]] = []
    rng = np.random.default_rng(seed)
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        centers = S[rng.choice(S.shape[0], size=ks, replace=False)].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for cidx in range(ks):
                mask = assign == cidx
                if mask.any():
                    centers[cidx] = S[mask].mean(axis=0)
        out.append([[float(x) for x in row] for row in centers])
    return out


def scalar_quantize_8bit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension 8-bit scalar quantization (the SQ8 storage format
    every vector store ships before PQ): each dimension d maps
    linearly from its global [min_d, max_d] onto {0..255}; the
    dequantized reconstruction and its per-vector MSE come back in the
    same pass. 4x smaller vectors, ~1-2% recall cost — the standard
    first compression step for 100 TB embedding corpora (PQ-ADC,
    `pq_adc_topk`, is the aggressive second step).

    Output: ``(id, codes array<int>, mse double)`` with mse the mean
    squared reconstruction error (per-term squares rounded to 12 dp
    and summed in DECIMAL(28,12), so the mean is order-independent).

    Scale shape: one posexplode → per-dimension min/max hash aggregate
    (DIM rows — vocabulary-class, broadcast back), then a map-only
    quantize/dequantize/error pass; constant dims (max == min)
    quantize to 0 and reconstruct exactly. No driver-side
    materialization anywhere — the per-dim bounds stay in the plan as
    a broadcast join.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("__id"), v.alias("__v"))
    dims = (
        base.select(F.posexplode("__v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("__dims")
        )
        .select(
            F.transform("__dims", lambda s: s["mn"]).alias("__mns"),
            F.transform("__dims", lambda s: s["mx"]).alias("__mxs"),
        )
    )
    with_bounds = base.crossJoin(F.broadcast(dims))
    idx = F.sequence(F.lit(1), F.size("__v"))
    codes = F.transform(
        idx,
        lambda i: F.when(
            F.element_at("__mxs", i) > F.element_at("__mns", i),
            F.round(
                (F.element_at("__v", i) - F.element_at("__mns", i))
                * 255.0
                / (F.element_at("__mxs", i) - F.element_at("__mns", i)),
                0,
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    coded = with_bounds.withColumn("codes", codes)
    deq = F.transform(
        F.sequence(F.lit(1), F.size("codes")),
        lambda i: F.when(
            F.element_at("__mxs", i) > F.element_at("__mns", i),
            F.element_at("__mns", i)
            + F.element_at("codes", i)
            * (F.element_at("__mxs", i) - F.element_at("__mns", i))
            / 255.0,
        ).otherwise(F.element_at("__mns", i)),
    )
    sq_terms = F.zip_with(
        F.col("__v"),
        deq,
        lambda x, y: F.round((x - y) * (x - y), 12).cast("decimal(28,12)"),
    )
    mse = (
        F.aggregate(
            sq_terms,
            F.lit(0).cast("decimal(28,12)"),
            lambda acc, x: (acc + x).cast("decimal(28,12)"),
        ).cast("double")
        / F.size("__v")
    )
    return coded.select(
        F.col("__id").alias(id_col),
        "codes",
        F.round(mse, 9).alias("mse"),
    )


def jl_sign_vector(dim: int, out_dim: int, seed: int = 1234567) -> list[float]:
    """Deterministic Achlioptas ±1 row for Johnson-Lindenstrauss
    random projection (Achlioptas 2001: database-friendly random
    projections — ±1 entries preserve pairwise distances like
    Gaussian ones). Same LCG-from-seed recipe as
    :func:`_hyperplane` so the Spark plan and the DuckDB oracle can
    embed the IDENTICAL literal matrix."""
    x = (seed * 1_000_003 + out_dim * 7919) % 2147483647
    row: list[float] = []
    for _ in range(dim):
        x = (1103515245 * x + 12345) % 2147483648
        row.append(1.0 if (x >> 16) & 1 else -1.0)
    return row


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 8,
    seed: int = 1234567,
) -> DataFrame:
    """Project ``vec_col`` (array<float/double>, length ``dim``) to
    ``out_dim`` dimensions with the ±1 JL matrix — appended as
    ``proj`` (array<double>, the 1/sqrt(out_dim) scale folded in).

    Map-only: one deterministic fold per output dimension over the
    input array (O(1) expression nodes per dim — see the codegen
    warning on :func:`dot`); no shuffle, no UDF. The classic scale
    move for 100 TB ANN: cut vector bytes ~dim/out_dim before any
    pairwise work.
    """
    import math

    scale = 1.0 / math.sqrt(out_dim)
    comps = [
        (
            dot(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in jl_sign_vector(dim, j, seed)]),
            )
            * F.lit(scale)
        ).alias(f"__jl{j}")
        for j in range(out_dim)
    ]
    staged = df.select("*", *comps)
    return staged.select(
        *df.columns,
        F.array(*[F.col(f"__jl{j}") for j in range(out_dim)]).alias("proj"),
    )
