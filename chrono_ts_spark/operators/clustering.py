"""Distributed Euclidean k-means (Lloyd's) over an embedding column,
and ``lloyd_fit``, the one distributed Lloyd trainer behind it,
similarity.ivf_fit_centroids and pq.pq_fit.

The clustering primitive of the LLM-data-pipeline surface (SemDeDup-
style semantic dedup, corpus stratification, IVF coarse quantizers all
sit on it). The trainers differ only in their init and their
assignment rule; ``lloyd_fit`` owns everything else:

- init (kmeans_fit) = the first k vectors by id (deterministic,
  layout-independent; a seeded k-means++ is the documented quality
  upgrade — determinism would survive it because the seed fixes the
  probe sequence); IVF and PQ use ``_stride_init``;
- assignment (kmeans_fit) = argmin squared L2 with ties broken to
  the lowest centroid id (BLAS matmul per Arrow batch, vectors never
  leave executors); IVF takes the cosine argmax, PQ ``_encode_np``;
- update = mapInPandas partial sums: per Arrow batch, one int64
  matrix of 1e-9 HALF-UP fixed-point coordinate sums per cell
  (addition-order-immune, so centroids are bit-deterministic under any
  partitioning); only cells x dims x batches tiny rows shuffle, and
  only the merged cells x dims matrix reaches the driver (the
  sanctioned bounded collect);
- empty clusters keep their previous centroid (no resample — RNG-free).

Scale: each Lloyd round shuffles O(k x dims x batches) integers —
independent of row count. (The first cut exploded (cluster, dim, val)
triples, a dims x row amplification; replacing it with these partials
took the 500k x 64 fit from 187 s to 15 s — BASELINE.md.)
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def assign_euclid_udf(centroids: np.ndarray):
    """embedding -> nearest centroid id by squared L2 (ties: lowest id).

    Public seam (r16, VERDICT r15 item 8): together with ceil_root /
    tree_width / local_tree_assign this is the assignment contract the
    fused SemDeDup pass (queries/vectors.py emb_semdedup) builds on —
    renamed from underscore-private so cross-module consumers depend on
    a declared interface; the fused/two-stage bit-identity pin
    (tests/test_r15_semdedup_fused.py) is the contract test."""
    c = centroids.astype(np.float64)
    c_sq = (c**2).sum(axis=1)

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.map(lambda v: np.asarray(v, dtype=np.float64)))
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2.
        d = -2.0 * (mat @ c.T) + c_sq
        # np.argmin returns the FIRST minimum -> lowest centroid id.
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def _sqdist_udf(centroids: np.ndarray):
    """(embedding, cluster) -> exact squared L2 to the assigned centroid."""
    c = centroids.astype(np.float64)

    @pandas_udf("double")
    def sqdist(emb: pd.Series, cluster: pd.Series) -> pd.Series:
        mat = np.vstack(emb.map(lambda v: np.asarray(v, dtype=np.float64)))
        diff = mat - c[cluster.to_numpy()]
        return pd.Series((diff**2).sum(axis=1))

    return sqdist


def _head_by_id(df: DataFrame, k: int, id_col: str, vec_col: str) -> np.ndarray:
    """The first k vectors of ``df`` by id as an (n <= k, dims) matrix."""
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    return np.array([list(r[0]) for r in rows], dtype=np.float64)


def _stride_init(df: DataFrame, k: int, id_col: str, vec_col: str) -> np.ndarray:
    """The IVF/PQ init: the first k vectors by id among every
    (n // k)-th id. Sparse or non-contiguous id spaces can leave the
    modulo probe short; then the first k rows by id (deterministic,
    layout-independent). May return fewer than k rows on a small
    corpus — each caller applies its own rule."""
    stride = max(1, df.count() // k)
    init = _head_by_id(df.filter(F.col(id_col) % stride == 0), k, id_col, vec_col)
    return init if len(init) >= k else _head_by_id(df, k, id_col, vec_col)


def kmeans_fit(
    df: DataFrame,
    dims: int,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd's iterations; returns the (k, dims) centroid
    matrix. See module docstring for the determinism contract."""
    init = _head_by_id(df, k, id_col, vec_col)
    if len(init) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")

    def euclid(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
        c = cents[0]
        return np.argmin(-2.0 * (mat @ c.T) + (c**2).sum(axis=1), axis=1)[:, None]

    return lloyd_fit(df, init[None], euclid, iters, vec_col)[0]


def _guard_int64_partials(qf: np.ndarray) -> np.ndarray:
    """Bound a float fixed-point batch and cast it to int64, failing
    loudly if either the cast or the partial sums could wrap.

    The int64 per-batch accumulators of ``lloyd_fit`` rely on the
    session's Arrow batch size and |coord| <= ~1e3 for overflow
    headroom (ADVICE r14): a caller raising
    spark.sql.execution.arrow.maxRecordsPerBatch or feeding
    large-magnitude embeddings would wrap silently and corrupt centroids
    with no error. Worst case one cell receives every row of the batch,
    so rows x max|q| bounds any cell sum; keep it under 2^62.

    Takes the FLOAT array (rounded 1e9 fixed-point values, pre-cast) and
    returns it cast to int64 (ADVICE r15): checking after
    ``astype(np.int64)`` misses per-element wrap — |coord|*1e9 >= 2^63
    (coords beyond ~9.2e9) wraps in the cast itself, and np.abs of a
    wrapped INT64_MIN stays negative, so a post-cast ``.max(initial=0)``
    can look small while the data is already corrupt. One float64 bound
    before the cast catches both element wrap and accumulation wrap.
    """
    m = float(np.abs(qf).max(initial=0.0))
    if m and (m >= float(1 << 62) or len(qf) > float(1 << 62) / m):
        raise OverflowError(
            "fixed-point partial sums could exceed int64: Arrow batch of "
            f"{len(qf)} rows with max |fixed-point coord| {m:.3g}; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch or rescale the "
            "embeddings"
        )
    return qf.astype(np.int64)


def lloyd_fit(
    df: DataFrame, cents: np.ndarray, assign, iters: int, vec_col: str
) -> np.ndarray:
    """``iters`` deterministic distributed Lloyd rounds from ``cents``.

    ``cents`` is a (G, k, w) array: G codebooks of k centroids, codebook
    g over the vector's g-th w-wide slice (G = 1 for k-means and IVF,
    G = m_sub subspaces for PQ). ``assign(mat, cents)`` maps a (B, G*w)
    float64 batch to its (B, G) cell ids. Returns the (G, k, w) result.

    Each round is one Spark job. The map side (one mapInPandas pass)
    assigns every vector of an Arrow batch and emits one
    (g, c, pos, s, n) row per occupied cell and coordinate: s sums the
    coordinates rounded HALF-UP at 1e-9 (``floor(|x|·1e9 + 0.5)·
    sign(x)``) as int64, n counts the cell's rows. The shuffle
    therefore carries O(G × k × w × batches) integers, never
    O(rows × dims). Ulp contract: a decimal(18,9) cast rounds HALF_UP
    too, but on the double's shortest decimal string rather than its
    binary value; the two differ only where those round differently
    at the 9th decimal, which no coordinate of the 8M IVF fit probe
    did (docs/scale.md).
    ``groupBy(g, c, pos)`` merges the partials as decimal(38,0), and
    the driver converts each exact sum through ``Fraction``: one
    correct rounding, where int64→double→/1e9 rounds twice once a
    cell's sum passes 2^53 (~8M rows per cell) — which moved 3 of
    1024 IVF coordinates by 1 ulp in a first cut. Integer partials are
    addition-order-immune, so the result is bit-identical under any
    partitioning (docs/determinism.md). Cells no vector reached keep
    their previous centroid.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    cents = np.array(cents, dtype=np.float64)
    for _ in range(iters):
        partials = df.select(vec_col).mapInPandas(
            _lloyd_round(cents, assign, vec_col),
            schema="g int, c int, pos int, s long, n long",
        )
        sums = (
            partials.groupBy("g", "c", "pos")
            .agg(
                F.sum(F.col("s").cast("decimal(38,0)")).alias("s"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        new = cents.copy()
        for r in sums:
            new[r.g, r.c, r.pos] = float(Fraction(int(r.s), 10**9)) / r.n
        cents = new
    return cents


def _lloyd_round(cents: np.ndarray, assign, vec_col: str):
    """The map side of one ``lloyd_fit`` round (see its docstring)."""
    g_n, k, w = cents.shape
    offsets = np.arange(g_n) * k

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            cell = (assign(mat, cents) + offsets).ravel()  # g * k + c
            q = _guard_int64_partials(
                np.floor(np.abs(mat) * 1e9 + 0.5) * np.sign(mat)
            )
            sums = np.zeros((g_n * k, w), dtype=np.int64)
            np.add.at(sums, cell, q.reshape(len(cell), w))
            cnt = np.bincount(cell, minlength=g_n * k)
            present = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {
                    "g": np.repeat(present // k, w).astype(np.int32),
                    "c": np.repeat(present % k, w).astype(np.int32),
                    "pos": np.tile(np.arange(w, dtype=np.int32), len(present)),
                    "s": sums[present].ravel(),
                    "n": np.repeat(cnt[present], w),
                }
            )

    return fn


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final assignment pass: (id cols..., cluster, sqdist)."""
    assign = assign_euclid_udf(centroids)
    sqd = _sqdist_udf(centroids)
    out = df.withColumn("cluster", assign(F.col(vec_col)))
    return out.withColumn("sqdist", sqd(F.col(vec_col), F.col("cluster")))


def covariance_matrix(
    df: DataFrame, dims: int, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, int]:
    """Distributed (mean, covariance, n) of a vector column.

    Same partial-sum shape as the k-means update: each Arrow batch
    emits ONE flattened d x d Gram partial with coordinates quantized
    at 1e-5 fixed point (so outer products resolve at 1e-10, the first
    moment at 1e-5) — the shuffle carries O(d^2 x batches) integers,
    never rows. (r7 review: the first cut quantized at 1e-3 while this
    docstring promised finer — the code now delivers the finer grid.)
    Overflow budget (ENFORCED, not assumed — ADVICE r7): coordinates
    must satisfy |coord| <= 100 (raises otherwise) -> q <= 1e7, and
    each emitted partial covers <= 65536 rows (oversized Arrow batches
    are chunked), so every int64 Gram cell stays <= 6.6e18 < 2^63;
    the driver-side merge re-widens to decimal(38,0). The
    driver assembles cov = G/n - mean mean^T on the merged exact sums,
    so the result is addition-order-immune. d is the bounded axis (64
    here): d^2 = 4096 cells per batch, trivially collectable; rows
    scale out.
    """

    # int64 budget, enforced loudly instead of assumed (ADVICE r7):
    # |coord| <= COORD_BOUND -> q <= 1e7, q*q <= 1e14 per term, so a
    # chunk of <= CHUNK_ROWS rows keeps every Gram cell sum <=
    # CHUNK_ROWS * 1e14 < 2^63 ~ 9.2e18. Oversized Arrow batches are
    # split into chunks (one partial each) rather than trusted to be
    # ~1e4 rows; out-of-range coordinates raise rather than silently
    # wrapping the int64 partials.
    COORD_BOUND = 100.0
    CHUNK_ROWS = 65_536  # 65_536 * 1e14 ~ 6.6e18 < int64 max

    def fn(it):
        for pdf in it:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            if mat.size == 0:
                continue
            # NaN/inf must be caught explicitly: `nan > bound` is False,
            # so a pure magnitude check would let non-finite coordinates
            # flow into round().astype(int64) and produce platform-
            # dependent garbage in the exact integer partials.
            if not np.isfinite(mat).all():
                raise ValueError(
                    "covariance_matrix fixed-point budget violated: "
                    "non-finite coordinate (NaN/inf) in the vector column"
                )
            amax = float(np.abs(mat).max())
            if amax > COORD_BOUND:
                raise ValueError(
                    f"covariance_matrix fixed-point budget exceeded: "
                    f"|coord| max {amax} > {COORD_BOUND}; rescale the "
                    f"vectors or lower the quantization scale"
                )
            for lo in range(0, mat.shape[0], CHUNK_ROWS):
                q = np.round(mat[lo : lo + CHUNK_ROWS] * 1e5).astype(
                    np.int64
                )  # 1e-5 fixed point
                gram = q.T @ q  # (d, d) int64; see budget above
                s = q.sum(axis=0)
                # last cell = this chunk's row count, so the merged
                # partials carry n and no second df.count() pass over
                # the source is needed (r8 review)
                yield pd.DataFrame(
                    {
                        "pos": np.arange(dims * dims + dims + 1, dtype=np.int64),
                        "v": np.concatenate(
                            [gram.reshape(dims * dims), s, [q.shape[0]]]
                        ),
                    }
                )

    partials = df.select(vec_col).mapInPandas(fn, schema="pos long, v long")
    rows = (
        partials.groupBy("pos")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).cast("double").alias("v"))
        .collect()
    )
    flat = np.zeros(dims * dims + dims + 1)
    for r in rows:
        flat[int(r.pos)] = r.v
    total_n = int(flat[-1])
    gram = flat[: dims * dims].reshape(dims, dims) / 1e10  # (1e5)^2
    s = flat[dims * dims : -1] / 1e5
    mean = s / total_n
    cov = gram / total_n - np.outer(mean, mean)
    return mean, cov, total_n


def pca_components(cov: np.ndarray, top: int = 8) -> tuple[np.ndarray, np.ndarray]:
    """Eigendecomposition of the (bounded d x d) covariance on the
    driver; returns (explained_variance desc, components rows). Sign
    convention: each component's largest-|coordinate| entry is made
    positive, so the output is deterministic (eigh fixes magnitude and
    order, not sign)."""
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:top]
    vals = vals[order]
    comps = vecs[:, order].T
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return vals, comps


def ceil_root(k: int, d: int) -> int:
    """Smallest integer b with b**d >= k (integer-exact; d >= 1)."""
    if d <= 1 or k <= 1:
        return max(1, k)
    b = max(1, int(round(k ** (1.0 / d))))
    while b**d < k:
        b += 1
    while b > 1 and (b - 1) ** d >= k:
        b -= 1
    return b


def tree_width(k_local: int, depth: int) -> int:
    """Id-space width of a depth-``depth`` local tree serving
    ``k_local`` clusters — the multiplier parents use to compose
    globally unique ids. Pure function of (k_local, depth), so every
    sibling subtree agrees on it."""
    if depth <= 1 or k_local <= 1:
        return max(1, k_local)
    b = ceil_root(k_local, depth)
    return b * tree_width(-(-k_local // b), depth - 1)


def _local_lloyd(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """One node of the local tree: first-k init, ``iters`` Lloyd rounds
    (first-minimum argmin ties, np.add.at sums in row order, empty
    clusters keep their centroid), then every row's cell against the
    post-update centroids."""
    cent = mat[:k].copy()
    for _ in range(iters):
        cl = np.argmin(-2.0 * (mat @ cent.T) + (cent**2).sum(axis=1), axis=1)
        sums = np.zeros((k, mat.shape[1]))
        np.add.at(sums, cl, mat)
        cnt = np.bincount(cl, minlength=k)
        nz = cnt > 0
        cent[nz] = sums[nz] / cnt[nz, None]
    return np.argmin(-2.0 * (mat @ cent.T) + (cent**2).sum(axis=1), axis=1)


def local_tree_assign(
    mat: np.ndarray,
    k_local: int,
    depth: int,
    coarse_iters: int,
    fine_iters: int,
) -> np.ndarray:
    """Deterministic local k-means tree over an (n_loc, dims) matrix
    whose rows are already in ascending-id order; returns int64 local
    cluster ids in [0, tree_width(k_local, depth)).

    depth == 1 is EXACTLY the pre-r13 flat refinement (first-k init,
    ``fine_iters`` Lloyd rounds, first-minimum argmin ties, np.add.at
    partial sums, empty clusters keep their centroid) — so
    ``levels=2`` callers of hierarchical_kmeans_assign are bit-for-bit
    unchanged. Deeper levels run ``coarse_iters`` Lloyd rounds on a
    ceil_root branching factor and recurse per subtree; masks
    preserve row order, so determinism is inherited all the way down.
    """
    n_loc = len(mat)
    if k_local <= 1 or n_loc == 0:
        return np.zeros(n_loc, dtype=np.int64)
    if depth <= 1:
        return _local_lloyd(mat, min(k_local, n_loc), fine_iters)
    b = ceil_root(k_local, depth)
    k_sub = -(-k_local // b)
    w_sub = tree_width(k_sub, depth - 1)
    kl = min(b, n_loc)
    cell = _local_lloyd(mat, kl, coarse_iters)
    out = np.empty(n_loc, dtype=np.int64)
    for cidx in range(kl):
        mask = cell == cidx
        if not mask.any():
            continue
        sub = local_tree_assign(
            mat[mask], k_sub, depth - 1, coarse_iters, fine_iters
        )
        out[mask] = cidx * w_sub + sub
    return out


def hierarchical_kmeans_assign(
    df: DataFrame,
    dims: int,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_iters: int = 2,
    fine_iters: int = 4,
    coarse_cap: int = 4096,
    levels: int = 2,
) -> DataFrame:
    """Multi-level k-means assignment whose driver traffic is CAPPED
    regardless of k — the corpus-prescribed-k path (VERDICT r6 item 5).

    ``kmeans_fit`` collects a k x dims centroid matrix per Lloyd
    iteration: bounded and correct for parameter-k callers (k ~ 10^3),
    but SemDeDup prescribes k ~ n/512 — at 10^9 vectors that is ~1 GB
    per iteration through the driver. Here the driver only ever sees
    the TOP level:

    - level 1: flat kmeans_fit with k1 = min(coarse_cap,
      ceil(sqrt(k))) — the per-iteration collect is k1 x dims
      <= coarse_cap x dims (2 MB at 4096 x 64), a fixed ceiling
      independent of k and n. k1 is FIXED at ceil(sqrt(k)) for every
      ``levels``: level 1 sets the shuffle granularity and the
      per-cell memory bound, and shrinking it (probed: k1 = k^(1/3)
      at 16M vectors) makes the cells inherit the corpus's cluster
      skew — giant straggler cells cost more than the saved flops
      (333 s vs 206 s end-to-end).
    - levels 2..L: per level-1 cell, a LOCAL deterministic k-means
      tree (local_tree_assign, depth = levels-1) over the remaining
      ceil(k/k1) clusters runs entirely inside applyInPandas — no
      centroid ever reaches the driver; the global cluster id is
      cell * width + local.

    COST MODEL (why ``levels`` exists — r13 16M probe): with k
    prescribed as n/512, the per-vector work is ~3*sqrt(k) at level 1
    (fit + assign) plus the local tree. levels=2 runs the local
    refinement FLAT over k2 = ceil(k/k1) ~ sqrt(k): ~5*sqrt(k) more
    per vector — measured 25.5 / 73.2 / 207.8 s assignment at
    4M/8M/16M vectors (2.84x/doubling = 2*sqrt(2), i.e. O(n^1.5) with
    the refine term dominating). levels=3 splits the local tree into
    two k^(1/4)-branch levels (~8*k^(1/4) per vector), cutting the
    dominant refine term ~4x while leaving the level-1 shape — and
    therefore skew behavior, shuffle width, and driver traffic —
    untouched. Deeper trees trade a little cluster quality (greedier
    splits) for flops; identical vectors still argmin identically at
    every level, so dup families can never split.

    Per-cell contract: a cell holds ~n/k1 vectors and must fit a
    worker (n = 10^9, k1 = 4096 -> ~125 MB at 64 dims), the same
    bounded-group contract as the other applyInPandas operators.

    Determinism: level 1 inherits kmeans_fit's contract; the local
    tree sorts the cell by id (mergesort), inits every node from the
    first members of its (order-preserving) subset, uses the same
    first-minimum argmin tie rule, and accumulates partial sums with
    np.add.at over the sorted order — bit-stable under any upstream
    partitioning. Empty sub-clusters keep their previous centroid
    (RNG-free), mirroring the flat operator. ``levels=2`` reproduces
    the pre-r13 two-level operator bit-for-bit.

    Output: the input columns plus ``cluster`` (global int id).
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if levels < 2:
        raise ValueError(f"levels must be >= 2, got {levels}")
    k1 = min(coarse_cap, ceil_root(k, 2))
    k_rem = -(-k // k1)  # ceil
    coarse = kmeans_fit(
        df, dims, k=k1, iters=coarse_iters, id_col=id_col, vec_col=vec_col
    )
    assigned = df.withColumn("__cell", assign_euclid_udf(coarse)(F.col(vec_col)))
    if k_rem <= 1:
        return assigned.withColumnRenamed("__cell", "cluster")
    w_rem = tree_width(k_rem, levels - 1)
    depth = levels - 1

    in_cols = df.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cluster int"

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["__cell"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
            dtype=np.float64,
        )
        cl = local_tree_assign(mat, k_rem, depth, coarse_iters, fine_iters)
        out = pdf[in_cols].copy()
        out["cluster"] = (cell * w_rem + cl).astype(np.int32)
        return out

    return assigned.groupBy("__cell").applyInPandas(refine, out_schema)
