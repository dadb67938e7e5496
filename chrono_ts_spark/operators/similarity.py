"""Vector similarity search over array<float> embedding columns.

Two tiers:

- brute_force_topk: exact cosine top-k. The (small) query set is
  broadcast against the corpus — a map-side nested loop with no
  shuffle of the corpus, then one shuffle of |Q|·k candidate rows for
  the final per-query rank. Right shape for "a handful of probes
  against 100 TB of vectors".
- lsh_bucket_topk: sign-LSH (random hyperplanes) approximate top-k.
  Every vector gets an n_planes-bit bucket id; probes only score
  vectors in the same bucket (optionally hamming<=1 neighbors), an
  equi-join on bucket id. Recall/cost is tunable via n_planes; the
  join is shuffle-partitioned by bucket, so it scales horizontally
  and AQE's skew handling covers hot buckets.

Hyperplanes are deterministic (seeded numpy), embedded as literal
arrays — dims × n_planes doubles, negligible plan size. Exact-path
math (brute_force_topk) is built-in higher-order functions in double
precision; the LSH rerank scores inside the same Arrow pass that
assigns buckets (r13 — see lsh_bucket_topk).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

from ..functions import vec_cosine, vec_double
from .clustering import _stride_init, lloyd_fit
from .topk import top_k_per_group


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_alias: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of corpus vectors for each query vector."""
    q = queries.select(
        F.col(id_col).alias(query_id_alias),
        vec_double(F.col(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), vec_double(F.col(vec_col)).alias("__cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_alias))
        .select(
            query_id_alias,
            "neighbor_id",
            vec_cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        group=[query_id_alias],
        order=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
    )


def _hyperplanes(dims: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dims))


def _bucket_udf(dims: int, n_planes: int, n_tables: int, seed: int):
    """Vectorized (Arrow) bucket assigner: embedding → int bucket per table.

    The per-row work is a (dims × n_tables·n_planes) matrix multiply —
    exactly what Spark's interpreted higher-order functions are worst
    at (measured 20s+ for 2k×48×64 on local[32]) and what a
    numpy-backed pandas_udf does in one BLAS call per Arrow batch
    (measured <1s). Bucket ids only need to be internally consistent
    between corpus and probes, so float32 math is fine here — the
    cross-engine determinism rules (docs/determinism.md) don't apply.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    planes = np.vstack(
        [_hyperplanes(dims, n_planes, seed + 1000 * t) for t in range(n_tables)]
    ).astype(np.float64)  # (n_tables*n_planes, dims)
    weights = (2 ** np.arange(n_planes)).astype(np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())  # (batch, dims)
        signs = (mat @ planes.T) > 0  # (batch, n_tables*n_planes)
        b = signs.reshape(len(mat), n_tables, n_planes) @ weights  # (batch, n_tables)
        return pd.Series([row.astype(np.int32).tolist() for row in b])

    return buckets


def _bucket_cos_udf(
    dims: int, n_planes: int, n_tables: int, seed: int, probe_mat: np.ndarray
):
    """Fused Arrow pass: per row, BOTH the per-table LSH buckets and
    the cosine of the row against every probe vector (one BLAS matmul
    against the (P × dims) probe matrix per batch).

    Scoring here instead of per candidate pair is the r13 scale fix:
    a corpus vector is scored ONCE regardless of how many tables it
    collides in, so rerank cost is O(corpus × P), never
    O(candidates) — the candidate count depends on corpus clustering
    (measured 11 candidates per corpus vector on the 8-cluster probe
    corpus) and the per-pair HOF cosine was 117 s of emb_ann_lsh's
    160 s at 16M vectors (interpreted CodegenFallback; an unrolled
    codegen expression tree was probed too and is 2x WORSE — 64-term
    chains exceed HotSpot's 8 KB JIT method limit, see docs/scale.md
    "The interpreted rerank cosine").

    Zero-norm rows score NULL against every probe (matching
    vec_cosine's try_divide contract); numpy's pairwise summation can
    differ from the sequential HOF fold in final ulps, which is inside
    the rows-only/recall-pinned contract of the LSH path (the oracled
    md5 twin keeps HOF arithmetic).
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.vstack(
        [_hyperplanes(dims, n_planes, seed + 1000 * t) for t in range(n_tables)]
    ).astype(np.float64)
    weights = (2 ** np.arange(n_planes)).astype(np.int64)
    probe64 = np.ascontiguousarray(probe_mat, dtype=np.float64)  # (P, dims)
    probe_nsq = (probe64**2).sum(axis=1)  # (P,)

    @pandas_udf("buckets array<int>, cos array<double>")
    def fused(emb: pd.Series) -> pd.DataFrame:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dims)
        signs = (mat @ planes.T) > 0
        b = signs.reshape(len(mat), n_tables, n_planes) @ weights
        dot = mat @ probe64.T  # (batch, P)
        nsq = (mat**2).sum(axis=1)
        denom_sq = nsq[:, None] * probe_nsq[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / np.sqrt(denom_sq)
        if (denom_sq == 0.0).any():
            cos = np.where(denom_sq > 0.0, cos, np.nan)
            cos_lists = [
                [None if np.isnan(v) else float(v) for v in row] for row in cos
            ]
        else:
            cos_lists = [row.tolist() for row in cos]
        return pd.DataFrame(
            {
                "buckets": [row.astype(np.int32).tolist() for row in b],
                "cos": cos_lists,
            }
        )

    return fused


def _collect_probes(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    op_name: str,
):
    """Collect the probe set ONCE and derive every probe-side artifact
    from that single snapshot (ADVICE r13): the score matrix AND the
    probe-side join rows. The pre-r14 operators evaluated ``queries``
    twice — once via collect() for the matrix, once lazily in the
    join plan — so a non-deterministic probe DF (sample/limit) could
    emit ids absent from the map, silently ranking those candidates
    last via a NULL cosine. Duplicate probe ids (which would merge
    distinct probes' candidate sets) raise here with a clear error.

    r14 interleaved-A/B find: the first fix rebuilt the probe DataFrame from
    the collected rows and kept the bucket pandas UDF on it — but
    createDataFrame spreads even 10 rows across defaultParallelism
    partitions, so the probe-side UDF cold-started one Python worker
    per mostly-empty partition (+2.7 s cold, +0.45 s in-bench), and
    coalesce(1) broke the broadcast (+4 s). The callers now compute
    probe buckets/cells DRIVER-SIDE with the same numpy ops and ship
    a literal int table — no probe-side UDF, no Python workers, and
    the qidx rides in the rows (the create_map lookup is gone too).

    Returns (probe_rows, probe_mat, id_field) — id_field preserves
    the probe id column's Spark type for the literal schema.
    """
    probe_rows = queries.select(id_col, vec_col).collect()
    if not probe_rows:
        raise ValueError(f"{op_name}: queries produced no probe rows")
    ids = [r[0] for r in probe_rows]
    if len(set(ids)) != len(ids):
        dupes = sorted({i for i in ids if ids.count(i) > 1})
        raise ValueError(
            f"{op_name}: duplicate probe ids {dupes[:5]} — probe ids "
            "must be unique (they key the score-matrix lookup)"
        )
    probe_mat = np.vstack(
        [np.asarray(r[1], dtype=np.float64) for r in probe_rows]
    )
    id_field = queries.select(id_col).schema.fields[0]
    return probe_rows, probe_mat, id_field


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH.

    Standard LSH design: n_tables independent hash tables of n_planes
    bits each; a candidate is any corpus vector sharing a bucket with
    the query in ANY table. Collision prob for angle θ is
    1-(1-(1-θ/π)^n_planes)^n_tables — recall/cost is tuned by the two
    knobs. The join is an equi-join on (table_id, bucket): the corpus
    side is replicated n_tables× into the shuffle, the scored set is
    the colliding pairs — scored first, THEN deduped across tables
    (r12: duplicate pairs score identical cosines, so the deduped
    candidate set is unchanged, while deduping after projection keeps
    the only corpus-sized exchange at ~32 B/row instead of two
    dims-wide vectors).

    r13 (16M-vector probe): the rerank cosine moved INTO the bucket
    Arrow pass (_bucket_cos_udf) — each corpus vector is scored once
    against the whole probe matrix, and the candidate join just
    element_at-indexes the precomputed array. Per-pair scoring (HOF
    vec_cosine) was the measured cliff: interpreted evaluation over
    the candidate set (11× the corpus here) cost 117 s of the 160 s
    total at 16M. Scoring is now O(corpus × P) BLAS, independent of
    collision density, and the corpus-side exchange stays narrow.

    EAGERNESS contract (r13): the probe set is collected at build
    time to form the score matrix — |queries| must be driver-bounded
    (the operator's "handful of probes against a huge corpus" shape;
    P ≤ ~10k keeps the matrix ≤ 5 MB and the per-row cos array ≤
    80 KB). An empty probe set raises ValueError.
    """
    from ..session import ensure_package_on_workers

    # Bucket ids live in IntegerType on both sides; the corpus pass
    # wraps via astype(np.int32) while the driver-side probe table
    # would overflow createDataFrame first — so the two sides would
    # disagree before anything errors usefully. 31 bits is the shared
    # exact range (ADVICE r14).
    if n_planes > 31:
        raise ValueError(
            f"lsh_bucket_topk: n_planes={n_planes} exceeds the 31-bit "
            "IntegerType bucket range shared by the corpus and probe "
            "sides; use more tables instead of wider buckets"
        )

    ensure_package_on_workers(corpus.sparkSession)

    probe_rows, probe_mat, id_field = _collect_probes(
        corpus, queries, id_col, vec_col, "lsh_bucket_topk"
    )

    fused = _bucket_cos_udf(dims, n_planes, n_tables, seed, probe_mat)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        fused(F.col(vec_col)).alias("__bc"),
    ).select(
        "neighbor_id",
        F.col("__bc.cos").alias("__cos"),
        F.posexplode("__bc.buckets").alias("table_id", "bucket"),
    )
    # Probe buckets computed DRIVER-SIDE with the exact _bucket_udf
    # math (same planes/weights arrays; float32@float64 promotes to
    # float64 before BLAS, so signs match the corpus-side fused pass
    # bit-for-bit) and shipped as a literal int table — see
    # _collect_probes for why no probe-side UDF (r14 A/B find).
    planes = np.vstack(
        [_hyperplanes(dims, n_planes, seed + 1000 * t) for t in range(n_tables)]
    ).astype(np.float64)
    weights = (2 ** np.arange(n_planes)).astype(np.int64)
    signs = (probe_mat @ planes.T) > 0
    pb = signs.reshape(len(probe_rows), n_tables, n_planes) @ weights
    q_schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("table_id", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("__qidx", T.IntegerType()),
        ]
    )
    q = corpus.sparkSession.createDataFrame(
        [
            (r[0], t, int(pb[i, t]), i)
            for i, r in enumerate(probe_rows)
            for t in range(n_tables)
        ],
        q_schema,
    )

    scored = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.element_at(F.col("__cos"), F.col("__qidx") + F.lit(1)).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return top_k_per_group(
        scored,
        group=["query_id"],
        order=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + n_probe search
# ---------------------------------------------------------------------------


def _assign_udf(centroids: np.ndarray, n_probe: int = 1):
    """Vectorized assigner: embedding → n_probe nearest centroid ids
    (by cosine, numpy matmul per Arrow batch)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf(ArrayType(IntegerType()))
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ c.T  # (batch, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in top])

    return assign


def _assign_cos_udf(centroids: np.ndarray, probe_mat: np.ndarray):
    """Fused Arrow pass for ivf_topk (r13): per row, the nearest-cell
    id (byte-identical math to ``_assign_udf(centroids, 1)``) AND the
    cosine against every probe vector (one BLAS matmul per batch) —
    the same score-once-per-corpus-row design as _bucket_cos_udf.
    Zero-norm rows score NULL against every probe."""
    from pyspark.sql.functions import pandas_udf

    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probe64 = np.ascontiguousarray(probe_mat, dtype=np.float64)
    probe_nsq = (probe64**2).sum(axis=1)

    @pandas_udf("cluster int, cos array<double>")
    def fused(emb: pd.Series) -> pd.DataFrame:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = unit @ c.T
        top = np.argsort(-sims, axis=1)[:, :1]
        dot = mat @ probe64.T
        nsq = (mat**2).sum(axis=1)
        denom_sq = nsq[:, None] * probe_nsq[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / np.sqrt(denom_sq)
        if (denom_sq == 0.0).any():
            cos = np.where(denom_sq > 0.0, cos, np.nan)
            cos_lists = [
                [None if np.isnan(v) else float(v) for v in row] for row in cos
            ]
        else:
            cos_lists = [row.tolist() for row in cos]
        return pd.DataFrame(
            {
                "cluster": [int(row[0]) for row in top],
                "cos": cos_lists,
            }
        )

    return fused


def ivf_fit_centroids(
    corpus: DataFrame,
    dims: int,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic mini k-means: init = every (n/k)-th vector by id
    (clustering._stride_init), then `iters` rounds of the shared
    distributed Lloyd trainer (clustering.lloyd_fit: int64 partial
    sums, decimal-exact merge, only the k×dims centroid matrix reaches
    the driver) with the cosine assignment of ``_assign_udf(centroids,
    1)``."""
    init = _stride_init(corpus, n_centroids, id_col, vec_col)
    if not len(init):
        raise ValueError("corpus is empty; cannot fit IVF centroids")

    def cosine(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
        c = cents[0] / np.linalg.norm(cents[0], axis=1, keepdims=True)
        unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = unit @ c.T
        return np.argsort(-sims, axis=1)[:, :1]

    return lloyd_fit(corpus, init[None], cosine, iters, vec_col)[0]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells; probes score
    only the n_probe nearest cells. The cell join is a plain equi-join
    on cluster id (AQE/skew eligible); recall/cost is n_probe/k-means
    quality. The complementary scale path to multi-table LSH.

    Scale note: ivf_fit_centroids collects n_centroids x dims per
    Lloyd round — bounded by the PARAMETER n_centroids (16 here; fine
    to ~10^4, i.e. nlist ~ sqrt(n) at n = 10^8). For larger corpora
    where nlist itself becomes corpus-prescribed, the named swap is
    clustering.hierarchical_kmeans_assign as the coarse quantizer
    (capped driver collect; cells become (coarse, fine) pairs).

    r13 (the LSH lesson applied here — docs/scale.md "The interpreted
    rerank cosine"): the pre-r13 plan scored per CANDIDATE PAIR with
    HOF vec_cosine (interpreted) after a dedup exchange that carried
    both dims-wide vectors (the exact wide-shuffle shape r12 killed in
    LSH). Scoring now rides the cell-assignment Arrow pass — each
    corpus vector scored once against the collected probe matrix
    (O(corpus x P) BLAS, independent of n_probe and cell sizes); the
    candidate join element_at-indexes the array and the dedup exchange
    carries ~32 B/row. Cell assignment math is byte-identical to
    _assign_udf; the cosine moves final ulps (numpy pairwise sum vs
    the HOF fold), inside the rows-only/recall-pinned contract —
    emb_ann_ivf_exact keeps engine-portable arithmetic. EAGERNESS:
    the probe set is collected to form the matrix (ivf_fit_centroids
    already collects, so the operator was never lazy); |queries| must
    be driver-bounded, and an empty probe set raises ValueError.
    """
    centroids = ivf_fit_centroids(corpus, dims, n_centroids, iters, id_col, vec_col)

    probe_rows, probe_mat, id_field = _collect_probes(
        corpus, queries, id_col, vec_col, "ivf_topk"
    )

    c_fused = _assign_cos_udf(centroids, probe_mat)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        c_fused(F.col(vec_col)).alias("__ac"),
    ).select(
        "neighbor_id",
        F.col("__ac.cos").alias("__cos"),
        F.col("__ac.cluster").alias("cluster"),
    )
    # Probe cell routing computed DRIVER-SIDE with the exact
    # _assign_udf math (same normalization/argsort ops on the same
    # float64 values) and shipped as a literal int table — see
    # _collect_probes for why no probe-side UDF (r14 A/B find).
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    unit = probe_mat / np.maximum(
        np.linalg.norm(probe_mat, axis=1, keepdims=True), 1e-12
    )
    top = np.argsort(-(unit @ cn.T), axis=1)[:, :n_probe]
    q_schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("__qidx", T.IntegerType()),
        ]
    )
    q = corpus.sparkSession.createDataFrame(
        [
            (r[0], int(top[i, j]), i)
            for i, r in enumerate(probe_rows)
            for j in range(top.shape[1])
        ],
        q_schema,
    )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.element_at(F.col("__cos"), F.col("__qidx") + F.lit(1)).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return top_k_per_group(
        scored,
        group=["query_id"],
        order=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=k,
    )


def md5_sign_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """Engine-portable sign-LSH bucket assignment: (id, t, bucket).

    The oracle-twin of _bucket_udf (VERDICT r6 item 4b, the
    emb_rp_project construction): hyperplanes are Rademacher ±1
    vectors with sign(t, j, i) derived from md5("ann-t-j-i") — a pure
    function of the indices, identical in any engine — and each
    embedding component enters as round(v·1e9) fixed point, so every
    dot product is an exact integer and the bucket bits (dot > 0) are
    bit-identical across engines. Bucket id of table t packs plane
    bits j as Σ bit_j · 2^j.

    Cost shape: one posexplode to (id, i, qi) joined against the
    broadcast (t, j, i, sgn) sign matrix (n_tables·n_planes·dims rows,
    trivially broadcastable), then two partial+final aggregates — all
    JVM-side. ~n_tables·n_planes·dims rows per vector through the
    first aggregate makes this the verification path; the BLAS
    pandas_udf (_bucket_udf) stays the throughput path.
    """
    spark = df.sparkSession
    t_ = spark.range(n_tables).select(F.col("id").cast("int").alias("t"))
    j_ = spark.range(n_planes).select(F.col("id").cast("int").alias("j"))
    i_ = spark.range(1, dims + 1).select(F.col("id").cast("int").alias("i"))
    sgn = (
        t_.crossJoin(j_)
        .crossJoin(i_)
        .select(
            "t",
            "j",
            "i",
            F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-",
                            F.lit("ann"),
                            F.col("t").cast("string"),
                            F.col("j").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin(*list("01234567")),
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    e9 = df.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(vec_double(F.col(vec_col))).alias("pos0", "v"),
    ).select(
        "__vid",
        (F.col("pos0") + 1).alias("i"),
        F.round(F.col("v") * F.lit(1000000000.0), 0).cast("bigint").alias("qi"),
    )
    dots = (
        e9.join(F.broadcast(sgn), "i")
        .groupBy("__vid", "t", "j")
        .agg(F.sum(F.col("sgn") * F.col("qi")).alias("dot"))
    )
    buck = dots.groupBy("__vid", "t").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("CAST(shiftleft(1, j) AS BIGINT)"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("bucket")
    )
    return buck.select(F.col("__vid").alias(id_col), "t", "bucket")
