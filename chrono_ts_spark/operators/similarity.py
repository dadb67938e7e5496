"""Vector similarity search over array<float> embedding columns.

Two tiers:

- brute_force_topk: exact cosine top-k. The (small) query set is
  broadcast against the corpus — a map-side nested loop with no
  shuffle of the corpus, then one shuffle of |Q|·k candidate rows for
  the final per-query rank. Right shape for "a handful of probes
  against 100 TB of vectors".
- lsh_bucket_topk / ivf_topk: approximate top-k, candidate cells then
  an exact-cosine refine, through one probe path (_routed_topk). Each
  index writes its routing once as a numpy function (_lsh_router: an
  n_planes-bit sign bucket per hash table; _ivf_router: the nearest
  k-means cells) that the corpus pass and the driver-side probe
  routing both call; the candidate join is an equi-join on one int64
  cell key, broadcast from the probe side, and the rerank cosine is
  computed in the same Arrow pass that routes the corpus.

Hyperplanes are deterministic (seeded numpy). Exact-path math
(brute_force_topk) is built-in higher-order functions in double
precision.
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


# ---------------------------------------------------------------------------
# Routing: one numpy function per index kind, (B, dims) float64 → (B, R)
# int64 cell keys. The corpus pass, the driver-side probe routing, the
# IVF Lloyd assignment and diag_lsh_buckets all call these, so the two
# sides of a cell join cannot drift apart.
# ---------------------------------------------------------------------------


def _lsh_router(dims: int, n_planes: int, n_tables: int, seed: int):
    """Sign-LSH routing, one key per table: table t's n_planes sign
    bits pack as Σ bit_j·2^j, offset by t·2^n_planes, so one int64
    names one (table, bucket).

    A (dims × n_tables·n_planes) matmul per Arrow batch is exactly what
    Spark's interpreted higher-order functions are worst at (measured
    20s+ for 2k×48×64 on local[32]) and one BLAS call here (<1s). Keys
    only need to agree between corpus and probes, so the cross-engine
    determinism rules (docs/determinism.md) don't apply.
    """
    planes = np.vstack(
        [_hyperplanes(dims, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables*n_planes, dims)
    weights = 2 ** np.arange(n_planes, dtype=np.int64)
    offsets = np.arange(n_tables, dtype=np.int64) << n_planes

    def route(mat: np.ndarray) -> np.ndarray:
        signs = (mat @ planes.T) > 0
        return signs.reshape(len(mat), n_tables, n_planes) @ weights + offsets

    return route


def _ivf_router(centroids: np.ndarray, n: int):
    """IVF routing: the n cells of highest cosine per row (n = 1 for
    the corpus and the Lloyd assignment, n = n_probe for probes)."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def route(mat: np.ndarray) -> np.ndarray:
        unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return np.argsort(-(unit @ c.T), axis=1)[:, :n]

    return route


def _route_udf(route):
    """Arrow pass: embedding → array<bigint> of the row's cell keys."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def cells(emb: pd.Series) -> pd.Series:
        keys = route(np.vstack(emb.to_numpy()).astype(np.float64))
        return pd.Series([row.tolist() for row in keys])

    return cells


def _route_cos_udf(route, probe_mat: np.ndarray):
    """Fused Arrow pass: per row, BOTH its cell keys and its cosine
    against every probe vector (one BLAS matmul against the (P × dims)
    probe matrix per batch).

    Scoring here instead of per candidate pair is the r13 scale fix:
    a corpus vector is scored ONCE however many cells it collides in,
    so rerank cost is O(corpus × P), never O(candidates) — the
    candidate count depends on corpus clustering (measured 11
    candidates per corpus vector on the 8-cluster probe corpus) and
    the per-pair HOF cosine was 117 s of emb_ann_lsh's 160 s at 16M
    vectors (interpreted CodegenFallback; an unrolled codegen
    expression tree was probed too and is 2x WORSE — 64-term chains
    exceed HotSpot's 8 KB JIT method limit, see docs/scale.md "The
    interpreted rerank cosine").

    Zero-norm rows score NULL against every probe (matching
    vec_cosine's try_divide contract); numpy's pairwise summation can
    differ from the sequential HOF fold in final ulps, which is inside
    the rows-only/recall-pinned contract of the ANN paths (the oracled
    twins keep HOF arithmetic).
    """
    from pyspark.sql.functions import pandas_udf

    probe_nsq = (probe_mat**2).sum(axis=1)  # (P,)

    @pandas_udf("cells array<bigint>, cos array<double>")
    def fused(emb: pd.Series) -> pd.DataFrame:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dims)
        dot = mat @ probe_mat.T  # (batch, P)
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
            {"cells": [row.tolist() for row in route(mat)], "cos": cos_lists}
        )

    return fused


def _collect_probes(queries: DataFrame, id_col: str, vec_col: str, op_name: str):
    """Collect the probe set ONCE and derive every probe-side artifact
    from that single snapshot (ADVICE r13): evaluating ``queries``
    twice (once for the score matrix, once lazily in the join plan)
    lets a non-deterministic probe DF (sample/limit) emit ids absent
    from the matrix. An empty probe set and duplicate probe ids (which
    would merge distinct probes' candidate sets) raise ValueError.

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


def _routed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_route,
    probe_route,
    k: int,
    id_col: str,
    vec_col: str,
    op_name: str,
) -> DataFrame:
    """The one ANN probe path (LSH and IVF): candidate cells, then an
    exact-cosine refine.

    The corpus goes through one fused Arrow pass (_route_cos_udf:
    ``corpus_route`` cell keys plus the cosine against every probe).
    The probes are routed DRIVER-SIDE by ``probe_route`` on the
    collected matrix and shipped as a literal (query_id, cell, __qidx)
    table: createDataFrame spreads even 10 rows across
    defaultParallelism partitions, so a probe-side UDF cold-started one
    Python worker per mostly-empty partition (+2.7 s cold, +0.45 s
    in-bench) and coalesce(1) broke the broadcast (+4 s) — r14 A/B.
    A broadcast equi-join on the int64 cell key yields the candidates,
    which element_at-index their precomputed cosine; a pair colliding
    in several cells scores identically, so deduping AFTER projection
    keeps the candidate set while the only corpus-sized exchange stays
    at ~32 B/row instead of two dims-wide vectors (r12).
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(corpus.sparkSession)
    probe_rows, probe_mat, id_field = _collect_probes(
        queries, id_col, vec_col, op_name
    )
    fused = _route_cos_udf(corpus_route, probe_mat)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        fused(F.col(vec_col)).alias("__rc"),
    ).select(
        "neighbor_id",
        F.col("__rc.cos").alias("__cos"),
        F.explode("__rc.cells").alias("cell"),
    )
    probe_cells = probe_route(probe_mat)
    q_schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("cell", T.LongType()),
            T.StructField("__qidx", T.IntegerType()),
        ]
    )
    q = corpus.sparkSession.createDataFrame(
        [
            (r[0], int(cell), i)
            for i, r in enumerate(probe_rows)
            for cell in probe_cells[i]
        ],
        q_schema,
    )
    scored = (
        c.join(F.broadcast(q), "cell")
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
    knobs. Corpus and probes route through the same _lsh_router; the
    corpus side is replicated n_tables× into the (table, bucket) cell
    join of _routed_topk, which scores each corpus vector once.

    EAGERNESS contract (r13): the probe set is collected at build
    time to form the score matrix — |queries| must be driver-bounded
    (the operator's "handful of probes against a huge corpus" shape;
    P ≤ ~10k keeps the matrix ≤ 5 MB and the per-row cos array ≤
    80 KB). An empty probe set raises ValueError.
    """
    # Cell keys pack the table index above the bucket bits in one
    # int64; 31 bucket bits keep that exact for any table count below
    # 2^32 (ADVICE r14).
    if n_planes > 31:
        raise ValueError(
            f"lsh_bucket_topk: n_planes={n_planes} exceeds the 31-bit "
            "bucket range of the int64 (table, bucket) cell key; use "
            "more tables instead of wider buckets"
        )
    route = _lsh_router(dims, n_planes, n_tables, seed)
    return _routed_topk(
        corpus, queries, route, route, k, id_col, vec_col, "lsh_bucket_topk"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + n_probe search
# ---------------------------------------------------------------------------


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
    the driver) with ``_ivf_router(centroids, 1)`` as the
    assignment."""
    init = _stride_init(corpus, n_centroids, id_col, vec_col)
    if not len(init):
        raise ValueError("corpus is empty; cannot fit IVF centroids")

    def assign(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
        return _ivf_router(cents[0], 1)(mat)

    return lloyd_fit(corpus, init[None], assign, iters, vec_col)[0]


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
    only the n_probe nearest cells. The corpus routes through
    ``_ivf_router(centroids, 1)`` and the probes through
    ``_ivf_router(centroids, n_probe)`` into the cell equi-join of
    _routed_topk (AQE/skew eligible); recall/cost is n_probe/k-means
    quality. The complementary scale path to multi-table LSH.

    Scale note: ivf_fit_centroids collects n_centroids x dims per
    Lloyd round — bounded by the PARAMETER n_centroids (16 here; fine
    to ~10^4, i.e. nlist ~ sqrt(n) at n = 10^8). For larger corpora
    where nlist itself becomes corpus-prescribed, the named swap is
    clustering.hierarchical_kmeans_assign as the coarse quantizer
    (capped driver collect; cells become (coarse, fine) pairs).

    The cosine moves final ulps against the HOF fold (numpy pairwise
    sum), inside the rows-only/recall-pinned contract —
    emb_ann_ivf_exact keeps engine-portable arithmetic. EAGERNESS:
    the probe set is collected to form the score matrix
    (ivf_fit_centroids already collects, so the operator was never
    lazy); |queries| must be driver-bounded, and an empty probe set
    raises ValueError.
    """
    centroids = ivf_fit_centroids(corpus, dims, n_centroids, iters, id_col, vec_col)
    return _routed_topk(
        corpus,
        queries,
        _ivf_router(centroids, 1),
        _ivf_router(centroids, n_probe),
        k,
        id_col,
        vec_col,
        "ivf_topk",
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

    The oracle-twin of _lsh_router (VERDICT r6 item 4b, the
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
    routing (_lsh_router) stays the throughput path.
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
