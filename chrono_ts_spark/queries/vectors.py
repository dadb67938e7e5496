"""Vector / embedding queries (SURVEY.md §2.10 X7 + ANN extension).

Oracle mirrors compute dot products with an explicit generate_series
index walk so both engines accumulate left-to-right in double — the
DuckDB list_dot_product built-in is avoided because its accumulation
order is unspecified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import davg, dec, fx, vec_cosine, vec_double, vec_norm_sq
from ..operators.similarity import brute_force_topk, lsh_bucket_topk
from ..operators.topk import top_k_per_group
from . import query

_DIMS = 64

_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, {n}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _sql_dot(a: str, b: str, n: int = _DIMS) -> str:
    return _SQL_DOT.format(a=a, b=b, n=n)


def _cosine_rerank(e: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-cosine top-5 of (query_id, neighbor_id) candidates for the
    probes vec_id < 10: the refine step the oracled ANN twins share
    (emb_ann_md5, emb_ann_ivf_exact, emb_pq_exact). vec_cosine folds
    left to right in double, as the oracles' generate_series walk does.
    Only the probe vectors are broadcast; broadcasting the unfiltered
    table would ship the whole corpus to every executor."""
    qe = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), vec_double(F.col("embedding")).alias("__qv")
    )
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), vec_double(F.col("embedding")).alias("__cv")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            vec_cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        group=["query_id"],
        order=[F.col("cosine").desc(), F.col("neighbor_id")],
        k=5,
    )


# ---------------------------------------------------------------------------
# Fixed-point Lloyd machinery shared by the exact-oracled clustering
# twins (emb_kmeans_exact, emb_ann_ivf_exact): every quantity is an
# exact int64 — coords quantize to 1e6 fixed point (|v| <= ~0.6 ->
# q <= ~6e5; per-dim squared diff <= ~1.5e12; 64-dim distance <=
# ~9.2e13, comfortably exact in int64 AND float64), argmin compares
# exact integers with a lowest-cluster tiebreak, and the centroid
# update round(sum/n) stays exact in double — so any number of Lloyd
# rounds replays bit-for-bit in any engine and unrolls into SQL CTEs.
# ---------------------------------------------------------------------------

def _fp_lloyd_ctes(
    iters: int, init_cte: str, sub_div: int | None = None
) -> tuple[list[str], int]:
    """Generated SQL CTEs for the fixed-point Lloyd loop: e6 (1e6
    quantization), c0 = ``init_cte`` (must select cluster, i, cfp —
    the cluster count is entirely determined by the init CTE),
    then per round t: d{t} exact-integer distances, a{t} argmin
    assignment (ties -> lowest cluster), c{t} round(sum/n) centroid
    update with empty-cluster carry. Returns (ctes, fin) where
    d{fin}/a{fin} is the final assignment against the last centroids.

    ``sub_div`` runs INDEPENDENT Lloyd problems in one pipeline
    (product quantization): cluster id = sub * sub_div + code, each
    cluster's c0 rows carry only its subspace's dims (the d{t} join on
    i then restricts distances to that subspace automatically, and the
    c{t} carry-join drops any out-of-subspace update rows), and the
    argmin partitions by (vec_id, cluster // sub_div) so every vector
    gets one winner PER SUBSPACE.
    """
    part = "vec_id" if sub_div is None else f"vec_id, cluster // {sub_div}"
    ctes = [
        f"""e6 AS (
    SELECT vec_id, i.i AS i,
           CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS q
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {_DIMS})) AS i) i
)""",
        f"c0 AS ({init_cte})",
    ]
    for t in range(1, iters + 2):  # rounds 1..iters update; last = final assign
        ctes.append(
            f"""d{t} AS (
    SELECT e.vec_id, c.cluster, SUM((e.q - c.cfp) * (e.q - c.cfp)) AS d
    FROM e6 e JOIN c{t - 1} c ON c.i = e.i
    GROUP BY e.vec_id, c.cluster
)"""
        )
        ctes.append(
            f"""a{t} AS (
    SELECT vec_id, cluster, d FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {part}
                                     ORDER BY d, cluster) AS rk
        FROM d{t}
    ) WHERE rk = 1
)"""
        )
        if t <= iters:
            ctes.append(
                f"""c{t} AS (
    SELECT p.cluster, p.i, COALESCE(u.cfp, p.cfp) AS cfp
    FROM c{t - 1} p LEFT JOIN (
        SELECT a.cluster, e.i,
               CAST(round(CAST(SUM(e.q) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
                   AS cfp
        FROM a{t} a JOIN e6 e ON e.vec_id = a.vec_id
        GROUP BY a.cluster, e.i
    ) u ON u.cluster = p.cluster AND u.i = p.i
)"""
            )
    return ctes, iters + 1


_KM_K, _KM_ITERS = 8, 4

_KM_INIT_CTE = f"""
    SELECT CAST(r.rn - 1 AS INTEGER) AS cluster, e.i, e.q AS cfp
    FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
          FROM embeddings) r
    JOIN e6 e ON e.vec_id = r.vec_id
    WHERE r.rn <= {_KM_K}
"""


def _fp_quantized(e: DataFrame) -> DataFrame:
    """(vec_id, i, q): 1-based dim index, 1e6 fixed-point component."""
    return e.select(
        "vec_id",
        F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "v"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("i"),
        F.round(F.col("v") * F.lit(1000000.0), 0).cast("bigint").alias("q"),
    )


def _fp_init_cents(e6: DataFrame, ids, cluster_of):
    """Initial (cluster, i, cfp) list from the quantized rows of
    ``ids``: rank = position in sorted(ids), cluster_of(rank, i) maps
    a vector's rank and 1-based dim to its cluster id (identity-rank
    for flat k-means/IVF/SemDeDup, sub*k+rank for the PQ composite).
    Shared by all four exact twins so the tie/sort conventions can't
    drift."""
    rank = {vid: r for r, vid in enumerate(sorted(ids))}
    return sorted(
        (cluster_of(rank[r.vec_id], r.i), r.i, r.q)
        for r in e6.filter(F.col("vec_id").isin(list(ids))).collect()
    )


def _fp_distances(spark: SparkSession, e6: DataFrame, cents) -> DataFrame:
    """(vec_id, cluster, d): exact-int64 squared distance to every
    centroid in ``cents`` (list of (cluster, i, cfp) rows)."""
    cdf = spark.createDataFrame(cents, "cluster int, i int, cfp long")
    diff = F.col("q") - F.col("cfp")
    return (
        e6.join(F.broadcast(cdf), "i")
        .groupBy("vec_id", "cluster")
        .agg(F.sum(diff * diff).alias("d"))
    )


def _fp_assign(
    spark: SparkSession, e6: DataFrame, cents, sub_div: int | None = None
) -> DataFrame:
    """(vec_id, cluster, d): nearest centroid, ties -> lowest cluster.
    With ``sub_div``, one winner per (vec_id, cluster // sub_div) —
    the product-quantization composite (see _fp_lloyd_ctes)."""
    keys = [F.col("vec_id")]
    if sub_div is not None:
        keys.append(F.expr(f"cluster DIV {sub_div}"))
    w = Window.partitionBy(*keys).orderBy(F.col("d").asc(), F.col("cluster").asc())
    return (
        _fp_distances(spark, e6, cents)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cluster", "d")
    )


def _fp_lloyd_fit(
    spark: SparkSession, e6: DataFrame, cents, iters: int,
    sub_div: int | None = None,
):
    """Run ``iters`` fixed-point Lloyd updates; per round the driver
    collects only the k x dims centroid table (the kmeans_fit
    sanctioned bounded collect). Empty clusters carry their previous
    centroid (rebuilding from the previous (cluster, i) keys also
    drops the out-of-subspace rows the composite sub_div mode's
    full-e6 join produces). Returns the final (cluster, i, cfp) list."""
    for _ in range(iters):
        upd = (
            _fp_assign(spark, e6, cents, sub_div)
            .join(e6, "vec_id")
            .groupBy("cluster", "i")
            .agg(
                F.round(F.sum("q").cast("double") / F.count(F.lit(1)), 0)
                .cast("bigint")
                .alias("cfp")
            )
            .collect()
        )
        newmap = {(r.cluster, r.i): r.cfp for r in upd}
        cents = [(c, i, newmap.get((c, i), cfp)) for (c, i, cfp) in cents]
    return cents



# ---------------------------------------------------------------------------
# Norms / basic vector math
# ---------------------------------------------------------------------------


@query(
    "emb_norms",
    oracle=f"""
SELECT vec_id, label,
       CAST(len(embedding) AS INTEGER) AS dim,
       SQRT({_sql_dot('embedding', 'embedding')}) AS l2_norm,
       list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
FROM embeddings
""",
    tags=("vectors", "X7"),
)
def emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm and max-abs per embedding (built-in HOFs, no UDF)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = vec_double(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(vec_norm_sq(v)).alias("l2_norm"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("max_abs"),
    )


# ---------------------------------------------------------------------------
# X7: brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------


@query(
    "emb_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id,
           {_sql_dot('qv', 'cv')} /
           SQRT({_sql_dot('qv', 'qv')} * {_sql_dot('cv', 'cv')}) AS cosine
    FROM q CROSS JOIN c
    WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= 5
""",
    tags=("vectors", "X7", "bench"),
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for probe vectors vec_id < 10.

    Probe set is broadcast; the corpus is scanned map-side only —
    the scale-correct shape for few-probe exact search.
    """
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    return brute_force_topk(e, probes, k=5)


# ---------------------------------------------------------------------------
# ANN: sign-LSH bucketed approximate top-k (rows-only; recall vs the
# exact baseline is asserted in pytest)
# ---------------------------------------------------------------------------


@query("emb_ann_lsh", oracle=None, tags=("vectors", "ANN", "no-oracle", "bench"))
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table sign-LSH (8 tables × 6 bits).

    Rows-only: the seeded-numpy hyperplanes are engine-private (no
    SQL can reproduce the buckets) — emb_ann_md5 is the fully-oracled
    twin of the same design, and recall >= 0.9 vs the exact top-k is
    pinned in pytest."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    return lsh_bucket_topk(e, probes, dims=_DIMS, k=5, n_planes=6, n_tables=8)


# Engine-portable ANN twin (r7, VERDICT r6 item 4b): md5-derived ±1
# hyperplanes (the emb_rp_project sign construction) + 1e9 fixed-point
# components make every bucket bit an exact integer comparison, so the
# candidate set AND the exact-cosine rerank are DuckDB-reproducible.
# Same multi-table banded design as emb_ann_lsh — only the hash family
# is portable instead of seeded-numpy.
_ANN_T, _ANN_J = 8, 6

# Shared CTE prefix: md5-plane bucket assignment (vec_id, t, bucket) —
# used by both the ANN rerank oracle and the index-health oracle
# (diag_lsh_buckets_md5), kept in one literal so the two can't drift.
_MD5_BUCKET_CTES = f"""e9 AS (
    SELECT vec_id, i.i AS i,
           CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000000, 0) AS BIGINT) AS qi
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {_DIMS})) AS i) i
),
sgn AS (
    SELECT t.t, j.j, i.i,
           CASE WHEN substr(md5('ann-' || CAST(t.t AS VARCHAR) || '-'
                                 || CAST(j.j AS VARCHAR) || '-'
                                 || CAST(i.i AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7')
                THEN 1 ELSE -1 END AS sgn
    FROM (SELECT unnest(range({_ANN_T})) AS t) t
    CROSS JOIN (SELECT unnest(range({_ANN_J})) AS j) j
    CROSS JOIN (SELECT unnest(generate_series(1, {_DIMS})) AS i) i
),
dots AS (
    SELECT e.vec_id, s.t, s.j, SUM(s.sgn * e.qi) AS dot
    FROM e9 e JOIN sgn s ON s.i = e.i
    GROUP BY e.vec_id, s.t, s.j
),
buck AS (
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id, t
)"""

_ANN_MD5_ORACLE = f"""
WITH {_MD5_BUCKET_CTES},
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM buck c JOIN buck q ON q.t = c.t AND q.bucket = c.bucket
    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {_sql_dot('qe.embedding', 'ce.embedding')} /
           SQRT({_sql_dot('qe.embedding', 'qe.embedding')}
                * {_sql_dot('ce.embedding', 'ce.embedding')}) AS cosine
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""


@query("emb_ann_md5", oracle=_ANN_MD5_ORACLE, tags=("vectors", "ANN", "md5"))
def emb_ann_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracled sign-LSH ANN top-5 (8 tables × 6 bits): the
    doc_simhash_md5/doc_minhash_md5 twin pattern for emb_ann_lsh.
    Buckets come from md5-derived Rademacher planes over fixed-point
    components (operators/similarity.md5_sign_buckets), candidates
    from the same (table, bucket) equi-join, and the rerank is the
    established exact-cosine expression — the full candidate
    generation + rerank pipeline is hash-compared by the driver.
    Verification path: the BLAS pandas_udf twin (emb_ann_lsh) stays
    the throughput path; recall pinning between the two is in pytest.
    """
    from ..operators.similarity import md5_sign_buckets

    e = load_table(spark, sf_dir, "embeddings")
    buck = md5_sign_buckets(e, "vec_id", "embedding", _DIMS, _ANN_J, _ANN_T)
    qb = buck.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    cb = buck.select(F.col("vec_id").alias("neighbor_id"), "t", "bucket")
    cand = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _cosine_rerank(e, cand)


# ---------------------------------------------------------------------------
# Per-label centroids in long form (label, pos, avg) — avoids array
# reassembly while still exercising grouped vector math
# ---------------------------------------------------------------------------


@query(
    "emb_label_centroids",
    oracle="""
SELECT label, CAST(pos AS INTEGER) AS pos,
       round(CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_val,
       COUNT(*) AS n
FROM embeddings
CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
GROUP BY label, pos
""",
    tags=("vectors", "centroid"),
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long form (pos is 1-based dimension index)."""
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    # Final round(…, 6): continuous (float-origin) values can land on a
    # 9-decimal half-way point where the engines' double→decimal
    # rounding disagrees by one decimal ulp (seen at sf0.1); rounding
    # the quotient absorbs that.
    return exploded.groupBy("label", "pos").agg(
        F.round(davg("val", 18, 9), 6).alias("avg_val"),
        F.count(F.lit(1)).alias("n"),
    )


@query("emb_ann_ivf", oracle=None, tags=("vectors", "ANN", "no-oracle"))
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (16-cell k-means quantizer, 2 probes).

    Rows-only: the BLAS quantizer's double argmin isn't SQL-replayable
    — emb_ann_ivf_exact is the fully-oracled fixed-point twin of the
    same design; recall >= 0.9 vs the exact top-k is pinned in pytest
    (tests/test_dedup_similarity.py)."""
    from ..operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    return ivf_topk(e, probes, dims=_DIMS, k=5, n_centroids=16, n_probe=2)


_IVF_K, _IVF_ITERS, _IVF_PROBE = 16, 2, 2

_IVF_INIT_CTE = f"""
    SELECT CAST(r.rn - 1 AS INTEGER) AS cluster, e.i, e.q AS cfp
    FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM embeddings,
             (SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / {_IVF_K}.0) AS BIGINT))
                  AS stride FROM embeddings) s
        WHERE vec_id % s.stride = 0
    ) r
    JOIN e6 e ON e.vec_id = r.vec_id
    WHERE r.rn <= {_IVF_K}
"""


def _ivf_exact_oracle() -> str:
    ctes, fin = _fp_lloyd_ctes(_IVF_ITERS, _IVF_INIT_CTE)
    ctes.append(
        f"""probe AS (
    SELECT vec_id AS query_id, cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, cluster) AS rk
        FROM d{fin}
    ) WHERE rk <= {_IVF_PROBE} AND vec_id < 10
)"""
    )
    ctes.append(
        f"""cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
    FROM probe p JOIN a{fin} a ON a.cluster = p.cluster
    WHERE a.vec_id <> p.query_id
)"""
    )
    ctes.append(
        f"""scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {_sql_dot('qe.embedding', 'ce.embedding')} /
           SQRT({_sql_dot('qe.embedding', 'qe.embedding')}
                * {_sql_dot('ce.embedding', 'ce.embedding')}) AS cosine
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""
    )


@query(
    "emb_ann_ivf_exact",
    out_schema="query_id bigint, neighbor_id bigint, cosine double, rnk int",
    oracle=_ivf_exact_oracle(),
    tags=("vectors", "ANN", "exact"),
)
def emb_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracled IVF ANN twin (16 cells, 2 fixed-point Lloyd
    rounds, 2 probes, exact-cosine rerank): the emb_kmeans_exact
    machinery used as a coarse quantizer, so the ENTIRE IVF pipeline
    — quantizer fit, cell assignment, probe routing, candidate scan,
    rerank — is hash-compared against DuckDB. Init = every
    (n//16)-th vector by id (ivf_fit_centroids' stride init; assumes
    the fixture's contiguous id space). Cell routing distances are
    exact int64 (1e6 fixed point); the rerank is the established
    left-to-right cosine walk.

    Scale: identical shuffle shape to emb_ann_ivf — bounded k x dims
    centroid collects per round, then a cluster-id equi-join; the
    interpreted-fold rerank makes this the verification path, the
    BLAS ivf_topk the throughput path.
    """
    e = load_table(spark, sf_dir, "embeddings")
    e6 = _fp_quantized(e)
    n = e.count()
    stride = max(1, n // _IVF_K)
    first = [
        r.vec_id
        for r in e.filter(F.col("vec_id") % stride == 0)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(_IVF_K)
        .collect()
    ]
    if len(first) < _IVF_K:
        raise ValueError(
            f"stride init found {len(first)} < k={_IVF_K} vectors "
            "(non-contiguous id space)"
        )
    cents = _fp_init_cents(e6, first, lambda r, i: r)
    cents = _fp_lloyd_fit(spark, e6, cents, _IVF_ITERS)

    dists = _fp_distances(spark, e6, cents)
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cluster").asc())
    probe = (
        dists.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= _IVF_PROBE) & (F.col("vec_id") < 10))
        .select(F.col("vec_id").alias("query_id"), "cluster")
    )
    cells = _fp_assign(spark, e6, cents).select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    )
    cand = (
        cells.join(F.broadcast(probe), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _cosine_rerank(e, cand)


# ---------------------------------------------------------------------------
# X7+: symmetric int8 scalar quantization (embedding compression)
# ---------------------------------------------------------------------------


@query(
    "emb_quantize_int8",
    oracle="""
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
    FROM embeddings
), m AS (
    SELECT vec_id, vd,
           list_max(list_transform(vd, x -> abs(x))) AS max_abs
    FROM v
)
SELECT vec_id,
       max_abs,
       CASE WHEN max_abs = 0 THEN 1.0 ELSE 127.0 / max_abs END AS scale,
       array_to_string(
           list_transform(vd, x -> CAST(floor(x * (CASE WHEN max_abs = 0 THEN 1.0 ELSE 127.0 / max_abs END)) AS BIGINT)),
           ',') AS codes,
       CAST(len(list_filter(vd, x -> abs(x) = max_abs)) AS INTEGER) AS n_at_max
FROM m
""",
    tags=("vectors", "X7", "quantize"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|,
    code_i = floor(x_i * scale) ∈ [-128, 127].

    floor (not round) keeps the code deterministic across engines —
    round-half modes differ, floor doesn't, and x*scale is the same
    IEEE multiply on both sides. Codes cross the oracle boundary as a
    comma-joined string (driver canonicalizer hashes scalars only).
    Map-side only: no shuffle, codegen-friendly higher-order functions;
    at 100 TB this is the classic 4× footprint cut before ANN serving.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vd = vec_double(F.col("embedding"))
    m = e.select(
        "vec_id",
        vd.alias("vd"),
        F.array_max(F.transform(vd, lambda x: F.abs(x))).alias("max_abs"),
    )
    scale = F.when(F.col("max_abs") == 0, F.lit(1.0)).otherwise(
        F.lit(127.0) / F.col("max_abs")
    )
    return m.select(
        "vec_id",
        "max_abs",
        scale.alias("scale"),
        F.array_join(
            F.transform(F.col("vd"), lambda x: F.floor(x * scale).cast("bigint")),
            ",",
        ).alias("codes"),
        F.size(
            F.filter(F.col("vd"), lambda x: F.abs(x) == F.col("max_abs"))
        ).cast("int").alias("n_at_max"),
    )


# ---------------------------------------------------------------------------
# X7+: product quantization ADC search (compressed-domain ANN)
# ---------------------------------------------------------------------------


@query("emb_pq_topk", oracle=None, tags=("vectors", "ANN", "quantize", "no-oracle"))
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 with exact re-rank of the ADC top-50
    (operators/pq.py: 8 subspaces × 16 centroids = 8 B/vector vs 256 B
    raw; deterministic codebook; rows-only because the BLAS codebook
    fit isn't SQL-replayable — emb_pq_exact is the fully-oracled
    fixed-point twin of the same design; recall and exactness are
    pinned in tests/test_pq.py)."""
    from ..operators.pq import pq_adc_topk, pq_fit

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    codebook = pq_fit(e, dims=_DIMS, m_sub=8, k=16, iters=2)
    return pq_adc_topk(e, probes, codebook, k=5, rerank=50)


_PQ_SUB, _PQ_K, _PQ_ITERS, _PQ_RERANK = 8, 16, 2, 50
_PQ_DIMS = _DIMS // _PQ_SUB  # dims per subspace

# PQ init: vector rank r (1..k) seeds code r-1 in EVERY subspace;
# cluster id = sub * k + code, carrying only that subspace's dims.
_PQ_INIT_CTE = f"""
    SELECT CAST(((e.i - 1) // {_PQ_DIMS}) * {_PQ_K} + r.rn - 1 AS INTEGER)
               AS cluster,
           e.i, e.q AS cfp
    FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
          FROM embeddings) r
    JOIN e6 e ON e.vec_id = r.vec_id
    WHERE r.rn <= {_PQ_K}
"""


def _pq_exact_oracle() -> str:
    ctes, fin = _fp_lloyd_ctes(_PQ_ITERS, _PQ_INIT_CTE, sub_div=_PQ_K)
    ctes.append(
        f"""adc AS (
    SELECT t.vec_id AS query_id, k.vec_id AS neighbor_id,
           SUM(t.d) AS adc
    FROM a{fin} k JOIN d{fin} t ON t.cluster = k.cluster
    WHERE t.vec_id < 10 AND k.vec_id <> t.vec_id
    GROUP BY t.vec_id, k.vec_id
)"""
    )
    ctes.append(
        f"""cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, neighbor_id) AS ark
        FROM adc
    ) WHERE ark <= {_PQ_RERANK}
)"""
    )
    ctes.append(
        f"""scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {_sql_dot('qe.embedding', 'ce.embedding')} /
           SQRT({_sql_dot('qe.embedding', 'qe.embedding')}
                * {_sql_dot('ce.embedding', 'ce.embedding')}) AS cosine
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""
    )


@query(
    "emb_pq_exact",
    out_schema="query_id bigint, neighbor_id bigint, cosine double, rnk int",
    oracle=_pq_exact_oracle(),
    tags=("vectors", "ANN", "quantize", "exact"),
)
def emb_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracled product-quantization ANN twin (8 subspaces x 16
    codewords, 2 fixed-point Lloyd rounds, ADC top-50 + exact-cosine
    rerank to top-5): all 8 per-subspace codebooks train as ONE
    composite Lloyd pipeline — cluster id = sub*16 + code, each
    cluster's centroid rows carry only its subspace's 8 dims, so the
    dim join restricts distances per subspace and the argmin partitions
    by (vector, subspace). ADC distance tables fall out of the final
    distance relation for free (probe rows of d_fin ARE the tables),
    the ADC score is an exact-int64 sum of 8 table lookups, and the
    rerank is the established cosine walk — the ENTIRE
    compressed-domain ANN pipeline is hash-compared against DuckDB.

    Scale: two bounded collects of (8*16) x 8 centroid rows total (vs
    per-subspace loops); candidates are ADC-rank-bounded before any
    raw vector is touched — the same 8 B/vector scan shape as
    operators/pq.pq_adc_topk, which stays the throughput path.
    """
    e = load_table(spark, sf_dir, "embeddings")
    e6 = _fp_quantized(e)
    first = [
        r.vec_id
        for r in e.select("vec_id").orderBy("vec_id").limit(_PQ_K).collect()
    ]
    if len(first) < _PQ_K:
        raise ValueError(f"corpus has fewer than k={_PQ_K} vectors")
    cents = _fp_init_cents(
        e6, first, lambda r, i: ((i - 1) // _PQ_DIMS) * _PQ_K + r
    )
    cents = _fp_lloyd_fit(spark, e6, cents, _PQ_ITERS, sub_div=_PQ_K)

    codes = _fp_assign(spark, e6, cents, sub_div=_PQ_K)  # (vec, cluster, d)
    tab = (
        _fp_distances(spark, e6.filter(F.col("vec_id") < 10), cents)
        .select(F.col("vec_id").alias("query_id"), "cluster", F.col("d").alias("td"))
    )
    adc = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "cluster")
        .join(F.broadcast(tab), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("td").alias("adc"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        adc.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    return _cosine_rerank(e, cand)


# ---------------------------------------------------------------------------
# X7c: k-means clustering (the SemDeDup / corpus-stratification primitive)
# ---------------------------------------------------------------------------


@query(
    "emb_kmeans",
    oracle=None,  # the BLAS argmin compares doubles whose accumulation
    # order SQL can't replay; emb_kmeans_exact is the fully-oracled
    # fixed-point twin of the same algorithm, and the determinism +
    # recovery contract is pinned in tests/test_r6b_ops.py
    tags=("vector", "clustering", "X7c", "no-oracle"),
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean k-means (k=8, 4 deterministic Lloyd rounds) over the
    embedding corpus; per-cluster size, order-immune inertia, and the
    majority ground-truth label with its count (clustering quality at
    a glance: n_majority/n_members ~= purity).

    Rows-only by nature (iterative refinement has no SQL twin) but
    fully deterministic: id-ordered init, tie-broken argmin, decimal
    per-dim centroid sums (operators/clustering.py), 6dp-rounded
    squared distances summed in 1e6 fixed point so inertia is
    partition-order-immune, and the majority label tie-broken to the
    lowest label id.

    Scale: the per-iteration k x dims driver collect is bounded by the
    PARAMETER k (k=8 here; fine to ~10^3-10^4). For corpus-prescribed
    k the named swap is hierarchical_kmeans_assign (capped coarse
    collect + per-cell refinement — the emb_semdedup path since r7).
    """
    from ..operators.clustering import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, dims=_DIMS, k=8, iters=4)
    assigned = kmeans_assign(emb, centroids)
    fp = F.round(F.round(F.col("sqdist"), 6) * F.lit(1e6), 0).cast("long")
    per_label = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n_label"),
        F.sum(fp).alias("fp_sum"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n_label").desc(), F.col("label").asc()
    )
    ranked = per_label.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.sum("n_label").cast("bigint").alias("n_members"),
            (F.sum("fp_sum").cast("double") / F.lit(1e6)).alias("inertia"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias("majority_label"),
            F.max(F.when(F.col("rk") == 1, F.col("n_label"))).cast("bigint").alias("n_majority"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_members",
            "inertia",
            "majority_label",
            "n_majority",
        )
    )


# ---------------------------------------------------------------------------
# X7c, exact-oracled twin: fixed-point Lloyd's. Every quantity in the
# loop is an exact int64 — coords quantize to 1e6 fixed point
# (|v| <= ~0.6 -> q <= ~6e5; per-dim squared diff <= ~1.5e12; 64-dim
# distance <= ~9.2e13, all comfortably exact in int64 AND float64), the
# argmin compares exact integers with a lowest-cluster tiebreak, and
# the centroid update is round(sum/n) where sum <= n*6e5 stays exact in
# double — so all 4 Lloyd rounds + final assignment replay bit-for-bit
# in any engine, and the whole algorithm unrolls into SQL CTEs. The
# BLAS twin (emb_kmeans) stays the throughput path; this is the
# verification path (the emb_ann_lsh / emb_ann_md5 duality applied to
# clustering — refutes the "iterative refinement is not SQL-
# expressible" rows-only docstring for bounded iteration counts).
# ---------------------------------------------------------------------------



def _kmeans_exact_oracle() -> str:
    ctes, fin = _fp_lloyd_ctes(_KM_ITERS, _KM_INIT_CTE)
    ctes.append(
        f"""per_label AS (
    SELECT a.cluster, emb.label,
           CAST(COUNT(*) AS BIGINT) AS n_label, SUM(a.d) AS dsum
    FROM a{fin} a JOIN embeddings emb ON emb.vec_id = a.vec_id
    GROUP BY a.cluster, emb.label
)"""
    )
    ctes.append(
        """ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                 ORDER BY n_label DESC, label) AS rk
    FROM per_label
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(SUM(n_label) AS BIGINT) AS n_members,
       round(CAST(SUM(dsum) AS DOUBLE) / 1000000000000.0, 6) AS inertia,
       MAX(CASE WHEN rk = 1 THEN label END) AS majority_label,
       CAST(MAX(CASE WHEN rk = 1 THEN n_label END) AS BIGINT) AS n_majority
FROM ranked GROUP BY cluster
"""
    )


@query(
    "emb_kmeans_exact",
    out_schema="cluster int, n_members bigint, inertia double, majority_label int, n_majority bigint",
    oracle=_kmeans_exact_oracle(),
    tags=("vector", "clustering", "X7c", "exact"),
)
def emb_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracled k-means twin (k=8, 4 fixed-point Lloyd rounds
    + final assignment): same report as emb_kmeans (size, inertia,
    majority label) but every arithmetic step is an exact int64 — see
    the block comment above for the overflow/exactness budget. Init =
    first k vectors by vec_id quantized IN the engine (q = round(v *
    1e6), the engine's half-away rounding — quantizing driver-side with
    Python round() would diverge on banker's-rounding midpoints);
    empty clusters keep their previous centroid, mirroring
    operators/clustering.kmeans_fit.

    Scale: per-round driver traffic is the k x dims fixed-point
    centroid table (512 rows here — the kmeans_fit sanctioned bounded
    collect); data-plane work per round is one broadcast join + two
    integer partial+final aggregates over the exploded (vec, dim)
    rows. Parameter-k verification path; emb_kmeans (BLAS mapInPandas)
    is the throughput path, hierarchical_kmeans_assign the
    corpus-prescribed-k path.
    """
    e = load_table(spark, sf_dir, "embeddings")
    e6 = _fp_quantized(e)
    first = [
        r.vec_id
        for r in e.select("vec_id").orderBy("vec_id").limit(_KM_K).collect()
    ]
    if len(first) < _KM_K:
        raise ValueError(f"corpus has fewer than k={_KM_K} vectors")
    cents = _fp_init_cents(e6, first, lambda r, i: r)
    cents = _fp_lloyd_fit(spark, e6, cents, _KM_ITERS)
    lab = _fp_assign(spark, e6, cents).join(e.select("vec_id", "label"), "vec_id")
    per_label = lab.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_label"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("dsum"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n_label").desc(), F.col("label").asc()
    )
    ranked = per_label.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.sum("n_label").cast("bigint").alias("n_members"),
            F.round(
                F.sum("dsum").cast("double") / F.lit(1000000000000.0), 6
            ).alias("inertia"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias(
                "majority_label"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_label")))
            .cast("bigint")
            .alias("n_majority"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_members",
            "inertia",
            "majority_label",
            "n_majority",
        )
    )


# ---------------------------------------------------------------------------
# X6d: SemDeDup — semantic dedup via cluster-then-prune (the embedding
# twin of MinHash-LSH: clustering bounds the candidate set so the
# all-pairs cosine explosion never happens)
# ---------------------------------------------------------------------------


@query(
    "emb_semdedup",
    oracle=None,  # the BLAS cosine matmul isn't SQL-replayable;
    # emb_semdedup_exact is the fully-oracled fixed-point twin, and
    # dup-dropping semantics are pinned on planted data in tests
    tags=("vector", "dedup", "X6d", "no-oracle"),
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the corpus, then inside each cluster
    drop every vector with a cosine >= 0.95 neighbor of lower vec_id
    (the canonical-survivor rule — deterministic, no RNG). Returns the
    kept rows with their cluster id.

    Scale shape: k scales with the corpus (~512 vectors per cluster)
    so the per-cluster pairwise term is constant, and the pairwise
    cosine runs INSIDE applyInPandas as one c x c BLAS matmul per
    cluster — only the c member rows ever shuffle, never the c^2 pair
    set (the same no-materialization discipline as MinHash banding).
    Because k is corpus-prescribed, clustering goes through
    hierarchical_kmeans_assign (r7): the driver only ever collects the
    coarse sqrt(k)-capped centroid matrix and the k2-way refinement
    runs per-cell inside applyInPandas — no driver round-trip grows
    with k (the r6 verdict's 100 TB ceiling, removed).
    Measured: 500k x 64 vectors in 43 s end to end pre-rewrite; the
    hierarchical path probes within the same envelope (BASELINE.md r7).
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # ~512 members per cluster: recall needs dup families to share a
    # cluster, so k must not exceed the natural grouping scale. No
    # upper cap (r12): the old min(4096, ...) was vestigial from the
    # flat-kmeans era — hierarchical_kmeans_assign exists precisely to
    # serve corpus-prescribed k with capped driver traffic — and it
    # silently broke the "per-cluster pairwise term is constant"
    # promise beyond 2M vectors: with k frozen the pairwise work is
    # n²/k, measured 43.0 s at 4M -> 84.6 s at 8M where the uncapped k
    # keeps clusters at ~512 and the probe trend linear (35.4 ->
    # 63.7 s, 1.8x/doubling). Fixture scales (n < 2M) are unaffected
    # (k = n//512 < 4096 either way); emb_semdedup_exact — the
    # fixture-scale verification twin — keeps the cap deliberately,
    # since its SQL oracle embeds it and its flat Lloyd fit's driver
    # collect DOES scale with k.
    k = max(2, n // 512)
    # levels=3 (r13 16M probe): with k prescribed as n/512, two-level
    # assignment is O(n x sqrt(k)) = O(n^1.5) — measured 25.5/73.2/
    # 207.8 s at 4M/8M/16M (2.84x/doubling, exactly 2*sqrt(2)), the
    # flat sqrt(k)-cluster local refine dominating. levels=3 splits
    # that local refine into two k^(1/4)-branch levels (~4x fewer
    # refine flops) while keeping the level-1 sqrt(k) granularity —
    # and therefore skew/shuffle behavior — unchanged. Same
    # determinism contract; dup families still can't split (identical
    # vectors argmin identically at every level). See
    # hierarchical_kmeans_assign's cost model.
    # r15 (optimization round): refine + prune FUSED into the one
    # per-cell applyInPandas. The two-stage pipeline shuffled the
    # full embedding column TWICE — groupBy(__cell) for the local-tree
    # refinement, then groupBy(cluster) for the pairwise prune — but
    # every final cluster is a subset of its level-1 cell (cluster =
    # cell·w + local), so pruning per local cluster inside the cell
    # group computes the identical result with ONE corpus shuffle and
    # one Python round-trip fewer (guide §2.4/§8: the second grouped
    # exchange moved dims-wide vectors only to re-group rows the first
    # already co-located). Bit-identity: the cell frame is sorted by
    # vec_id once (mergesort), so each local cluster's member subset
    # is in the same sorted order the old prune produced, the float64
    # matrix is built from the same float32 values, and the drop rule
    # is unchanged — pinned against the two-stage reconstruction in
    # tests/test_r15_semdedup_fused.py and A/B'd at 8M against the
    # r14 commit (docs/scale.md "Re-measuring").
    from ..operators.clustering import (
        assign_euclid_udf,
        ceil_root,
        local_tree_assign,
        tree_width,
        kmeans_fit,
    )

    levels = 3
    coarse_iters, fine_iters, coarse_cap = 2, 4, 4096
    k1 = min(coarse_cap, ceil_root(k, 2))
    k_rem = -(-k // k1)
    coarse = kmeans_fit(emb, _DIMS, k=k1, iters=coarse_iters)
    assigned = emb.withColumn(
        "__cell", assign_euclid_udf(coarse)(F.col("embedding"))
    ).select("vec_id", "label", "__cell", "embedding")
    w_rem = tree_width(k_rem, levels - 1)
    depth = levels - 1

    def refine_prune(pdf):
        import numpy as np
        import pandas as pd

        cell = int(pdf["__cell"].iloc[0])
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]],
            dtype=np.float64,
        )
        if k_rem <= 1:
            cl = np.zeros(len(pdf), dtype=np.int64)
        else:
            cl = local_tree_assign(mat, k_rem, depth, coarse_iters, fine_iters)
        cluster = cell * w_rem + cl
        keep_mask = np.ones(len(pdf), dtype=bool)
        for cid in np.unique(cluster):
            sel = np.nonzero(cluster == cid)[0]  # ascending -> sorted by id
            sub = mat[sel]
            norms = np.sqrt((sub**2).sum(axis=1))
            norms[norms == 0.0] = 1.0
            unit = sub / norms[:, None]
            sims = unit @ unit.T
            c = len(sel)
            iu = np.triu_indices(c, k=1)
            drop = np.zeros(c, dtype=bool)
            hits = sims[iu] >= 0.95
            np.logical_or.at(drop, iu[1][hits], True)
            keep_mask[sel[drop]] = False
        out = pdf.loc[keep_mask, ["vec_id", "label"]].copy()
        out["cluster"] = cluster[keep_mask].astype(np.int32)
        return out

    return assigned.groupBy("__cell").applyInPandas(
        refine_prune, schema="vec_id long, label int, cluster int"
    )


# SemDeDup exact twin: fixed-point Lloyd clusters + quantized-integer
# cosine test. cos(a,b) >= 0.95 is evaluated as dotq > 0 AND dotq^2 >=
# 0.9025*nsq_a*nsq_b over 1e6-quantized components — dot and norms are
# exact int64 (<= 64 * (6e5)^2 ~ 2.3e13), the squares/products are
# fixed chains of correctly-rounded double ops, and no division or
# sqrt appears, so the drop decision is bit-identical in any engine.
_SEMDEDUP_INIT_CTE = """
    SELECT CAST(r.rn - 1 AS INTEGER) AS cluster, e.i, e.q AS cfp
    FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
          FROM embeddings) r
    JOIN e6 e ON e.vec_id = r.vec_id
    WHERE r.rn <= (SELECT GREATEST(2, LEAST(4096, COUNT(*) // 512))
                   FROM embeddings)
"""


def _semdedup_exact_oracle() -> str:
    ctes, fin = _fp_lloyd_ctes(2, _SEMDEDUP_INIT_CTE)
    ctes.append(
        f"""qv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))
               AS qa
    FROM embeddings
)"""
    )
    ctes.append(
        """nq AS (
    SELECT vec_id,
           CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT) AS nsq
    FROM qv
)"""
    )
    ctes.append(
        f"""dropped AS (
    SELECT DISTINCT vec_id FROM (
        SELECT hi.vec_id,
               CAST(list_sum(list_transform(generate_series(1, {_DIMS}),
                             i -> qlo.qa[i] * qhi.qa[i])) AS BIGINT) AS dotq,
               nlo.nsq AS nsq_lo, nhi.nsq AS nsq_hi
        FROM a{fin} lo JOIN a{fin} hi
          ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
        JOIN qv qlo ON qlo.vec_id = lo.vec_id
        JOIN qv qhi ON qhi.vec_id = hi.vec_id
        JOIN nq nlo ON nlo.vec_id = lo.vec_id
        JOIN nq nhi ON nhi.vec_id = hi.vec_id
    )
    WHERE dotq > 0
      AND CAST(dotq AS DOUBLE) * CAST(dotq AS DOUBLE)
          >= 0.9025 * CAST(nsq_lo AS DOUBLE) * CAST(nsq_hi AS DOUBLE)
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.vec_id, emb.label, CAST(a.cluster AS INTEGER) AS cluster
FROM a{fin} a
JOIN embeddings emb ON emb.vec_id = a.vec_id
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
"""
    )


@query(
    "emb_semdedup_exact",
    out_schema="vec_id bigint, label int, cluster int",
    oracle=_semdedup_exact_oracle(),
    tags=("vector", "dedup", "X6d", "exact"),
)
def emb_semdedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracled SemDeDup twin: cluster with the fixed-point Lloyd
    machinery (k = max(2, min(4096, n//512)), 2 rounds, first-k init),
    then inside each cluster drop every vector with a
    cosine >= 0.95 neighbor of lower vec_id — with the threshold test
    evaluated in quantized integers (see the block comment above), so
    cluster assignment AND the drop set are hash-compared against
    DuckDB end to end. Zero-norm vectors are never dropped (dotq = 0
    fails the > 0 guard) in both engines.

    Scale: the candidate set is cluster-bounded exactly like
    emb_semdedup (pairs only within a cluster, never materialized
    cross-cluster); the integer zip_with fold makes this the
    verification path, the per-cluster BLAS matmul of emb_semdedup the
    throughput path, and hierarchical_kmeans_assign the
    corpus-prescribed-k production quantizer.
    """
    e = load_table(spark, sf_dir, "embeddings")
    e6 = _fp_quantized(e)
    n = e.count()
    k = max(2, min(4096, n // 512))
    first = [
        r.vec_id for r in e.select("vec_id").orderBy("vec_id").limit(k).collect()
    ]
    if len(first) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    cents = _fp_init_cents(e6, first, lambda r, i: r)
    cents = _fp_lloyd_fit(spark, e6, cents, 2)
    asg = _fp_assign(spark, e6, cents).select("vec_id", "cluster")

    qv = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
        ).alias("qa"),
    )
    nq = qv.select(
        "vec_id",
        F.expr(
            "aggregate(transform(qa, x -> x * x), CAST(0 AS BIGINT), "
            "(acc, v) -> acc + v)"
        ).alias("nsq"),
    )
    lo = (
        asg.select(F.col("vec_id").alias("lo_id"), "cluster")
        .join(qv.select(F.col("vec_id").alias("lo_id"), F.col("qa").alias("qa_lo")), "lo_id")
        .join(nq.select(F.col("vec_id").alias("lo_id"), F.col("nsq").alias("nsq_lo")), "lo_id")
    )
    hi = (
        asg.select(F.col("vec_id").alias("hi_id"), "cluster")
        .join(qv.select(F.col("vec_id").alias("hi_id"), F.col("qa").alias("qa_hi")), "hi_id")
        .join(nq.select(F.col("vec_id").alias("hi_id"), F.col("nsq").alias("nsq_hi")), "hi_id")
    )
    dotq = F.expr(
        "aggregate(zip_with(qa_lo, qa_hi, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    # the equi-join key has only k (2-4096) distinct values, so without
    # a round-robin repartition every interpreted fold below would run
    # on k tasks (r7: 94 s -> ~20 s at sf0.01 on local[32])
    dropped = (
        lo.join(hi, "cluster")
        .filter(F.col("lo_id") < F.col("hi_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("dotq", dotq)
        .filter(
            (F.col("dotq") > 0)
            & (
                F.col("dotq").cast("double") * F.col("dotq").cast("double")
                >= F.lit(0.9025)
                * F.col("nsq_lo").cast("double")
                * F.col("nsq_hi").cast("double")
            )
        )
        .select(F.col("hi_id").alias("vec_id"))
        .distinct()
    )
    return (
        asg.join(e.select("vec_id", "label"), "vec_id")
        .join(dropped, "vec_id", "left_anti")
        .select("vec_id", "label", F.col("cluster").cast("int").alias("cluster"))
    )


# ---------------------------------------------------------------------------
# X7d: PCA — distributed covariance, driver eigensolve (d is bounded)
# ---------------------------------------------------------------------------


@query(
    "emb_pca_variance",
    oracle=None,  # eigendecomposition has no SQL twin; spectrum pinned
    # on planted low-rank data + vs numpy full-data PCA in tests
    tags=("vector", "pca", "X7d"),
)
def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA of the embedding corpus: per component, explained
    variance and its share of total variance (the embedding-quality /
    dimensionality diagnostic; also the whitening front-end for the
    PQ codebooks).

    Distributed part = one mapInPandas pass emitting d^2-cell Gram
    partials in fixed point (addition-order-immune, O(d^2 x batches)
    on the shuffle — row count never); driver part = 64 x 64 eigh
    (bounded). Deterministic: exact integer sums, eigh on the same
    matrix, sign fixed by largest-|coordinate|-positive. Rows-only:
    eigendecomposition has no SQL twin; pytest pins the spectrum on
    planted low-rank data and against numpy full-data PCA, and
    emb_pca_power_exact below is the fully-oracled power-method twin
    of the top component.
    """
    from ..operators.clustering import covariance_matrix, pca_components

    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    _, cov, n = covariance_matrix(emb, dims=_DIMS)
    vals, _comps = pca_components(cov, top=8)
    total = float(cov.trace())
    rows = [
        (i, round(float(v), 6), round(float(v / total), 6))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "component int, variance double, var_share double"
    )


# -- emb_pca_power_exact: the fully-oracled twin of the PCA family
# (the fixed-point-Lloyd playbook applied to X7d). eigh itself has no
# SQL twin, but the POWER METHOD does: the centered scatter matrix
# C = n*G - S S^T is an exact integer (G = sum q q^T, S = sum q over
# 1e6-quantized coords — no mean rounding anywhere, because scaling by
# n clears the division), and each iteration is (a) u = C v via the
# driver-proven left-to-right dot walk, (b) norm = sqrt of the ordered
# sum of squares, (c) v' = round((u / norm) * 1e6) back to exact int64
# — so T rounds unroll into SQL CTEs exactly like the Lloyd twins. The
# engine runs the same replay driver-side on the collected 64x64 exact
# C (the sanctioned bounded collect; the distributed part is the Gram
# self-join over _fp_quantized, whose JVM F.round == DuckDB round).

_PCA_POWER_ITERS = 24  # l2/l1 ~ 0.93 on this corpus -> ~2% Rayleigh
# error at 24 rounds (each extra round is one 64-row materialized CTE
# on the oracle side and one 64x64 walk on the driver — near-free next
# to the once-computed Gram)


def _pca_power_ctes() -> str:
    """The shared CTE chain: e6/s/nn/g/c + v0 and T unrolled
    (u_t, nr_t, v_t) power steps over the exact integer scatter C."""
    steps = []
    prev = "v0"
    for t in range(1, _PCA_POWER_ITERS + 1):
        steps.append(
            f"""u{t} AS MATERIALIZED (
    SELECT c.i AS i, list_sum(list(CAST(c.c AS DOUBLE) * vv.v ORDER BY c.j)) AS u
    FROM c JOIN {prev} vv ON vv.i = c.j GROUP BY c.i
), nr{t} AS (
    SELECT SQRT(list_sum(list(u * u ORDER BY i))) AS nr FROM u{t}
), v{t} AS MATERIALIZED (
    SELECT i, CAST(round(u / (SELECT nr FROM nr{t}) * 1000000.0, 0) AS BIGINT) AS v
    FROM u{t}
)"""
        )
        prev = f"v{t}"
    joined = ",\n".join(steps)
    return f"""e6 AS MATERIALIZED (
    SELECT vec_id, g.i AS i,
           CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS q
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {_DIMS})) AS i) g
), s AS MATERIALIZED (
    SELECT i, SUM(q) AS s FROM e6 GROUP BY i
), nn AS MATERIALIZED (
    SELECT COUNT(*) AS n FROM embeddings
), g AS (
    SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS g
    FROM e6 a JOIN e6 b USING (vec_id) GROUP BY a.i, b.i
), c AS MATERIALIZED (
    SELECT g.i, g.j, (SELECT n FROM nn) * g.g - si.s * sj.s AS c
    FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j
), v0 AS (
    SELECT i, CAST(1000 AS BIGINT) AS v
    FROM (SELECT unnest(generate_series(1, {_DIMS})) AS i)
),
{joined}"""


@query(
    "emb_pca_power_exact",
    out_schema="n_vecs bigint, top_dim int, top_loading_fp bigint, var_share_fp bigint",
    oracle=f"""
WITH {_pca_power_ctes()},
w AS (
    SELECT c.i AS i, list_sum(list(CAST(c.c AS DOUBLE) * vv.v ORDER BY c.j)) AS w
    FROM c JOIN v{_PCA_POWER_ITERS} vv ON vv.i = c.j GROUP BY c.i
), num AS (
    SELECT list_sum(list(CAST(v.v AS DOUBLE) * w.w ORDER BY v.i)) AS num
    FROM v{_PCA_POWER_ITERS} v JOIN w ON w.i = v.i
), den AS (
    SELECT SUM(v * v) AS den FROM v{_PCA_POWER_ITERS}
), tr AS (
    SELECT SUM(c) AS tr FROM c WHERE i = j
), top AS (
    SELECT i, v FROM v{_PCA_POWER_ITERS} ORDER BY abs(v) DESC, i ASC LIMIT 1
)
SELECT (SELECT n FROM nn) AS n_vecs,
       CAST((SELECT i FROM top) AS INTEGER) AS top_dim,
       (SELECT v FROM top) AS top_loading_fp,
       CAST(floor((SELECT num FROM num) / CAST((SELECT den FROM den) AS DOUBLE)
                  / CAST((SELECT tr FROM tr) AS DOUBLE)
                  * 1000000000.0 + 0.5) AS BIGINT) AS var_share_fp
""",
    tags=("vector", "pca", "X7d", "exact-twin"),
)
def emb_pca_power_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by fixed-point power iteration —
    driver-hash-verifiable in full (the exact twin of emb_pca_variance
    the way emb_kmeans_exact twins emb_kmeans).

    C = n*G - S S^T over 1e6-quantized coordinates is EXACT integer
    (scaling by n avoids dividing by it, so no mean ever rounds); each
    of the _PCA_POWER_ITERS power steps re-quantizes the iterate to
    1e6 fixed point after a left-to-right C@v walk, so both engines
    take bit-identical steps. Outputs: the Rayleigh var-share of the
    converged direction (1e9 fixed point), the top-|loading| dimension
    and its loading. Scale shape: the Gram self-join carries
    O(n x d^2) multiplies but partial-aggregates to d^2 rows before
    the shuffle; the driver holds only the 64x64 exact C (bounded) —
    the production spectrum path stays emb_pca_variance's mapInPandas
    Gram + eigh, this twin is the verification road."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    e6 = _fp_quantized(emb)
    a, b = e6.alias("a"), e6.alias("b")
    g_rows = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum((F.col("a.q") * F.col("b.q")).cast("decimal(38,0)")).alias("g")
        )
        .collect()
    )
    s_rows = (
        e6.groupBy("i").agg(F.sum(F.col("q").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    S = {int(r.i): int(r.s) for r in s_rows}
    C = {(int(r.i), int(r.j)): n * int(r.g) - S[int(r.i)] * S[int(r.j)]
         for r in g_rows}
    d = _DIMS

    def walk(v):
        out = []
        for i in range(1, d + 1):
            acc = 0.0
            for j in range(1, d + 1):
                acc += float(C[(i, j)]) * float(v[j - 1])
            out.append(acc)
        return out

    def half_away(x: float) -> int:
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    v = [1000] * d
    for _ in range(_PCA_POWER_ITERS):
        u = walk(v)
        norm2 = 0.0
        for x in u:
            norm2 += x * x
        norm = math.sqrt(norm2)
        v = [half_away(x / norm * 1000000.0) for x in u]
    w = walk(v)
    num = 0.0
    for i in range(d):
        num += float(v[i]) * w[i]
    den = sum(x * x for x in v)
    tr = sum(C[(i, i)] for i in range(1, d + 1))
    top_dim = max(range(1, d + 1), key=lambda i: (abs(v[i - 1]), -i))
    share_fp = int(
        math.floor(num / float(den) / float(tr) * 1000000000.0 + 0.5)
    )
    return spark.createDataFrame(
        [(n, top_dim, v[top_dim - 1], share_fp)],
        "n_vecs long, top_dim int, top_loading_fp long, var_share_fp long",
    )


# ---------------------------------------------------------------------------
# X7e: embedding outliers — distance-to-centroid 2-sigma gate, exact
# ---------------------------------------------------------------------------


@query(
    "emb_outliers",
    oracle="""
WITH cent AS (
    SELECT label, CAST(pos AS INTEGER) AS pos,
           round(CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE)
                               AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 6) AS c
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
    GROUP BY label, pos
),
dist AS (
    SELECT e.vec_id, e.label,
           CAST(SUM(CAST(round(round((CAST(embedding[g.pos] AS DOUBLE) - c.c)
                                     * (CAST(embedding[g.pos] AS DOUBLE) - c.c), 9)
                               * 1e9, 0) AS BIGINT)) AS BIGINT) AS d2_fp
    FROM embeddings e
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g
    JOIN cent c ON c.label = e.label AND c.pos = g.pos
    GROUP BY e.vec_id, e.label
),
dfp AS (
    SELECT vec_id, label,
           CAST(round(round(sqrt(CAST(d2_fp AS DOUBLE) / 1e9), 6) * 1e6, 0)
                AS BIGINT) AS d_fp
    FROM dist
),
mom AS (
    SELECT label,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(d_fp AS HUGEINT)) AS HUGEINT) AS s1,
           SUM(CAST(d_fp AS HUGEINT) * CAST(d_fp AS HUGEINT)) AS s2,
           CAST(MAX(d_fp) AS BIGINT) AS max_fp
    FROM dfp GROUP BY label
)
SELECT d.label,
       CAST(m.n AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN m.n * d.d_fp - m.s1 > 0
                      AND (m.n * d.d_fp - m.s1) * (m.n * d.d_fp - m.s1)
                          > 4 * (m.n * m.s2 - m.s1 * m.s1)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CAST(m.s1 AS DOUBLE) / CAST(m.n AS DOUBLE) / 1e6, 6) AS mean_dist,
       round(CAST(m.max_fp AS DOUBLE) / 1e6, 6) AS max_dist
FROM dfp d JOIN mom m ON d.label = m.label
GROUP BY d.label, m.n, m.s1, m.max_fp
""",
    tags=("vectors", "X7e", "outliers"),
)
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier report: each vector's L2 distance to
    its label centroid, flagged when distance > mean + 2*sigma within
    the label — the embedding-space QA pass that catches mislabeled /
    corrupted vectors before training.

    Exactness chain: centroid dims are round-6dp decimal averages (the
    emb_label_centroids contract); squared-diff terms round 9dp into
    1e9 fixed point so the per-vector sum is order-immune integers;
    distances round 6dp into 1e6 fixed point after one IEEE-exact sqrt;
    and the 2-sigma gate is the INTEGER cross-multiplied inequality
    (n*d - s1)^2 > 4*(n*s2 - s1^2) in decimal38/HUGEINT — no float
    threshold anywhere.

    Scale: centroids are a (labels x 64)-row broadcast; the explode
    shuffles (vec_id, pos) terms, aggregates per vector, then per
    label — two bounded hash aggs, no pairwise anything.
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "vec_id",
        "label",
        F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "val"),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = exploded.groupBy("label", "pos").agg(
        F.round(davg("val", 18, 9), 6).alias("c")
    )
    diff = exploded.join(F.broadcast(cent), ["label", "pos"])
    term = F.round(
        F.round((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")), 9)
        * F.lit(1e9),
        0,
    ).cast("bigint")
    dist = diff.groupBy("vec_id", "label").agg(
        F.sum(term).cast("bigint").alias("d2_fp")
    )
    dfp = dist.select(
        "vec_id",
        "label",
        F.round(
            F.round(F.sqrt(F.col("d2_fp").cast("double") / F.lit(1e9)), 6)
            * F.lit(1e6),
            0,
        )
        .cast("bigint")
        .alias("d_fp"),
    )
    mom = dfp.groupBy("label").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum(dec("d_fp", 38, 0)).alias("s1"),
        F.sum(dec("d_fp", 38, 0) * dec("d_fp", 38, 0)).alias("s2"),
        F.max("d_fp").cast("bigint").alias("max_fp"),
    )
    j = dfp.join(F.broadcast(mom), "label")
    lhs = F.col("n") * dec("d_fp", 38, 0) - F.col("s1")
    is_out = (
        (lhs > 0)
        & (lhs * lhs > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
    ).cast("int")
    D = lambda c: c.cast("double")
    return j.groupBy("label", "n", "s1", "max_fp").agg(
        F.sum(is_out).cast("bigint").alias("n_outliers")
    ).select(
        "label",
        F.col("n").cast("bigint").alias("n_vectors"),
        "n_outliers",
        F.round(D(F.col("s1")) / D(F.col("n")) / F.lit(1e6), 6).alias("mean_dist"),
        F.round(D(F.col("max_fp")) / F.lit(1e6), 6).alias("max_dist"),
    )


# ---------------------------------------------------------------------------
# X7f: ANN quality evaluation — recall@k of the LSH index vs exact
# ---------------------------------------------------------------------------


def _recall_at_5(e: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-probe recall@5 of ``approx`` (query_id, neighbor_id rows)
    against the exact cosine top-5 of the probes vec_id < 10: one row
    (query_id, n_exact, n_hits, recall) per probe. The hit join keys
    on (probe, neighbor), so both sides stay probe-bounded."""
    probes = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, probes, k=5).select("query_id", "neighbor_id")
    approx = approx.select(
        F.col("query_id").alias("a_query"),
        F.col("neighbor_id").alias("a_neighbor"),
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.a_query)
        & (exact.neighbor_id == approx.a_neighbor),
        "left_semi",
    )
    n_hit = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double"), 6
            ),
        )
    )


@query("emb_recall_eval", oracle=None, tags=("vectors", "X7f", "eval", "no-oracle"))
def emb_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH ANN index against the exact cosine
    top-5, per probe — the evaluation operator an ANN deployment runs
    continuously (index drift, parameter tuning). Joins the two
    registry paths on (probe, neighbor) and counts hits; rows-only by
    nature (the LSH bucketing is engine-specific), with the aggregate
    recall floor pinned in tests/test_r6c_ops.py.

    Scale: both sides are probe-bounded (k rows per probe); the
    evaluation join keys on (probe_id, neighbor_id) — never touches
    the corpus.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _recall_at_5(e, emb_ann_lsh(spark, sf_dir))


_RECALL_MD5_ORACLE = f"""
WITH exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_dot('q.embedding', 'c.embedding')} /
                            SQRT({_sql_dot('q.embedding', 'q.embedding')}
                                 * {_sql_dot('c.embedding', 'c.embedding')})
                            DESC, c.vec_id) AS rnk
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ) WHERE rnk <= 5
),
approx AS ({_ANN_MD5_ORACLE}),
n_exact AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM exact GROUP BY query_id
),
n_hit AS (
    SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM exact e JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
SELECT ne.query_id, ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(COALESCE(nh.n_hits, 0) AS DOUBLE)
             / CAST(ne.n_exact AS DOUBLE), 6) AS recall
FROM n_exact ne LEFT JOIN n_hit nh ON nh.query_id = ne.query_id
"""


@query(
    "emb_recall_eval_md5",
    oracle=_RECALL_MD5_ORACLE,
    tags=("vectors", "X7f", "eval", "md5"),
)
def emb_recall_eval_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 evaluation of the ORACLED ANN path (emb_ann_md5)
    against the exact cosine top-5 — the emb_recall_eval operator made
    driver-hash-comparable end to end: the index, the exact baseline,
    the hit join, and the recall ratio all replay in SQL (the oracle
    nests the full emb_ann_md5 statement verbatim, the composed-oracle
    convention from pipeline_alert_rules).

    Scale: same probe-bounded shape as emb_recall_eval — the eval join
    keys on (probe, neighbor); the corpus is touched only by the two
    index paths themselves.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _recall_at_5(e, emb_ann_md5(spark, sf_dir))


# ---------------------------------------------------------------------------
# X7g: label-affinity matrix (centroid separation diagnostics)
# ---------------------------------------------------------------------------


@query(
    "emb_label_affinity",
    oracle="""
WITH cent AS (
    SELECT label, CAST(pos AS INTEGER) AS pos,
           round(CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE)
                               AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 6) AS c
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
    GROUP BY label, pos
),
norm AS (
    SELECT label,
           CAST(SUM(CAST(round(round(c * c, 9) * 1e9, 0) AS BIGINT)) AS BIGINT)
               AS n_fp
    FROM cent GROUP BY label
),
dot AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(SUM(CAST(round(round(a.c * b.c, 9) * 1e9, 0) AS BIGINT)) AS BIGINT)
               AS d_fp
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       round((CAST(d_fp AS DOUBLE) / 1e9)
             / sqrt((CAST(na.n_fp AS DOUBLE) / 1e9)
                    * (CAST(nb.n_fp AS DOUBLE) / 1e9)), 6) AS centroid_cosine,
       round(sqrt((CAST(na.n_fp AS DOUBLE) / 1e9)
                  + (CAST(nb.n_fp AS DOUBLE) / 1e9)
                  - 2.0 * (CAST(d_fp AS DOUBLE) / 1e9)), 6) AS centroid_l2
FROM dot
JOIN norm na ON na.label = dot.label_a
JOIN norm nb ON nb.label = dot.label_b
""",
    tags=("vectors", "X7g", "clustering"),
)
def emb_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-pair affinity matrix: cosine and L2 distance between
    LABEL CENTROIDS — the cluster-separation diagnostic that tells a
    classifier/dedup pipeline which classes are confusable before any
    pairwise vector work.

    Built entirely from the (labels x 64)-row centroid table (the
    emb_label_centroids contract): dot and norm terms round 9dp into
    1e9 fixed point so sums are order-immune; the two sqrt/divide
    expressions are mirrored verbatim. |labels|^2/2 output rows — the
    corpus is touched once, for the centroids.
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = exploded.groupBy("label", "pos").agg(
        F.round(davg("val", 18, 9), 6).alias("c")
    )
    norm = cent.groupBy("label").agg(
        F.sum(fx(F.round(F.col("c") * F.col("c"), 9), 9)).cast("bigint").alias("n_fp")
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    dot = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(fx(F.round(F.col("ca") * F.col("cb"), 9), 9)).cast("bigint").alias("d_fp"))
    )
    na = norm.select(F.col("label").alias("label_a"), F.col("n_fp").alias("na_fp"))
    nb = norm.select(F.col("label").alias("label_b"), F.col("n_fp").alias("nb_fp"))
    D = lambda c: c.cast("double")
    return (
        dot.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                (D(F.col("d_fp")) / F.lit(1e9))
                / F.sqrt(
                    (D(F.col("na_fp")) / F.lit(1e9))
                    * (D(F.col("nb_fp")) / F.lit(1e9))
                ),
                6,
            ).alias("centroid_cosine"),
            F.round(
                F.sqrt(
                    (D(F.col("na_fp")) / F.lit(1e9))
                    + (D(F.col("nb_fp")) / F.lit(1e9))
                    - F.lit(2.0) * (D(F.col("d_fp")) / F.lit(1e9))
                ),
                6,
            ).alias("centroid_l2"),
        )
    )


# ---------------------------------------------------------------------------
# X7h: MMR diversification re-ranking (retrieval diversity)
# ---------------------------------------------------------------------------


def _mmr_oracle() -> str:
    """Unrolled-greedy MMR oracle: the 5 sequential argmax steps become
    5 chained CTEs (p1..p5), each ranking the remaining candidates by
    the 1e9 fixed-point score rel_fp - max(sim_fp to selected) with the
    lowest-neighbor_id tiebreak — integer comparisons, so the greedy
    trace is engine-exact."""
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c0 AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
cand AS (
    SELECT query_id, neighbor_id, cv, cosine,
           CAST(round(cosine * 1e9, 0) AS BIGINT) AS rel_fp
    FROM (
        SELECT query_id, neighbor_id, cv, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM (
            SELECT query_id, neighbor_id, cv,
                   {_sql_dot('qv', 'cv')} /
                   SQRT({_sql_dot('qv', 'qv')} * {_sql_dot('cv', 'cv')})
                   AS cosine
            FROM q CROSS JOIN c0
            WHERE neighbor_id <> query_id
        )
        WHERE cosine IS NOT NULL
    )
    WHERE rnk <= 20
),
sim AS (
    SELECT a.query_id, a.neighbor_id AS i_id, b.neighbor_id AS j_id,
           CAST(round({_sql_dot('a.cv', 'b.cv')} /
                SQRT({_sql_dot('a.cv', 'a.cv')} * {_sql_dot('b.cv', 'b.cv')})
                * 1e9, 0) AS BIGINT) AS s_fp
    FROM cand a JOIN cand b
      ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
),
p1 AS (
    SELECT query_id, neighbor_id AS s1, cosine AS r1, rel_fp AS sc1
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel_fp DESC, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn = 1
)"""
    parts = [head]
    for k in range(2, 6):
        prev = f"p{k - 1}"
        sel_cols = ", ".join(
            f"p.s{j}" for j in range(1, k)
        )  # already-selected ids carried forward
        carry = ", ".join(
            f"p.s{j} AS s{j}" for j in range(1, k)
        )
        pen = ", ".join(f"sm{j}.s_fp" for j in range(1, k))
        sim_joins = "\n        ".join(
            f"JOIN sim sm{j} ON sm{j}.query_id = c.query_id "
            f"AND sm{j}.i_id = c.neighbor_id AND sm{j}.j_id = p.s{j}"
            for j in range(1, k)
        )
        not_in = ", ".join(f"p.s{j}" for j in range(1, k))
        parts.append(
            f""",
p{k} AS (
    SELECT *
    FROM (
        SELECT query_id, {carry.replace('p.', '')},
               neighbor_id AS s{k}, cosine AS r{k}, sc AS sc{k},
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sc DESC, neighbor_id) AS rn
        FROM (
            SELECT c.query_id, {sel_cols}, c.neighbor_id, c.cosine,
                   c.rel_fp - greatest({pen}) AS sc
            FROM cand c
            JOIN p{k - 1} p ON p.query_id = c.query_id
                 AND c.neighbor_id NOT IN ({not_in})
            {sim_joins}
        ) p
    )
    WHERE rn = 1
)"""
        )
    steps = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({k} AS INTEGER) AS sel_rank, "
        f"s{k} AS neighbor_id, round(r{k}, 6) AS relevance, "
        f"round(CAST(sc{k} AS DOUBLE) / 2 / 1e9, 6) AS mmr_score FROM p{k}"
        for k in range(1, 6)
    )
    return "".join(parts) + "\n" + steps


@query("emb_mmr_diversify", oracle=_mmr_oracle(), tags=("vectors", "X7h", "retrieval"))
def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) over
    each probe's exact top-20 cosine candidates: greedily pick 5
    results maximizing lambda*relevance - (1-lambda)*max_sim_to_already
    _selected (lambda=0.5) — the diversification step a RAG/retrieval
    stack runs so near-duplicate hits don't crowd out coverage.

    The greedy argmax is inherently sequential PER PROBE (5 steps over
    20 candidates) — the sanctioned boundary at its smallest: the
    probe-bounded candidate pool (20 rows + vectors) enters
    applyInPandas, probes fan out. Ties break to the lowest
    neighbor_id; pure-Python reference equality and a planted
    two-cluster diversity test pin it. Oracled (r7 rows-only shrink —
    the "no SQL twin" claim was wrong): the 5 greedy steps unroll into
    5 chained CTEs, and both engines compare candidates on the exact
    integer rel_fp - max(sim_fp) (1e9 fixed point, absorbing BLAS-vs-
    walk cosine ulp), so the argmax and tiebreak are engine-exact.
    """
    from ..operators.similarity import brute_force_topk
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    cand = brute_force_topk(e, probes, k=20).select(
        "query_id", "neighbor_id", "cosine"
    )
    vecs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        vec_double(F.col("embedding")).alias("nv"),
    )
    pool = cand.join(vecs, "neighbor_id")

    def run(pdf):
        import numpy as np
        import pandas as pd

        # drop null cosines (zero-norm vectors): the oracle's cand CTE
        # filters them identically; without this the int64 cast of NaN
        # below would be platform-undefined
        pdf = pdf[pdf["cosine"].notna()]
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        if len(pdf) == 0:
            return pd.DataFrame(
                columns=[
                    "query_id", "sel_rank", "neighbor_id",
                    "relevance", "mmr_score",
                ]
            )
        V = np.stack(pdf["nv"].to_numpy())
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        Vn = V / norms[:, None]
        sim = Vn @ Vn.T
        rel = pdf["cosine"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        # 1e9 fixed point: the argmax compares exact integers, so the
        # greedy trace is reproducible by the unrolled-CTE oracle
        # (score2 = rel_fp - pen_fp is 2x the lambda=0.5 MMR score)
        rel_fp = np.round(rel * 1e9).astype(np.int64)
        sim_fp = np.round(sim * 1e9).astype(np.int64)
        selected: list[int] = []
        out = []
        avail = list(range(len(pdf)))
        for step in range(1, min(5, len(avail)) + 1):
            best_i, best_score = None, None
            for i in avail:
                pen_fp = max(sim_fp[i, j] for j in selected) if selected else 0
                score2 = int(rel_fp[i]) - int(pen_fp)
                # ties -> lowest neighbor_id (avail is id-sorted, strict >)
                if best_score is None or score2 > best_score:
                    best_i, best_score = i, score2
            selected.append(best_i)
            avail.remove(best_i)
            out.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    step,
                    int(ids[best_i]),
                    # unrounded: best_score/2/1e9 is an exact rational
                    # that can land on a 6dp half boundary — rounding
                    # happens JVM-side to match SQL half-away
                    float(rel[best_i]),
                    float(best_score) / 2 / 1e9,
                )
            )
        return pd.DataFrame(
            out,
            columns=["query_id", "sel_rank", "neighbor_id", "relevance", "mmr_score"],
        )

    out = pool.groupBy("query_id").applyInPandas(
        run,
        "query_id bigint, sel_rank int, neighbor_id bigint, relevance double, "
        "mmr_score double",
    )
    return out.withColumn("relevance", F.round(F.col("relevance"), 6)).withColumn(
        "mmr_score", F.round(F.col("mmr_score"), 6)
    )


# ---------------------------------------------------------------------------
# X7i: Johnson-Lindenstrauss random projection (data-independent, exact)
# ---------------------------------------------------------------------------


@query(
    "emb_rp_project",
    oracle="""
WITH dims AS (
    SELECT i, j,
           CASE WHEN substr(md5('rp-' || CAST(j AS VARCHAR) || '-'
                             || CAST(i AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7')
                THEN 1 ELSE -1 END AS sgn
    FROM (SELECT unnest(generate_series(1, 64)) AS i),
         (SELECT unnest(generate_series(1, 16)) AS j)
),
terms AS (
    SELECT e.vec_id, d.j,
           CAST(round(CAST(sgn AS DOUBLE)
                      * CAST(embedding[d.i] AS DOUBLE) * 1e9, 0) AS BIGINT)
               AS t_fp
    FROM embeddings e JOIN dims d ON d.i <= len(embedding)
)
SELECT vec_id, CAST(j AS INTEGER) AS j,
       round(CAST(SUM(t_fp) AS DOUBLE) / 1e9 / 4.0, 6) AS proj
FROM terms GROUP BY vec_id, j
""",
    tags=("vectors", "X7i", "projection"),
)
def emb_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection 64 -> 16 dims:
    out_j = (1/sqrt(16)) * sum_i sign(i,j) * v_i with signs derived
    from md5("rp-j-i") — DATA-INDEPENDENT dimension reduction (the
    streaming/ingest-time counterpart to emb_pca_variance, which
    needs a fit pass) with the JL distance-preservation guarantee.

    Determinism: signs are a pure function of (i, j) via md5 hex (both
    engines lowercase); each signed component rounds into 1e9 fixed
    point so the 64-term sum is integer; sqrt(16) = 4 exactly, so the
    final scaling is two exact-or-single-rounded IEEE ops. Map-side
    except one (vec_id, j) agg; the 1024-row sign matrix broadcasts.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ij = (
        e.sparkSession.range(1, 65)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            e.sparkSession.range(1, 17).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rp-"),
                            F.col("j").cast("string"),
                            F.lit("-"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin("0", "1", "2", "3", "4", "5", "6", "7"),
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    exploded = e.select(
        "vec_id", F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("i"), "val")
    terms = exploded.join(F.broadcast(ij), "i").select(
        "vec_id",
        "j",
        F.round(F.col("sgn").cast("double") * F.col("val") * F.lit(1e9), 0)
        .cast("bigint")
        .alias("t_fp"),
    )
    return terms.groupBy("vec_id", "j").agg(
        F.round(
            F.sum("t_fp").cast("double") / F.lit(1e9) / F.lit(4.0), 6
        ).alias("proj")
    )


# ---------------------------------------------------------------------------
# X7j: Matryoshka truncation evaluation (prefix-dim retrieval quality)
# ---------------------------------------------------------------------------


@query(
    "emb_matryoshka_eval",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
full_nn AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM (
            SELECT query_id, neighbor_id,
                   {_sql_dot('qv', 'cv')} /
                   SQRT({_sql_dot('qv', 'qv')} * {_sql_dot('cv', 'cv')}) AS cosine
            FROM q CROSS JOIN c
            WHERE neighbor_id <> query_id
        )
    )
    WHERE rnk <= 5
),
trunc_nn AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM (
            SELECT query_id, neighbor_id,
                   {_sql_dot('qv', 'cv', 16)} /
                   SQRT({_sql_dot('qv', 'qv', 16)} * {_sql_dot('cv', 'cv', 16)})
                   AS cosine
            FROM q CROSS JOIN c
            WHERE neighbor_id <> query_id
        )
    )
    WHERE rnk <= 5
),
base AS (
    SELECT f.query_id,
           CAST(COUNT(*) AS BIGINT) AS k_full,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap
    FROM full_nn f
    LEFT JOIN trunc_nn t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
)
SELECT query_id, k_full, n_overlap,
       round(CAST(n_overlap AS DOUBLE) / CAST(k_full AS DOUBLE), 6)
       AS overlap_at_5
FROM base
""",
    tags=("vectors", "X7j", "eval"),
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style evaluation: run the same exact top-5 cosine
    retrieval with only the FIRST 16 of 64 dimensions and report
    per-probe overlap with the full-dimension result — the measurement
    behind prefix-truncation serving decisions (4x cheaper scan for
    how much quality?). Probe-bounded like emb_recall_eval.

    Oracled (r7 rows-only shrink): both rankings are the driver-proven
    emb_cosine_topk left-to-right dot walk (the truncated side walks
    generate_series(1,16) over the same list — identical products in
    identical order to the engine's slice(embedding,1,16)); the
    overlap count is a plain join. Internal consistency + a
    prefix-dominant planted case stay pinned in tests.
    """
    from ..operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    full = brute_force_topk(e, probes, k=5).select("query_id", "neighbor_id")
    trunc_corpus = e.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding"), "label"
    )
    trunc_probes = trunc_corpus.filter(F.col("vec_id") < 10)
    trunc = brute_force_topk(trunc_corpus, trunc_probes, k=5).select(
        F.col("query_id").alias("t_query"), F.col("neighbor_id").alias("t_neighbor")
    )
    hits = full.join(
        trunc,
        (full.query_id == trunc.t_query) & (full.neighbor_id == trunc.t_neighbor),
        "left_semi",
    )
    n_hit = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap")
    )
    base = full.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_full")
    )
    return (
        base.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "k_full",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        )
        .withColumn(
            "overlap_at_5",
            F.round(
                F.col("n_overlap").cast("double") / F.col("k_full").cast("double"), 6
            ),
        )
    )


# ---------------------------------------------------------------------------
# X7k: embedding centroid drift (distribution shift in vector space)
# ---------------------------------------------------------------------------


@query(
    "emb_centroid_drift",
    oracle="""
WITH halves AS (
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
           CAST(embedding[pos] AS DOUBLE) AS val
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
),
cent AS (
    SELECT label, half, pos,
           round(CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 6) AS c
    FROM halves GROUP BY label, half, pos
),
diff AS (
    SELECT r.label,
           CAST(SUM(CAST(round(round((r.c - q.c) * (r.c - q.c), 9) * 1e9, 0)
                         AS BIGINT)) AS BIGINT) AS d2_fp
    FROM cent r JOIN cent q
      ON r.label = q.label AND r.pos = q.pos
     AND r.half = 'ref' AND q.half = 'cur'
    GROUP BY r.label
)
SELECT label,
       round(sqrt(CAST(d2_fp AS DOUBLE) / 1e9), 6) AS centroid_shift_l2
FROM diff
""",
    tags=("vectors", "X7k", "drift"),
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift per label: L2 distance between the
    reference-half and current-half centroids (split by vec_id parity
    as the deterministic stand-in for time/batch provenance) — the
    vector-space member of the drift family (ts_value_drift_psi and
    ts_ks_drift cover scalars). A retrained or corrupted encoder shows
    up here before any downstream metric moves.

    Exactness: the emb_outliers chain — decimal centroid averages
    rounded 6dp, squared diffs into 1e9 fixed point, one IEEE-exact
    sqrt. One corpus pass; everything after is (labels x 64)-sized.
    """
    e = load_table(spark, sf_dir, "embeddings")
    halves = e.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias("half"),
        F.posexplode(vec_double(F.col("embedding"))).alias("pos0", "val"),
    ).select("label", "half", (F.col("pos0") + 1).alias("pos"), "val")
    cent = halves.groupBy("label", "half", "pos").agg(
        F.round(davg("val", 18, 9), 6).alias("c")
    )
    r = cent.filter(F.col("half") == "ref").select(
        "label", "pos", F.col("c").alias("cr")
    )
    q = cent.filter(F.col("half") == "cur").select(
        "label", "pos", F.col("c").alias("cq")
    )
    d = F.col("cr") - F.col("cq")
    diff = (
        r.join(q, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(fx(F.round(d * d, 9), 9))
            .cast("bigint")
            .alias("d2_fp")
        )
    )
    return diff.select(
        "label",
        F.round(F.sqrt(F.col("d2_fp").cast("double") / F.lit(1e9)), 6).alias(
            "centroid_shift_l2"
        ),
    )


# ---------------------------------------------------------------------------
# Diag4: LSH bucket-occupancy diagnostics (index health)
# ---------------------------------------------------------------------------


@query("diag_lsh_buckets", oracle=None, tags=("vectors", "Diag4", "no-oracle"))
def diag_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diag4: occupancy statistics of the sign-LSH index per hash
    table — bucket count, max/mean occupancy, top-bucket share, and
    the expected number of candidates a random probe pays
    (sum(sz^2)/n — occupancy-weighted). The index-health report that
    says whether n_planes is sized right BEFORE queries start paying
    hot-bucket scans (the diag_key_skew idea applied to the ANN
    index's own key distribution).

    Rows-only (bucket ids are engine-specific hashes); internal
    consistency and the occupancy-sum identity are pinned in tests.
    """
    from ..operators.similarity import _lsh_router, _route_udf

    e = load_table(spark, sf_dir, "embeddings")
    cells = _route_udf(_lsh_router(_DIMS, n_planes=6, n_tables=8, seed=7))
    assigned = e.select(
        F.posexplode(cells(F.col("embedding"))).alias("table_id", "cell")
    )
    occ = assigned.groupBy("table_id", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    D = lambda c: c.cast("double")
    return occ.groupBy("table_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_vectors"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.round(D(F.sum("sz")) / D(F.count(F.lit(1))), 6).alias("mean_bucket"),
        F.round(D(F.max("sz")) / D(F.sum("sz")), 6).alias("top_bucket_share"),
        F.round(
            D(F.sum(F.col("sz") * F.col("sz"))) / D(F.sum("sz")), 6
        ).alias("expected_candidates"),
    )


@query(
    "diag_lsh_buckets_md5",
    oracle=f"""
WITH {_MD5_BUCKET_CTES},
occ AS (
    SELECT t, bucket, CAST(COUNT(*) AS BIGINT) AS sz
    FROM buck GROUP BY t, bucket
)
SELECT CAST(t AS INTEGER) AS table_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz) AS BIGINT) AS n_vectors,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       round(CAST(SUM(sz) AS DOUBLE) / COUNT(*), 6) AS mean_bucket,
       round(CAST(MAX(sz) AS DOUBLE) / SUM(sz), 6) AS top_bucket_share,
       round(CAST(SUM(sz * sz) AS DOUBLE) / SUM(sz), 6) AS expected_candidates
FROM occ GROUP BY t
""",
    tags=("vectors", "Diag4", "md5"),
)
def diag_lsh_buckets_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diag4, fully-oracled twin: the same index-health report as
    diag_lsh_buckets but over the md5-plane bucket assignment
    (operators/similarity.md5_sign_buckets), whose bucket ids are exact
    integers reproducible in any engine — so occupancy, skew share, and
    the expected-candidate cost are driver-hash-comparable, not just
    internally consistent. The ratio columns divide exact integers
    whose denominators (n ≤ corpus, buckets ≤ 2^{_ANN_J}) can't land a
    terminating decimal on a 6-dp midpoint, so round(…, 6) is
    engine-stable (the rel_moving_annual_total denominator argument).

    Scale: the sign matrix (t·j·dims rows) broadcasts; occupancy is a
    two-level partial+final aggregate over (t, bucket) keys — the same
    shuffle shape the ANN index build itself pays, nothing extra.
    """
    from ..operators.similarity import md5_sign_buckets

    e = load_table(spark, sf_dir, "embeddings")
    buck = md5_sign_buckets(e, "vec_id", "embedding", _DIMS, _ANN_J, _ANN_T)
    occ = buck.groupBy("t", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    D = lambda c: c.cast("double")
    return occ.groupBy(F.col("t").cast("int").alias("table_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_vectors"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.round(D(F.sum("sz")) / D(F.count(F.lit(1))), 6).alias("mean_bucket"),
        F.round(D(F.max("sz")) / D(F.sum("sz")), 6).alias("top_bucket_share"),
        F.round(
            D(F.sum(F.col("sz") * F.col("sz"))) / D(F.sum("sz")), 6
        ).alias("expected_candidates"),
    )


# ---------------------------------------------------------------------------
# X7l: contrastive pair mining (positives + hard negatives)
# ---------------------------------------------------------------------------


@query(
    "emb_contrastive_pairs",
    oracle=f"""
WITH a AS (SELECT vec_id AS a_id, embedding AS av, label AS a_label
           FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id AS c_id, embedding AS cv, label AS c_label
      FROM embeddings),
scored AS (
    SELECT a_id, a_label, c_id, c_label,
           {_sql_dot('av', 'cv')} /
           SQRT({_sql_dot('av', 'av')} * {_sql_dot('cv', 'cv')}) AS cos
    FROM c CROSS JOIN a
    WHERE c_id <> a_id
),
pos AS (
    SELECT a_id, a_label, c_id AS pos_id, round(cos, 6) AS pos_cos
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                     ORDER BY cos DESC, c_id) AS rn
        FROM scored WHERE c_label = a_label
    )
    WHERE rn = 1
),
neg AS (
    SELECT a_id, c_id AS neg_id, round(cos, 6) AS neg_cos
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                     ORDER BY cos DESC, c_id) AS rn
        FROM scored WHERE c_label <> a_label
    )
    WHERE rn = 1
)
SELECT pos.a_id, a_label, pos_id, pos_cos, neg_id, neg_cos,
       round(pos_cos - neg_cos, 6) AS margin
FROM pos JOIN neg ON neg.a_id = pos.a_id
""",
    tags=("vectors", "X7l", "training"),
)
def emb_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: for each anchor (vec_id < 50),
    the POSITIVE is its nearest same-label vector and the NEGATIVE its
    nearest different-label vector — hard-negative mining, the pair
    construction contrastive/metric-learning pipelines feed on (easy
    random negatives teach nothing; the nearest wrong-label point is
    the decision boundary). margin = pos_cos - neg_cos is the
    per-anchor difficulty score.

    Anchors broadcast; the corpus is scanned map-side once (the
    brute_force_topk shape), each side cut by WindowGroupLimit per
    anchor. Oracled (r7 rows-only shrink): the driver-proven
    emb_cosine_topk dot walk ranks both sides; planted-cluster
    semantics stay pinned in tests.
    """
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("a_id"),
        vec_double(F.col("embedding")).alias("av"),
        F.col("label").alias("a_label"),
    )
    corpus = e.select(
        F.col("vec_id").alias("c_id"),
        vec_double(F.col("embedding")).alias("cv"),
        F.col("label").alias("c_label"),
    )
    scored = corpus.join(F.broadcast(anchors), F.col("c_id") != F.col("a_id")).select(
        "a_id",
        "a_label",
        "c_id",
        "c_label",
        vec_cosine(F.col("av"), F.col("cv")).alias("cos"),
    )
    w_pos = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), "c_id")
    pos = (
        scored.filter(F.col("c_label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            "a_label",
            F.col("c_id").alias("pos_id"),
            F.round(F.col("cos"), 6).alias("pos_cos"),
        )
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            F.col("c_id").alias("neg_id"),
            F.round(F.col("cos"), 6).alias("neg_cos"),
        )
    )
    return pos.join(neg, "a_id").select(
        "a_id",
        "a_label",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# X7m: directional concentration (mean resultant length per label)
# ---------------------------------------------------------------------------


@query(
    "emb_concentration",
    oracle="""
WITH unit AS (
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(round(round(CAST(embedding[pos] AS DOUBLE)
                      / sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                      9) * 1e9, 0) AS BIGINT) AS u_fp
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
    WHERE list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
),
s AS (
    SELECT label, pos,
           CAST(SUM(u_fp) AS HUGEINT) AS s_fp,
           CAST(COUNT(*) AS BIGINT) AS n64
    FROM unit GROUP BY label, pos
)
SELECT label,
       CAST(MAX(n64) AS BIGINT) AS n_vectors,
       round(sqrt(CAST(SUM(s_fp * s_fp) AS DOUBLE)) / 1e9
             / CAST(MAX(n64) AS DOUBLE), 6) AS mean_resultant_length
FROM s GROUP BY label
""",
    tags=("vectors", "X7m", "directional"),
)
def emb_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional concentration per label: the mean resultant length
    R = |sum of unit vectors| / n — 1.0 when every member points the
    same way, ~0 for directions spread uniformly (the von Mises-Fisher
    kappa proxy). Where emb_outliers measures spread AROUND the
    centroid in distance, R measures ANGULAR coherence — the statistic
    that says whether cosine-based dedup/search assumptions even hold
    for a label.

    Exactness: each unit-vector component (one IEEE sqrt + divide per
    vector, deterministic) rounds 9dp into 1e9 fixed point, per-dim
    sums are integers, and |S| is one sqrt over an exact
    sum-of-squares in HUGEINT/decimal38. Zero vectors are excluded on
    both sides (no direction to contribute).
    """
    e = load_table(spark, sf_dir, "embeddings")
    vd = vec_double(F.col("embedding"))
    norm = F.sqrt(vec_norm_sq(vd))
    unit = (
        e.filter(vec_norm_sq(vec_double(F.col("embedding"))) > 0)
        .select(
            "label",
            F.posexplode(vd).alias("pos0", "val"),
            norm.alias("nrm"),
        )
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.round(F.col("val") / F.col("nrm"), 9) * F.lit(1e9), 0)
            .cast("bigint")
            .alias("u_fp"),
        )
    )
    s = unit.groupBy("label", "pos").agg(
        F.sum(dec("u_fp", 38, 0)).alias("s_fp"),
        F.count(F.lit(1)).cast("bigint").alias("n64"),
    )
    D = lambda c: c.cast("double")
    return s.groupBy("label").agg(
        F.max("n64").cast("bigint").alias("n_vectors"),
        F.round(
            F.sqrt(D(F.sum(F.col("s_fp") * F.col("s_fp"))))
            / F.lit(1e9)
            / D(F.max("n64")),
            6,
        ).alias("mean_resultant_length"),
    )


# ---------------------------------------------------------------------------
# X7n: leave-one-out kNN label evaluation
# ---------------------------------------------------------------------------


@query(
    "emb_knn_eval",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
           FROM embeddings WHERE vec_id < 100),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS n_label
      FROM embeddings),
scored AS (
    SELECT query_id, true_label, neighbor_id, n_label,
           {_sql_dot('qv', 'cv')} /
           SQRT({_sql_dot('qv', 'qv')} * {_sql_dot('cv', 'cv')}) AS cosine
    FROM q CROSS JOIN c
    WHERE neighbor_id <> query_id
),
nn AS (
    SELECT query_id, true_label, n_label
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
),
votes AS (
    SELECT query_id, true_label, n_label, COUNT(*) AS v
    FROM nn GROUP BY query_id, true_label, n_label
),
pred AS (
    SELECT query_id, true_label, n_label AS pred_label
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, n_label) AS rn
        FROM votes
    )
    WHERE rn = 1
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS loo_accuracy
FROM pred GROUP BY true_label
""",
    tags=("vectors", "X7n", "eval"),
)
def emb_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification accuracy per label: each
    anchor (vec_id < 100) is labeled by the majority vote of its 5
    nearest neighbors (itself excluded) and scored against its true
    label — the label-quality / separability report that says whether
    the embedding space actually encodes the labels before anyone
    trains on them (emb_label_affinity says clusters are far apart;
    this says members are CLOSE TO THEIR OWN).

    Probe-bounded exact scoring (brute_force_topk shape); vote ties
    break toward the smaller label id (deterministic). Oracled (r7
    rows-only shrink): the cosine ranking mirrors the driver-proven
    emb_cosine_topk left-to-right dot walk, and the majority vote is
    plain SQL over the top-5 — tight-cluster accuracy=1 and a
    mislabeled-point catch remain pinned in tests.
    """
    from ..operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 100)
    nn = brute_force_topk(e, probes, k=5).select("query_id", "neighbor_id")
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("v").desc(), "n_label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    truth = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    scored = pred.join(truth, "query_id").select(
        "true_label",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("hit"),
    )
    D = lambda c: c.cast("double")
    return scored.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum("hit").cast("bigint").alias("n_correct"),
        F.round(D(F.sum("hit")) / D(F.count(F.lit(1))), 6).alias("loo_accuracy"),
    )


# ---------------------------------------------------------------------------
# X7o: int8 quantization distortion (reconstruction error report)
# ---------------------------------------------------------------------------


@query(
    "emb_quantization_error",
    oracle="""
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
    FROM embeddings
), m AS (
    SELECT vec_id, vd,
           list_max(list_transform(vd, x -> abs(x))) AS max_abs
    FROM v
), terms AS (
    SELECT vec_id,
           CAST(len(vd) AS BIGINT) AS dims,
           CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST(list_sum(list_transform(vd, x ->
               CAST(round(round(abs(x - CAST(floor(x * (127.0 / max_abs))
                                             AS DOUBLE)
                                        / (127.0 / max_abs)), 9)
                          * 1e9, 0) AS BIGINT))) AS BIGINT) END AS ae_fp
    FROM m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(ae_fp) AS DOUBLE) / CAST(SUM(dims) AS DOUBLE) / 1e9, 6)
           AS mean_abs_err,
       round(CAST(MAX((ae_fp * 1000000) // dims) AS DOUBLE) / 1e15, 6)
           AS worst_vector_mae
FROM terms
""",
    tags=("vectors", "X7o", "quantize"),
)
def emb_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error of the int8 quantization
    (emb_quantize_int8's exact floor-code contract): per-component
    |x - dequant(quant(x))| summed in 1e9 fixed point, reported as the
    corpus mean absolute error and the worst single-vector MAE — the
    distortion side of the 4x-compression trade the quantizer row only
    asserts. Expected MAE ~ (max_abs/127)/2 per component.

    Every reconstruction replays the IDENTICAL IEEE ops as the
    quantizer (x*scale, floor, /scale), each absolute error rounds
    9dp into fixed point, and per-vector sums are integers — map-only
    to one global agg.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vd = vec_double(F.col("embedding"))
    m = e.select(
        "vec_id",
        vd.alias("vd"),
        F.array_max(F.transform(vd, lambda x: F.abs(x))).alias("max_abs"),
    )
    scale = F.lit(127.0) / F.col("max_abs")
    recon = lambda x: F.floor(x * scale).cast("double") / scale
    ae = lambda x: F.round(
        F.round(F.abs(x - recon(x)), 9) * F.lit(1e9), 0
    ).cast("bigint")
    terms = m.select(
        "vec_id",
        F.size("vd").cast("bigint").alias("dims"),
        F.when(F.col("max_abs") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.aggregate(
                F.transform(F.col("vd"), ae),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            )
        )
        .alias("ae_fp"),
    )
    D = lambda c: c.cast("double")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(D(F.sum("ae_fp")) / D(F.sum("dims")) / F.lit(1e9), 6).alias(
            "mean_abs_err"
        ),
        F.round(
            D(F.max(F.expr("(ae_fp * 1000000) div dims"))) / F.lit(1e15), 6
        ).alias("worst_vector_mae"),
    )


# ---------------------------------------------------------------------------
# X7p: cosine range search (threshold mode, exact)
# ---------------------------------------------------------------------------


@query(
    "emb_range_search",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
),
scored AS (
    SELECT query_id, neighbor_id,
           round(list_sum(list_transform(list_zip(qv, cv),
                          p -> p[1] * p[2]))
                 / sqrt(list_sum(list_transform(qv, x -> x * x)))
                 / sqrt(list_sum(list_transform(cv, x -> x * x))), 6)
               AS cosine
    FROM q CROSS JOIN c
    WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM scored WHERE cosine >= 0.35
""",
    tags=("vectors", "X7p", "range-search"),
)
def emb_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: every corpus vector within cosine >= 0.35
    of each probe (the threshold sits in the fixture's top ~0.1% tail
    — near-uniform vectors max out around 0.49) — the threshold mode that top-k can't express (dup
    detection wants "everything this similar", not "the 5 nearest,
    however far"). Result size is data-dependent by design; the
    rounded cosine makes the threshold comparison engine-identical.

    Same map-side shape as exact top-k (probes broadcast, corpus
    scanned once) minus the rank cut — the scan IS the operator; at
    scale the LSH/IVF candidate generators bound it exactly as they
    do for top-k.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        vec_double(F.col("embedding")).alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        vec_double(F.col("embedding")).alias("cv"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(vec_cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= 0.35)


# ---------------------------------------------------------------------------
# X7q: label medoid (exemplar selection)
# ---------------------------------------------------------------------------


@query(
    "emb_label_medoid",
    oracle=f"""
WITH v AS (
    SELECT label, vec_id, embedding,
           {_sql_dot('embedding', 'embedding')} AS nsq
    FROM embeddings
),
p AS (
    SELECT a.label, a.vec_id AS i_id,
           CAST(round(sqrt(round(greatest(
                    a.nsq + b.nsq
                    - 2 * {_sql_dot('a.embedding', 'b.embedding')}, 0), 9))
                * 1e6, 0) AS BIGINT) AS d_fp
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
),
tot AS (
    SELECT v.label, v.vec_id AS i_id,
           CAST(coalesce(SUM(p.d_fp), 0) AS BIGINT) AS t_fp,
           CAST(COUNT(p.d_fp) AS BIGINT) AS n_others
    FROM v LEFT JOIN p ON p.label = v.label AND p.i_id = v.vec_id
    GROUP BY v.label, v.vec_id
),
best AS (
    SELECT label, i_id, t_fp, n_others,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY t_fp ASC, i_id) AS rn
    FROM tot
)
SELECT CAST(label AS INTEGER) AS label,
       n_others + 1 AS n_members,
       i_id AS medoid_id,
       round(CAST(t_fp AS DOUBLE) / 1e6
             / CAST(greatest(n_others, 1) AS DOUBLE), 6)
       AS mean_dist_to_members
FROM best WHERE rn = 1
""",
    tags=("vectors", "X7q"),
)
def emb_label_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid per label: the actual MEMBER vector minimizing total L2
    distance to its labelmates — the exemplar a curation/labeling
    review shows a human (the centroid is an average that corresponds
    to no real example; the medoid is one). Ties break to the lowest
    vec_id.

    Per-label pairwise distances run as ONE in-group BLAS Gram matrix
    inside applyInPandas (the emb_semdedup shape: members shuffle
    once, c x c stays in memory per group, labels fan out). Oracled
    (r7 rows-only shrink): the a²+b²−2ab Gram form is mirrored
    term-for-term in SQL, d² rounds 9dp BEFORE the sqrt so BLAS-vs-
    sequential accumulation ulp (~1e-13) is absorbed, and each
    distance enters the argmin as a 1e6 fixed-point integer — the
    total is an exact integer sum on both engines, so the argmin and
    its tiebreak are exact. Planted center-point recovery and the
    medoid!=centroid distinction stay pinned in tests.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    e = load_table(spark, sf_dir, "embeddings")

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["embedding"].apply(np.asarray).to_numpy()).astype(
            "float64"
        )
        sq = (V * V).sum(axis=1)
        d2 = sq[:, None] + sq[None, :] - 2.0 * (V @ V.T)
        np.maximum(d2, 0.0, out=d2)
        np.round(d2, 9, out=d2)  # absorb BLAS-vs-walk accumulation ulp
        d_fp = np.round(np.sqrt(d2) * 1e6)  # exact 1e6 fixed point
        np.fill_diagonal(d_fp, 0.0)
        tot = d_fp.sum(axis=1).astype(np.int64)
        i = int(np.argmin(tot))  # id-sorted -> lowest vec_id on ties
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_members": [len(pdf)],
                "medoid_id": [int(pdf["vec_id"].iloc[i])],
                # unrounded: t_fp/1e6/(n-1) is an exact rational that
                # CAN land on a 6dp half boundary, where Python round
                # (banker's, exact-decimal) and SQL round (half-away)
                # split — final rounding happens JVM-side (the r5
                # forecast_per_day midpoint-hazard precedent)
                "mean_dist_to_members": [
                    float(tot[i]) / 1e6 / max(len(pdf) - 1, 1)
                ],
            }
        )

    out = e.groupBy("label").applyInPandas(
        run,
        "label int, n_members long, medoid_id bigint, "
        "mean_dist_to_members double",
    )
    return out.withColumn(
        "mean_dist_to_members", F.round(F.col("mean_dist_to_members"), 6)
    )


# ---------------------------------------------------------------------------
# X7r: intrinsic dimension (TwoNN estimator)
# ---------------------------------------------------------------------------


_D2_WALK = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> (CAST(av[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)) "
    "* (CAST(av[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))))"
)


@query(
    "emb_intrinsic_dim",
    oracle=f"""
WITH a AS (SELECT vec_id AS a_id, embedding AS av FROM embeddings
           WHERE vec_id < 200),
c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT a_id, c_id, {_D2_WALK} AS d2
    FROM c CROSS JOIN a
    WHERE a_id <> c_id
),
two AS (
    SELECT a_id,
           MIN(CASE WHEN rn = 1 THEN d2 END) AS d2_1,
           MIN(CASE WHEN rn = 2 THEN d2 END) AS d2_2
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                     ORDER BY d2 ASC, c_id) AS rn
        FROM scored
    )
    WHERE rn <= 2
    GROUP BY a_id
    HAVING MIN(CASE WHEN rn = 1 THEN d2 END) > 0
),
l AS (
    SELECT CAST(round(round(0.5 * ln(d2_2 / d2_1), 9) * 1e9, 0) AS BIGINT)
           AS l_fp
    FROM two
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
       round(CAST(COUNT(*) AS DOUBLE)
             / (CAST(SUM(l_fp) AS DOUBLE) / 1e9), 4) AS intrinsic_dim
FROM l
""",
    tags=("vectors", "X7r"),
)
def emb_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic dimension of the embedding manifold via the TwoNN
    estimator (Facco et al. 2017): for each anchor, mu = r2/r1 (its
    second- vs first-nearest-neighbor distance); id = n / sum(ln mu).
    Vectors living on a low-dimensional manifold inside the ambient 64
    dims report that low number — the diagnostic that says how much of
    the embedding width is real signal (feeds PCA rank and
    JL-projection sizing decisions).

    Anchors (vec_id < 200) score against the corpus map-side
    (brute_force shape); the estimator itself is a driver-free
    aggregation of per-anchor ln(mu) in fixed point. Oracled (r7
    rows-only shrink): d2 is the same left-to-right per-dim walk on
    both engines (bit-identical, so the 2-NN ranking is exact) and
    ln(mu) rounds 9dp into 1e9 fixed point before the order-immune
    integer sum (the ts_entropy_rate ln precedent). Planted line (~1)
    vs plane (~2) recovery stays pinned in tests.
    """
    from ..operators.similarity import brute_force_topk
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 200)
    # two nearest by L2: rank by distance via cosine won't do — compute
    # L2 directly against broadcast anchors
    a = anchors.select(
        F.col("vec_id").alias("a_id"), vec_double(F.col("embedding")).alias("av")
    )
    c = e.select(
        F.col("vec_id").alias("c_id"), vec_double(F.col("embedding")).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("av"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = c.join(F.broadcast(a), F.col("a_id") != F.col("c_id")).select(
        "a_id", "c_id", d2.alias("d2")
    )
    w = Window.partitionBy("a_id").orderBy(F.col("d2").asc(), "c_id")
    two = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("a_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("d2_1"),
            F.min(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2_2"),
        )
        .filter(F.col("d2_1") > 0)
    )
    # ln(mu) = 0.5 * ln(d2_2 / d2_1); fixed point for an order-immune sum
    lnmu_fp = F.round(
        F.round(F.lit(0.5) * F.log(F.col("d2_2") / F.col("d2_1")), 9)
        * F.lit(1e9),
        0,
    ).cast("bigint")
    agg = two.select(lnmu_fp.alias("l_fp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum("l_fp").cast("bigint").alias("s_fp"),
    )
    D = lambda x: x.cast("double")
    return agg.select(
        "n_anchors",
        # try_divide, not `/`: all-tied 2-NN distances make every
        # ln(mu) zero -> s_fp = 0, where ANSI `/` would kill the job
        # but the oracle's `/` yields NULL (the vec_cosine contract)
        F.round(
            F.try_divide(D(F.col("n_anchors")), D(F.col("s_fp")) / F.lit(1e9)),
            4,
        ).alias("intrinsic_dim"),
    )


# ---------------------------------------------------------------------------
# X7s: pairwise-similarity histogram (corpus geometry overview)
# ---------------------------------------------------------------------------


@query(
    "emb_similarity_histogram",
    oracle="""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id,
           round(list_sum(list_transform(list_zip(a.vd, b.vd),
                          p -> p[1] * p[2]))
                 / sqrt(list_sum(list_transform(a.vd, x -> x * x)))
                 / sqrt(list_sum(list_transform(b.vd, x -> x * x))), 6) AS cos
    FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
),
b AS (
    SELECT CAST(floor(cos * 10) AS BIGINT) AS bin, COUNT(*) AS n
    FROM pairs GROUP BY bin
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM b)
SELECT CAST(bin AS BIGINT) AS cos_bin_x10,
       CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS share
FROM b CROSS JOIN tot
""",
    tags=("vectors", "X7s", "geometry"),
)
def emb_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of adjacent-pair cosines in 0.1 bins — the
    NULL-DISTRIBUTION overview of the corpus's similarity geometry
    (adjacent ids are an unbiased pair sample of an unordered corpus).
    This is the chart that calibrates every similarity threshold in
    the registry: emb_range_search's 0.35 cut sits in this
    histogram's extreme tail, and a retrained encoder shifting the
    bulk left or right shows up here before any retrieval metric
    moves (the histogram twin of emb_centroid_drift).

    The rounded cosine is binned by floor (no round-half hazard at
    bin edges); map-side scoring on the id+1 join, tiny bin agg.
    """
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("ia"), vec_double(F.col("embedding")).alias("va")
    )
    b = e.select(
        (F.col("vec_id") - 1).alias("ia"), vec_double(F.col("embedding")).alias("vb")
    )
    pairs = a.join(b, "ia").select(
        F.round(vec_cosine(F.col("va"), F.col("vb")), 6).alias("cos")
    )
    bins = pairs.groupBy(
        F.floor(F.col("cos") * 10).cast("bigint").alias("cos_bin_x10")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = bins.agg(F.sum("n_pairs").cast("bigint").alias("t"))
    D = lambda x: x.cast("double")
    return bins.join(F.broadcast(tot)).select(
        "cos_bin_x10",
        "n_pairs",
        F.round(D(F.col("n_pairs")) / D(F.col("t")), 6).alias("share"),
    )
