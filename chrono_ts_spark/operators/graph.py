"""Connected components over a DataFrame edge list (dedup clustering).

The missing last step of a near-duplicate pipeline: candidate pairs
(MinHash-LSH, SimHash banding, inverted-index) are EDGES; the unit you
keep-or-drop is the CLUSTER (transitive closure: A~B, B~C puts A and C
in one cluster even though they were never compared directly).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014; public algorithm). Each round is a groupBy-min
plus an equi-join on node ids — pure shuffle-bound DataFrame ops, no
driver-side graph state — and the edge set converges to per-component
stars in O(log² n) rounds (in practice < 10 even for huge graphs).
This is the standard cluster-scale choice over label propagation
(O(diameter) rounds: a 1M-long chain needs 1M rounds vs ~20 here).

Scale shape (100 TB / billions of edges): every step shuffles on node
id — AQE coalesces and handles skew (a celebrity node with 10⁸
neighbors is exactly the skew-join case); `localCheckpoint` after each
round truncates the lineage so plans don't grow with iterations. Driver
memory is O(1): convergence is decided by a count, never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form: (hi, lo) with hi > lo, self-loops
    dropped, duplicates merged."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = canon.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
        canon.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    # m = min(N(u) ∪ {u}); emitted pairs (v, m) have v > u ≥ ... > m
    # or m == u, so (v, m) is already canonical (hi=v, lo=m)
    m = F.least(F.col("mv"), F.col("u"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), m.alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to
    the minimum of that set."""
    mins = canon.groupBy("hi").agg(F.min("lo").alias("m"))
    with_min = canon.join(mins, "hi")
    rewired = with_min.filter(F.col("lo") != F.col("m")).select(
        F.col("lo").alias("hi"), F.col("m").alias("lo")
    )
    hub = mins.select(F.col("hi"), F.col("m").alias("lo"))
    return rewired.unionByName(hub).filter(F.col("hi") != F.col("lo")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Component id (= minimum node id in the component) per node.

    Returns (node, component) for every node that appears in `edges`;
    isolated vertices never enter an edge list, so callers typically
    left-join this result and `coalesce(component, own_id)`.

    Node ids must be orderable (int or string). Determinism: the
    component id is the component's MINIMUM node id — a pure function
    of the graph, independent of partitioning or iteration count.
    """
    cur = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    cur = cur.localCheckpoint(eager=True)
    n_cur = cur.count()
    for _ in range(max_iterations):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        # converged iff the canonical edge sets are equal; both sets are
        # distinct, so equality == same count + empty one-sided except
        if n_nxt == n_cur and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (theoretical bound is O(log² n) ≈ 25 for any "
            "practical graph — the input likely violates the canonical "
            "edge contract)"
        )
    # fixpoint edges form stars (node → component min); roots map to
    # themselves
    comp = cur.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
    roots = cur.select(F.col("lo").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots).distinct()


# ---------------------------------------------------------------------------
# DOULION: triangle counting on a sparsified graph
# ---------------------------------------------------------------------------


def doulion_triangle_counts(
    edges: DataFrame,
    keep_num: int = 1,
    keep_den: int = 2,
) -> DataFrame:
    """Per-vertex SAMPLED triangle counts on a deterministically
    sparsified graph — the DOULION estimator (Tsourakakis, Kang,
    Miller, Faloutsos, KDD 2009; public paper): keep each edge with
    probability p, count triangles among the survivors, scale by
    1/p³. The estimate is unbiased and its variance vanishes as the
    true count grows, which is exactly the regime where exact
    enumeration dies — Θ(wedges) exceeded one box's spill disk at the
    r10 50x probe (2.48e9 wedge rows vs 77 GB), while sparsifying at
    p halves^k the wedge load by p² BEFORE the quadratic stage.

    Sampling is HASH-DETERMINISTIC, not RNG (the O4c pattern): edge
    (u, v) survives iff md5_u32(u ':' v) % keep_den < keep_num, so
    p = keep_num/keep_den, every engine and every rerun keeps the
    same edge set, and a DuckDB oracle can replay the whole estimator
    — sampling, enumeration, scaling — value for value.

    Input contract: ``edges`` has columns (u, v), canonical undirected
    (u < v, distinct). Survivor edges are DEGREE-ORIENTED before the
    wedge join (the r10 rel_triangle_parts fix): out-degree is capped
    at O(sqrt(m_kept)), so no skewed wedge key exists, hub or not.

    Returns (part aside) one row per vertex that closes at least one
    sampled triangle: (node bigint, tri_sampled bigint). Callers scale
    by keep_den³/keep_num³ for the per-vertex estimate, or aggregate
    first — the global sum counts each sampled triangle three times.
    """
    if not (0 < keep_num <= keep_den):
        raise ValueError("need 0 < keep_num <= keep_den")
    from ..functions import md5_u32

    kept = edges.select("u", "v").filter(
        md5_u32(
            F.concat(
                F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
            )
        )
        % F.lit(int(keep_den))
        < F.lit(int(keep_num))
    )
    deg = (
        kept.select(F.col("u").alias("p"))
        .unionAll(kept.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = (
        kept.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri_sampled")
    )
