"""Product quantization: deterministic codebook, valid codes, ADC
recall, exact-rerank recovery (equivalence strategy as in
test_dedup_similarity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.operators.pq import (
    _encode_np,
    pq_adc_topk,
    pq_encode,
    pq_fit,
)

DIMS = 32


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    # 12 clusters, 300 vectors: PQ should separate these well
    centers = rng.normal(size=(12, DIMS)) * 3
    rows = []
    for i in range(300):
        c = centers[i % 12]
        rows.append((i, (c + rng.normal(size=DIMS) * 0.3).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, {i: np.array(v, dtype=np.float64) for i, v in rows}


def exact_topk(vecs, qid, k):
    q = vecs[qid]
    d = {i: float(((v - q) ** 2).sum()) for i, v in vecs.items() if i != qid}
    return [i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:k]]


def test_fit_deterministic_and_codes_valid(spark, corpus):
    df, _ = corpus
    cb1 = pq_fit(df, DIMS, m_sub=4, k=8, iters=2)
    cb2 = pq_fit(df, DIMS, m_sub=4, k=8, iters=2)
    assert np.array_equal(cb1, cb2)
    codes = pq_encode(df, cb1).collect()
    assert len(codes) == 300
    for r in codes:
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)


def test_fit_matches_local_lloyd(spark, corpus):
    # The r14 mapInPandas partial-sum codebook trainer must reproduce
    # a straight local reimplementation of the contract (per-subspace
    # L2 argmin via _encode_np, 1e-9 HALF-UP fixed-point sums, one
    # correct rounding via Fraction) bit-for-bit, independent of
    # partitioning.
    from fractions import Fraction

    df, vecs = corpus
    got = pq_fit(df.repartition(7), DIMS, m_sub=4, k=8, iters=2)

    mat = np.vstack([vecs[i] for i in sorted(vecs)])
    sub = DIMS // 4
    stride = 300 // 8
    init = mat[[i for i in range(0, 300, stride)][:8]]
    cb = np.array(
        [[row[m * sub : (m + 1) * sub] for row in init] for m in range(4)],
        dtype=np.float64,
    )
    q = (np.floor(np.abs(mat) * 1e9 + 0.5) * np.sign(mat)).astype(np.int64)
    for _ in range(2):
        codes = _encode_np(mat, cb)
        new = cb.copy()
        for m in range(4):
            for cid in np.unique(codes[:, m]):
                sel = q[codes[:, m] == cid, m * sub : (m + 1) * sub]
                s = sel.sum(axis=0)
                new[m, cid] = (
                    np.array([float(Fraction(int(v), 10**9)) for v in s])
                    / len(sel)
                )
        cb = new
    assert np.array_equal(got, cb), np.abs(got - cb).max()


def test_fit_deterministic_across_partitionings(spark, corpus):
    df, _ = corpus
    a = pq_fit(df.repartition(1), DIMS, m_sub=4, k=8, iters=2)
    b = pq_fit(df.repartition(13), DIMS, m_sub=4, k=8, iters=2)
    assert np.array_equal(a, b)


def test_encode_matches_numpy(spark, corpus):
    df, vecs = corpus
    cb = pq_fit(df, DIMS, m_sub=4, k=8, iters=1)
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, cb).collect()}
    mat = np.vstack([vecs[i] for i in sorted(vecs)])
    want = _encode_np(mat, cb)
    for idx, i in enumerate(sorted(vecs)):
        assert got[i] == want[idx].tolist()


def test_adc_recall_and_rerank(spark, corpus):
    df, vecs = corpus
    cb = pq_fit(df, DIMS, m_sub=8, k=16, iters=2)
    probes = df.filter(F.col("vec_id") < 8)

    adc = pq_adc_topk(df, probes, cb, k=10)
    adc_by_q = {}
    for r in adc.collect():
        adc_by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    rr = pq_adc_topk(df, probes, cb, k=10, rerank=60)
    rr_by_q = {}
    for r in rr.collect():
        rr_by_q.setdefault(r.query_id, []).append(r.neighbor_id)

    adc_rec, rr_rec = [], []
    for q in range(8):
        truth = set(exact_topk(vecs, q, 10))
        adc_rec.append(len(truth & set(adc_by_q[q])) / 10)
        rr_rec.append(len(truth & set(rr_by_q[q])) / 10)
    assert np.mean(adc_rec) >= 0.5, adc_rec
    assert np.mean(rr_rec) >= 0.9, rr_rec
    # rerank can only improve on ADC
    assert np.mean(rr_rec) >= np.mean(adc_rec)


def test_full_rerank_is_exact(spark, corpus):
    df, vecs = corpus
    cb = pq_fit(df, DIMS, m_sub=4, k=8, iters=1)
    probes = df.filter(F.col("vec_id") == 0)
    out = pq_adc_topk(df, probes, cb, k=5, rerank=299)
    got = [r.neighbor_id for r in sorted(out.collect(), key=lambda r: r.rnk)]
    assert got == exact_topk(vecs, 0, 5)


def test_bad_geometry_rejected(spark, corpus):
    df, _ = corpus
    with pytest.raises(ValueError):
        pq_fit(df, DIMS, m_sub=5)


def test_adc_batch_cap_invariant(spark, corpus):
    """r15: the per-batch partial top-cap selection in the ADC scorer
    must be invisible in the result — tiny Arrow batches (many partial
    caps, every boundary-tie path exercised) and one big batch must
    produce identical rows, for both the plain and rerank paths."""
    df, vecs = corpus
    codebook = pq_fit(df, DIMS, m_sub=4, k=8, iters=1)
    probes = df.filter(F.col("vec_id") < 3)

    def run():
        out = pq_adc_topk(df, probes, codebook, k=5)
        plain = sorted(tuple(r) for r in out.collect())
        out_r = pq_adc_topk(df, probes, codebook, k=5, rerank=20)
        rr = sorted(tuple(r) for r in out_r.collect())
        return plain, rr

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "37")
        small_plain, small_rr = run()
    finally:
        spark.conf.set(key, old)
    big_plain, big_rr = run()
    assert small_plain == big_plain
    assert small_rr == big_rr


def test_rerank_candidate_broadcast_is_bounded(spark, corpus, monkeypatch):
    # P x max(k, rerank) candidate rows are broadcast for the rerank;
    # past the private bound the operator raises instead of planning an
    # unbounded broadcast (the MinHash hot-set idiom: no second path).
    from chrono_ts_spark.operators import pq

    df, _ = corpus
    probes = df.filter(F.col("vec_id") < 4)
    cb = np.zeros((4, 8, DIMS // 4))
    monkeypatch.setattr(pq, "_MAX_RERANK_ROWS", 40)
    with pytest.raises(ValueError, match="40-row bound"):
        pq_adc_topk(df, probes, cb, k=5, rerank=20)  # 4 x 20 = 80 > 40
    pq_adc_topk(df, probes, cb, k=5, rerank=10)  # 4 x 10 = 40: at the bound
    pq_adc_topk(df, probes, cb, k=20)  # no rerank, nothing broadcast
