"""Dedup + similarity operators vs pure-Python references
(SURVEY.md §5: the no-SQL-oracle ops get reference-implementation
tests instead of DuckDB comparison)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_lsh_candidates,
    simhash,
    simhash_hamming_neighbors,
)
from chrono_ts_spark.operators.similarity import brute_force_topk, lsh_bucket_topk


def py_tokenize(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


def py_shingles(text: str, k: int = 5) -> set[str]:
    toks = py_tokenize(text)
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def py_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = py_shingles(a, k), py_shingles(b, k)
    return len(sa & sb) / len(sa | sb)


WORDS = "the quick brown fox jumps over lazy dog spark engine table scan".split()


def make_doc(rnd: random.Random, n: int = 40) -> str:
    return " ".join(rnd.choice(WORDS) for _ in range(n))


class TestMinhashLSH:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rnd = random.Random(1)
        docs = []
        for i in range(30):
            docs.append((i, make_doc(rnd)))
        # plant near-duplicates: 100..104 are light edits of doc 0..4
        for i in range(5):
            base = docs[i][1].split()
            base[3] = "EDITED"
            docs.append((100 + i, " ".join(base)))
        return docs

    def test_planted_near_dups_found(self, spark, corpus):
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        cands = minhash_lsh_candidates(df, "doc_id", "text", 64, 16, 5)
        verified = exact_jaccard_pairs(df, cands, "doc_id", "text", 5)
        hits = {
            (r.id_a, r.id_b) for r in verified.filter(F.col("jaccard") >= 0.4).collect()
        }
        for i in range(5):
            assert (i, 100 + i) in hits, f"planted pair {i} missed"

    def test_arrow_signature_matches_jvm_aggregate(self, spark, corpus):
        """The r7 map-only Arrow signature finisher must be
        bit-identical to the r6 explode + 64-min-aggregate it replaced
        (same (a*h+b) mod 2^61-1 int64 math), for BOTH hash families —
        this is the claim _minhash_udf's docstring makes."""
        from chrono_ts_spark.operators.dedup import (
            MERSENNE,
            _hash31,
            _hash31_md5,
            _minhash_udf,
            _perm_params,
            shingles,
            tokenize,
        )

        df = spark.createDataFrame(corpus, "doc_id long, text string")
        params = _perm_params(64, 42)
        for base_hash in (_hash31, _hash31_md5):
            sh = df.select(
                F.col("doc_id").alias("id"),
                shingles(tokenize(F.col("text")), 5).alias("sh"),
            )
            h = sh.select(
                "id",
                F.explode(
                    F.transform(F.col("sh"), lambda s: base_hash(s))
                ).alias("h"),
            )
            agg = {
                r["id"]: [r[f"m{i}"] for i in range(64)]
                for r in h.groupBy("id")
                .agg(
                    *[
                        F.min(
                            F.pmod(
                                F.lit(a) * F.col("h") + F.lit(b),
                                F.lit(MERSENNE),
                            )
                        ).alias(f"m{i}")
                        for i, (a, b) in enumerate(params)
                    ]
                )
                .collect()
            }
            hs = sh.select(
                "id",
                F.transform(F.col("sh"), lambda s: base_hash(s)).alias("hs"),
            )
            arrow = {
                r["id"]: list(r["sig"])
                for r in hs.select(
                    "id", _minhash_udf(params)(F.col("hs")).alias("sig")
                ).collect()
            }
            assert arrow == agg

    def test_exact_jaccard_matches_python(self, spark, corpus):
        # doc 0 sits in several pairs, 200 has fewer than k tokens, 201
        # is empty, 999 is absent from df (its pair must be dropped),
        # and the extra pair columns follow jaccard in their own order
        docs = corpus + [(200, "fewer than five"), (201, "")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = [(f"p{i}", i, 100 + i, i / 10) for i in range(5)] + [
            ("multi1", 0, 1, 0.5),
            ("multi2", 0, 200, 0.6),
            ("short", 200, 201, 0.7),
            ("empty", 1, 201, 0.8),
            ("absent", 3, 999, 0.9),
        ]
        pairs = spark.createDataFrame(rows, "tag string, id_a long, id_b long, w double")
        out = exact_jaccard_pairs(df, pairs, "doc_id", "text", 5)
        assert out.columns == ["id_a", "id_b", "jaccard", "tag", "w"]
        got = {(r.id_a, r.id_b): r for r in out.collect()}
        want = {(a, b): (tag, w) for tag, a, b, w in rows if b != 999}
        assert set(got) == set(want)
        text = dict(docs)
        for (a, b), r in got.items():
            assert r.jaccard == pytest.approx(py_jaccard(text[a], text[b]))
            assert (r.tag, r.w) == want[(a, b)]

    def test_candidate_verification_builds_lazily(self, spark, corpus, tmp_path):
        """LSH candidates plus exact verification build without running
        a Spark job, the plan reads no materialized checkpoint, and the
        corpus is read as the scan splits it, with no round-robin
        spread. The corpus goes through parquet because a DataFrame
        made from a Python list is itself an ExistingRDD scan."""
        from chrono_ts_spark.planinfo import explain_text

        path = str(tmp_path / "docs")
        spark.createDataFrame(corpus, "doc_id long, text string").write.parquet(path)
        df = spark.read.parquet(path)
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup())
        cands = minhash_lsh_candidates(df, "doc_id", "text", 64, 16, 5)
        verified = exact_jaccard_pairs(df, cands, "doc_id", "text", 5)
        assert len(tracker.getJobIdsForGroup()) == before
        plan = explain_text(verified, "simple")
        assert "ExistingRDD" not in plan
        assert "RoundRobinPartitioning" not in plan

    def test_portable_mode_planted_near_dups(self, spark, corpus):
        # r7 oracle twin: the md5 portable mode must find the planted
        # pairs too, and est_jaccard stays a k/64 dyadic in [0, 1]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        cands = minhash_lsh_candidates(
            df, "doc_id", "text", 64, 16, 5, portable=True
        )
        verified = exact_jaccard_pairs(df, cands, "doc_id", "text", 5)
        rows = verified.filter(F.col("jaccard") >= 0.4).collect()
        hits = {(r.id_a, r.id_b) for r in rows}
        for i in range(5):
            assert (i, 100 + i) in hits, f"planted pair {i} missed (portable)"
        for r in rows:
            assert 0.0 <= r.est_jaccard <= 1.0
            assert (r.est_jaccard * 64) == int(r.est_jaccard * 64)

    def test_df_cap_removes_boilerplate_candidates(self, spark, corpus):
        """max_shingle_df (late r11, probe-motivated): on the 2M probe
        corpus >99% of LSH candidates came from hot boilerplate spans
        (5,021,194 candidates -> exactly the 40,000 planted clone pairs
        once the boilerplate is stripped). The df cap must (a) kill
        boilerplate-induced candidates, (b) keep true near-dup recall,
        and (c) null out boilerplate-only docs instead of matching
        them all-pairs."""
        boiler = " ".join(f"zz{i}" for i in range(14))
        docs = [
            # every doc carries the hot footer; 0..19 soup + footer
            (i, f"{txt} {boiler}") for i, txt in
            ((j, make_doc(random.Random(100 + j))) for j in range(20))
        ]
        # planted true near-dups of docs 0 and 1 (footer included)
        for i in (0, 1):
            base = docs[i][1].split()
            base[3] = "EDITED"
            docs.append((200 + i, " ".join(base)))
        # two boilerplate-ONLY docs: with the cap they have no signal
        docs.append((300, boiler))
        docs.append((301, boiler))
        df = spark.createDataFrame(docs, "doc_id long, text string")

        uncapped = minhash_lsh_candidates(df, "doc_id", "text", 64, 16, 5)
        capped = minhash_lsh_candidates(
            df, "doc_id", "text", 64, 16, 5, max_shingle_df=10
        )
        un_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
        cap_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        # (b) recall: the true near-dups survive the cap
        for i in (0, 1):
            assert (i, 200 + i) in cap_pairs, f"true pair {i} lost to cap"
        # (a) the candidate set shrinks strictly (boilerplate pairs gone)
        assert len(cap_pairs) < len(un_pairs)
        # (c) boilerplate-only docs: matched all-pairs without the cap,
        # candidate-free with it
        assert (300, 301) in un_pairs
        assert not any(300 in p or 301 in p for p in cap_pairs)

    def test_df_cap_none_is_bit_identical(self, spark, corpus):
        # the default path must be untouched by the new parameter
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        base = minhash_lsh_candidates(df, "doc_id", "text", 64, 16, 5)
        off = minhash_lsh_candidates(
            df, "doc_id", "text", 64, 16, 5, max_shingle_df=None
        )
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, off.collect())
        )

    def test_recommended_cap_identical_on_fixture(self, spark):
        """Pipeline-level pin for the r12 production guidance (VERDICT
        r11 item 4): running the doc_minhash_near_dups pipeline (LSH
        candidates + exact-Jaccard verify + >= 0.5 gate) on the fixture
        documents corpus with max_shingle_df =
        recommended_shingle_df_cap(n_docs) keeps the near-dup
        ACCOUNTING identical to the uncapped default — the fixture has
        no boilerplate, so the recommended cap must be inert there and
        the knob is a pure scale lever, never a semantics change on
        clean corpora."""
        from chrono_ts_spark.catalog import load_table
        from chrono_ts_spark.operators.dedup import recommended_shingle_df_cap
        from tests.conftest import SF_SMOKE

        d = load_table(spark, SF_SMOKE, "documents")
        cap = recommended_shingle_df_cap(d.count())

        def accounting(max_df):
            cands = minhash_lsh_candidates(
                d, "doc_id", "text", 64, 16, 5, max_shingle_df=max_df
            )
            ver = exact_jaccard_pairs(d, cands, "doc_id", "text", 5)
            return sorted(
                (r.id_a, r.id_b, r.est_jaccard, r.jaccard)
                for r in ver.filter(F.col("jaccard") >= 0.5).collect()
            )

        try:
            assert accounting(cap) == accounting(None)
        finally:
            spark.catalog.clearCache()  # the capped path persists hs

    def test_max_df_env_zero_rejected(self, spark, monkeypatch):
        """SPARK_GRAFT_MINHASH_MAX_DF=0 must fail loudly (ADVICE r12):
        the string '0' is truthy, so before the guard it parsed to
        max_shingle_df=0 — dropping every shingle with df>0, i.e. all
        of them — instead of meaning 'no cap'."""
        import pytest as _pytest

        from chrono_ts_spark.catalog import load_table  # noqa: F401
        from chrono_ts_spark.queries import load_all
        from tests.conftest import SF_SMOKE

        q = load_all()["doc_minhash_near_dups"].fn
        for bad in ("0", "-3"):
            monkeypatch.setenv("SPARK_GRAFT_MINHASH_MAX_DF", bad)
            with _pytest.raises(ValueError, match="must be >= 1"):
                q(spark, SF_SMOKE)

    def test_est_jaccard_correlates(self, spark, corpus):
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        cands = minhash_lsh_candidates(df, "doc_id", "text", 64, 16, 5)
        verified = exact_jaccard_pairs(df, cands, "doc_id", "text", 5)
        rows = verified.collect()
        assert rows, "no candidates at all"
        err = [abs(r.est_jaccard - r.jaccard) for r in rows]
        assert sum(err) / len(err) < 0.25  # 64-perm signature accuracy


def test_shingles_of_bound_tokens_equal_inline(spark):
    """The MinHash path shingles a projected token column; that must be
    the same array as shingling the tokenizer expression inline."""
    from chrono_ts_spark.operators.dedup import shingles, tokenize

    docs = [
        (0, None),
        (1, ""),
        (2, "fewer than five"),
        (3, "a a a a a a a b a a a a a a a"),
        (4, "  Mixed CASE words  and more words and more words "),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    inline = df.select("doc_id", shingles(tokenize(F.col("text")), 5).alias("sh"))
    bound = df.select("doc_id", tokenize(F.col("text")).alias("tok")).select(
        "doc_id", shingles(F.col("tok"), 5).alias("sh")
    )
    got_inline = {r.doc_id: r.sh for r in inline.collect()}
    got_bound = {r.doc_id: r.sh for r in bound.collect()}
    assert got_bound == got_inline
    assert got_bound[2] == ["fewer than five"]
    assert sorted(got_bound[3]) == sorted(py_shingles(docs[3][1]))


class TestSimhash:
    def test_identical_docs_equal_fingerprint(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
            "doc_id long, text string",
        )
        out = df.select(simhash(F.col("text")).alias("h")).collect()
        assert out[0].h == out[1].h

    def test_token_order_invariant(self, spark):
        # simhash sums per-token votes: permuting tokens can't change it
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "f e d c b a")], "doc_id long, text string"
        )
        out = df.select(simhash(F.col("text")).alias("h")).collect()
        assert out[0].h == out[1].h

    def test_near_docs_close_hamming(self, spark):
        rnd = random.Random(2)
        base = make_doc(rnd, 60)
        edited = base.split()
        edited[10] = "CHANGED"
        far = make_doc(rnd, 60)
        df = spark.createDataFrame(
            [(1, base), (2, " ".join(edited)), (3, far)], "doc_id long, text string"
        )
        h = {r.doc_id: r.h for r in df.select("doc_id", simhash(F.col("text")).alias("h")).collect()}

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        assert ham(h[1], h[2]) < ham(h[1], h[3])
        assert ham(h[1], h[2]) <= 16

    @pytest.mark.parametrize("max_d", [0, 3, 7])
    def test_hamming_neighbors_match_brute_force(self, spark, max_d):
        # synthetic fingerprints with planted near-neighbors: banded
        # candidate generation + popcount must equal all-pairs Hamming.
        rnd = random.Random(4)
        fps = [(i, rnd.getrandbits(63)) for i in range(40)]
        for i in range(6):  # plant: flip `i` random bits of fp i
            fp = fps[i][1]
            for _ in range(i):
                fp ^= 1 << rnd.randrange(64)
            fps.append((100 + i, fp))
        df = spark.createDataFrame(fps, "doc_id long, simhash64 long")
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_hamming_neighbors(
                df, "doc_id", "simhash64", max_distance=max_d
            ).collect()
        }
        mask = (1 << 64) - 1

        def ham(a, b):
            return bin((a ^ b) & mask).count("1")

        want = {
            (ia, ib, ham(fa, fb))
            for ia, fa in fps
            for ib, fb in fps
            if ia < ib and ham(fa, fb) <= max_d
        }
        assert got == want and want  # planted pairs guarantee non-empty


class TestSimilarity:
    @pytest.fixture(scope="class")
    def clustered(self, spark):
        """10 well-separated clusters of 20 vectors each (dims=16)."""
        rnd = random.Random(3)
        rows = []
        centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(10)]
        vid = 0
        for label, c in enumerate(centers):
            for _ in range(20):
                v = [x + rnd.gauss(0, 0.05) for x in c]
                rows.append((vid, v, label))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def test_brute_force_matches_python(self, spark, clustered, tmp_path):
        """Exact top-k equals a Python reference on a one-file corpus,
        which is scored as its single-task scan reads it: no
        round-robin spread is planned."""
        from chrono_ts_spark.planinfo import explain_text

        path = str(tmp_path / "vectors")
        clustered.coalesce(1).write.parquet(path)
        corpus = spark.read.parquet(path)
        data = {r.vec_id: (list(r.embedding), r.label) for r in corpus.collect()}
        probes = corpus.filter(F.col("vec_id") < 3)
        out = brute_force_topk(corpus, probes, k=3)
        assert "RoundRobinPartitioning" not in explain_text(out, "simple")
        got = {(r.query_id, r.rnk): r.neighbor_id for r in out.collect()}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

        for q in range(3):
            qv = data[q][0]
            ranked = sorted(
                ((-cos(qv, v), nid) for nid, (v, _) in data.items() if nid != q)
            )[:3]
            for rnk, (_, nid) in enumerate(ranked, 1):
                assert got[(q, rnk)] == nid

    def test_lsh_high_recall_on_clusters(self, spark, clustered):
        probes = clustered.filter(F.col("vec_id") % 40 == 0)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(clustered, probes, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_bucket_topk(clustered, probes, dims=16, k=5, n_planes=6, n_tables=8).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall

    def test_md5_sign_buckets_recall(self, spark, clustered):
        # r7 oracle twin: candidates from the md5-derived Rademacher
        # planes + exact-cosine rerank must reach the same recall bar
        # as the seeded-numpy LSH path
        from chrono_ts_spark.operators.similarity import md5_sign_buckets
        from chrono_ts_spark.operators.topk import top_k_per_group
        from chrono_ts_spark.functions import vec_cosine, vec_double

        probes = clustered.filter(F.col("vec_id") % 40 == 0)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(clustered, probes, k=5).collect()
        }
        buck = md5_sign_buckets(clustered, "vec_id", "embedding", 16, 6, 8)
        qb = buck.join(
            probes.select("vec_id"), "vec_id"
        ).select(F.col("vec_id").alias("query_id"), "t", "bucket")
        cb = buck.select(F.col("vec_id").alias("neighbor_id"), "t", "bucket")
        cand = (
            cb.join(F.broadcast(qb), ["t", "bucket"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        qe = clustered.select(
            F.col("vec_id").alias("query_id"),
            vec_double(F.col("embedding")).alias("qv"),
        )
        ce = clustered.select(
            F.col("vec_id").alias("neighbor_id"),
            vec_double(F.col("embedding")).alias("cv"),
        )
        scored = (
            cand.join(qe, "query_id")
            .join(ce, "neighbor_id")
            .select(
                "query_id", "neighbor_id",
                vec_cosine(F.col("qv"), F.col("cv")).alias("cosine"),
            )
        )
        approx = {
            (r.query_id, r.neighbor_id)
            for r in top_k_per_group(
                scored, ["query_id"],
                [F.col("cosine").desc(), F.col("neighbor_id")], 5,
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall

    def test_lsh_same_cluster_neighbors(self, spark, clustered):
        probes = clustered.filter(F.col("vec_id") == 0)
        out = lsh_bucket_topk(clustered, probes, dims=16, k=5, n_planes=6, n_tables=8)
        labels = {r.vec_id: r.label for r in clustered.collect()}
        for r in out.collect():
            assert labels[r.neighbor_id] == labels[0]


def _pq_probe_search(df, probes):
    import numpy as np

    from chrono_ts_spark.operators.pq import pq_adc_topk

    return pq_adc_topk(df, probes, np.zeros((1, 2, 2)), k=3)


def _ivf_probe_search(df, probes):
    from chrono_ts_spark.operators.similarity import ivf_topk

    return ivf_topk(df, probes, dims=2, k=3, n_centroids=2, n_probe=1)


# Every operator that collects a probe set (similarity._collect_probes)
_PROBE_SEARCHES = {
    "lsh_bucket_topk": lambda df, probes: lsh_bucket_topk(df, probes, dims=2, k=3),
    "ivf_topk": _ivf_probe_search,
    "pq_adc_topk": _pq_probe_search,
}


class TestIVF:
    def test_ivf_high_recall_on_clusters(self, spark, clustered=None):
        import random

        rnd = random.Random(3)
        rows = []
        centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(10)]
        vid = 0
        for label, c in enumerate(centers):
            for _ in range(20):
                rows.append((vid, [x + rnd.gauss(0, 0.05) for x in c], label))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        from chrono_ts_spark.operators.similarity import ivf_topk

        probes = df.filter(F.col("vec_id") % 40 == 0)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(df, probes, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(df, probes, dims=16, k=5, n_centroids=10, n_probe=2).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall

    def test_ivf_fit_matches_local_lloyd(self, spark):
        # The r14 mapInPandas partial-sum Lloyd update must reproduce a
        # straight local reimplementation of the same contract (cosine
        # argmin assignment, 1e-9 HALF-UP fixed-point coordinate sums)
        # bit-for-bit: integer partials are addition-order-immune, so
        # partitioning must not move a single ulp.
        import random

        import numpy as np

        from chrono_ts_spark.operators.similarity import ivf_fit_centroids

        rnd = random.Random(11)
        rows = [
            (i, [rnd.uniform(-2, 2) for _ in range(8)]) for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(7)
        got = ivf_fit_centroids(df, dims=8, n_centroids=4, iters=2)

        mat = np.array(
            [[np.float32(x) for x in v] for _, v in rows], dtype=np.float64
        )
        stride = 200 // 4
        cents = mat[[i for i in range(0, 200, stride)][:4]].copy()
        for _ in range(2):
            c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
            unit = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            cl = np.argsort(-(unit @ c.T), axis=1)[:, 0]
            q = (np.floor(np.abs(mat) * 1e9 + 0.5) * np.sign(mat)).astype(
                np.int64
            )
            from fractions import Fraction

            new = cents.copy()
            for cid in np.unique(cl):
                sel = q[cl == cid]
                s = sel.sum(axis=0)
                new[cid] = (
                    np.array([float(Fraction(int(v), 10**9)) for v in s])
                    / len(sel)
                )
            cents = new
        assert np.array_equal(got, cents), (got - cents)

    def test_ivf_fit_deterministic_across_partitionings(self, spark):
        import random

        from chrono_ts_spark.operators.similarity import ivf_fit_centroids

        rnd = random.Random(5)
        rows = [
            (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = ivf_fit_centroids(df.repartition(1), dims=8, n_centroids=5)
        b = ivf_fit_centroids(df.repartition(13), dims=8, n_centroids=5)
        import numpy as np

        assert np.array_equal(a, b)

    @pytest.mark.parametrize("search", sorted(_PROBE_SEARCHES))
    def test_duplicate_probe_ids_raise(self, spark, search):
        # ADVICE r13: duplicate probe ids used to surface as a runtime
        # DUPLICATED_MAP_KEY (or worse, silent NULL-cosine ranking when
        # a non-deterministic probe DF diverged between its two
        # evaluations). Every probe-collecting search snapshots the
        # probe set once and raises on duplicates (pq_adc_topk used to
        # keep the last vector of a duplicated id).
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        dup_probes = df.filter(F.col("vec_id") < 2).union(
            df.filter(F.col("vec_id") < 1)
        )
        with pytest.raises(ValueError, match="duplicate probe ids"):
            _PROBE_SEARCHES[search](df, dup_probes)

    @pytest.mark.parametrize("search", sorted(_PROBE_SEARCHES))
    def test_empty_probe_set_raises(self, spark, search):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="no probe rows"):
            _PROBE_SEARCHES[search](df, df.filter(F.col("vec_id") < 0))


class TestRoutingAgreement:
    """The corpus side (the fused Arrow pass) and the probe side (the
    driver-side routing) of an ANN cell join must put the same vector
    in the same cell. Each probe's exact copy sits in the corpus under
    another id, so the copy is the probe's top-1 neighbour (cosine 1)
    exactly when both sides route that vector to the same cell."""

    @pytest.fixture(scope="class")
    def twins(self, spark):
        import numpy as np

        rng = np.random.default_rng(23)
        base = rng.normal(size=(200, 16)).astype(np.float32)
        rows = [(i, v.tolist()) for i, v in enumerate(base)]
        rows += [(1000 + i, base[i].tolist()) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return df, df.filter(F.col("vec_id") < 40)

    @pytest.mark.parametrize("seed", [7, 1007])
    def test_lsh_probe_shares_its_twins_bucket(self, spark, twins, seed):
        # one table of 12 bits: a probe routed differently from its
        # twin lands in another bucket with probability ~1 - 2^-12
        df, probes = twins
        out = lsh_bucket_topk(
            df, probes, dims=16, k=1, n_planes=12, n_tables=1, seed=seed
        )
        got = {r.query_id: (r.neighbor_id, r.cosine) for r in out.collect()}
        assert {q: n for q, (n, _) in got.items()} == {
            q: 1000 + q for q in range(40)
        }
        assert all(abs(c - 1.0) < 1e-12 for _, c in got.values())

    def test_ivf_probe_shares_its_twins_cell(self, spark, twins):
        from chrono_ts_spark.operators.similarity import ivf_topk

        df, probes = twins
        out = ivf_topk(df, probes, dims=16, k=1, n_centroids=8, n_probe=1)
        got = {r.query_id: (r.neighbor_id, r.cosine) for r in out.collect()}
        assert {q: n for q, (n, _) in got.items()} == {
            q: 1000 + q for q in range(40)
        }
        assert all(abs(c - 1.0) < 1e-12 for _, c in got.values())


# ---------------------------------------------------------------------------
# Connected components (operators/graph.py) vs pure-Python union-find
# ---------------------------------------------------------------------------


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id in component
    labels: dict[int, int] = {}
    for node in parent:
        root = find(node)
        labels[node] = min(labels.get(root, root), root)
    return {n: find(n) for n in parent}


class TestConnectedComponents:
    def _check(self, spark, edges):
        from chrono_ts_spark.operators.graph import connected_components

        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {
            r.node: r.component
            for r in connected_components(df, "src", "dst").collect()
        }
        want = _union_find_components(edges)
        # union-find roots are not necessarily minima; normalize both
        # sides to min-of-component
        from collections import defaultdict

        groups = defaultdict(list)
        for n, r in want.items():
            groups[r].append(n)
        want_min = {n: min(ns) for r, ns in groups.items() for n in ns}
        assert got == want_min

    def test_two_triangles_and_bridge(self, spark):
        self._check(
            spark,
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)],
        )

    def test_long_chain_converges_fast(self, spark):
        # a 300-node path: label propagation would need 300 rounds;
        # alternating stars must finish inside the 25-round cap
        self._check(spark, [(i, i + 1) for i in range(300)])

    def test_random_graphs_match_union_find(self, spark):
        rng = random.Random(7)
        for trial in range(3):
            n = 80
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(60)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            self._check(spark, edges)

    def test_duplicate_and_reversed_edges(self, spark):
        self._check(spark, [(5, 1), (1, 5), (5, 1), (2, 5), (9, 2)])


class TestPackSequences:
    def test_greedy_rule_and_oversized(self, spark):
        from chrono_ts_spark.operators.packing import pack_sequences

        rows = [
            # lang, doc_id, n_tok — cap 10:
            ("en", 1, 4), ("en", 2, 5),        # pack 0 (fill 9)
            ("en", 3, 2),                      # 9+2>10 → pack 1
            ("en", 4, 25),                     # oversized → pack 2 alone
            ("en", 5, 1),                      # 25+1>10 → pack 3
            ("fr", 9, 10),                     # exactly cap → pack 0
            ("fr", 10, 1),                     # 10+1>10 → pack 1
        ]
        df = spark.createDataFrame(rows, "lang string, doc_id bigint, n_tok int")
        got = {
            (r.lang, r.doc_id): r.pack_id
            for r in pack_sequences(df, ["lang"], "doc_id", "n_tok", 10).collect()
        }
        assert got == {
            ("en", 1): 0, ("en", 2): 0, ("en", 3): 1, ("en", 4): 2,
            ("en", 5): 3, ("fr", 9): 0, ("fr", 10): 1,
        }

    def test_pack_fill_never_exceeds_capacity_except_oversized(self, spark):
        import random as _r

        from chrono_ts_spark.operators.packing import pack_sequences

        rng = _r.Random(3)
        rows = [("g", i, rng.randint(1, 60)) for i in range(200)]
        df = spark.createDataFrame(rows, "lang string, doc_id bigint, n_tok int")
        out = pack_sequences(df, ["lang"], "doc_id", "n_tok", 100).collect()
        fills = {}
        for r in out:
            fills.setdefault(r.pack_id, 0)
            fills[r.pack_id] += r.n_tok
        assert all(f <= 100 for f in fills.values())
        # packs are contiguous ids 0..max
        assert sorted(fills) == list(range(len(fills)))
