"""Edge cases for the text-analysis building blocks (empty/degenerate
documents — SURVEY §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.operators.dedup import tokenize
from chrono_ts_spark.operators.textfns import (
    bpe_ish_token_count,
    content_md5,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, ""),
            (1, "   "),
            (2, "word"),
            (3, "the and of to in is a that for with filler filler filler filler"),
            (4, "le la et de un une est pour dans que mot mot mot mot"),
            (5, "xyzzy plugh " * 8),
            (6, "Hello, world! It's 2024."),
        ],
        "doc_id long, text string",
    )


def rows(df):
    return {r.doc_id: r for r in df.collect()}


def test_token_counts_empty_safe(spark, docs):
    out = rows(
        docs.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            bpe_ish_token_count(F.col("text")).alias("b"),
        )
    )
    assert out[0].n == 0 and out[1].n == 0
    assert out[2].n == 1
    # punctuation splits into extra BPE-ish pieces
    assert out[6].b > out[6].n >= 4


def test_quality_bounded(spark, docs):
    out = rows(docs.select("doc_id", quality_score(F.col("text")).alias("q")))
    for r in out.values():
        assert 0.0 <= r.q <= 1.0
    assert out[0].q == 0.0  # empty doc scores zero
    assert out[3].q > out[1].q


def test_lang_id_stopword_separation(spark, docs):
    out = rows(docs.select("doc_id", lang_id(F.col("text")).alias("lang")))
    assert out[3].lang == "en"
    assert out[4].lang == "fr"
    assert out[5].lang == "und"  # no stopwords at all
    assert out[0].lang == "und"


def test_fingerprint_and_md5_stability(spark, docs):
    toks = docs.withColumn("toks", tokenize(F.col("text")))
    out = rows(
        toks.select(
            "doc_id",
            doc_fingerprint(F.col("toks")).alias("fp"),
            content_md5(F.col("text")).alias("ch"),
        )
    )
    # whitespace normalization: "" and "   " share a content hash
    assert out[0].ch == out[1].ch
    # fingerprints are hex md5 strings even for short docs
    assert len(out[2].fp) == 32
    # deterministic across evaluations
    again = rows(toks.select("doc_id", doc_fingerprint(F.col("toks")).alias("fp")))
    assert {k: v.fp for k, v in out.items()} == {k: v.fp for k, v in again.items()}


def test_ngrams_short_doc_guard(spark, docs):
    from chrono_ts_spark.operators.textfns import ngrams
    from chrono_ts_spark.operators.dedup import tokenize

    toks = tokenize(F.col("text"))
    out = rows(
        docs.select(
            "doc_id",
            ngrams(toks, 2).alias("bi"),
            ngrams(toks, 3).alias("tri"),
        )
    )
    assert out[0].bi == [] and out[0].tri == []  # empty doc
    assert out[2].bi == [] and out[2].tri == []  # 1 word: no partial grams
    # "xyzzy plugh " * 8 -> 16 tokens, 15 bigrams, every one a repeat of 2
    assert len(out[5].bi) == 15
    assert set(out[5].bi) == {"xyzzy plugh", "plugh xyzzy"}


def test_repetition_metrics_exact(spark, tmp_path):
    """Hand-computed fractions for a deliberately repetitive doc."""
    from chrono_ts_spark.queries import load_all

    d = spark.createDataFrame(
        [
            # 18 words alternating a/b -> 17 bigrams (2 distinct)
            (1, ("a b " * 9).strip(), "en", "s", 35),
            # all distinct words (below the 12-word flag guard)
            (2, "u v w x y z", "en", "s", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    q = load_all()["doc_repetition_filter"]
    out = {r.doc_id: r for r in q.fn(spark, str(tmp_path)).collect()}
    r1 = out[1]
    assert r1.n_words == 18
    assert r1.dup_word_frac == pytest.approx((18 - 2) / 18)
    assert r1.dup_bigram_frac == pytest.approx((17 - 2) / 17)
    assert r1.top_bigram_mass == pytest.approx(9 / 17)
    assert r1.dup_trigram_frac == pytest.approx((16 - 2) / 16)
    assert r1.flagged == 1
    r2 = out[2]
    assert r2.dup_word_frac == 0.0
    assert r2.dup_bigram_frac == 0.0
    assert r2.top_bigram_mass == pytest.approx(1 / 5)
    assert r2.flagged == 0  # below the 12-word guard
