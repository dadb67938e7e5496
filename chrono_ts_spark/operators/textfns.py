"""Text-analysis building blocks: language-ID heuristic, quality
scoring, token counting, document fingerprinting.

Everything is built-in Catalyst expressions (split / higher-order
array functions / md5), so these run inside whole-stage codegen and
need no Python workers — essential when scoring billions of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import shingles, tokenize

# Tiny per-language stopword seeds for the n-gram/stopword-overlap
# language-ID heuristic. Real deployments would ship larger lists; the
# mechanism (array_intersect scoring) is what matters here.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "for", "with"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "pour", "dans", "que"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "para", "en", "que"],
    "de": ["der", "die", "und", "das", "ein", "eine", "ist", "für", "mit", "zu"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他", "这", "不"],
}


def token_count(text: Column) -> Column:
    return F.size(tokenize(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND punctuation /
    digit boundaries (a cheap BPE proxy: words + punctuation marks)."""
    pieces = F.split(
        F.regexp_replace(F.lower(text), r"([^\w\s])", r" $1 "), r"\s+"
    )
    return F.size(F.filter(pieces, lambda t: t != ""))


def stopword_hits(tokens: Column, lang: str) -> Column:
    lits = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.array_intersect(tokens, lits))


def lang_id(text: Column, tiebreak_order: tuple[str, ...] = ("de", "en", "es", "fr", "zh")) -> Column:
    """Predicted language = argmax stopword overlap (ties resolved by
    fixed language order, 'und' when nothing matches).

    Shaped as array_max over (score, -order, lang) structs: a chained
    when/otherwise fold embeds each previous step TWICE, growing the
    expression tree 2^n and re-tokenizing the document per copy
    (Catalyst has no cross-expression CSE — same trap documented in
    operators/dedup.py).
    """
    toks = F.array_distinct(tokenize(text))
    entries = F.array(
        *[
            F.struct(
                stopword_hits(toks, lang).alias("score"),
                F.lit(-i).alias("nord"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(tiebreak_order)
        ]
    )
    best = F.array_max(entries)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + alpha ratio + token
    diversity, equal thirds. Deterministic double arithmetic."""
    toks = tokenize(text)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(text).cast("double")
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    distinct_ratio = F.when(
        n_tok > 0, F.size(F.array_distinct(toks)).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    len_band = F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    return (len_band + alpha_ratio + distinct_ratio) / F.lit(3.0)


def doc_fingerprint(tokens: Column, shingle_k: int = 5) -> Column:
    """Winnowing-style fingerprint: lexicographic-min md5 over word
    k-shingles (a 1-permutation minhash; portable to any SQL engine).

    ``tokens`` is a bound ``tokenize(text)`` column reference, as
    ``dedup.shingles`` requires."""
    return F.array_min(F.transform(shingles(tokens, shingle_k), lambda s: F.md5(s)))


def content_md5(text: Column) -> Column:
    """Normalized exact-dup digest: lowercase, collapsed whitespace."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def ngrams(tokens: Column, n: int) -> Column:
    """All word n-grams in order (with duplicates — repetition metrics
    need the multiset, unlike ``dedup.shingles`` which distinct-ifies
    and falls back to the whole document for short inputs). Documents
    shorter than n tokens yield an empty array, never a partial gram.

    The guard matters: Spark's ``sequence(1, size - (n-1))`` produces a
    DESCENDING sequence when size < n instead of an empty one.

    As with ``dedup.shingles``, pass ``tokens`` as a column reference:
    an inline tokenizer expression is re-run inside the lambda for
    every gram (no common-subexpression elimination in lambdas).
    """
    if n == 1:
        return tokens
    size = F.size(tokens)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Porter stemmer (Porter 1980 — public-domain algorithm), pure Python.
# The canonical suffix-stripping normalizer for sparse retrieval /
# vocabulary compaction; deterministic by construction. Vectors from
# the published algorithm description are pinned in tests.
# ---------------------------------------------------------------------------


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in "aeiou":
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(stem: str) -> int:
    """The m in [C](VC)^m[V]: number of VC transitions."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        v = not _is_cons(stem, i)
        if not v and prev_vowel:
            m += 1
        prev_vowel = v
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _double_cons(w: str) -> bool:
    return (
        len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)
    )


def _cvc(w: str) -> bool:
    if len(w) < 3:
        return False
    if not (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
    ):
        return False
    return w[-1] not in "wxy"


def porter_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    flag = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if _has_vowel(w[:-2]):
            w = w[:-2]
            flag = True
    elif w.endswith("ing"):
        if _has_vowel(w[:-3]):
            w = w[:-3]
            flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
        ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                if suf == "ion" and not stem.endswith(("s", "t")):
                    break
                w = stem
            break

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w
