"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all shuffle-conscious:

- exact_dedup / dup_groups: hash-groupBy on a content digest. At scale
  this is one shuffle of (digest, id) pairs — never the payload.
- MinHash + LSH near-dup: shingle → 64-perm minhash signature → banded
  bucket join. Candidate generation is an equi-join on (band_id,
  band_hash), so cost is O(candidates), not O(n²). Signatures are
  computed with built-in higher-order functions (xxhash64 + affine
  re-hash), entirely JVM-side.
- SimHash: 64-bit sign fingerprint via one aggregate over token
  hashes; near-dups = equal fingerprints (or small hamming distance
  via banded equality, same LSH trick).
- exact n-gram Jaccard verification for candidate pairs.

MinHash math: for permutation p, h_p(x) = (a_p * h(x) + b_p) mod
2^61-1 with h = xxhash64. Mersenne-prime modulus keeps the affine
family near-universal; Java long overflow during the multiply is
deterministic wraparound, acceptable for hashing.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_u32

MERSENNE = (1 << 61) - 1


def tokenize(col: Column, pattern: str = r"\s+") -> Column:
    """Lowercased whitespace tokenization (empty tokens removed)."""
    return F.filter(F.split(F.lower(col), pattern), lambda t: t != "")


def shingles(tokens: Column, k: int = 5) -> Column:
    """Distinct word k-shingles as strings ('w1 w2 … wk').

    Pass ``tokens`` as a column reference, not an expression: the
    lambda captures it, Catalyst does no common-subexpression
    elimination inside lambdas, and an inline ``tokenize(...)`` is
    re-run for every shingle, O(tokens²) per document. Project the
    tokens as their own column first; CollapseProject keeps the two
    projections apart because the alias is used more than once. Do
    not let-bind here instead (``element_at(transform(array(tokens),
    ...), 1)``): on Spark 4.1 that stops ExtractPythonUDFs from
    extracting a downstream Arrow UDF (INTERNAL_ERROR "Cannot
    evaluate expression").
    """
    n = F.size(tokens)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def recommended_shingle_df_cap(n_docs: int) -> int:
    """Production default for ``minhash_lsh_candidates(max_shingle_df=)``.

    ``max(512, n_docs // 1000)`` — i.e. drop shingles shared by more
    than 0.1% of a large corpus. Rationale (r11 2M/4M-doc probes,
    docs/scale.md "LSH banding"): true near-dup families are
    duplication events (mirrored pages, reposts) and stay far below
    0.1% of any web-scale corpus, while boilerplate spans (site
    footers, license headers) appear in 5-14%+ of docs and contribute
    a quadratically-growing candidate floor (~10^11 pairs
    extrapolated at 1B docs). The 0.1% cap bounds any admitted
    shingle's worst-case pair contribution at (n/1000)²/2 while
    leaving genuine duplicate clusters untouched. The 512 floor keeps
    the cap inert on small/fixture corpora (every fixture shingle df
    is far below it), so capped and uncapped output are identical
    there — pinned by the pipeline-level test. Corpora where hot
    spans CARRY signal (e.g. legal boilerplate retrieval) should keep
    the cap off; see the docstring below.
    """
    return max(512, n_docs // 1000)


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Affine permutation params, pre-reduced for overflow safety:
    a < 2^31 (paired with 31-bit-reduced hashes, a*h + b stays under
    2^63 — no long overflow under ANSI mode), b < MERSENNE."""
    rnd = random.Random(seed)
    return [
        ((rnd.randrange(1, MERSENNE) % ((1 << 31) - 1)) + 1,
         rnd.randrange(0, MERSENNE) % MERSENNE)
        for _ in range(num_perm)
    ]


def _hash31(col: Column) -> Column:
    """xxhash64 reduced to 31 bits (see _perm_params overflow budget)."""
    return F.pmod(F.xxhash64(col), F.lit(1 << 31))


def _hash31_md5(col: Column) -> Column:
    """Engine-portable 31-bit base hash: ``md5_u32`` mod 2^31. Slower
    than xxhash64 (cryptographic digest + hex parse) but expressible
    identically in any SQL engine (``sql_md5_u32(s) % 2147483648`` in
    DuckDB) — the doc_simhash_md5 oracle-twin pattern applied to
    MinHash."""
    return md5_u32(col) % F.lit(1 << 31)


def _minhash_udf(params: list[tuple[int, int]], drop_hashes=None):
    """Vectorized (Arrow) signature finisher: per-doc base-hash array →
    the num_perm affine minima, one numpy broadcast per document.

    Exactly the JVM aggregate's integer math — a < 2^31 paired with
    31-bit base hashes keeps a*h + b under 2^63, so int64 never
    overflows and the minima match the pmod/min aggregate bit-for-bit
    (pinned in tests). Replacing the explode + groupBy with a map-only
    batch op removes the signature shuffle altogether.

    ``drop_hashes`` (late r11): optional sorted int64 numpy array of
    base hashes to EXCLUDE from every document's shingle set before
    the minima (the df-capped hot-shingle set — boilerplate). The
    filter is a vectorized np.searchsorted membership test inside the
    same Arrow batch, so the stage stays map-only. A doc whose every
    shingle is dropped yields a null signature — the existing null
    path then excludes it from candidates (correct: a boilerplate-only
    document has no distinguishing content to match on).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    A = np.array([a for a, _ in params], dtype=np.int64)[None, :]
    B = np.array([b for _, b in params], dtype=np.int64)[None, :]
    drop = None
    if drop_hashes is not None and len(drop_hashes):
        drop = np.sort(np.asarray(drop_hashes, dtype=np.int64))

    def sig(hs):
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                # null text / empty hash array: emit null; the caller
                # filters these out, matching the old explode+groupBy
                # shape where such docs produced no signature row
                out.append(None)
                continue
            h = np.asarray(arr, dtype=np.int64)
            if drop is not None:
                idx = np.clip(np.searchsorted(drop, h), 0, len(drop) - 1)
                h = h[drop[idx] != h]
                if len(h) == 0:
                    out.append(None)
                    continue
            h = h[:, None]  # (shingles, 1)
            out.append(((A * h + B) % MERSENNE).min(axis=0).tolist())
        return pd.Series(out)

    # real annotation objects, not strings: the module-wide
    # `from __future__ import annotations` would otherwise leave
    # pandas_udf's type-hint inference with unresolvable 'pd.Series'
    sig.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    return pandas_udf(sig, ArrayType(LongType()))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    portable: bool = False,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows = bands must divide num_perm. Jaccard-similar docs collide in
    ≥1 band w.h.p. (s-curve at t ≈ (1/bands)^(bands/num_perm)).
    Returns distinct candidate pairs with their estimated jaccard
    (signature agreement fraction).

    Contract: id_col must be unique per row (the document-id shape
    every caller has). The r6 explode+groupBy signature incidentally
    merged duplicate ids' shingle unions; the r7 map-only Arrow
    finisher computes one signature per ROW, so duplicate ids would
    yield nondeterministic est_jaccard per surviving pair.

    portable: use the md5-derived base hash and raw signature-slice
    strings as band keys instead of xxhash64 — every hash then has an
    exact SQL equivalent, so the whole candidate set (and est_jaccard)
    is DuckDB-oracle-able (doc_minhash_md5). Same algorithm, same
    affine family, same banding; only the base hash differs.

    max_shingle_df (late r11): drop shingles whose DOCUMENT FREQUENCY
    exceeds this count before minhashing. Motivation is measured, not
    hypothetical: on the 2M-doc probe corpus the planted boilerplate
    footers (14 tokens shared by 5-14% of docs) produced 5,021,194
    LSH candidates — stripping the boilerplate collapses that to
    exactly the 40,000 planted clone pairs, i.e. >99% of candidate
    volume came from hot spans whose pairwise est_jaccard (~0.12) is
    far below any useful threshold, admitted anyway because n² pairs
    beat the s-curve's small per-pair probability. Real corpora have
    exactly this shape (site footers, license headers), and the
    candidate floor grows quadratically in the footer-sharing count.
    Cost: one extra linear aggregate pass (distinct (doc, shingle) →
    df counts; the shuffle carries 8-byte hashes); the hot set — by
    definition at most total_shingle_incidences / max_shingle_df
    entries — is pulled to the driver (guarded at 1M entries) and
    applied as a vectorized membership filter inside the existing
    Arrow signature batch, so the signature stage stays map-only.
    est_jaccard is then estimated over the CAPPED shingle sets; docs
    consisting only of hot shingles yield no candidates (documented
    null-signature path).

    Setting the cap changes two contracts (both deliberate):

    - EAGERNESS: the df pass runs AT BUILD TIME (the hot set must be
      on the driver before the signature UDF can close over it), so
      this function stops being fully lazy — it scans the corpus once
      when called, not when the returned pairs are consumed. The
      tokenize/shingle/hash table is persisted (DISK_ONLY — heap
      cache blocks compete with execution memory, and the r12 8M-doc
      probe GCLocker-failed an 8g JVM under MEMORY_AND_DISK; the
      table is read once, sequentially, so disk costs only seconds)
      across the df pass and the signature pass so that scan is paid
      once, not twice; the cached table lives until the caller's
      session drops it (``.unpersist()`` /
      ``spark.catalog.clearCache()``).
    - The cap applies in BOTH hash modes, portable included — the
      capped shingle universe is what est_jaccard is estimated over,
      whichever base hash keys it. A portable=True caller who also
      sets the cap therefore needs the SAME drop-set applied in their
      SQL oracle to keep parity; the registry's doc_minhash_md5
      oracle query simply leaves the cap unset (the knob is for
      production corpora, not the fixture).
    """
    assert num_perm % bands == 0
    rows = num_perm // bands

    # Base shingle hashes stay JVM-side (xxhash64/md5 built-ins compute
    # each shingle hash exactly once per doc); the 64 affine mins then
    # run as ONE vectorized Arrow batch op per partition instead of the
    # r6 explode + 64-min-aggregate shape — same integer math
    # ((a*h + b) mod 2^61-1 over int64, identical overflow budget), so
    # signatures are bit-identical and the md5 twin's SQL oracle still
    # nests verbatim, but the (id, hash) explode SHUFFLE is gone
    # entirely: the signature is map-only, zero signature-stage network
    # traffic.
    sh = df.select(
        F.col(id_col).alias("__id"), tokenize(F.col(text_col)).alias("__tok")
    ).select("__id", shingles(F.col("__tok"), shingle_k).alias("__sh"))
    base_hash = _hash31_md5 if portable else _hash31
    hs = sh.select(
        "__id",
        F.transform(F.col("__sh"), lambda s: base_hash(s)).alias("__hs"),
    )
    params = _perm_params(num_perm, seed)
    drop_hashes = None
    if max_shingle_df is not None:
        import numpy as np
        from pyspark import StorageLevel

        # The cap makes construction EAGER (docstring): the hot set is
        # collected here, before the signature UDF exists. Persist the
        # tokenize/shingle/hash table so the corpus text pipeline — the
        # dominant per-row cost — is computed once for the df pass and
        # reread from cache by the signature pass, not recomputed.
        # DISK_ONLY, not MEMORY_AND_DISK (r12 8M-doc probe): the cache
        # exists purely to avoid a second corpus scan and is read once,
        # sequentially — but heap-resident columnar cache blocks compete
        # with execution memory, and at 8M docs (~3-4 GB of hashes) the
        # capped pipeline GCLocker-failed a default 8g JVM; on disk it
        # completes there, and the one re-read costs seconds.
        hs = hs.persist(StorageLevel.DISK_ONLY)
        # df pass: distinct (doc, shingle-hash) incidences → per-hash doc
        # counts; partial aggregation keeps the shuffle at 8-byte keys.
        hot = (
            hs.select(F.explode(F.array_distinct("__hs")).alias("__h"))
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("__h")
        )
        pulled = [r[0] for r in hot.limit(1_000_001).collect()]
        if len(pulled) > 1_000_000:
            raise ValueError(
                "max_shingle_df admits >1M hot shingles — the cap is "
                "below this corpus's common-shingle regime; raise it "
                "(driver pull is bounded by design, not by luck)"
            )
        # Ship the drop set as a SORTED int64 numpy array: the pandas
        # UDF pickles its closure with the command, and a 1M-entry
        # Python int list is tens of MB of pickle vs 8 MB of numpy
        # buffer — and the searchsorted side needs it sorted anyway.
        drop_hashes = np.sort(np.asarray(pulled, dtype=np.int64))
    # Null/empty guard on the UDF's INPUT, not its output: a filter on
    # the pandas_udf result column sits between the two self-join
    # branches and defeats AQE's exchange reuse, recomputing the whole
    # signature pipeline for one side (measured 2x, 3.0 s -> 6.1 s at
    # 5k docs). Filtering the JVM-side array instead is equivalent —
    # the finisher yields null exactly for null/empty hash arrays —
    # and keeps the plan a single shared exchange. shingles() never
    # emits an empty array, so this (and the finisher's null branch)
    # is defense in depth for external callers.
    sig = hs.select(
        "__id",
        _minhash_udf(params, drop_hashes=drop_hashes)(F.col("__hs")).alias(
            "__sig"
        ),
    )

    banded = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                # portable mode joins on the raw slice string (exact SQL
                # twin); default hashes it to a fixed 8-byte key so the
                # shuffle rows stay narrow
                # Null-sig guard lives HERE, as an expression: a
                # Filter node on (or upstream of) the pandas_udf
                # column breaks the two join branches' subtree
                # identity and defeats AQE's exchange reuse,
                # recomputing the signature pipeline for one side
                # (measured 2x, 3.0 s -> 6.1 s at 5k docs). concat_ws
                # and xxhash64 both swallow nulls (-> '' / seed hash),
                # so without the when() every null-signature doc would
                # collide in every band; with it band_hash is null and
                # the null-rejecting equi-join drops the doc from the
                # candidate set — the defense e834e0e intended, at
                # zero plan cost. (shingles() never emits null; this
                # is for external callers.)
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.when(
                        F.col("__sig").isNotNull(),
                        (lambda key: key if portable else F.xxhash64(key))(
                            F.concat_ws(",", F.transform(
                                F.slice(F.col("__sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ))
                        ),
                    ).alias("band_hash"),
                ),
            )
        ).alias("__band"),
    ).select("__id", "__sig", "__band.band_id", "__band.band_hash")

    # Self-join via one EXPLICIT repartition on the band key and two
    # aliases of the SAME child plan (r7): with identically-projected
    # branches, AQE's exchange reuse fires at runtime and the signature
    # pipeline — the dominant cost — is computed once, not once per
    # branch; the join itself then needs no further shuffle (both
    # sides already share the band partitioning). Same shuffle count
    # as the old differently-projected form, half the signature
    # compute; measured ~7% on the sf0.1 solo number and strictly
    # better at cluster scale.
    banded = banded.repartition("band_id", "band_hash")
    a = banded.alias("a")
    # Spill-safety gate for LARGE corpora only: Catalyst has no size
    # statistics for the Arrow signature node, and left alone at 200k
    # docs it planned a broadcast of the ~1.6 GB banded table straight
    # into spark.driver.maxResultSize (reproduced); the explicit
    # sort-merge pin keeps it spill-safe (200k-doc probe stable at
    # 14-17 s back-to-back). Small corpora stay UNHINTED: both
    # branches then share one exchange and AQE picks the join strategy
    # from accurate runtime sizes — a hint on one alias changes its
    # subtree and defeats that reuse, recomputing the signature
    # pipeline (measured 2x at 5k docs, r7). The small/large decision
    # is made WITHOUT scanning the corpus (an eager df.count() would add
    # a full pass at 100 TB just to pick a hint): Catalyst's
    # optimized-plan statistics (parquet footer totals) decide, and
    # unknown stats default to the spill-safe pin, never to a broadcast
    # gamble.
    try:
        from ..planinfo import optimized_plan_size_bytes

        # Public-API EXPLAIN COST parse (r11 — retires the private
        # py4j bridge, VERDICT r10 item 4); None on no estimate.
        plan_bytes = optimized_plan_size_bytes(df)
    except Exception:
        plan_bytes = None
    # 8 MiB of source bytes comfortably covers the proven-safe
    # <=10k-doc region (sf0.1's 5k docs = ~0.6 MiB) and stays far
    # below the 200k-doc regime where the unhinted plan broadcast
    # a ~1.6 GB banded table into driver.maxResultSize.
    small = plan_bytes is not None and plan_bytes <= (8 << 20)
    b = banded.alias("b") if small else banded.alias("b").hint("shuffle_merge")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("a.__sig"), F.col("b.__sig"), lambda x, y: (x == y)
                        ),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.lit(float(num_perm))
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def exact_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, shingle_k: int = 5
) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs.

    ``pairs`` must be distinct and ``id_col`` unique in ``df``. The plan
    references ``pairs`` once: each pair is exploded into its two ids,
    joined to ``df``, shingled, and regrouped by the pair columns, so
    plan construction runs no job and each side is shingled once per
    pair — O(candidates × doc length), independent of corpus size. A
    pair naming an id absent from ``df`` is dropped. Returns id_a,
    id_b, jaccard, then the other pair columns in order.
    """
    keys = pairs.columns
    text = df.select(F.col(id_col).alias("__pid"), F.col(text_col).alias("__text"))
    sh = (
        pairs.select(*keys, F.explode(F.array("id_a", "id_b")).alias("__pid"))
        .join(text, "__pid")
        .select(*keys, "__pid", tokenize(F.col("__text")).alias("__tok"))
        .select(*keys, "__pid", shingles(F.col("__tok"), shingle_k).alias("__sh"))
    )

    def side(id_name: str, alias: str) -> Column:
        own = F.when(F.col("__pid") == F.col(id_name), F.col("__sh"))
        return F.first(own, ignorenulls=True).alias(alias)

    j = sh.groupBy(*keys).agg(side("id_a", "sh_a"), side("id_b", "sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.dropna(subset=["sh_a", "sh_b"]).select(
        "id_a", "id_b", (inter / union).alias("jaccard"),
        *[c for c in keys if c not in ("id_a", "id_b")],
    )


def simhash_hamming_neighbors(
    df: DataFrame,
    id_col: str,
    fp_col: str = "simhash64",
    max_distance: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """Pairs (id_a < id_b) with hamming(fp_a, fp_b) <= max_distance.

    Pigeonhole banding (the trick sketched in the module docstring, now
    exposed): split the n_bits fingerprint into max_distance+1 disjoint
    bit bands — any pair within Hamming distance d must agree EXACTLY on
    at least one band. Candidate generation is therefore an equi-join on
    (band_id, band_bits): O(candidates), never O(n²). Each candidate is
    then verified with an exact popcount of the XOR, so the banding only
    affects cost, not results. Scale shape matches MinHash-LSH: one
    (max_distance+1)-way explode (8 B/band/doc), shuffled equi-join,
    AQE/skew eligible.
    """
    if not 0 <= max_distance < n_bits:
        raise ValueError(f"max_distance must be in [0, {n_bits}), got {max_distance}")
    nb = max_distance + 1
    base, rem = divmod(n_bits, nb)
    layout = []  # (band_id, start_bit, width)
    start = 0
    for i in range(nb):
        w = base + (1 if i < rem else 0)
        layout.append((i, start, w))
        start += w

    def band_bits(fp: Column, start_bit: int, width: int) -> Column:
        if width >= 64:
            return fp
        mask = (1 << width) - 1
        return F.shiftrightunsigned(fp, start_bit).bitwiseAND(F.lit(mask))

    banded = df.select(
        F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")
    ).select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        band_bits(F.col("__fp"), s, w).alias("band_bits"),
                    )
                    for i, s, w in layout
                ]
            )
        ).alias("__band"),
    ).select("__id", "__fp", "__band.band_id", "__band.band_bits")

    a = banded.select(
        "band_id", "band_bits",
        F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"),
    )
    b = banded.select(
        "band_id", "band_bits",
        F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"),
    )
    return (
        a.join(b, ["band_id", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(text_col: Column, n_bits: int = 64) -> Column:
    """SimHash fingerprint (bigint) of a text column.

    One pass: token hashes → per-bit ±1 vote accumulation (aggregate
    over an int array) → sign bits reassembled into a long. Purely
    built-in higher-order functions; no UDF, no shuffle.
    """
    tokens = tokenize(text_col)
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    # Shift amounts must be literals, so the 64 bit-lanes are unrolled
    # into a fixed-width array; the aggregate is still one pass.
    def bit_votes(h: Column) -> Column:
        return F.array(
            *[
                (
                    F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("long")
                for i in range(n_bits)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, b: a + b),
    )
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        weight = -(1 << 63) if i == 63 else (1 << i)
        out = out + F.when(
            F.element_at(votes, i + 1) > 0, F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out
