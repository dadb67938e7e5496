"""Expression helpers shared across queries and operators.

The central trick in this module is *decimal-exact aggregation*: the
driver hash-compares our results against DuckDB's, and floating-point
sums are order-dependent (Spark's parallel partial aggregation and
DuckDB's vectorized aggregation combine in different orders). Casting
the double inputs to DECIMAL first makes the sum exact and therefore
order-independent; casting the exact result back to DOUBLE is a
deterministic function of the value. Any further arithmetic (divides,
sqrt) then happens in IEEE double on bit-identical inputs on both
sides. See docs/determinism.md.

All helpers emit built-in Catalyst expressions — no UDFs — so they stay
inside whole-stage codegen and partial aggregation at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Decimal-exact aggregation
# ---------------------------------------------------------------------------


def dec(col: Column | str, prec: int = 18, scale: int = 6) -> Column:
    """Cast to a decimal wide enough for the fixture value domains.

    Overflow contract (r7 review): a value outside decimal(prec,scale)
    THROWS under ANSI mode (the Spark 4 default this repo runs under
    locally and in the driver) — loud, the desired behavior. Only a
    deliberately non-ANSI session would get the silent NULL-and-bias
    failure mode (SUM skips the NULL while davg's COUNT still counts
    the row); callers pick (prec, scale) generous for their domain so
    neither path triggers on valid data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def dsum(col: Column | str, prec: int = 18, scale: int = 6) -> Column:
    """Order-independent SUM over a double column → double."""
    return F.sum(dec(col, prec, scale)).cast("double")


def davg(col: Column | str, prec: int = 18, scale: int = 6) -> Column:
    """Order-independent AVG: exact decimal sum ÷ exact count, in double."""
    return (F.sum(dec(col, prec, scale)).cast("double") / F.count(col).cast("double"))


def dsum_sq(col: Column | str, prec: int = 18, scale: int = 6) -> Column:
    """Order-independent SUM(x*x) → double (decimal multiply is exact)."""
    d = dec(col, prec, scale)
    return F.sum(d * d).cast("double")


# ---------------------------------------------------------------------------
# Fixed-point (int64) twins of dsum/davg — r15 optimization round.
#
# Profiling Q1 at sf0.1 (OPTIMIZATION_r15.md): the decimal SUM
# aggregate, not the double→decimal cast, was ~0.4 s of the 0.94 s
# query — Spark's hash aggregate updates a decimal accumulator through
# BigDecimal changePrecision on every row, where a long accumulator is
# a codegen add. These helpers sum exact 10^-s fixed-point longs and
# convert once per GROUP, producing BIT-IDENTICAL doubles to
# dsum/davg when the value domain satisfies the contract below.
#
# Equivalence argument (why the results cannot differ on a conforming
# domain):
# 1. Per row, cast(x AS decimal(p,s)) rounds HALF_UP on the shortest
#    decimal repr (JVM BigDecimal.valueOf); round(x·10^s, 0) rounds
#    the binary product. When x is EXACTLY the double nearest m/10^s
#    (the conforming domain), both produce exactly m: the binary
#    product x·10^s lies within |m|·2^-51 ≪ 0.5 of the integer m, so
#    every rounding mode recovers m, and the shortest repr of x is
#    m/10^s itself.
# 2. Both sums are then exact integers (decimal arithmetic is exact;
#    int64 is exact below the per-call overflow budget, and Spark's
#    ANSI mode — this repo's default — throws loudly on long-sum
#    overflow, same contract as a decimal overflow).
# 3. The final conversion divides the exact sum as DECIMAL (scale ≥ 6
#    under Spark's division typing, ≥ the s used here) and casts to
#    double — one correct rounding of the same exact rational the
#    decimal path rounds. int64→double→/10^s would round TWICE (wrong
#    past 2^53 — the similarity.py pq/ivf trainer lesson).
#
# CONTRACT (callers must check both, and verify vs the oracle):
# - every non-null value is exactly representable at scale s
#   (x == double(round(x·10^s))/10^s — the fixture money/value columns
#   are generated at 2 decimals, verified in tests);
# - Σ|x|·10^s stays below 2^62 (document the budget at the call site).
# Columns that can't prove the contract stay on dsum/davg.
# ---------------------------------------------------------------------------


def fx(col: Column | str, s: int = 2) -> Column:
    """double → exact fixed-point long at scale 10^-s (nulls preserved)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(10**s), 0).cast("long")


def fx_double(sum_col: Column, s: int) -> Column:
    """Exact long sum of 10^-s units → double via one decimal division
    (single correct rounding; see note 3 above)."""
    return (
        sum_col.cast("decimal(38,0)") / F.lit(10**s).cast(f"decimal({s + 1},0)")
    ).cast("double")


def fsum(col: Column | str, s: int = 2) -> Column:
    """Fixed-point twin of ``dsum(col, p, s)`` — bit-identical on a
    conforming domain (module comment), ~2x faster per aggregated row."""
    return fx_double(F.sum(fx(col, s)), s)


def favg(col: Column | str, s: int = 2) -> Column:
    """Fixed-point twin of ``davg(col, p, s)``: identical numerator
    double, identical count, identical final IEEE divide."""
    c = F.col(col) if isinstance(col, str) else col
    return fx_double(F.sum(fx(c, s)), s) / F.count(c).cast("double")


def moment_sums(x: Column | str, y: Column | str) -> list[Column]:
    """The exact bivariate moment sums ``n, sx, sy, sxy, sxx, syy`` over
    integer-valued ``x`` and ``y`` (fixed-point longs from :func:`fx`,
    or counts), as aggregate columns in decimal(38,0).

    Decimal multiply and sum are exact, so the moments are the same
    integers whatever the aggregation order; the oracle side carries
    them as HUGEINT (DuckDB widens decimal x decimal past 38 digits
    into double, Spark caps at 38). Each caller keeps its own final
    double formula: the IEEE op order of corr/slope/acf differs
    between queries and must mirror that query's oracle text."""
    dx, dy = dec(x, 38, 0), dec(y, 38, 0)
    return [
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
    ]


def eval_once(col: Column) -> Column:
    """Nondeterminism barrier: value-identical wrapper that stops the
    optimizer duplicating an expensive expression below a filter on its
    output (guide §4.4 — the same mechanism as ``asNondeterministic``
    for UDFs, applied to a built-in expression pipeline).

    ``select(expensive.alias(c), ...).filter(c >= t)`` with ``c`` also
    consumed downstream makes Catalyst push the predicate below the
    Project by substituting the FULL defining expression: ``expensive``
    is then evaluated twice per surviving row, once in the pushed
    Filter and again in the Project (r16, measured on
    pipeline_clean_corpus: two copies of the quality HOF pipeline in
    the plan). A one-element ``shuffle(array(x))`` is nondeterministic
    to the optimizer but the identity on values — including NULL
    (``array(NULL)`` shuffles to ``[NULL]``) — so the filter stays
    above the Project and the expression runs exactly once.

    Only worth it when the wrapped expression is expensive AND its
    value is consumed downstream of the filter; a filter-only column
    is already evaluated once. Nondeterminism also blocks pushing
    OTHER filters past this projection — apply per-column, not
    blanket (guide §4.4 trade-off note).
    """
    return F.element_at(F.shuffle(F.array(col)), 1)


# Mirrors of the above for the DuckDB oracle SQL text -----------------------


def sql_dsum(expr: str, prec: int = 18, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE)"


def sql_davg(expr: str, prec: int = 18, scale: int = 6) -> str:
    return (
        f"(CAST(SUM(CAST({expr} AS DECIMAL({prec},{scale}))) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE))"
    )


def sql_dsum_sq(expr: str, prec: int = 18, scale: int = 6) -> str:
    d = f"CAST({expr} AS DECIMAL({prec},{scale}))"
    return f"CAST(SUM({d} * {d}) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Time bucketing (A6) — integer arithmetic on epoch micros, portable
# ---------------------------------------------------------------------------


def time_bucket(col: Column | str, width_seconds: int) -> Column:
    """Fixed-width tumbling bucket start as a TimestampType column.

    Integer division on epoch microseconds — deterministic, identical to
    the DuckDB mirror ``sql_time_bucket``. Epoch-aligned like
    ``F.window(...)``'s default, but cheaper to compare (no struct).
    """
    c = F.col(col) if isinstance(col, str) else col
    us = F.unix_micros(c)
    w = int(width_seconds) * 1_000_000
    return F.timestamp_micros((us - ((us % w) + w) % w))


def sql_time_bucket(expr: str, width_seconds: int) -> str:
    w = int(width_seconds) * 1_000_000
    us = f"epoch_us({expr})"
    return f"make_timestamp({us} - ((({us} % {w}) + {w}) % {w})"  + ")"


def ts_str(col: Column | str) -> Column:
    """Render a timestamp as 'yyyy-MM-dd HH:mm:ss' (µs-free outputs only)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def sql_ts_str(expr: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"


# ---------------------------------------------------------------------------
# Vector math over array<float> (X7) — higher-order functions, no UDFs
# ---------------------------------------------------------------------------


def vec_double(col: Column | str) -> Column:
    """array<float> → array<double> so accumulation runs in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (sequential double adds)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm_sq(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def vec_cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in pure double arithmetic.

    try_divide, not `/`: under Spark 4's default ANSI mode a plain
    double division THROWS DIVIDE_BY_ZERO (probed — even for doubles),
    so a single zero-norm vector would kill the whole job, while the
    DuckDB oracles' `/` yields NULL. try_divide returns NULL on a zero
    denominator, matching the oracle exactly: zero-norm rows sort last
    under ORDER BY cosine DESC in both engines (r7 review, sharpened).
    """
    return F.try_divide(vec_dot(a, b), F.sqrt(vec_norm_sq(a) * vec_norm_sq(b)))


def md5_u32(col: Column | str) -> Column:
    """First 32 md5 bits of a string column as an unsigned bigint in
    [0, 2^32) — the engine-portable hash family behind every *_md5
    oracle twin. MUST stay byte-identical to ``sql_md5_u32`` (the
    DuckDB rendering of the same idiom): both take the first 8 hex
    chars of md5 and parse them base-16."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def sql_md5_u32(expr: str) -> str:
    """DuckDB twin of ``md5_u32`` — see its parity contract."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Engine-portable HyperLogLog machinery (shared by rel_hll_md5 and the
# rolling-window twin). The register pipeline is exact integer all the
# way: index/rank from an md5_u32 hash, bitlen as a sum of comparisons
# (no float log2), the 2^-M harmonic indicator as the exact integer
# 2^(WBITS+1-M). Only the closed-form estimate tail touches doubles —
# one identical IEEE op sequence on both engines, with the small-range
# ln quantized downstream by the caller.
# ---------------------------------------------------------------------------

HLL_P = 10  # 2^10 = 1024 registers -> ~3.25% standard error
HLL_M = 1 << HLL_P
HLL_WBITS = 32 - HLL_P  # value bits left after the register index
HLL_WMOD = 1 << HLL_WBITS
HLL_SCALE = 1 << (HLL_WBITS + 1)  # fixed-point scale of the 2^-M terms

SQL_HLL_BITLEN = " + ".join(
    f"(CASE WHEN w >= {1 << k} THEN 1 ELSE 0 END)" for k in range(HLL_WBITS)
)
SQL_HLL_TERM = (
    "CASE m "
    + " ".join(
        f"WHEN {mm} THEN {1 << (HLL_WBITS + 1 - mm)}"
        for mm in range(1, HLL_WBITS + 2)
    )
    + " END"
)


def hll_reg(h: Column) -> Column:
    """Register index: top HLL_P bits of the 32-bit hash."""
    return F.shiftright(h, HLL_WBITS)


def hll_w(h: Column) -> Column:
    """Rank-bearing low bits of the 32-bit hash."""
    return h % F.lit(HLL_WMOD)


def hll_rho(w: Column) -> Column:
    """Rank = leading zeros of w within HLL_WBITS bits, plus one —
    as a sum of exact integer comparisons (mirrors SQL_HLL_BITLEN)."""
    bitlen = None
    for k in range(HLL_WBITS):
        t = F.when(w >= F.lit(1 << k), 1).otherwise(0)
        bitlen = t if bitlen is None else (bitlen + t)
    return F.lit(HLL_WBITS + 1) - bitlen


def hll_term(m: Column) -> Column:
    """2^(WBITS+1-M) — the 2^-M indicator as an exact scaled integer
    (mirrors SQL_HLL_TERM)."""
    term = F.lit(None).cast("bigint")
    for mm in range(1, HLL_WBITS + 2):
        term = F.when(m == mm, F.lit(1 << (HLL_WBITS + 1 - mm))).otherwise(term)
    return term


def hll_estimate(s_used: Column, regs_used: Column) -> Column:
    """The closed-form estimate over (sum of scaled terms, register
    count): raw harmonic estimate with the standard small-range
    linear-counting correction. MUST stay op-for-op identical to
    ``sql_hll_estimate``."""
    empty = F.lit(HLL_M) - regs_used
    raw_scaled = s_used + empty.cast("bigint") * F.lit(HLL_SCALE)
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M)))
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(HLL_SCALE))
        / raw_scaled.cast("double")
    )
    return F.when(
        (empty > 0) & (e_raw <= F.lit(2.5 * HLL_M)),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / empty.cast("double")),
    ).otherwise(e_raw)


def sql_hll_estimate(s_used: str, regs_used: str) -> str:
    """DuckDB twin of ``hll_estimate`` (same op sequence; the e_raw
    text is duplicated across the CASE rather than shared through a
    CTE, which is equivalent — both branches see the identical IEEE
    computation)."""
    raw = f"({s_used} + CAST({HLL_M} - {regs_used} AS BIGINT) * {HLL_SCALE})"
    e_raw = (
        f"0.7213 / (1.0 + 1.079 / {HLL_M}.0) * {HLL_M * HLL_M}.0"
        f" * {HLL_SCALE}.0 / CAST({raw} AS DOUBLE)"
    )
    return (
        f"CASE WHEN ({HLL_M} - {regs_used}) > 0 AND {e_raw} <= {2.5 * HLL_M} "
        f"THEN {HLL_M}.0 * ln({HLL_M}.0 / CAST({HLL_M} - {regs_used} AS DOUBLE)) "
        f"ELSE {e_raw} END"
    )
