"""Time-series queries over the `events` table (SURVEY.md §2: A6, W2–W5,
J5, J6, O3 + the TSDB spine of S1/P3/A1/O1).

Each query has a DuckDB oracle mirror built from the same deterministic
building blocks (see docs/determinism.md): decimal-exact sums/avgs,
integer epoch-µs arithmetic, timestamps rendered as strings.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import (
    HLL_WBITS,
    HLL_WMOD,
    SQL_HLL_BITLEN,
    SQL_HLL_TERM,
    dec,
    dsum,
    favg,
    fsum,
    fx,
    hll_estimate,
    hll_reg,
    hll_rho,
    hll_term,
    hll_w,
    md5_u32,
    moment_sums,
    sql_davg,
    sql_dsum,
    sql_dsum_sq,
    sql_hll_estimate,
    sql_md5_u32,
    sql_time_bucket,
    sql_ts_str,
    time_bucket,
    ts_str,
)
from ..operators import asof_join, gapfill
from ..operators.rangejoin import interval_join, range_join, range_join_count
from ..operators.rate import rate
from ..operators.changepoint import binseg_l2, cusum, pelt_l2
from ..operators.scd import scd2
from ..operators.sessionize import sessionize
from ..operators.topk import top_k_per_group
from . import query

T0, T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


def _hour() -> Column:
    """Epoch hour index of ``ts``, the key of every hourly series
    (oracle: ``CAST(epoch_us(ts) // 3600000000 AS BIGINT)``)."""
    return F.expr("unix_micros(ts) div 3600000000").cast("bigint")


def _hourly_cents(ev: DataFrame, *aggs: Column) -> DataFrame:
    """The per-(event_type, h) hourly series: ``c`` is the exact bigint
    sum of the value in cents (oracle: ``CAST(SUM(CAST(round(value *
    100, 0) AS BIGINT)) AS BIGINT)``). ``aggs`` ride in the same
    aggregate. Callers rename or cast ``c``."""
    return (
        ev.select("event_type", _hour().alias("h"), fx("value").alias("c0"))
        .groupBy("event_type", "h")
        .agg(F.sum("c0").cast("bigint").alias("c"), *aggs)
    )


def _bucket_cents(ev: DataFrame) -> DataFrame:
    """The hourly series keyed by ``time_bucket`` start: (bucket,
    event_type, v), v the exact bigint cents sum (the ``hourly`` CTE
    of the correlation oracles)."""
    return (
        ev.select(time_bucket("ts", 3600).alias("bucket"), "event_type", fx("value").alias("c"))
        .groupBy("bucket", "event_type")
        .agg(F.sum("c").cast("bigint").alias("v"))
    )


# ---------------------------------------------------------------------------
# Flagship: S1 scan → P3 time filter → A6 time-bucket agg → O1 sort
# ---------------------------------------------------------------------------


@query(
    "ts_bucket_agg",
    oracle=f"""
SELECT {sql_ts_str(sql_time_bucket('ts', 300))} AS bucket_ts,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       {sql_davg('value')} AS avg_value
FROM events
WHERE ts >= TIMESTAMP '{T0}' AND ts < TIMESTAMP '{T1}'
GROUP BY 1, 2
""",
    tags=("tsdb", "A6", "flagship", "bench"),
)
def ts_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(5-minute bucket, event_type) count/sum/min/max/avg."""
    ev = load_table(spark, sf_dir, "events")
    # Group on the native timestamp bucket; render the string AFTER the
    # aggregate — formatting runs once per group, not once per row.
    return (
        ev.filter(
            (F.col("ts") >= F.lit(T0).cast("timestamp"))
            & (F.col("ts") < F.lit(T1).cast("timestamp"))
        )
        .groupBy(time_bucket("ts", 300).alias("__b"), F.col("event_type"))
        # r15: fixed-point twins of dsum/davg at scale 6 (bit-identical
        # on the conforming events.value domain — functions/__init__.py;
        # budget: |value| ≤ ~1e3 → 1e9/row, ~4.6e9 rows per bucket group
        # before 2^62; ANSI throws loudly past it)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fsum("value", 6).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            favg("value", 6).alias("avg_value"),
        )
        .select(
            ts_str(F.col("__b")).alias("bucket_ts"),
            "event_type",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
            "avg_value",
        )
    )


# ---------------------------------------------------------------------------
# W4: per-series rate/delta with counter-reset handling
# ---------------------------------------------------------------------------


@query(
    "ts_rate",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           lag(value) OVER w AS prev_v,
           lag(ts) OVER w AS prev_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       {sql_ts_str('ts')} AS ts_s,
       value,
       CASE WHEN value - prev_v < 0 THEN value ELSE value - prev_v END AS delta,
       CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) / 1000000.0 AS dt_seconds,
       (CASE WHEN value - prev_v < 0 THEN value ELSE value - prev_v END)
           / (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) / 1000000.0) AS rate_per_s
FROM ordered
WHERE prev_v IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) > 0
""",
    tags=("tsdb", "W4", "bench"),
)
def ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user derivative of `value` w.r.t. time, counter resets clamped."""
    ev = load_table(spark, sf_dir, "events")
    r = rate(ev, keys=["user_id"], ts_col="ts", value_col="value", tiebreak=["event_id"])
    return r.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        "value",
        "delta",
        "dt_seconds",
        "rate_per_s",
    )


# ---------------------------------------------------------------------------
# A7: OHLC candles — first/last by time via min_by/max_by
# ---------------------------------------------------------------------------


@query(
    "ts_ohlc_daily",
    oracle=f"""
WITH ranked AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, value,
           ROW_NUMBER() OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
                              ORDER BY ts, event_id) AS rf,
           ROW_NUMBER() OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
                              ORDER BY ts DESC, event_id DESC) AS rl
    FROM events
)
SELECT day, user_id,
       MAX(CASE WHEN rf = 1 THEN value END) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       MAX(CASE WHEN rl = 1 THEN value END) AS close_v,
       {sql_dsum('value')} AS volume,
       COUNT(*) AS n_events
FROM ranked
GROUP BY day, user_id
""",
    tags=("tsdb", "A7", "bench"),
)
def ts_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user OHLC candle (open/high/low/close by event time)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("__d"), F.col("user_id"))
        .agg(
            # composite (ts, event_id) keys: min_by/max_by tie-breaking
            # on bare ts is engine/run-dependent when timestamps collide
            F.min_by("value", F.struct("ts", "event_id")).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close_v"),
            # r15: fixed-point dsum twin (bit-identical, see ts_bucket_agg)
            fsum("value", 6).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("__d", "yyyy-MM-dd").alias("day"),
            "user_id",
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "volume",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# A7+: M4 downsampling — the published visualization-preserving
# aggregation (min/max/first/last AND their timestamps per pixel
# bucket), the lossless-for-line-charts form of OHLC (r6)
# ---------------------------------------------------------------------------


@query(
    "ts_m4_downsample",
    oracle=f"""
WITH ranked AS (
    SELECT {sql_time_bucket('ts', 900)} AS bucket, event_type, ts, value,
           ROW_NUMBER() OVER (PARTITION BY {sql_time_bucket('ts', 900)}, event_type
                              ORDER BY ts, event_id) AS rf,
           ROW_NUMBER() OVER (PARTITION BY {sql_time_bucket('ts', 900)}, event_type
                              ORDER BY ts DESC, event_id DESC) AS rl,
           ROW_NUMBER() OVER (PARTITION BY {sql_time_bucket('ts', 900)}, event_type
                              ORDER BY value, ts, event_id) AS rmn,
           ROW_NUMBER() OVER (PARTITION BY {sql_time_bucket('ts', 900)}, event_type
                              ORDER BY value DESC, ts DESC, event_id DESC) AS rmx
    FROM events
)
SELECT {sql_ts_str('bucket')} AS bucket_ts, event_type,
       MAX(CASE WHEN rf = 1 THEN {sql_ts_str('ts')} END) AS t_first,
       MAX(CASE WHEN rf = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rmn = 1 THEN {sql_ts_str('ts')} END) AS t_min,
       MAX(CASE WHEN rmn = 1 THEN value END) AS v_min,
       MAX(CASE WHEN rmx = 1 THEN {sql_ts_str('ts')} END) AS t_max,
       MAX(CASE WHEN rmx = 1 THEN value END) AS v_max,
       MAX(CASE WHEN rl = 1 THEN {sql_ts_str('ts')} END) AS t_last,
       MAX(CASE WHEN rl = 1 THEN value END) AS v_last,
       COUNT(*) AS n_events
FROM ranked
GROUP BY bucket, event_type
""",
    tags=("tsdb", "A7", "downsample"),
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (15-min pixel buckets per event type): the four
    extreme points — first, last, min, max — each WITH its timestamp,
    which is what makes the reduction line-chart-lossless where plain
    min/max aggregates are not.

    One hash aggregate (the A6 shuffle), four min_by/max_by composite
    keys; ties on value break by (ts, event_id) so both engines pick
    the same witness point (the OHLC determinism rule). The oracle
    spells the same picks as four ROW_NUMBER ranks.

    Scale: identical shape to the flagship bucket agg — partial+final
    hash agg, no window over raw events, ~4 struct comparisons per row
    map-side; at 100 TB the downsample output is bounded by
    (pixels × series), independent of input rows.
    """
    ev = load_table(spark, sf_dir, "events")
    tev = F.struct("ts", "event_id")
    vte = F.struct("value", "ts", "event_id")
    g = ev.groupBy(
        time_bucket("ts", 900).alias("bucket"), "event_type"
    ).agg(
        F.min_by(F.struct("ts", "value"), tev).alias("_f"),
        F.max_by(F.struct("ts", "value"), tev).alias("_l"),
        F.min_by(F.struct("ts", "value"), vte).alias("_mn"),
        F.max_by(F.struct("ts", "value"), vte).alias("_mx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return g.select(
        ts_str("bucket").alias("bucket_ts"),
        "event_type",
        ts_str("_f.ts").alias("t_first"),
        F.col("_f.value").alias("v_first"),
        ts_str("_mn.ts").alias("t_min"),
        F.col("_mn.value").alias("v_min"),
        ts_str("_mx.ts").alias("t_max"),
        F.col("_mx.value").alias("v_max"),
        ts_str("_l.ts").alias("t_last"),
        F.col("_l.value").alias("v_last"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# W7+: seasonal (hour-of-day) baseline + residual anomaly flag (r6)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_baseline",
    oracle=f"""
WITH hourly AS (
    SELECT {sql_time_bucket('ts', 3600)} AS bucket, event_type,
           EXTRACT(hour FROM {sql_time_bucket('ts', 3600)}) AS hod,
           COUNT(*) AS cnt
    FROM events GROUP BY bucket, event_type
),
base AS (
    SELECT event_type, hod,
           CAST(SUM(cnt) AS BIGINT) AS season_total,
           CAST(COUNT(*) AS BIGINT) AS season_n
    FROM hourly GROUP BY event_type, hod
)
SELECT {sql_ts_str('h.bucket')} AS bucket_ts, h.event_type,
       CAST(h.cnt AS BIGINT) AS cnt,
       b.season_total, b.season_n,
       CAST(h.cnt * b.season_n AS DOUBLE) / CAST(b.season_total AS DOUBLE)
           AS load_factor,
       CAST(h.cnt * b.season_n * 2 > b.season_total * 3 AS INTEGER) AS is_high
FROM hourly h JOIN base b ON h.event_type = b.event_type AND h.hod = b.hod
WHERE b.season_n >= 3
""",
    tags=("tsdb", "anomaly", "seasonal"),
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: each (event_type, hour) bucket count
    compared against the mean count of the SAME hour-of-day across the
    series' history (the time-of-day baseline every ops dashboard
    uses). is_high flags buckets at >1.5x their seasonal mean, with the
    comparison cross-multiplied (`cnt·n·2 > total·3`) so the flag is
    integer-exact end to end (the burst-detect rule); load_factor is
    the one final double division. Baselines with fewer than 3
    observed same-hour buckets are suppressed (cold-start guard, the
    series-corr n>=2 principle).

    Scale: one (bucket, type) agg collapses events; the 24x|types|
    baseline table aggregates from THAT (tiny) and broadcast-joins
    back. No window at all, no second pass over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(time_bucket("ts", 3600).alias("bucket"), "event_type")
        .groupBy("bucket", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("hod", F.hour("bucket").cast("bigint"))
    )
    base = hourly.groupBy("event_type", "hod").agg(
        F.sum("cnt").cast("bigint").alias("season_total"),
        F.count(F.lit(1)).cast("bigint").alias("season_n"),
    )
    j = hourly.join(F.broadcast(base), ["event_type", "hod"]).filter(
        F.col("season_n") >= 3
    )
    return j.select(
        ts_str("bucket").alias("bucket_ts"),
        "event_type",
        F.col("cnt").cast("bigint").alias("cnt"),
        "season_total",
        "season_n",
        (
            (F.col("cnt") * F.col("season_n")).cast("double")
            / F.col("season_total").cast("double")
        ).alias("load_factor"),
        (F.col("cnt") * F.col("season_n") * 2 > F.col("season_total") * 3)
        .cast("int")
        .alias("is_high"),
    )


# ---------------------------------------------------------------------------
# A3+/ML-monitoring: value-distribution drift between the first and
# second half of the window, as PSI (population stability index; r6)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16 12:00:00"


@query(
    "ts_value_drift_psi",
    oracle=f"""
WITH b AS (
    SELECT event_type,
           CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           CAST(ts < TIMESTAMP '{_PSI_SPLIT}' AS INTEGER) AS first_half
    FROM events
),
c AS (
    SELECT event_type, bucket,
           CAST(SUM(first_half) AS BIGINT) AS n_p,
           CAST(SUM(1 - first_half) AS BIGINT) AS n_q
    FROM b GROUP BY event_type, bucket
),
t AS (
    SELECT event_type,
           CAST(SUM(n_p) AS BIGINT) AS tot_p,
           CAST(SUM(n_q) AS BIGINT) AS tot_q
    FROM c GROUP BY event_type
),
terms AS (
    SELECT c.event_type,
           CAST(round(round(
               (CAST(n_p AS DOUBLE) / CAST(tot_p AS DOUBLE)
                - CAST(n_q AS DOUBLE) / CAST(tot_q AS DOUBLE))
               * ln((CAST(n_p AS DOUBLE) / CAST(tot_p AS DOUBLE))
                    / (CAST(n_q AS DOUBLE) / CAST(tot_q AS DOUBLE))), 9)
               * 1000000000, 0) AS BIGINT) AS term_fp
    FROM c JOIN t ON c.event_type = t.event_type
    WHERE n_p > 0 AND n_q > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(term_fp) AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS psi,
       CAST(SUM(term_fp) > 100000000 AS INTEGER) AS drifted
FROM terms GROUP BY event_type
""",
    tags=("tsdb", "drift", "ml-monitoring"),
)
def ts_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: PSI of each event type's value
    histogram (width-25 buckets) between the first and second half of
    the window — the standard train/serve skew alarm an ML pipeline
    runs over its feature streams (PSI > 0.1 ⇒ drifted).

    Determinism: per-bucket shares are single divisions of exact
    integers; each PSI term contains one ln() so it is rounded to 9dp
    and scaled to 1e9 fixed point BEFORE the per-type sum (the
    doc_unigram_logprob rule — the sum is integer arithmetic, and the
    0.1 threshold compares in the fixed-point domain). Buckets missing
    from either half are excluded (unsmoothed PSI; n_buckets reports
    the compared support).

    Scale: one (type, bucket) agg collapses events; everything after
    runs on the histogram. The half-split is a literal timestamp
    predicate, pushed to the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    first = (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).cast("int")
    c = (
        ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(25.0)).alias("bucket"),
            first.alias("first_half"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("first_half").cast("bigint").alias("n_p"),
            F.sum(F.lit(1) - F.col("first_half")).cast("bigint").alias("n_q"),
        )
    )
    t = c.groupBy("event_type").agg(
        F.sum("n_p").cast("bigint").alias("tot_p"),
        F.sum("n_q").cast("bigint").alias("tot_q"),
    )
    p = F.col("n_p").cast("double") / F.col("tot_p").cast("double")
    q = F.col("n_q").cast("double") / F.col("tot_q").cast("double")
    term_fp = F.round(
        F.round((p - q) * F.log(p / q), 9) * F.lit(1_000_000_000), 0
    ).cast("bigint")
    terms = (
        c.join(F.broadcast(t), "event_type")
        .filter((F.col("n_p") > 0) & (F.col("n_q") > 0))
        .select("event_type", term_fp.alias("term_fp"))
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        (F.sum("term_fp").cast("double") / F.lit(1e9)).alias("psi"),
        (F.sum("term_fp") > 100_000_000).cast("int").alias("drifted"),
    )


# ---------------------------------------------------------------------------
# W2+: heartbeat/availability accounting — per-series uptime from
# inter-event gaps (the SLA/monitoring staple; r6)
# ---------------------------------------------------------------------------


@query(
    "ts_sla_availability",
    oracle=f"""
WITH g AS (
    SELECT user_id,
           epoch_us(ts) AS t,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
    FROM events
),
d AS (
    SELECT user_id,
           t_next - t AS gap_us,
           CAST(t_next - t > CAST(3600 AS BIGINT) * 1000000 AS INTEGER) AS is_down
    FROM g WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(is_down) AS BIGINT) AS n_downtimes,
       CAST(SUM(CASE WHEN is_down = 1 THEN gap_us ELSE 0 END) AS BIGINT) AS downtime_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(SUM(gap_us) - SUM(CASE WHEN is_down = 1 THEN gap_us ELSE 0 END) AS DOUBLE)
           / CAST(SUM(gap_us) AS DOUBLE) AS availability
FROM d GROUP BY user_id
""",
    tags=("tsdb", "W2", "sla"),
)
def ts_sla_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-style availability per series: a gap between
    consecutive events longer than 1 hour counts as downtime;
    availability = 1 − downtime/span over the observed span. The SLA
    report every monitoring system derives from its heartbeat series.

    Exactness: gaps are integer epoch-µs differences; counts/sums are
    integer end to end; availability is one final double division.
    One shuffle (the per-series lead window); integer thresholds, no
    float boundaries.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    gap = F.col("t_next") - F.col("t")
    is_down = (gap > 3600 * 1_000_000).cast("int")
    d = g.select("user_id", gap.alias("gap_us"), is_down.alias("is_down"))
    down_us = F.sum(F.when(F.col("is_down") == 1, F.col("gap_us")).otherwise(F.lit(0)))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("is_down").cast("bigint").alias("n_downtimes"),
        down_us.cast("bigint").alias("downtime_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        (
            (F.sum("gap_us") - down_us).cast("double")
            / F.sum("gap_us").cast("double")
        ).alias("availability"),
    )


# ---------------------------------------------------------------------------
# A6+: tier routing — a coarse query answered FROM the hourly rollup
# tier, hash-proven equal to computing directly from raw (r6)
# ---------------------------------------------------------------------------


@query(
    "ts_tier_routed_daily",
    oracle=f"""
SELECT strftime({sql_time_bucket('ts', 86400)}, '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS sum_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       {sql_dsum('value')} / CAST(COUNT(*) AS DOUBLE) AS avg_v
FROM events
GROUP BY 1, 2
""",
    tags=("tsdb", "A6", "rollup", "routing"),
)
def ts_tier_routed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type aggregates answered from the HOURLY rollup tier
    (the ts_rollup_incremental shape), not from raw events — the
    continuous-aggregate query-routing contract every hypertable
    system makes: a bucket width that is a multiple of the tier width
    re-aggregates tier partials instead of rescanning raw data.

    The oracle computes the same dailies DIRECTLY from raw events, so
    the hash compare IS the tier-algebra proof: n = Σ n_h, sum = Σ
    sum_h (decimal-exact, order-independent), min/max re-associate,
    and avg derives from the re-aggregated sum/count at the END (never
    an average of averages). At 100 TB the hourly tier is ~10⁴× smaller
    than raw, so routed queries touch a fraction of the bytes; the
    rollup itself is maintained incrementally (ts_rollup_incremental).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        time_bucket("ts", 3600).alias("hbucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(dec("value")).alias("sum_h"),  # stays decimal until the end
        F.min("value").alias("min_h"),
        F.max("value").alias("max_h"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hbucket")).alias("dbucket"), "event_type"
    ).agg(
        F.sum("n_h").alias("n"),
        F.sum("sum_h").alias("sum_d"),
        F.min("min_h").alias("min_v"),
        F.max("max_h").alias("max_v"),
    )
    return daily.select(
        F.date_format("dbucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        F.col("sum_d").cast("double").alias("sum_v"),
        "min_v",
        "max_v",
        (F.col("sum_d").cast("double") / F.col("n").cast("double")).alias("avg_v"),
    )


# ---------------------------------------------------------------------------
# A4×A6: per-bucket latency-style percentiles — "p99 per window per
# series", the canonical observability query (r6)
# ---------------------------------------------------------------------------


@query(
    "ts_bucket_percentiles",
    oracle=f"""
SELECT {sql_ts_str(sql_time_bucket('ts', 3600))} AS bucket_ts,
       event_type,
       COUNT(value) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY 1, 2
HAVING COUNT(value) > 0
""",
    tags=("tsdb", "A4", "A6", "percentiles"),
)
def ts_bucket_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of value per (hour bucket, event type) — the
    dashboard query every latency series runs, composed from the A6
    bucket shuffle and A4 exact interpolated percentiles, rounded 6dp
    on both sides (r6 percentile-output rule — interpolation can
    diverge by 1 ulp between engines; see docs/determinism.md).

    Scale (r9): count-table quantiles (operators/quantiles.py) — a
    hot bucket no longer buffers its whole value multiset in one
    Percentile hashmap (docs/scale.md); the count table is exact,
    mergeable, and spills. percentile_approx (t-digest) and the KLL
    sketch remain the cheaper-still approximate swaps.
    """
    from ..operators.quantiles import count_table_quantiles

    ev = load_table(spark, sf_dir, "events")
    q = count_table_quantiles(
        ev.select(time_bucket("ts", 3600).alias("bucket"), "event_type", "value"),
        ["bucket", "event_type"],
        "value",
        [0.5, 0.95, 0.99],
        ["__q50", "__q95", "__q99"],
        n_name="n",
    )
    return q.select(
        "bucket",
        "event_type",
        "n",
        F.round("__q50", 6).alias("p50"),
        F.round("__q95", 6).alias("p95"),
        F.round("__q99", 6).alias("p99"),
    ).select(
        ts_str("bucket").alias("bucket_ts"),
        "event_type",
        "n",
        "p50",
        "p95",
        "p99",
    )


# ---------------------------------------------------------------------------
# A4+/W7+: robust outlier detection via median absolute deviation (r6)
# ---------------------------------------------------------------------------


@query(
    "ts_mad_outliers",
    oracle=f"""
WITH med AS (
    SELECT event_type, round(median(value), 6) AS med
    FROM events GROUP BY event_type
    HAVING COUNT(value) > 0
),
dev AS (
    SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, round(median(adev), 6) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n,
       MAX(d.med) AS med,
       MAX(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MIN(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                THEN d.value END) AS min_outlier,
       MAX(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                THEN d.value END) AS max_outlier
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
    tags=("tsdb", "A4", "anomaly"),
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier accounting: median + median absolute
    deviation, flagging |x − med| > 3·1.4826·MAD (the normal-consistent
    robust z-score; 3·1.4826 pre-folded to the literal 4.4478 on both
    sides). Unlike stddev-based thresholds, MAD doesn't let the
    outliers inflate their own gate.

    Determinism: both medians are exact interpolated percentiles
    rounded to 6dp BEFORE any downstream arithmetic (the
    rel_median_mode rule — interpolation may differ in the last ulp
    across engines, rounding re-converges it), so adev, the threshold
    compare, and the min/max witnesses are identical-double
    computations on both sides.

    Scale: two aggregate passes over events plus a broadcast of the
    |types|-row median/MAD tables. r9: both exact medians left the
    Percentile-buffer hazard (each Median hashmap buffered a types-th
    of ALL events) for count-table quantiles. r10: |types| is tiny,
    which is exactly the count-table form's few-groups window bound —
    both medians now run the range-bucketed two-pass scan
    (operators/quantiles.py, width-parallel at any group count,
    bit-interchangeable; docs/scale.md r10 addendum).
    percentile_approx / KLL (ts_value_quantile_sketch) remain the
    cheaper approximate swaps in the same two-pass shape.
    """
    from ..operators.quantiles import range_bucketed_quantiles

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = range_bucketed_quantiles(
        ev, ["event_type"], "value", [0.5], ["__med"]
    ).select("event_type", F.round("__med", 6).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = range_bucketed_quantiles(
        dev, ["event_type"], "adev", [0.5], ["__mad"]
    ).select("event_type", F.round("__mad", 6).alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    is_out = F.col("adev") > F.lit(4.4478) * F.col("mad")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.min(F.when(is_out, F.col("value"))).alias("min_outlier"),
        F.max(F.when(is_out, F.col("value"))).alias("max_outlier"),
    )


# ---------------------------------------------------------------------------
# O3: top-k series per dimension
# ---------------------------------------------------------------------------


@query(
    "ts_topk_users",
    oracle=f"""
SELECT event_type, user_id, sum_value, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT event_type, user_id, sum_value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY sum_value DESC, user_id) AS rnk
    FROM (
        SELECT event_type, user_id, {sql_dsum('value')} AS sum_value
        FROM events GROUP BY event_type, user_id
    )
)
WHERE rnk <= 3
""",
    tags=("tsdb", "O3", "bench"),
)
def ts_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3 users by total value within each event_type."""
    ev = load_table(spark, sf_dir, "events")
    # r15: fixed-point dsum twin (bit-identical on the conforming
    # events.value scale-6 domain, see ts_bucket_agg; identical sums ⇒
    # identical top-k ordering). Budget: ≤ ~1e9/row, ~4.6e9 rows per
    # (event_type, user_id) group before 2^62; ANSI throws past it.
    per_user = ev.groupBy("event_type", "user_id").agg(
        fsum("value", 6).alias("sum_value")
    )
    return top_k_per_group(
        per_user,
        group=["event_type"],
        order=[F.col("sum_value").desc(), F.col("user_id")],
        k=3,
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands; ST4's batch analog)
# ---------------------------------------------------------------------------


@query(
    "ts_sessionize",
    oracle=f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT *,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       {sql_ts_str('MIN(ts)')} AS session_start,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1000000.0 AS duration_s,
       {sql_dsum('value')} AS sum_value
FROM sessions
GROUP BY user_id, session_id
""",
    tags=("tsdb", "session", "bench"),
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user with per-session aggregates."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, keys=["user_id"], ts_col="ts", gap_seconds=1800, tiebreak=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ts_str(F.min("ts")).alias("session_start"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).cast("double")
            / F.lit(1_000_000.0)
        ).alias("duration_s"),
        # r15: fixed-point dsum twin (bit-identical, see ts_bucket_agg;
        # same scale-6 events.value domain and per-group budget)
        fsum("value", 6).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# W3: running cumulative sum per series (decimal-exact window agg)
# ---------------------------------------------------------------------------


@query(
    "ts_cumsum",
    oracle=f"""
SELECT user_id, event_id, {sql_ts_str('ts')} AS ts_s, value,
       CAST(SUM(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM events
""",
    tags=("tsdb", "W3"),
)
def ts_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total of value per user in event-time order."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        "value",
        F.sum(dec("value")).over(w).cast("double").alias("cum_value"),
    )


# ---------------------------------------------------------------------------
# W3+: rolling z-score anomaly signal (frame stats from exact sums)
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_zscore",
    oracle=f"""
SELECT user_id, event_id, {sql_ts_str('ts')} AS ts_s, value,
       CASE WHEN n >= 2 AND (sumsq - sum1 * sum1 / n) / (n - 1) > 0
            THEN (value - sum1 / n)
                 / sqrt((sumsq - sum1 * sum1 / n) / (n - 1))
       END AS zscore
FROM (
    SELECT user_id, event_id, ts, value,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER w AS DOUBLE) AS sum1,
           CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                OVER w AS DOUBLE) AS sumsq,
           CAST(COUNT(*) OVER w AS DOUBLE) AS n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
)
""",
    tags=("tsdb", "W3", "anomaly"),
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 11-point z-score per user — the standard streaming-ish
    anomaly signal, computed from decimal-exact frame sums.

    Every float op after the exact decimal sums (divide, multiply,
    sqrt) is IEEE-correctly-rounded and appears in the identical order
    on both sides, so the score is bit-identical (sqrt is exact per
    IEEE-754, unlike ln/exp — docs/determinism.md).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    d = dec("value", 18, 6)
    sum1 = F.sum(d).over(w).cast("double")
    sumsq = F.sum(d * d).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    base = ev.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        "value",
        sum1.alias("sum1"),
        sumsq.alias("sumsq"),
        n.alias("n"),
    )
    var = (F.col("sumsq") - F.col("sum1") * F.col("sum1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(
        (F.col("n") >= 2) & (var > 0),
        (F.col("value") - F.col("sum1") / F.col("n")) / F.sqrt(var),
    )
    return base.select("user_id", "event_id", "ts_s", "value", z.alias("zscore"))


# LTTB oracle (r7, VERDICT r6 item 4c): the per-bucket argmax is a
# sequential recurrence over bucket index — the ts_ema/ts_kalman
# recursive-CTE class. Exactness: the operator's fixed-point mode
# (value_scale=100) makes every compared quantity an exact integer —
# span-scaled areas in HUGEINT here, arbitrary-precision ints in
# Python — so the kept-point SET is bit-identical by construction (see
# operators/lttb.py module doc). arg_min's key packs (area DESC,
# idx ASC) into one HUGEINT: idx − area·2^40 (area ≲ 2^71 at sf0.1,
# idx < 2^40, product < 2^111 — inside HUGEINT). Oracle cost is
# O(n_out · bucket) per series via the recursive join — sf-gated like
# the other recursive oracles, not a scale path.
_LTTB_N_OUT = 48
_LTTB_M = _LTTB_N_OUT - 2  # middle buckets

_LTTB_ORACLE = f"""
WITH RECURSIVE pts AS (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, value) - 1 AS idx,
           epoch_us(ts) AS x,
           CAST(round(value * 100, 0) AS BIGINT) AS yc
    FROM events
),
np AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY user_id),
buckets AS (
    SELECT np.user_id, i.i, np.n,
           1 + (i.i * (np.n - 2)) // {_LTTB_M} AS lo,
           least(1 + ((i.i + 1) * (np.n - 2)) // {_LTTB_M}, np.n - 1) AS hi,
           least(1 + ((i.i + 2) * (np.n - 2)) // {_LTTB_M}, np.n - 1) AS nxt_hi
    FROM np CROSS JOIN (SELECT unnest(range({_LTTB_M})) AS i) i
    WHERE np.n > {_LTTB_N_OUT}
),
anch AS (
    SELECT b.user_id, b.i, b.lo, b.hi,
           CASE WHEN b.nxt_hi <= b.hi THEN 1 ELSE b.nxt_hi - b.hi END AS span,
           CASE WHEN b.nxt_hi <= b.hi THEN CAST(lastp.x AS HUGEINT)
                ELSE s.sx END AS sx,
           CASE WHEN b.nxt_hi <= b.hi THEN CAST(lastp.yc AS HUGEINT)
                ELSE s.sy END AS sy
    FROM buckets b
    JOIN pts lastp ON lastp.user_id = b.user_id AND lastp.idx = b.n - 1
    LEFT JOIN (
        SELECT b2.user_id, b2.i,
               CAST(SUM(p.x) AS HUGEINT) AS sx, CAST(SUM(p.yc) AS HUGEINT) AS sy
        FROM buckets b2
        JOIN pts p ON p.user_id = b2.user_id
                  AND p.idx >= b2.hi AND p.idx < b2.nxt_hi
        GROUP BY b2.user_id, b2.i
    ) s ON s.user_id = b.user_id AND s.i = b.i
),
rec AS (
    SELECT user_id, -1 AS i, CAST(0 AS BIGINT) AS sel
    FROM np WHERE n > {_LTTB_N_OUT}
    UNION ALL
    SELECT r.user_id, a.i,
           -- factors go to HUGEINT BEFORE the multiply: DuckDB throws
           -- on BIGINT*BIGINT overflow (no promotion), and the area
           -- terms can pass 2^63 on long/dense series (r7 review)
           arg_min(c.idx,
               CAST(c.idx AS HUGEINT)
               - abs(
                     (CAST(q.x AS HUGEINT) * CAST(a.span AS HUGEINT) - a.sx)
                         * CAST(c.yc - q.yc AS HUGEINT)
                     - CAST(q.x - c.x AS HUGEINT)
                         * (a.sy - CAST(q.yc AS HUGEINT) * CAST(a.span AS HUGEINT))
                 ) * CAST(1099511627776 AS HUGEINT)) AS sel
    FROM rec r
    JOIN anch a ON a.user_id = r.user_id AND a.i = r.i + 1
    JOIN pts q ON q.user_id = r.user_id AND q.idx = r.sel
    JOIN pts c ON c.user_id = r.user_id AND c.idx >= a.lo AND c.idx < a.hi
    GROUP BY r.user_id, a.i
),
kept AS (
    SELECT user_id, sel AS idx FROM rec WHERE i >= 0
    UNION ALL
    SELECT user_id, 0 FROM np WHERE n > {_LTTB_N_OUT}
    UNION ALL
    SELECT user_id, n - 1 FROM np WHERE n > {_LTTB_N_OUT}
    UNION ALL
    SELECT p.user_id, p.idx FROM pts p
    JOIN np ON np.user_id = p.user_id
    WHERE np.n <= {_LTTB_N_OUT}
)
SELECT p.user_id, {sql_ts_str('p.ts')} AS ts_s, p.value
FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.idx = k.idx
"""


@query("ts_lttb_downsample", oracle=_LTTB_ORACLE, tags=("tsdb", "downsample"))
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB visual downsampling: each user's month of events reduced to
    ≤ 48 shape-preserving points, in the operator's exact fixed-point
    mode (micros × cents; operators/lttb.py) so the per-bucket argmax
    is engine-portable and the recursive-CTE oracle above replays the
    identical integer recurrence (previously rows-only)."""
    from ..operators.lttb import lttb_downsample

    ev = load_table(spark, sf_dir, "events")
    return lttb_downsample(
        ev, ["user_id"], "ts", "value", _LTTB_N_OUT, value_scale=100
    ).select("user_id", ts_str("ts").alias("ts_s"), "value")


# ---------------------------------------------------------------------------
# W5: gap-fill + LOCF + linear interpolation
# ---------------------------------------------------------------------------

_GF_START, _GF_END = "2024-01-01 00:00:00", "2024-01-30 23:00:00"


@query(
    "ts_gapfill_locf",
    oracle=f"""
WITH actual AS (
    SELECT user_id, {sql_time_bucket('ts', 3600)} AS bucket_ts,
           {sql_davg('value')} AS value
    FROM events
    WHERE user_id < 10
      AND ts >= TIMESTAMP '{_GF_START}'
      AND ts < TIMESTAMP '{_GF_END}' + INTERVAL 3600 SECOND
    GROUP BY 1, 2
), spine AS (
    SELECT u.user_id, g.bucket_ts
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 10) u
    CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '{_GF_START}',
                                      TIMESTAMP '{_GF_END}',
                                      INTERVAL 1 HOUR)) AS bucket_ts
    ) g
), filled AS (
    SELECT s.user_id, s.bucket_ts, a.value
    FROM spine s LEFT JOIN actual a USING (user_id, bucket_ts)
), win AS (
    SELECT user_id, bucket_ts, value,
        last_value(value IGNORE NULLS) OVER w_fwd AS value_locf,
        last_value(CASE WHEN value IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS)
            OVER w_fwd AS prev_t,
        first_value(value IGNORE NULLS) OVER w_bwd AS next_v,
        first_value(CASE WHEN value IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS)
            OVER w_bwd AS next_t
    FROM filled
    WINDOW
        w_fwd AS (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_bwd AS (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, {sql_ts_str('bucket_ts')} AS bucket_ts, value, value_locf,
       CASE WHEN value IS NOT NULL THEN value
            WHEN value_locf IS NOT NULL AND next_v IS NOT NULL THEN
                value_locf + (next_v - value_locf)
                    * (CAST(epoch_us(bucket_ts) - prev_t AS DOUBLE)
                       / CAST(next_t - prev_t AS DOUBLE))
       END AS value_interp
FROM win
""",
    tags=("tsdb", "W5", "bench"),
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine per user (user_id<10) with LOCF + linear interpolation."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    gf = gapfill(
        ev,
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        bucket_seconds=3600,
        start=_GF_START,
        end=_GF_END,
        agg="avg",
        # r15: fixed-point avg (bit-identical on events.value — exactly
        # 2-decimal, ⊂ scale 6; see functions/__init__.py contract)
        fixed_point_scale=6,
    )
    return gf.select(
        "user_id",
        ts_str("bucket_ts").alias("bucket_ts"),
        "value",
        "value_locf",
        "value_interp",
    )


# ---------------------------------------------------------------------------
# J6: as-of join (latest prior click per purchase, per user)
# ---------------------------------------------------------------------------


@query(
    "ts_asof_join",
    oracle=f"""
SELECT p.user_id, p.event_id, {sql_ts_str('p.ts')} AS ts_s, p.value,
       c.value AS click_value, {sql_ts_str('c.ts')} AS click_ts_s
FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
    SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC NULLS LAST) = 1
) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("tsdb", "J6", "bench"),
)
def ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest click at-or-before it by that user.

    The oracle pre-dedups clicks per (user_id, ts) mirroring asof_join's
    deterministic payload-struct-max tiebreak (see operators/asof.py) —
    DuckDB's ASOF JOIN alone picks an unspecified row on ties.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"], suffix="_click",
    )
    return j.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        "value",
        F.col("value_click").alias("click_value"),
        ts_str("ts_click").alias("click_ts_s"),
    )


# ---------------------------------------------------------------------------
# J5: bucketed range join (clicks within 10 min before each error)
# ---------------------------------------------------------------------------


@query(
    "ts_range_join_counts",
    oracle="""
SELECT e.event_id,
       COUNT(CASE WHEN c.ts > e.ts - INTERVAL 600 SECOND AND c.ts <= e.ts
                  THEN 1 END) AS n_clicks_10m
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
GROUP BY e.event_id
""",
    tags=("tsdb", "J5", "bench"),
)
def ts_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: clicks by the same user in the preceding 10 min.

    Spark side uses the bucketed equi-join pattern (operators/rangejoin);
    the oracle states the same semantics as a naive inequality join,
    which DuckDB can afford at sf0.01.
    """
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(
        errors, clicks, on=["user_id"], probe_ts="ts", build_ts="ts",
        lookback_seconds=600, probe_id="event_id", count_alias="n_clicks_10m",
    )


@query(
    "ts_range_join_left",
    oracle=f"""
SELECT e.event_id,
       {sql_ts_str('e.ts')} AS error_ts_s,
       {sql_ts_str('c.ts')} AS click_ts_s,
       c.value AS click_value
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts > e.ts - INTERVAL 600 SECOND AND c.ts <= e.ts
""",
    tags=("tsdb", "J5"),
)
def ts_range_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-preserving left range join: every (error, click-within-10min)
    pair, plus one NULL-padded row per error with no preceding click.

    Spark side is the bucketed equi-join + anti-join backfill
    (operators/rangejoin.range_join how='left'); the oracle states the
    same semantics as a naive inequality LEFT JOIN, affordable at sf0.01.
    """
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    j = range_join(
        errors, clicks, on=["user_id"], probe_ts="ts", build_ts="click_ts",
        lookback_seconds=600, how="left", probe_id="event_id",
    )
    return j.select(
        "event_id",
        ts_str("ts").alias("error_ts_s"),
        ts_str("click_ts").alias("click_ts_s"),
        "click_value",
    )


@query(
    "ts_interval_overlap",
    oracle=f"""
SELECT p.user_id, p.event_id AS p_id, e.event_id AS e_id,
       epoch_us(least(p.ts + INTERVAL 1800 SECOND, e.ts + INTERVAL 600 SECOND))
         - epoch_us(greatest(p.ts, e.ts)) AS overlap_us
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND p.ts <= e.ts + INTERVAL 600 SECOND
 AND e.ts <= p.ts + INTERVAL 1800 SECOND
""",
    tags=("tsdb", "J5", "interval"),
)
def ts_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: purchase windows [ts, ts+30min] meeting
    error windows [ts, ts+10min] per user, with the overlap length.

    Spark side is the bucketed canonical-bucket interval join
    (operators/rangejoin.interval_join — one emit per pair, no dedup
    pass); the oracle states the same closed-interval overlap as a
    naive inequality join, affordable at sf0.01.
    """
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_start"))
        .withColumn("p_end", F.col("p_start") + F.expr("INTERVAL 1800 SECONDS"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("event_id").alias("e_id"), F.col("ts").alias("e_start"))
        .withColumn("e_end", F.col("e_start") + F.expr("INTERVAL 600 SECONDS"))
    )
    j = interval_join(
        p, e, on=["user_id"],
        left_start="p_start", left_end="p_end",
        right_start="e_start", right_end="e_end",
        bucket_seconds=600,
    )
    overlap_us = F.least(
        F.unix_micros("p_end"), F.unix_micros("e_end")
    ) - F.greatest(F.unix_micros("p_start"), F.unix_micros("e_start"))
    return j.select("user_id", "p_id", "e_id", overlap_us.alias("overlap_us"))


@query(
    "ts_asof_join_forward",
    oracle=f"""
SELECT p.user_id, p.event_id, {sql_ts_str('p.ts')} AS ts_s, p.value,
       c.value AS next_click_value, {sql_ts_str('c.ts')} AS next_click_ts_s
FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
    SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC NULLS LAST) = 1
) c
  ON p.user_id = c.user_id AND p.ts <= c.ts
""",
    tags=("tsdb", "J6"),
)
def ts_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: the earliest click at-or-after each purchase.

    Oracle pre-dedups ties per (user_id, ts) — see ts_asof_join.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"], suffix="_click", direction="forward",
    )
    return j.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        "value",
        F.col("value_click").alias("next_click_value"),
        ts_str("ts_click").alias("next_click_ts_s"),
    )


@query(
    "ts_salted_agg",
    oracle=f"""
SELECT event_type,
       {sql_dsum('value')} AS sum_value,
       COUNT(*) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
""",
    tags=("tsdb", "skew"),
)
def ts_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-stage aggregation over the hot event_type key —
    bit-identical to the plain aggregate (exact partial states), which
    is exactly what the oracle asserts."""
    from ..operators.salting import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        salt=16,
        sums_decimal={"value": (18, 6)},
        count_alias="n",
        min_cols=["value"],
        max_cols=["value"],
    )


# ---------------------------------------------------------------------------
# W2+: SCD Type-2 dimension build from the event change log
# ---------------------------------------------------------------------------


@query(
    "ts_scd2_user_state",
    oracle=f"""
WITH c AS (
    SELECT user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM events
), runs AS (
    SELECT user_id, ts, event_type FROM c WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       {sql_ts_str('ts')} AS effective_from,
       {sql_ts_str('lead(ts) OVER w')} AS effective_to,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM runs
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""",
    tags=("tsdb", "scd"),
)
def ts_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each user's event_type "state": versioned
    [effective_from, effective_to) rows, consecutive same-type events
    collapsed (operators/scd.py — single shuffle, two Windows over one
    Exchange). (user_id, ts) is unique in the fixture, so no tiebreak
    columns are needed for a total order."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = scd2(ev, keys=["user_id"], attrs=["event_type"], ts_col="ts")
    return s.select(
        "user_id",
        "event_type",
        ts_str("effective_from").alias("effective_from"),
        ts_str("effective_to").alias("effective_to"),
        "version",
        "is_current",
    )


# ---------------------------------------------------------------------------
# W3+/X2: CUSUM changepoint detection per series (recursive-CTE oracle)
# ---------------------------------------------------------------------------


@query(
    "ts_cusum_alarms",
    oracle=f"""
WITH RECURSIVE stats AS (
    SELECT user_id,
           {sql_davg('value')} AS mu,
           {sql_dsum_sq('value')} / CAST(COUNT(value) AS DOUBLE) AS ex2
    FROM events GROUP BY user_id
), s2 AS (
    SELECT user_id, mu,
           sqrt(greatest(CAST(0 AS DOUBLE), ex2 - mu * mu)) AS sigma
    FROM stats
), t AS (
    SELECT e.user_id, e.ts, CAST(e.value AS DOUBLE) AS value, s2.mu, s2.sigma,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.user_id
                                   ORDER BY e.ts, e.event_id) AS INTEGER) AS rn
    FROM events e JOIN s2 USING (user_id)
), c(user_id, rn, ts, value, mu, sigma, s_plus, s_minus, alarm) AS (
    SELECT user_id, rn, ts, value, mu, sigma, s_plus, s_minus,
           CAST(CASE WHEN s_plus > CAST(3.0 AS DOUBLE) * sigma
                       OR s_minus > CAST(3.0 AS DOUBLE) * sigma THEN 1 ELSE 0 END AS INTEGER)
    FROM (
        SELECT user_id, rn, ts, value, mu, sigma,
               greatest(CAST(0 AS DOUBLE), (value - mu) - CAST(0.5 AS DOUBLE) * sigma) AS s_plus,
               greatest(CAST(0 AS DOUBLE), (mu - value) - CAST(0.5 AS DOUBLE) * sigma) AS s_minus
        FROM t WHERE rn = 1
    )
    UNION ALL
    SELECT user_id, rn, ts, value, mu, sigma, s_plus, s_minus,
           CAST(CASE WHEN s_plus > CAST(3.0 AS DOUBLE) * sigma
                       OR s_minus > CAST(3.0 AS DOUBLE) * sigma THEN 1 ELSE 0 END AS INTEGER)
    FROM (
        SELECT t.user_id, t.rn, t.ts, t.value, t.mu, t.sigma,
               greatest(CAST(0 AS DOUBLE),
                        (CASE WHEN c.alarm = 1 THEN CAST(0 AS DOUBLE) ELSE c.s_plus END)
                        + ((t.value - t.mu) - CAST(0.5 AS DOUBLE) * t.sigma)) AS s_plus,
               greatest(CAST(0 AS DOUBLE),
                        (CASE WHEN c.alarm = 1 THEN CAST(0 AS DOUBLE) ELSE c.s_minus END)
                        + ((t.mu - t.value) - CAST(0.5 AS DOUBLE) * t.sigma)) AS s_minus
        FROM c JOIN t ON t.user_id = c.user_id AND t.rn = c.rn + 1
    )
)
SELECT user_id, rn, {sql_ts_str('ts')} AS ts, value, s_plus, s_minus, alarm FROM c
""",
    tags=("tsdb", "changepoint", "X2"),
)
def ts_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM control chart per user (k=0.5σ slack, h=3σ
    threshold, reset after alarm — operators/changepoint.py). The
    sequential recursion runs in the per-series applyInPandas boundary;
    mu/sigma come from a decimal-exact pass, so the DuckDB recursive
    CTE replays the identical double arithmetic step-for-step (same
    pattern as the doc_pack_sequences oracle)."""
    ev = load_table(spark, sf_dir, "events")
    c = cusum(ev, keys=["user_id"], ts_col="ts", value_col="value",
              k_sigma=0.5, h_sigma=3.0, tiebreak=["event_id"])
    return c.select(
        "user_id", "rn", ts_str("ts").alias("ts"),
        "value", "s_plus", "s_minus", "alarm",
    )


# ---------------------------------------------------------------------------
# Layout+: z-order value (Morton interleave) for multi-dim clustering
# ---------------------------------------------------------------------------

_Z_TERMS = " | ".join(
    f"(((q{c} >> {i}) & 1) << {i * 2 + j})"
    for i in range(8)
    for j, c in enumerate(("t", "v"))
)


@query(
    "ts_zorder_values",
    oracle=f"""
WITH b AS (
    SELECT min(epoch_us(ts)) AS mn_t, max(epoch_us(ts)) AS mx_t,
           min(value) AS mn_v, max(value) AS mx_v
    FROM events
), q AS (
    SELECT event_id,
           CAST(COALESCE(CASE WHEN mx_t = mn_t THEN 0 ELSE
               floor(((CAST(epoch_us(ts) AS DOUBLE) - CAST(mn_t AS DOUBLE))
                      * CAST(255 AS DOUBLE))
                     / (CAST(mx_t AS DOUBLE) - CAST(mn_t AS DOUBLE)))
           END, 0) AS BIGINT) AS qt,
           CAST(COALESCE(CASE WHEN mx_v = mn_v THEN 0 ELSE
               floor(((value - mn_v) * CAST(255 AS DOUBLE)) / (mx_v - mn_v))
           END, 0) AS BIGINT) AS qv
    FROM events, b
)
SELECT event_id, CAST({_Z_TERMS} AS BIGINT) AS zval
FROM q
""",
    tags=("tsdb", "layout"),
)
def ts_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value of (ts, value) at 8 bits/dimension
    (operators/zorder.py — the clustering key behind zorder_write;
    min/max bounds broadcast from a one-row aggregate, interleave is a
    codegen'd shift/mask OR-chain). The layout benefit itself —
    per-file range shrinkage and file skipping — is pinned in
    tests/test_zorder.py; this query oracles the arithmetic."""
    from ..operators.zorder import with_zvalue

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("tsu"), "value"
    )
    z = with_zvalue(ev, ["tsu", "value"], bits=8)
    return z.select("event_id", "zval")


# ---------------------------------------------------------------------------
# Analytics+: ordered funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------


@query(
    "ts_funnel_steps",
    oracle="""
WITH e AS (
    SELECT * FROM events
    WHERE ts < TIMESTAMP '2024-01-02 12:00:00'
), s1 AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
    FROM e GROUP BY user_id
), s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > s1.t1
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY e.user_id
)
SELECT COUNT(t1) AS n_view,
       COUNT(t2) AS n_click,
       COUNT(t3) AS n_purchase,
       CAST(COUNT(t2) AS DOUBLE) / CAST(COUNT(t1) AS DOUBLE) AS view_to_click,
       CAST(COUNT(t3) AS DOUBLE) / CAST(COUNT(t2) AS DOUBLE) AS click_to_purchase
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""",
    tags=("tsdb", "analytics", "funnel"),
)
def ts_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching view -> first later click -> first
    later purchase within the first 36 fixture hours (the window keeps
    the funnel discriminating — over the full month every user
    completes every step).

    Spark side is a SINGLE shuffle: per-user ordered event fold (sorted
    collect_list + an `aggregate` HOF carrying (t1, t2, t3) — greedy
    first-match, provably equal to the oracle's chained-min formulation
    because the earliest view, then the earliest click after it, then
    the earliest purchase after that, are exactly what a left-to-right
    scan latches). The SQL mirror is the textbook 3-pass chained-min —
    running both shapes against each other IS the equivalence proof.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 12:00:00").cast("timestamp")
    )
    seq = F.sort_array(F.collect_list(F.struct("ts", "event_type")))
    init = F.struct(
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.lit(None).cast("timestamp").alias("t3"),
    )

    def step(acc, x):
        t1 = F.when(
            acc["t1"].isNull() & (x["event_type"] == "view"), x["ts"]
        ).otherwise(acc["t1"])
        t2 = F.when(
            acc["t2"].isNull()
            & t1.isNotNull()
            & (x["event_type"] == "click")
            & (x["ts"] > t1),
            x["ts"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            acc["t3"].isNull()
            & t2.isNotNull()
            & (x["event_type"] == "purchase")
            & (x["ts"] > t2),
            x["ts"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    per_user = ev.groupBy("user_id").agg(
        F.aggregate(seq, init, step).alias("f")
    )
    return per_user.agg(
        F.count("f.t1").alias("n_view"),
        F.count("f.t2").alias("n_click"),
        F.count("f.t3").alias("n_purchase"),
        (F.count("f.t2").cast("double") / F.count("f.t1").cast("double")).alias(
            "view_to_click"
        ),
        (F.count("f.t3").cast("double") / F.count("f.t2").cast("double")).alias(
            "click_to_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# Analytics+: weekly cohort retention
# ---------------------------------------------------------------------------

_DAY_US = 86400 * 1_000_000


@query(
    "ts_cohort_retention",
    oracle=f"""
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // {_DAY_US} AS INTEGER) AS wk
    FROM events
), cohort AS (
    SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
)
SELECT cohort_wk,
       CAST(a.wk - c.cohort_wk AS INTEGER) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY cohort_wk, week_offset
""",
    tags=("tsdb", "analytics", "retention"),
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix (day granularity keeps the matrix
    discriminating on the dense fixture): users bucketed by
    first-activity day, counted again at each later day they were
    active. Activity
    collapses to distinct (user, week) BEFORE anything else — the
    shuffle carries at most users x weeks rows, not raw events; the
    per-user cohort table then joins back on the same user_id
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        # integer div, not double-divide+cast: a double quotient near an
        # integer boundary can round across it (ADVICE r1, rangejoin)
        F.expr(f"unix_micros(ts) div {_DAY_US}").cast("int").alias("wk"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(cohort, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).cast("int").alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# W3+: rolling correlation with the lagged series (autocorrelation)
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_autocorr",
    oracle=f"""
SELECT user_id, event_id, {sql_ts_str('ts')} AS ts_s,
       CASE WHEN n >= 2
                 AND (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
       END AS autocorr
FROM (
    SELECT user_id, event_id, ts,
           CAST(SUM(CASE WHEN y IS NOT NULL THEN xd END) OVER w AS DOUBLE) AS sx,
           CAST(SUM(yd) OVER w AS DOUBLE) AS sy,
           CAST(SUM(xd * yd) OVER w AS DOUBLE) AS sxy,
           CAST(SUM(CASE WHEN y IS NOT NULL THEN xd * xd END) OVER w AS DOUBLE) AS sxx,
           CAST(SUM(yd * yd) OVER w AS DOUBLE) AS syy,
           CAST(COUNT(y) OVER w AS DOUBLE) AS n
    FROM (
        SELECT user_id, event_id, ts,
               CAST(value AS DECIMAL(18,6)) AS xd,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y,
               CAST(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS DECIMAL(18,6)) AS yd
    FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
""",
    tags=("tsdb", "W3", "stats"),
)
def ts_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-point lag-1 autocorrelation per user: Pearson r
    between the series and its lag over a sliding frame, from
    decimal-exact PAIRED frame sums (x sums restricted to rows where
    the lagged partner exists — an unpaired x would bias the moments).
    Same determinism discipline as ts_rolling_zscore: exact sums, then
    an identical IEEE op order ending in an exact sqrt. Both the lag
    and the frame share one (user_id; ts, event_id) sort — a single
    Exchange feeds both Window passes."""
    ev = load_table(spark, sf_dir, "events")
    ow = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fw = ow.rowsBetween(-19, Window.currentRow)
    xd = dec("value", 18, 6)
    y = F.lag("value").over(ow)
    yd = y.cast("decimal(18,6)")
    base = ev.select(
        "user_id", "event_id", "ts", xd.alias("xd"), y.alias("y"), yd.alias("yd")
    )
    sx = F.sum(F.when(F.col("y").isNotNull(), F.col("xd"))).over(fw).cast("double")
    sy = F.sum("yd").over(fw).cast("double")
    sxy = F.sum(F.col("xd") * F.col("yd")).over(fw).cast("double")
    sxx = (
        F.sum(F.when(F.col("y").isNotNull(), F.col("xd") * F.col("xd")))
        .over(fw)
        .cast("double")
    )
    syy = F.sum(F.col("yd") * F.col("yd")).over(fw).cast("double")
    n = F.count("y").over(fw).cast("double")
    s = base.select(
        "user_id", "event_id", ts_str("ts").alias("ts_s"),
        sx.alias("sx"), sy.alias("sy"), sxy.alias("sxy"),
        sxx.alias("sxx"), syy.alias("syy"), n.alias("n"),
    )
    denom = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(denom)
    return s.select(
        "user_id", "event_id", "ts_s",
        F.when((F.col("n") >= 2) & (denom > 0), r).alias("autocorr"),
    )


# ---------------------------------------------------------------------------
# Analytics+: event-sequence pattern matching (CEP-lite)
# ---------------------------------------------------------------------------


@query(
    "ts_event_pattern",
    oracle="""
WITH seqs AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS INTEGER) AS n_events,
       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS INTEGER) AS n_conversions,
       CAST(len(regexp_extract_all(seq, 'ee')) AS INTEGER) AS n_error_bursts
FROM seqs
""",
    tags=("tsdb", "analytics", "cep"),
)
def ts_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite sequence matching: each user's event-type history
    becomes a character string (first letter per event, time order) and
    patterns are counted as non-overlapping regex matches —
    view→(clicks/errors)*→purchase "conversions" and back-to-back error
    bursts. Restricted to the Java-regex/RE2 common subset (character
    classes + * — every match at a given start is unique, so
    leftmost-first and leftmost-longest agree; same discipline as
    doc_pii_scrub). One shuffle: the per-user string fold."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                )
            ),
            lambda x: x["c"],
        ),
        "",
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        F.regexp_count("seq", F.lit(r"v[ce]*p")).cast("int").alias("n_conversions"),
        F.regexp_count("seq", F.lit(r"ee")).cast("int").alias("n_error_bursts"),
    )


# ---------------------------------------------------------------------------
# A4+: KLL-style quantile sketch over event values
# ---------------------------------------------------------------------------


@query("ts_value_quantile_sketch", oracle=None, tags=("tsdb", "A4", "sketch", "no-oracle"))
def ts_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate value quantiles from the mergeable compactor sketch
    (operators/quantile_sketch.py, capacity 200): per-partition
    summaries of ≤ capacity×log2(n) weighted items, weighted-rank
    read-off over the emitted items only. Rows-only — like the exact
    `rel_price_percentiles` it answers A4, but with the summary the
    100 TB path needs; rank-error bounds pinned under 1/8/32
    partitionings in tests/test_quantile_sketch.py.
    ts_qdigest_quantiles below is the fully-oracled twin of the
    quantile-sketch family (q-digest over the bounded cents domain —
    a pure function of the value multiset)."""
    from ..operators.quantile_sketch import kll_quantiles

    ev = load_table(spark, sf_dir, "events")
    return kll_quantiles(ev, "value", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


# -- ts_qdigest_quantiles: the fully-oracled quantile-SKETCH twin.
# KLL compactions are insertion-order-dependent (inherent), but a
# q-digest over the bounded cents domain [0, 2^16) is a pure function
# of the value MULTISET: the histogram is order-immune COUNTs, the
# bottom-up compression at each of the 16 dyadic levels is a
# deterministic integer rule (children merge into their parent iff
# their combined count <= floor(n/k)), and the rank read-off walks
# exact integer cumulative counts toward an integer ceil(q*n) target.
# ZERO floating-point operations anywhere — the strongest determinism
# class on the board. Rank-error bound: <= LEVELS * floor(n/k).

_QDIG_LEVELS = 16
_QDIG_K = 2048
_QDIG_TARGETS = [(50, 1, 2), (90, 9, 10), (95, 19, 20), (99, 99, 100)]


def _qdigest_sql() -> str:
    """The q-digest oracle: hist -> 16 (merge, emit, carry) level
    steps -> digest union -> cumulative rank walk. Every multi-
    referenced CTE is MATERIALIZED per docs/determinism.md (DuckDB
    re-inlines twice-referenced chained CTEs exponentially)."""
    parts = [
        """hist AS MATERIALIZED (
    SELECT CAST(round(value * 100.0, 0) AS BIGINT) AS node, COUNT(*) AS cnt
    FROM events GROUP BY 1
), nn AS MATERIALIZED (
    SELECT SUM(cnt) AS n, GREATEST(1, SUM(cnt) // {k}) AS nk FROM hist
), lvl{levels} AS MATERIALIZED (SELECT node, cnt FROM hist)""".format(
            k=_QDIG_K, levels=_QDIG_LEVELS
        )
    ]
    for lv in range(_QDIG_LEVELS, 0, -1):
        parts.append(
            f"""m{lv} AS MATERIALIZED (
    SELECT node // 2 AS p, SUM(cnt) AS s FROM lvl{lv} GROUP BY node // 2
), emit{lv} AS (
    SELECT l.node, l.cnt, {lv} AS level
    FROM lvl{lv} l JOIN m{lv} m ON m.p = l.node // 2
    WHERE m.s > (SELECT nk FROM nn)
), lvl{lv - 1} AS MATERIALIZED (
    SELECT p AS node, s AS cnt FROM m{lv} WHERE s <= (SELECT nk FROM nn)
)"""
        )
    emits = "\n    UNION ALL\n    ".join(
        f"SELECT node, cnt, level FROM emit{lv}"
        for lv in range(_QDIG_LEVELS, 0, -1)
    )
    widths = ", ".join(
        f"({lv}, {1 << (_QDIG_LEVELS - lv)})" for lv in range(_QDIG_LEVELS + 1)
    )
    targets = ", ".join(f"({p}, {nu}, {de})" for p, nu, de in _QDIG_TARGETS)
    parts.append(
        f"""digest AS MATERIALIZED (
    {emits}
    UNION ALL
    SELECT node, cnt, 0 AS level FROM lvl0 WHERE cnt > 0
), widths AS (SELECT * FROM (VALUES {widths}) w(level, width)),
walk AS MATERIALIZED (
    SELECT b.*, SUM(cnt) OVER (ORDER BY ub, lb ROWS UNBOUNDED PRECEDING) AS cum
    FROM (
        SELECT d.node, d.cnt, d.level,
               d.node * w.width AS lb, (d.node + 1) * w.width - 1 AS ub
        FROM digest d JOIN widths w USING (level)
    ) b
), targets AS (SELECT * FROM (VALUES {targets}) t(pct, num, den))"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT t.pct,
       CAST((SELECT n FROM nn) AS BIGINT) AS n_events,
       CAST(((SELECT n FROM nn) * t.num + t.den - 1) // t.den AS BIGINT)
           AS target_rank,
       CAST(MIN(w.ub) AS BIGINT) AS est_cents,
       (SELECT COUNT(*) FROM digest) AS digest_nodes
FROM targets t
JOIN walk w
  ON w.cum >= ((SELECT n FROM nn) * t.num + t.den - 1) // t.den
GROUP BY t.pct, t.num, t.den
"""


@query(
    "ts_qdigest_quantiles",
    out_schema="pct int, n_events bigint, target_rank bigint, est_cents bigint, digest_nodes bigint",
    oracle=_qdigest_sql(),
    tags=("tsdb", "A4", "sketch", "exact-twin"),
)
def ts_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q-digest value quantiles — the driver-hash-verifiable twin of
    ts_value_quantile_sketch (whose KLL compactions are insertion-
    order-dependent by construction).

    Distributed part: one groupBy building the cents histogram —
    map-side partial counts, shuffle capped at the 2^16 domain size
    regardless of row count. Driver part: the bounded (<= 65536-row)
    histogram replays the deterministic bottom-up compression — at
    each dyadic level, sibling counts merge into their parent iff
    together <= floor(n/k) (k = 2048), else both children are emitted
    into the digest — then integer cumulative counts answer each
    ceil(q*n) rank target with the smallest node upper bound at or
    past it. Every step is exact integer arithmetic, so the oracle
    replays it verbatim as 16 chained level CTEs. Rank error
    <= 16 * floor(n/k) (~0.8% of n), pinned against the exact
    percentile in pytest."""
    ev = load_table(spark, sf_dir, "events")
    hist_rows = (
        ev.groupBy(
            fx("value").alias("node")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    hist = {int(r.node): int(r.cnt) for r in hist_rows}
    if hist and (min(hist) < 0 or max(hist) >= (1 << _QDIG_LEVELS)):
        raise ValueError(
            "q-digest cents domain violated: values must land in "
            f"[0, 2^{_QDIG_LEVELS}) cents, got "
            f"[{min(hist)}, {max(hist)}]"
        )
    n = sum(hist.values())
    nk = max(1, n // _QDIG_K)
    pend = dict(hist)
    digest: list[tuple[int, int, int]] = []
    for lv in range(_QDIG_LEVELS, 0, -1):
        groups: dict[int, list[tuple[int, int]]] = {}
        for node, cnt in pend.items():
            groups.setdefault(node // 2, []).append((node, cnt))
        newpend: dict[int, int] = {}
        for p, kids in groups.items():
            s = sum(c for _, c in kids)
            if s > nk:
                digest.extend((node, cnt, lv) for node, cnt in kids)
            else:
                newpend[p] = s
        pend = newpend
    if pend.get(0, 0) > 0:
        digest.append((0, pend[0], 0))
    spans = sorted(
        (
            ((node + 1) << (_QDIG_LEVELS - lv)) - 1,  # ub
            node << (_QDIG_LEVELS - lv),  # lb
            cnt,
        )
        for node, cnt, lv in digest
    )
    out = []
    for pct, num, den in _QDIG_TARGETS:
        target = (n * num + den - 1) // den
        cum, est = 0, None
        for ub, _lb, cnt in spans:
            cum += cnt
            if cum >= target:
                est = ub
                break
        out.append((pct, n, target, est, len(digest)))
    return spark.createDataFrame(
        out,
        "pct int, n_events long, target_rank long, est_cents long, "
        "digest_nodes long",
    )


# ---------------------------------------------------------------------------
# A6+: continuous-aggregate (hypertable rollup) incremental refresh
# ---------------------------------------------------------------------------


@query(
    "ts_rollup_incremental",
    oracle=f"""
SELECT {sql_ts_str(sql_time_bucket('ts', 3600))} AS bucket_s,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS sum_v,
       {sql_dsum('value')} / CAST(COUNT(*) AS DOUBLE) AS avg_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events
GROUP BY bucket_s, event_type
""",
    tags=("tsdb", "A6", "rollup"),
)
def ts_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh (operators/rollup.py): the hourly
    per-type rollup is built from mergeable partial states over the
    first 20 fixture days, then REFRESHED with the remaining days'
    batch — and the result must be bit-identical to the direct
    aggregation over all history, which is exactly what the oracle
    computes. Mergeability (counts add, decimal sums add
    order-independently, min/max combine) is what makes the refresh
    touch only new-batch buckets at 100 TB."""
    from ..operators.rollup import finalize, merge_states, partial_state

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("timestamp")
    hist = ev.filter(F.col("ts") < cutoff)
    late = ev.filter(F.col("ts") >= cutoff)
    s_old = partial_state(hist, ["event_type"], "ts", "value", 3600)
    s_new = partial_state(late, ["event_type"], "ts", "value", 3600)
    merged = merge_states(s_old, s_new, ["event_type"])
    out = finalize(merged, ["event_type"])
    return out.select(
        ts_str("bucket_ts").alias("bucket_s"),
        "event_type",
        "n",
        "sum_v",
        "avg_v",
        "min_v",
        "max_v",
    )


# ---------------------------------------------------------------------------
# J6+: point-in-time (temporal) join against the SCD2 dimension
# ---------------------------------------------------------------------------


@query(
    "ts_pit_join_status",
    oracle="""
WITH chg AS (
    SELECT user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM events WHERE event_type IN ('signup', 'error')
), runs AS (
    SELECT user_id, ts, event_type AS status FROM chg
    WHERE prev IS DISTINCT FROM event_type
), dim AS (
    SELECT user_id, status,
           ts AS effective_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to
    FROM runs
)
SELECT d.status, e.event_type, COUNT(*) AS n_events
FROM events e
JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts >= d.effective_from
 AND (d.effective_to IS NULL OR e.ts < d.effective_to)
GROUP BY d.status, e.event_type
""",
    tags=("tsdb", "J6", "scd", "temporal"),
)
def ts_pit_join_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correct enrichment (the feature-store pattern):
    an "account status" SCD2 dimension is built from the signup/error
    change events (operators/scd.py), then EVERY event joins the status
    version whose [effective_from, effective_to) interval contains its
    timestamp — never a later version (no feature leakage).

    Join shape: equi-join on user_id with the containment predicate as
    a post-join filter — correct at scale because SCD2 collapses runs,
    so the dim side is versions-per-user (small), not events; versions
    are disjoint per user, so each event matches at most one row.
    Events before a user's first status version drop out (inner join),
    identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id", "ts", F.col("event_type").alias("status")
    )
    dim = scd2(changes, keys=["user_id"], attrs=["status"], ts_col="ts").select(
        "user_id", "status", "effective_from", "effective_to"
    )
    j = ev.join(dim.withColumnRenamed("user_id", "d_uid"),
                (F.col("user_id") == F.col("d_uid"))
                & (F.col("ts") >= F.col("effective_from"))
                & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))))
    return j.groupBy("status", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# §4 skew: salted join on the hot event_type keys
# ---------------------------------------------------------------------------


@query(
    "ts_salted_join_enrich",
    oracle="""
WITH dim AS (
    SELECT DISTINCT event_type,
           CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                WHEN event_type = 'purchase' THEN 'revenue'
                ELSE 'ops' END AS category
    FROM events
)
SELECT category, COUNT(*) AS n_events,
       COUNT(DISTINCT e.event_type) AS n_types
FROM events e JOIN dim USING (event_type)
GROUP BY category
""",
    tags=("tsdb", "skew", "J1"),
)
def ts_salted_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe enrichment join: events carry only 5 distinct
    event_type keys, so an unsalted shuffle join funnels 100 TB through
    5 reducers; operators/salting.salted_join shards each key 16× and
    replicates the tiny dim to match (plan-audited: the Exchange
    partitions on (event_type, __salt), no broadcast). The oracle is
    the plain join — salting must be invisible in the results."""
    from ..operators.salting import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("event_type").isin("click", "view"), "engagement")
            .when(F.col("event_type") == "purchase", "revenue")
            .otherwise("ops"),
        )
    )
    j = salted_join(ev, dim, ["event_type"], salt=16, force_shuffle=True)
    return j.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# A4+/W3: winsorization at exact per-series percentiles (robust stats)
# ---------------------------------------------------------------------------


@query(
    "ts_winsorized_stats",
    oracle=f"""
WITH bounds AS (
    SELECT user_id,
           round(quantile_cont(value, 0.05), 6) AS lo,
           round(quantile_cont(value, 0.95), 6) AS hi
    FROM events GROUP BY user_id
    HAVING COUNT(value) > 0
), w AS (
    SELECT e.user_id,
           CASE WHEN value < lo THEN lo
                WHEN value > hi THEN hi
                ELSE value END AS wv,
           CAST(value < lo OR value > hi AS INTEGER) AS clamped
    FROM events e JOIN bounds USING (user_id)
)
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(clamped) AS BIGINT) AS n_clamped,
       CAST(SUM(CAST(round(wv * CAST(1e6 AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
           / CAST(1e6 AS DOUBLE) AS sum_winsorized,
       CAST(SUM(CAST(round(wv * CAST(1e6 AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
           / CAST(1e6 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_winsorized
FROM w GROUP BY user_id
""",
    tags=("tsdb", "A4", "robust"),
)
def ts_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series statistics: values clamped to each user's
    interpolated [p05, p95] before aggregation (winsorized mean — the
    standard outlier-resistant estimator). The percentile bounds are a
    small per-key aggregate joined back on the same user_id
    partitioning.

    Determinism (tightened in r6 after the sf0.1 cross-check caught a
    1-ulp quantile_cont divergence on one series): the interpolated
    bounds are rounded to 6dp BEFORE clamping (the ts_mad_outliers
    rule — re-converges the engines' interpolation ulp), and the sums
    use ROUND-based 1e6 fixed point rather than floor at 1e9 — every
    wv has ≤6 significant decimals, so round() lands both engines on
    the same integer where a floor one ulp below a boundary would not.
    """
    ev = load_table(spark, sf_dir, "events")
    # count-table quantiles (r9): the per-user bound no longer buffers
    # the user's whole value multiset in a Percentile hashmap
    # (operators/quantiles.py, docs/scale.md)
    from ..operators.quantiles import count_table_quantiles

    bounds = count_table_quantiles(
        ev, ["user_id"], "value", [0.05, 0.95], ["__lo", "__hi"]
    ).select(
        "user_id",
        F.round("__lo", 6).alias("lo"),
        F.round("__hi", 6).alias("hi"),
    )
    w = ev.join(bounds, "user_id").select(
        "user_id",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("wv"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
        .cast("int")
        .alias("clamped"),
    )
    fp = F.round(F.col("wv") * F.lit(1e6), 0).cast("long")
    return w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        (F.sum(fp).cast("double") / F.lit(1e6)).alias("sum_winsorized"),
        (
            F.sum(fp).cast("double") / F.lit(1e6) / F.count(F.lit(1)).cast("double")
        ).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# A6+/W2: time-weighted average per series (irregular sampling)
# ---------------------------------------------------------------------------


@query(
    "ts_time_weighted_avg",
    oracle="""
WITH s AS (
    SELECT user_id, value,
           epoch_us(ts) AS t,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS t_next
    FROM events
), d AS (
    SELECT user_id, value, t_next - t AS dur
    FROM s WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS span_us,
       CAST(SUM(CAST(CAST(round(value * CAST(100 AS DOUBLE)) AS BIGINT) * dur
                     AS DECIMAL(38,0))) AS DOUBLE)
           / CAST(SUM(dur) AS DOUBLE) / CAST(100 AS DOUBLE) AS twa
FROM d GROUP BY user_id
""",
    tags=("tsdb", "A6", "W2"),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per series (the TSDB answer to irregular
    sampling — a value "counts" for as long as it was current, last
    observation carried forward until the next sample; the final open
    observation has no duration and drops). Arithmetic is exact INTEGER
    end to end: fixture values are 2-decimal, so cents = round(v*100)
    is an exact long, cents x integer-us products sum exactly in
    decimal(38,0), and only the final integer->double conversion rounds
    (once, identically on both engines — casting a WIDE-SCALE decimal
    sum to double instead proved 1-ulp divergent between engines, the
    same family of hazard as docs/determinism.md's computed-quotient
    rule). One shuffle: the lead() window and the aggregation share the
    user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    s = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    d = s.withColumn("dur", F.col("t_next") - F.col("t"))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dur").cast("bigint").alias("span_us"),
        (
            F.sum(dec(fx("value") * F.col("dur"), 38, 0)).cast("double")
            / F.sum("dur").cast("double")
            / F.lit(100.0)
        ).alias("twa"),
    )


# ---------------------------------------------------------------------------
# Cross-series correlation: do two event types co-move hour to hour?
# (the TSDB "correlate metrics" primitive; new in r5)
# ---------------------------------------------------------------------------


@query(
    "ts_series_corr",
    oracle=f"""
WITH hourly AS (
    SELECT {sql_time_bucket('ts', 3600)} AS bucket, event_type,
           CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY bucket, event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.v AS HUGEINT) AS x, CAST(b.v AS HUGEINT) AS y
    FROM hourly a JOIN hourly b ON a.bucket = b.bucket
    WHERE a.event_type < b.event_type
),
m AS (
    SELECT type_a, type_b, CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_buckets,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
           AS corr
FROM m
WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    tags=("tsdb", "corr"),
)
def ts_series_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event-type series,
    aligned on shared 1-hour buckets (hourly value totals).

    Exactness: fixture values are 2-decimal, so cents = round(v*100) is
    an exact long; per-bucket totals and all five moments accumulate as
    exact integers (decimal(38,0) on Spark, HUGEINT in the oracle — the
    same class, int-exact, chosen per engine because DuckDB widens
    decimal×decimal past 38 into double while Spark caps at 38). Only
    the final corr expression runs in double, identically on both
    engines — the docs/determinism.md computed-value rule.

    Scale shape: one agg shuffles events down to (buckets × types) rows
    — everything after operates on the tiny aligned series, so the pair
    join and moment agg are negligible at any corpus size. Series
    alignment via inner bucket join = "hours where both types active".
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _bucket_cents(ev)
    a = hourly.select("bucket", F.col("event_type").alias("type_a"), F.col("v").alias("x"))
    b = hourly.select("bucket", F.col("event_type").alias("type_b"), F.col("v").alias("y"))
    m = (
        a.join(b, "bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(*moment_sums("x", "y"))
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx_i = n * F.col("sxx") - F.col("sx") * F.col("sx")
    deny_i = n * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate-pair guard (ADVICE r5): a zero-variance series or a
    # single shared bucket gives denominator 0, where Spark's non-ANSI
    # double division yields NULL but DuckDB yields inf/NaN — filter
    # the pair out on BOTH sides (decimal-exact compare, pre-division)
    return m.filter(
        (F.col("n") >= 2) & (denx_i > 0) & (deny_i > 0)
    ).select(
        "type_a",
        "type_b",
        F.col("n").cast("bigint").alias("n_buckets"),
        (num / F.sqrt(denx_i.cast("double") * deny_i.cast("double"))).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Burst detection: bucket activity vs its own trailing baseline
# (rate-anomaly primitive; integer-exact by cross-multiplication; r5)
# ---------------------------------------------------------------------------


@query(
    "ts_burst_detect",
    oracle=f"""
WITH c AS (
    SELECT user_id, {sql_time_bucket('ts', 300)} AS bucket, COUNT(*) AS cnt
    FROM events GROUP BY user_id, bucket
),
t AS (
    SELECT user_id, bucket, cnt,
           SUM(cnt) OVER w AS trail,
           COUNT(*) OVER w AS n_trail
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, {sql_ts_str('bucket')} AS bucket_ts,
       CAST(cnt AS BIGINT) AS cnt, CAST(trail AS BIGINT) AS trail,
       CAST(cnt * 12 > trail * 3 AS INTEGER) AS is_burst
FROM t WHERE n_trail = 12
""",
    tags=("tsdb", "anomaly"),
)
def ts_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag 5-minute buckets whose event count exceeds 3x the mean of
    the user's previous 12 active buckets (trailing baseline excludes
    the current bucket; emitted only once the baseline is full).

    The comparison is cross-multiplied (`cnt*12 > trail*3`) so the
    whole query is integer arithmetic end to end — no float boundary
    at all. One shuffle (user_id+bucket agg); the trailing window
    reuses the user_id partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select("user_id", time_bucket("ts", 300).alias("bucket"))
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy("bucket").rowsBetween(-12, -1)
    t = c.select(
        "user_id",
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("trail"),
        F.count(F.lit(1)).over(w).alias("n_trail"),
    )
    return t.filter(F.col("n_trail") == 12).select(
        "user_id",
        ts_str("bucket").alias("bucket_ts"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("trail").cast("bigint").alias("trail"),
        (F.col("cnt") * 12 > F.col("trail") * 3).cast("int").alias("is_burst"),
    )


# ---------------------------------------------------------------------------
# Rolling distinct actives (DAU / trailing-7-day WAU) — the product-
# analytics "active users" rollup (A2 distinct-agg x W3 trailing window).
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_actives",
    oracle=f"""
WITH du AS (
    SELECT DISTINCT {sql_time_bucket('ts', 86400)} AS day, user_id FROM events
),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
),
obs AS (SELECT DISTINCT day FROM du),
ex AS (
    SELECT make_timestamp(epoch_us(du.day) + o.o * 86400000000) AS day,
           du.user_id
    FROM du CROSS JOIN (SELECT unnest(range(7)) AS o) o
),
wau AS (
    SELECT ex.day, CAST(COUNT(DISTINCT ex.user_id) AS BIGINT) AS wau
    FROM ex JOIN obs ON ex.day = obs.day GROUP BY ex.day
)
SELECT {sql_ts_str('dau.day')} AS day_s, dau.dau, wau.wau
FROM dau JOIN wau ON dau.day = wau.day
""",
    tags=("tsdb", "A2", "W3", "actives"),
)
def ts_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar day: distinct active users that day (DAU) and in the
    trailing 7-day window ending that day (WAU), for observed days.

    Rolling COUNT(DISTINCT) is not a frame-able window aggregate in
    either engine, and the naive range self-join re-scans raw events 7x.
    Instead: dedup to (day, user) pairs FIRST (the only big shuffle —
    cardinality is active pairs, not events), then explode each pair to
    the <=7 future days it keeps alive (fixed 7x amplification of the
    already-deduped pairs, map-side), and count distinct per target day.
    Day arithmetic is integer epoch-us throughout. At 100 TB the pair
    dedup is a classic high-cardinality distinct (spillable hash agg);
    the explode factor is a constant w, never data-dependent — this is
    the standard scalable WAU/MAU shape, vs the unbounded state a
    sliding distinct window would need.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(time_bucket("ts", 86400).alias("day"), "user_id").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    obs = pairs.select("day").distinct()
    ex = pairs.select(
        "day", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    ).select(
        F.timestamp_micros(
            F.unix_micros("day") + F.col("o") * F.lit(86_400_000_000)
        ).alias("day"),
        "user_id",
    )
    wau = ex.join(obs, "day").groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        ts_str("day").alias("day_s"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: median of pairwise slopes per series (the
# outlier-resistant alternative to udf_grouped_trend's OLS slope).
# ---------------------------------------------------------------------------


@query(
    "ts_theil_sen",
    oracle="""
WITH p AS (
    SELECT a.user_id,
           CAST(round(round((b.value - a.value)
                 / (CAST(epoch_us(b.ts) - epoch_us(a.ts) AS DOUBLE)
                    / 3600000000.0), 6) * 1000000.0, 0) AS BIGINT) AS m
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND epoch_us(a.ts) <> epoch_us(b.ts)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(m, 0.5) / 1000000.0 AS slope_per_hour
FROM p GROUP BY user_id
""",
    tags=("tsdb", "robust", "trend"),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator per user: the median of all pairwise
    (value-delta / hour-delta) slopes — robust to up to ~29% outliers
    where OLS (udf_grouped_trend) is not.

    Each unordered point pair is visited once (event_id tiebreak);
    slope is symmetric under swapping both coordinates so orientation
    does not matter; equal-timestamp pairs (infinite slope) are
    excluded identically on both sides via integer epoch-us compare.
    Per-pair slopes are rounded 6dp then carried as integer micro-units
    into the median: interpolating between two BIGINTs is exact in
    double (x.0 or x.5), and the final /1e6 is a single identical FP op
    — no round() ever touches a midpoint average, which is exactly
    where the cross-engine round-half hazard lives (a first cut that
    rounded the interpolated median diverged by 1e-6 at sf0.01; see
    docs/determinism.md). Scale: the self-join shuffles on user_id once
    (both sides
    co-partitioned), but the pair expansion is inherently O(n_s^2) per
    series — correct for the bounded per-series densities of metrics
    data (fixture: ~67 pts/user at every SF). 100 TB swap-ins for
    unbounded series (guidance settled r12 after the 240M probe,
    docs/scale.md "watch resolution"): ts_theil_sen_sampled is the
    DEFAULT — O(n_s + K²) per series via hash-rank point sampling,
    fully oracled, memory-safe at every probed scale (its one
    super-constant stage is a disk-spillable window sort) and 7.7x
    faster than windowed at 240M; ts_theil_sen_windowed is the
    BOUNDED-SERIES alternative — O(n_s·W) pairs, fully oracled, exact
    for series shorter than W, preferred when local slope density
    matters, but its exploded-slope working set is GC-heavy
    (2.4x/doubling at 16g, 8g ceiling at 120M). The repeated-median
    sketch remains the one named alternative (only when its stronger
    breakdown bound is itself required). See docs/scale.md.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("t"), "value"
    )
    a = base.alias("a")
    b = base.alias("b")
    slope6 = F.round(
        (F.col("b.value") - F.col("a.value"))
        / ((F.col("b.t") - F.col("a.t")).cast("double") / F.lit(3600000000.0)),
        6,
    )
    m = F.round(slope6 * F.lit(1000000.0), 0).cast("bigint")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.t") != F.col("b.t")),
        )
        .select(F.col("a.user_id").alias("user_id"), m.alias("m"))
    )
    # F.percentile is safe here: the group's value count is bounded by
    # this operator's contract (bounded series / K(K-1)/2 sample pairs),
    # so the Percentile hashmap buffer is bounded too — the unbounded-
    # group sites use operators/quantiles.py (docs/scale.md)
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.percentile("m", F.lit(0.5)) / F.lit(1000000.0)).alias("slope_per_hour"),
    )


# W9 scale path (r7): the bounded pair-offset Theil-Sen named in
# ts_theil_sen's docstring, implemented — O(n_s * W) pairs per series
# instead of O(n_s^2), same exact-median machinery, fully oracled.
_TS_WIN = 16  # pair-offset bound (slopes between points <= W ranks apart)


@query(
    "ts_theil_sen_windowed",
    oracle=f"""
WITH o AS (
    SELECT user_id, value, epoch_us(ts) AS t,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
p AS (
    SELECT a.user_id,
           CAST(round(round((b.value - a.value)
                 / (CAST(b.t - a.t AS DOUBLE) / 3600000000.0), 6)
                 * 1000000.0, 0) AS BIGINT) AS m
    FROM o a JOIN o b
      ON a.user_id = b.user_id
     AND b.rn > a.rn AND b.rn <= a.rn + {_TS_WIN}
     AND a.t <> b.t
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(m, 0.5) / 1000000.0 AS slope_per_hour
FROM p GROUP BY user_id
""",
    tags=("tsdb", "robust", "trend", "W9"),
)
def ts_theil_sen_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-pair-offset Theil-Sen per user (the 100 TB scale path
    ts_theil_sen's docstring names, implemented): slopes only between
    points <= W = 16 (_TS_WIN) time-order ranks apart, so the pair set
    is O(n_s * W) per series — linear in series length — while
    keeping the estimator's robustness for locally-dense outliers.
    Same exactness machinery as the full version: 6dp slope rounding
    into integer micro-units, exact interpolated median, one final
    /1e6. Equal-timestamp pairs excluded by integer epoch compare.

    Scale: one user_id shuffle; the rank band makes every join match
    bounded, so no series can quadratically expand; the windowed
    estimate converges to the full Theil-Sen as W grows (W = n_s
    recovers it exactly — pinned in pytest on small series).

    Measured one-box boundary (r11, watch resolved r12): linear to
    60M rows (170 s solo); the n*W exploded-slope working set crosses
    the default 8g heap between 60M and 120M on one 32-thread JVM —
    120M OOMs at 8g, completes at 16g (426 s r11 / 363.6 s r12), and
    the 240M doubling completes at 16g in 877.2 s (2.41x/doubling,
    GC-heavy but stable; docs/scale.md "watch resolution"). Contract
    settled r12: this is the BOUNDED-SERIES variant — prefer it when
    series length is bounded and locally-dense slope pairs matter;
    for unbounded series ts_theil_sen_sampled is the documented
    default (memory-safe spill-bound sort, 113.7-123.3 s at 240M,
    fixed K(K-1)/2 pairs/series).
    """
    ev = load_table(spark, sf_dir, "events")
    # t = unix_micros(ts) is order-equivalent to ts, so the (t,
    # event_id) window ordering matches the oracle's (ts, event_id)
    base = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("t"), "value"
    )
    # The rank band rides as ONE bounded window frame — a sliding
    # collect_list of the next W (t, value) structs — then a map-side
    # transform+explode into slopes. Shapes measured at the r8 10M-row
    # x 1000-pts/user probe before settling here:
    #   (1) alias self-join on user_id with the band as a RANGE
    #       predicate: Catalyst applies non-equi conjuncts AFTER the
    #       equi-match, so it enumerated all n_s^2 same-user pairs and
    #       filtered — the quadratic blowup this operator exists to
    #       avoid (71 s);
    #   (2) explode the W offsets + pure equi-join on (user_id, rn):
    #       linear, but pays two extra shuffles of the W-expanded pair
    #       set (39 s);
    #   (3) W distinct lead() columns: one shuffle, but WindowExec
    #       runs one frame processor PER DISTINCT OFFSET — cost was
    #       16x a single lead (69 s);
    #   (4) this form: one shuffle, one frame processor, pair
    #       expansion entirely map-side, and the final groupBy reuses
    #       the window's hash-partitioning on user_id (33 s — the
    #       remaining cost is the inherent O(n_s * W) slope evals plus
    #       the exact percentile).
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(1, _TS_WIN)
    )
    nxt = F.collect_list(F.struct("t", "value")).over(w)

    def m_of(s):
        slope6 = F.round(
            (s["value"] - F.col("value"))
            / ((s["t"] - F.col("t")).cast("double") / F.lit(3600000000.0)),
            6,
        )
        # null on equal-timestamp (infinite slope); nulls drop below.
        # collect_list already stops at the series end, so no
        # past-the-end guard is needed — identical arithmetic to the
        # oracle's rank-band join.
        return F.when(s["t"] != F.col("t"), F.round(slope6 * 1000000.0, 0)).cast(
            "bigint"
        )

    pairs = (
        base.select("user_id", "t", "value", nxt.alias("__nx"))
        .select("user_id", F.explode(F.transform("__nx", m_of)).alias("m"))
        .filter(F.col("m").isNotNull())
    )
    # Exact interpolated median WITHOUT the Percentile aggregate:
    # F.percentile buffers every group's values in a per-group
    # OpenHashMap (TypedAggregateWithHashMapAsBuffer) — at the 10M-row
    # probe that is ~160M mostly-distinct micro-units held as live
    # heap during the merge phase, and the r9 probe OOMed an 8g
    # local[32] JVM there (passes solo, dies after a dozen prior
    # queries — exactly the marginal-memory signature). The count-
    # table form (operators/quantiles.py, docs/scale.md) keeps the
    # query's single shuffle — every step accepts the slope window's
    # HashPartitioning(user_id) — and its sorts spill gracefully
    # where the hashmap buffer could only grow. Interpolation mirrors
    # quantile_cont's op order, so the oracle stays bit-identical.
    from ..operators.quantiles import count_table_quantiles

    med = count_table_quantiles(
        pairs, ["user_id"], "m", [0.5], ["__med"], n_name="n_pairs"
    )
    return med.select(
        "user_id",
        "n_pairs",
        (F.col("__med") / F.lit(1000000.0)).alias("slope_per_hour"),
    )


# W9 scale path #2 (r8): SAMPLED Theil-Sen — the other swap named in
# ts_theil_sen's docstring, implemented. Point sampling (not pair
# sampling) is the scale-safe form: keeping the K hash-smallest points
# per series bounds the pair expansion to K(K-1)/2 BEFORE the join, so
# no series can quadratically expand no matter its length — pair
# sampling by contrast still enumerates O(n_s^2) pairs to thin them.
_TS_SAMPLE_K = 24


@query(
    "ts_theil_sen_sampled",
    oracle=f"""
WITH s AS (
    SELECT user_id, epoch_us(ts) AS t, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
               {sql_md5_u32("concat(CAST(user_id AS VARCHAR), ':', CAST(event_id AS VARCHAR))")},
               event_id) AS rn
    FROM events
),
k AS (SELECT * FROM s WHERE rn <= {_TS_SAMPLE_K}),
p AS (
    SELECT a.user_id,
           CAST(round(round((b.value - a.value)
                 / (CAST(b.t - a.t AS DOUBLE) / 3600000000.0), 6)
                 * 1000000.0, 0) AS BIGINT) AS m
    FROM k a JOIN k b
      ON a.user_id = b.user_id
     AND b.rn > a.rn
     AND a.t <> b.t
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(m, 0.5) / 1000000.0 AS slope_per_hour
FROM p GROUP BY user_id
""",
    tags=("tsdb", "robust", "trend", "W9", "sampling"),
)
def ts_theil_sen_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Theil-Sen per user (the second 100 TB swap named in
    ts_theil_sen's docstring, implemented): keep each series' K = 24
    (_TS_SAMPLE_K) points with the smallest engine-portable md5_u32
    hash of (user_id, event_id) — a deterministic uniform sample, no
    seed state — then run the exact pairwise-median machinery on the
    bounded sample. Pair count per series is <= K(K-1)/2 regardless of
    series length, so the estimator costs O(n_s) to sample + O(K^2) to
    solve where the full version is O(n_s^2); the estimate converges
    to the full Theil-Sen as K grows (K >= n_s recovers it exactly on
    the sampled subset = whole series).

    Determinism: the hash ranking is md5_u32 (exact same fold in
    DuckDB), slope rounding/median interpolation reuse ts_theil_sen's
    driver-proven integer micro-unit idiom, and equal-timestamp pairs
    are excluded by integer epoch compare on both sides.

    Scale: one user_id shuffle for the rank, one for the K-sample
    self-join (both co-partitioned); the sample bound makes every join
    match finite — the fixed-size-sample contract that lets the
    estimator run on unbounded series where even the windowed variant
    grows with n_s. Settled r12 as the DEFAULT Theil-Sen for
    unbounded series (docs/scale.md "watch resolution"): the only
    super-constant stage is the full-table window sort behind the
    exact deterministic sample — disk-spillable, never OOMed at any
    probed scale — measured 44.5-61.7 s at 120M and 113.7-123.3 s at
    240M (16g, solo fresh-JVM band), 7.7x faster than windowed at
    240M.
    """
    ev = load_table(spark, sf_dir, "events")
    h = md5_u32(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.col("__h"), F.col("event_id"))
    base = (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            "value",
            h.alias("__h"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TS_SAMPLE_K)
        .select("user_id", "t", "value", "rn")
    )
    a = base.alias("a")
    b = base.alias("b")
    slope6 = F.round(
        (F.col("b.value") - F.col("a.value"))
        / ((F.col("b.t") - F.col("a.t")).cast("double") / F.lit(3600000000.0)),
        6,
    )
    m = F.round(slope6 * F.lit(1000000.0), 0).cast("bigint")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.rn") > F.col("a.rn"))
        & (F.col("a.t") != F.col("b.t")),
    ).select(F.col("a.user_id").alias("user_id"), m.alias("m"))
    # F.percentile is safe here: the group's value count is bounded by
    # this operator's contract (bounded series / K(K-1)/2 sample pairs),
    # so the Percentile hashmap buffer is bounded too — the unbounded-
    # group sites use operators/quantiles.py (docs/scale.md)
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.percentile("m", F.lit(0.5)) / F.lit(1000000.0)).alias("slope_per_hour"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization: z-normalized PAA + fixed gaussian breakpoints
# (the classic time-series indexing/motif representation).
# ---------------------------------------------------------------------------


@query(
    "ts_sax_symbols",
    oracle="""
WITH o AS (
    SELECT user_id,
           CAST(round(value * 100.0) AS BIGINT) AS c,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM events
),
seg AS (
    SELECT user_id, (rn * 8) // n AS segment, n,
           CAST(SUM(c) AS HUGEINT) AS s1, CAST(COUNT(*) AS BIGINT) AS n_pts
    FROM o GROUP BY user_id, (rn * 8) // n, n
),
u AS (
    SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS s,
           SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
    FROM o GROUP BY user_id
),
z AS (
    SELECT seg.user_id, seg.segment, seg.n_pts,
           round((CAST(seg.s1 AS DOUBLE) / CAST(seg.n_pts AS DOUBLE)
                  - CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE))
                 / (SQRT(CAST(u.n * u.q - u.s * u.s AS DOUBLE))
                    / CAST(u.n AS DOUBLE)), 6) AS zscore
    FROM seg JOIN u ON seg.user_id = u.user_id
    WHERE u.n * u.q - u.s * u.s > 0
)
SELECT user_id, CAST(segment AS BIGINT) AS segment, n_pts, zscore,
       CASE WHEN zscore < -0.6745 THEN 'a'
            WHEN zscore < 0.0 THEN 'b'
            WHEN zscore < 0.6745 THEN 'c'
            ELSE 'd' END AS symbol
FROM z
""",
    tags=("tsdb", "sax", "representation"),
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX: each user's value series → 8 equal-count PAA segments →
    z-score against the user's own mean/std → 4-letter alphabet with
    the standard N(0,1) quartile breakpoints (±0.6745, 0).

    Exactness: cents are exact longs; segment sums, series sum and
    sum-of-squares accumulate as decimal(38,0)/HUGEINT; the population
    variance numerator n*q - s^2 is integer-exact (also the zero-
    variance guard, pre-division). The only float ops are two exact-int
    to double casts, divisions, one SQRT (IEEE 754 correctly-rounded —
    identical across engines, unlike ln/exp) and the 6dp round before
    the breakpoint CASE, whose literals are exact on both sides.
    Segment id (rn*8) div n is pure integer math. Scale: one window
    over user_id (row_number + count reuse one sort), two hash aggs
    keyed by user — all co-partitioned; nothing global.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    o = ev.select(
        "user_id",
        fx("value").alias("c"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    seg = o.groupBy(
        "user_id", F.expr("(rn * 8) div n").alias("segment"), "n"
    ).agg(
        F.sum(dec("c", 38, 0)).alias("s1"),
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
    )
    u = o.groupBy("user_id").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("un"),
        F.sum(dec("c", 38, 0)).alias("s"),
        F.sum(dec("c", 38, 0) * dec("c", 38, 0)).alias("q"),
    )
    var_num = F.col("un") * F.col("q") - F.col("s") * F.col("s")
    zscore = F.round(
        (
            F.col("s1").cast("double") / F.col("n_pts").cast("double")
            - F.col("s").cast("double") / F.col("un").cast("double")
        )
        / (F.sqrt(var_num.cast("double")) / F.col("un").cast("double")),
        6,
    )
    z = (
        seg.join(u, "user_id")
        .filter(var_num > 0)
        .select(
            "user_id",
            F.col("segment").cast("bigint").alias("segment"),
            "n_pts",
            zscore.alias("zscore"),
        )
    )
    return z.select(
        "user_id",
        "segment",
        "n_pts",
        "zscore",
        F.when(F.col("zscore") < -0.6745, F.lit("a"))
        .when(F.col("zscore") < 0.0, F.lit("b"))
        .when(F.col("zscore") < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("symbol"),
    )


# ---------------------------------------------------------------------------
# Rolling actives, sketch path: the documented 100 TB swap-in for
# ts_rolling_actives — HLL partials instead of exact (day, user) dedup.
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_actives_approx",
    oracle=None,  # Datasketches HLL is engine-specific; accuracy vs the
    # exact twin is pinned in tests/test_r6b_ops.py (<=5% per day)
    tags=("tsdb", "A2", "sketch", "scale-twin"),
)
def ts_rolling_actives_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users via mergeable HLL sketches: one
    sketch per day (the only pass over raw events), exploded to the <=7
    target days it contributes to, then hll_union_agg + estimate.

    This is the scale path named in ts_rolling_actives' docstring: the
    shuffle carries ONE fixed-size sketch per (day, offset) — bytes per
    day, not the (day, user) pair set — so cost is independent of user
    cardinality. Deterministic for fixed input (Datasketches HLL is
    seedless): same lgK, same registers, same estimate every run.
    Rows-only because no DuckDB twin exists; the accuracy contract
    against the exact query is a pytest gate.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(time_bucket("ts", 86400).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    )
    obs = daily.select("day")
    ex = daily.select(
        "day", "sk", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    ).select(
        F.timestamp_micros(
            F.unix_micros("day") + F.col("o") * F.lit(86_400_000_000)
        ).alias("day"),
        "sk",
    )
    return (
        ex.join(obs, "day")
        .groupBy("day")
        .agg(F.hll_union_agg("sk").alias("usk"))
        .select(
            ts_str("day").alias("day_s"),
            F.hll_sketch_estimate("usk").cast("bigint").alias("wau_approx"),
        )
    )


# -- ts_rolling_actives_hll_md5: the fully-oracled twin of the rolling
# sketch union above — and the on-the-record demonstration that sketch
# MERGEABILITY (the actual 100 TB argument for HLL) survives the
# determinism contract: a 7-day register union is just MAX over the
# window's per-day register MAXes, order-immune at every stage, so the
# whole DAU->WAU pipeline replays in SQL with the shared machinery
# from chrono_ts_spark.functions.


@query(
    "ts_rolling_actives_hll_md5",
    oracle=f"""
WITH h AS MATERIALIZED (
    SELECT {sql_time_bucket("ts", 86400)} AS day,
           {sql_md5_u32("CAST(user_id AS VARCHAR)")} AS h
    FROM events
), rw AS (
    SELECT day, (h >> {HLL_WBITS}) AS reg, (h % {HLL_WMOD}) AS w FROM h
), daily AS MATERIALIZED (
    SELECT day, reg, MAX({HLL_WBITS + 1} - ({SQL_HLL_BITLEN})) AS m
    FROM rw GROUP BY day, reg
), obs AS MATERIALIZED (SELECT DISTINCT day FROM daily),
ex AS (
    SELECT make_timestamp(epoch_us(d.day) + o.o * 86400000000) AS day,
           d.reg, d.m
    FROM daily d CROSS JOIN (SELECT unnest(range(7)) AS o) o
), merged AS (
    SELECT ex.day, ex.reg, MAX(ex.m) AS m
    FROM ex JOIN obs ON ex.day = obs.day
    GROUP BY ex.day, ex.reg
), agg AS (
    SELECT day, SUM({SQL_HLL_TERM}) AS s_used, COUNT(*) AS regs_used
    FROM merged GROUP BY day
)
SELECT {sql_ts_str("a.day")} AS day_s, a.regs_used,
       CAST(floor(({sql_hll_estimate("a.s_used", "a.regs_used")})
                  * 1000000.0 + 0.5) AS BIGINT) AS wau_hll_fp
FROM agg a
""",
    tags=("tsdb", "A2", "sketch", "md5-twin"),
)
def ts_rolling_actives_hll_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users via engine-portable HLL registers —
    the driver-hash-verifiable twin of ts_rolling_actives_approx
    (whose Datasketches HLL bytes are engine-private).

    Identical scale shape to the sketch path it twins: one pass over
    raw events builds <= 1024 (day, register) MAX-rho rows per day;
    the 7-day union is register-wise MAX of those rows (exploded by a
    constant 7x, never re-touching events); the estimate tail is the
    shared closed-form from chrono_ts_spark.functions. Every merge is
    a MAX of exact integers, so the result is independent of both
    partitioning and merge order — the mergeability property that
    makes HLL the 100 TB answer, here with the full pipeline oracled
    instead of envelope-tested. Accuracy vs the exact ts_rolling_actives
    WAU is pinned in pytest."""
    ev = load_table(spark, sf_dir, "events")
    h = md5_u32(F.col("user_id").cast("string"))
    rw = ev.select(
        time_bucket("ts", 86400).alias("day"),
        hll_reg(h).alias("reg"),
        hll_w(h).alias("w"),
    )
    daily = rw.groupBy("day", "reg").agg(F.max(hll_rho(F.col("w"))).alias("m"))
    obs = daily.select("day").distinct()
    ex = daily.select(
        "day", "reg", "m", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o")
    ).select(
        F.timestamp_micros(
            F.unix_micros("day") + F.col("o") * F.lit(86_400_000_000)
        ).alias("day"),
        "reg",
        "m",
    )
    merged = ex.join(obs, "day").groupBy("day", "reg").agg(F.max("m").alias("m"))
    agg = merged.groupBy("day").agg(
        F.sum(hll_term(F.col("m"))).alias("s_used"),
        F.count(F.lit(1)).alias("regs_used"),
    )
    return agg.select(
        ts_str("day").alias("day_s"),
        "regs_used",
        F.floor(
            hll_estimate(F.col("s_used"), F.col("regs_used")) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("wau_hll_fp"),
    )


# ---------------------------------------------------------------------------
# DTW elastic distance between event-type series (operators/dtw.py)
# ---------------------------------------------------------------------------


@query(
    "ts_dtw_pairs",
    oracle="""
WITH RECURSIVE
hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY event_type, h
),
ser AS (
    SELECT event_type, list(v ORDER BY h) AS vs FROM hourly GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.vs AS av, b.vs AS bv,
           CAST(len(a.vs) AS BIGINT) AS n, CAST(len(b.vs) AS BIGINT) AS m
    FROM ser a JOIN ser b ON a.event_type < b.event_type
),
-- one recursive step per DP row i; `prev` is the full banded row as a
-- (m+1)-cell DOUBLE list (cell j at list position j+1, +inf outside
-- the band). The in-row left-to-right dependency cur[j-1] -> cur[j]
-- folds via list_reduce with a list accumulator (seeded by a prepended
-- empty list; acc[len(acc)] is the just-computed left neighbor).
dp AS (
    SELECT type_a, type_b, av, bv, n, m, 0 AS i,
           list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, CAST(m AS INTEGER)),
                              x -> CAST('infinity' AS DOUBLE))) AS prev
    FROM pairs WHERE abs(n - m) <= 24
    UNION ALL
    SELECT type_a, type_b, av, bv, n, m, i + 1,
           list_transform(generate_series(1, CAST(greatest(1, i + 1 - 24)
                                                  AS INTEGER)),
                          x -> CAST('infinity' AS DOUBLE))
           || list_reduce(
                list_prepend(CAST([] AS DOUBLE[]),
                    list_transform(
                        generate_series(CAST(greatest(1, i + 1 - 24) AS INTEGER),
                                        CAST(least(m, i + 1 + 24) AS INTEGER)),
                        j -> [CAST(j AS DOUBLE)])),
                (acc, jx) -> list_append(acc,
                    CAST(abs(av[i + 1] - bv[CAST(jx[1] AS BIGINT)]) AS DOUBLE)
                    + least(prev[CAST(jx[1] AS BIGINT)],
                            prev[CAST(jx[1] AS BIGINT) + 1],
                            coalesce(acc[len(acc)],
                                     CAST('infinity' AS DOUBLE)))))
           || list_transform(generate_series(1, CAST(m - least(m, i + 1 + 24)
                                                     AS INTEGER)),
                          x -> CAST('infinity' AS DOUBLE)) AS prev
    FROM dp WHERE i < n
),
fin AS (SELECT type_a, type_b, prev[CAST(m AS BIGINT) + 1] AS d
        FROM dp WHERE i = n)
SELECT p.type_a, p.type_b, p.n AS n_a, p.m AS n_b,
       CAST(CASE WHEN abs(p.n - p.m) > 24 THEN -1 ELSE f.d END AS BIGINT)
       AS dtw
FROM pairs p LEFT JOIN fin f
  ON f.type_a = p.type_a AND f.type_b = p.type_b
""",
    tags=("tsdb", "dtw", "similarity"),
)
def ts_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded DTW distance (Sakoe-Chiba r=24h, L1 cost) between every
    pair of event-type hourly series — the shift-tolerant complement
    to ts_series_corr's aligned Pearson.

    Series are exact integer cents per hour; the DP stays integer in
    float64 cells, so the distance is bit-deterministic however the
    pairs partition (docs/scale.md: pairs are the scale axis, the DP
    per pair is O(n*r) numpy inside the sanctioned sequential
    boundary). Oracled (r7 rows-only shrink — the "no SQL twin" claim
    was wrong): because every DP cell is an exact integer, the banded
    recurrence replays in DuckDB as a recursive CTE over DP rows with a
    list_reduce fold for the in-row left-to-right dependency; pytest
    still pins it against an unbanded brute-force DP."""
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = _bucket_cents(ev)
    ta = hourly.select(F.col("event_type").alias("type_a")).distinct()
    tb = hourly.select(F.col("event_type").alias("type_b")).distinct()
    pairs = ta.join(tb, F.col("type_a") < F.col("type_b"))
    side_a = pairs.join(
        hourly.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select("type_a", "type_b", F.lit(0).alias("side"), "bucket", "v")
    side_b = pairs.join(
        hourly.withColumnRenamed("event_type", "type_b"), "type_b"
    ).select("type_a", "type_b", F.lit(1).alias("side"), "bucket", "v")
    data = side_a.unionByName(side_b)

    def _dtw(pdf):
        import numpy as np
        import pandas as pd

        from chrono_ts_spark.operators.dtw import dtw_banded

        pdf = pdf.sort_values(["side", "bucket"], kind="mergesort")
        a = pdf.loc[pdf["side"] == 0, "v"].to_numpy(dtype=np.int64)
        b = pdf.loc[pdf["side"] == 1, "v"].to_numpy(dtype=np.int64)
        d = dtw_banded(a, b, band=24)
        return pd.DataFrame(
            {
                "type_a": [pdf["type_a"].iloc[0]],
                "type_b": [pdf["type_b"].iloc[0]],
                "n_a": [len(a)],
                "n_b": [len(b)],
                "dtw": [d],
            }
        )

    return data.groupBy("type_a", "type_b").applyInPandas(
        _dtw, schema="type_a string, type_b string, n_a long, n_b long, dtw long"
    )


# ---------------------------------------------------------------------------
# PELT optimal changepoint segmentation (operators/changepoint.py)
#
# Oracled (r7, was rows-only "no SQL twin"): the pruned DP replays
# bit-for-bit in a recursive CTE because every quantity is either an
# exact integer in float64 (cents, prefix sums/squares, squared
# deviations — all << 2^53 at any per-user series length the bounded-
# group contract admits) or a single correctly-rounded IEEE op chain
# mirrored in the same order (sse = (pqΔ) - sdiff²/len; v = (fa +
# sse) + beta; keep: fa + sse <= Fa[t]). The candidate set (PELT's
# pruning state) travels as a LIST of {c, fa, psc, pqc} structs, one
# recursion row per (user, t); argmin ties break to the smallest
# candidate via a {v, c} struct-min, exactly numpy argmin's
# first-occurrence rule. beta = 2·var·ln(n) uses the EXACT-MOMENT
# variance (q - s²/n)/n — np.var's pairwise-summed mean of squared
# deviations is NOT order-replayable, the one engine change this
# conversion needed. Backtracking is a second recursive CTE walking
# prev[t] from t=n.
# ---------------------------------------------------------------------------


def _pelt_oracle(lookback: int | None = None) -> str:
    """Recursive-CTE replay of pelt_l2 (optionally bounded-lookback)."""
    src = "s.cands" if lookback is None else (
        f"list_filter(s.cands, e -> e.c >= s.t + 1 - {lookback})"
    )
    sse = (
        "(CAST(p.pq - e.pqc AS DOUBLE)"
        " - CAST((p.ps - e.psc) * (p.ps - e.psc) AS DOUBLE)"
        " / (s.t + 1 - e.c))"
    )
    return f"""
WITH RECURSIVE base AS (
    SELECT user_id, ts, event_id,
           CAST(round(value * 100.0) AS BIGINT) AS x,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
pre AS (
    SELECT user_id, rn, ts,
           SUM(x) OVER (PARTITION BY user_id ORDER BY rn) AS ps,
           SUM(x * x) OVER (PARTITION BY user_id ORDER BY rn) AS pq
    FROM base
),
beta_u AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CASE WHEN COUNT(*) > 1
                     AND ((CAST(SUM(x * x) AS DOUBLE)
                           - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                             / COUNT(*)) / COUNT(*)) > 0
                THEN 2.0 * ((CAST(SUM(x * x) AS DOUBLE)
                             - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                               / COUNT(*)) / COUNT(*)) * ln(COUNT(*))
                ELSE 1.0 END AS beta
    FROM base GROUP BY user_id
),
dp AS (
    SELECT user_id, n, beta,
           CAST(0 AS BIGINT) AS t,
           -beta AS fa_t,
           CAST(0 AS BIGINT) AS prev_t,
           [{{'c': CAST(0 AS BIGINT), 'fa': -beta,
              'psc': CAST(0 AS BIGINT), 'pqc': CAST(0 AS BIGINT)}}] AS cands
    FROM beta_u
    UNION ALL
    SELECT user_id, n, beta, t1,
           best.v AS fa_t,
           best.c AS prev_t,
           list_append(
               list_transform(list_filter(scored, e -> e.u <= best.v),
                              e -> {{'c': e.c, 'fa': e.fa,
                                     'psc': e.psc, 'pqc': e.pqc}}),
               {{'c': t1, 'fa': best.v, 'psc': ps_t, 'pqc': pq_t}}) AS cands
    FROM (
        SELECT q.*,
               list_aggregate(list_transform(q.scored,
                              e -> {{'v': e.v, 'c': e.c}}), 'min') AS best
        FROM (
            SELECT s.user_id, s.n, s.beta, s.t + 1 AS t1,
                   p.ps AS ps_t, p.pq AS pq_t,
                   list_transform({src},
                     e -> {{'u': e.fa + {sse},
                            'v': (e.fa + {sse}) + s.beta,
                            'c': e.c, 'fa': e.fa,
                            'psc': e.psc, 'pqc': e.pqc}}) AS scored
            FROM dp s
            JOIN pre p ON p.user_id = s.user_id AND p.rn = s.t + 1
            WHERE s.t < s.n
        ) q
    )
),
walk AS (
    SELECT user_id, n AS t FROM beta_u
    UNION ALL
    SELECT w.user_id, d.prev_t
    FROM walk w JOIN dp d ON d.user_id = w.user_id AND d.t = w.t
    WHERE w.t > 0
),
bounds AS (
    SELECT user_id, t,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t) AS bi
    FROM (SELECT DISTINCT user_id, t FROM walk)
),
segs AS (
    SELECT lo.user_id, CAST(lo.bi - 1 AS INTEGER) AS seg_idx,
           lo.t AS lo, hi.t AS hi
    FROM bounds lo JOIN bounds hi
      ON hi.user_id = lo.user_id AND hi.bi = lo.bi + 1
)
SELECT s.user_id, s.seg_idx,
       strftime(p_lo.ts, '%Y-%m-%d %H:%M:%S') AS start_ts_s,
       strftime(p_hi.ts, '%Y-%m-%d %H:%M:%S') AS end_ts_s,
       CAST(s.hi - s.lo AS BIGINT) AS n_pts,
       CAST(p_hi.ps - COALESCE(p_lo0.ps, 0) AS DOUBLE) / (s.hi - s.lo)
           AS mean_cents
FROM segs s
JOIN pre p_lo ON p_lo.user_id = s.user_id AND p_lo.rn = s.lo + 1
JOIN pre p_hi ON p_hi.user_id = s.user_id AND p_hi.rn = s.hi
LEFT JOIN pre p_lo0 ON p_lo0.user_id = s.user_id AND p_lo0.rn = s.lo
"""


def _segment_per_user(ev: DataFrame, solve) -> DataFrame:
    """One row per segment of each user's value series, split by
    ``solve(cents, beta)`` (interior changepoint indices, ascending):
    the runner of ts_pelt_segments, ts_pelt_bounded and
    ts_binseg_segments, which differ only in the solver.

    One shuffle on user_id into the sanctioned sequential boundary.
    Rows sort by (ts, event_id); the penalty is beta = 2*var*ln n.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(ev.sparkSession)

    def run(pdf):
        import math

        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        # half-away-from-zero cents, NOT np.round: banker's rounding
        # diverges from the oracle's SQL round() on exact half-cent
        # doubles (0.125*100 = 12.5 -> np 12, SQL 13); floor(|v|+0.5)
        # is SQL round's semantics and safe in this magnitude range
        v100 = pdf["value"].to_numpy(dtype="float64") * 100.0
        xs = np.sign(v100) * np.floor(np.abs(v100) + 0.5)
        n = len(xs)
        # exact-moment variance, NOT np.var: the pairwise-summed mean
        # of squared deviations inside np.var is accumulation-order-
        # dependent, while q - s^2/n over exact integer moments is a
        # fixed correctly-rounded op chain the SQL oracle replays
        s_tot = float(xs.sum())
        q_tot = float((xs * xs).sum())
        var = (q_tot - s_tot * s_tot / n) / n if n > 0 else 0.0
        beta = 2.0 * var * math.log(n) if n > 1 and var > 0 else 1.0
        bounds = [0] + solve(xs, beta) + [n]
        rows = []
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            rows.append(
                {
                    "user_id": pdf["user_id"].iloc[0],
                    "seg_idx": i,
                    "start_ts_s": pdf["ts"].iloc[lo].strftime("%Y-%m-%d %H:%M:%S"),
                    "end_ts_s": pdf["ts"].iloc[hi - 1].strftime("%Y-%m-%d %H:%M:%S"),
                    "n_pts": hi - lo,
                    "mean_cents": float(xs[lo:hi].sum() / (hi - lo)),
                }
            )
        return pd.DataFrame(rows)

    return ev.select("user_id", "event_id", "ts", "value").groupBy("user_id").applyInPandas(
        run,
        "user_id bigint, seg_idx int, start_ts_s string, end_ts_s string, "
        "n_pts long, mean_cents double",
    )


@query(
    "ts_pelt_segments",
    oracle=_pelt_oracle(),
    tags=("tsdb", "changepoint", "anomaly"),
)
def ts_pelt_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal piecewise-constant-mean segmentation of each user's
    value series via PELT (L2 cost, penalty 2*var*ln n) — the offline
    exact complement to the online CUSUM alarms.

    One shuffle on user_id into the sanctioned sequential boundary;
    the pruned DP is ~O(n) per series (worst case O(n^2) on
    changepoint-free noise, where pruning provably cannot fire —
    inherent to exactness). Emits one row per segment with its exact
    integer-cents bounds and mean. 100 TB swap-ins for series long
    enough that the O(n^2) worst case bites (the percentile→KLL
    "named swap" convention): ts_pelt_bounded (below) IS the
    implemented bounded-lookback variant — pelt_l2(max_lookback=L),
    O(n·L) on the worst case, exact whenever true segments are
    shorter than L; binary segmentation (O(n log n), approximate)
    remains the named alternative. See docs/scale.md.

    Oracled (r7): the pruned DP replays in a recursive CTE — see the
    block comment above _pelt_oracle; pytest additionally pins exact
    equality with the unpruned O(n^2) DP on planted and random series.
    """
    return _segment_per_user(load_table(spark, sf_dir, "events"), pelt_l2)


# W12 scale path (r7): bounded-lookback PELT — the named swap from the
# r6 verdict, implemented. L caps the DP candidate scan at O(L) per
# step (O(n*L) total even on the pruning-proof noise worst case) and
# doubles as a maximum representable segment length.
_PELT_L = 256


@query("ts_pelt_bounded", oracle=_pelt_oracle(_PELT_L), tags=("tsdb", "W12"))
def ts_pelt_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback PELT segmentation per user (L={_PELT_L}):
    identical to ts_pelt_segments except candidate segment starts
    older than L points are dropped, so the per-step scan is O(L) and
    the solve O(n*L) — linear in series length — even on pure-noise
    series where exact PELT provably degrades to O(n^2). Equal to the
    exact solver whenever every true segment is shorter than L (pinned
    in pytest); a longer stationary stretch splits at the L boundary —
    the documented price of the bound.

    Oracled (r7): same recursive-CTE replay as ts_pelt_segments with
    the lookback filter applied to the carried candidate list before
    scoring, exactly where pelt_l2 applies it; the equals-exact-PELT
    pytest remains.
    """
    return _segment_per_user(
        load_table(spark, sf_dir, "events"), partial(pelt_l2, max_lookback=_PELT_L)
    )


def _binseg_oracle() -> str:
    """Recursive-CTE replay of binseg_l2 (operators/changepoint.py).

    Level-wise recursion over OPEN segments: each recursion row is one
    segment {lo, hi, closed}; the per-segment best split is a pure
    list computation (no aggregate in the recursive term) — gains are
    evaluated by list_transform over range(lo+1, hi) against the full
    prefix-sum/square arrays carried per user in `arrays`, and the
    argmax-with-first-occurrence rule replays as a struct-min over
    {v: -gain, s: split} (smallest v = largest gain, ties to the
    smallest split index — exactly np.argmax). Every gain is the same
    fixed correctly-rounded op chain as the numpy solver (exact
    integer prefix moments in float64; sse = pqΔ - psΔ²/len; gain =
    (sse_p - sse_l) - sse_r), so the leaves are bit-identical. A
    segment whose best gain fails the strict `> beta` test (or that
    has < 2 points) re-emits itself `closed`; the final answer is the
    closed rows. Carrying O(n_s) arrays per open-segment row is an
    oracle-side cost only (the engine never does this).
    """
    return """
WITH RECURSIVE base AS (
    SELECT user_id, ts, event_id,
           CAST(round(value * 100.0) AS BIGINT) AS x,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
pre AS (
    SELECT user_id, rn, ts,
           CAST(SUM(x) OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS ps,
           CAST(SUM(x * x) OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS pq
    FROM base
),
arrays AS (
    SELECT user_id,
           list_prepend(CAST(0 AS BIGINT), list(ps ORDER BY rn)) AS psl,
           list_prepend(CAST(0 AS BIGINT), list(pq ORDER BY rn)) AS pql,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pre GROUP BY user_id
),
beta_u AS (
    SELECT user_id,
           CASE WHEN COUNT(*) > 1
                     AND ((CAST(SUM(x * x) AS DOUBLE)
                           - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                             / COUNT(*)) / COUNT(*)) > 0
                THEN 2.0 * ((CAST(SUM(x * x) AS DOUBLE)
                             - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                               / COUNT(*)) / COUNT(*)) * ln(COUNT(*))
                ELSE 1.0 END AS beta
    FROM base GROUP BY user_id
),
segs AS (
    SELECT a.user_id, CAST(0 AS BIGINT) AS lo, a.n AS hi, (a.n < 2) AS closed
    FROM arrays a
    UNION ALL
    SELECT w.user_id,
           CAST(u.ch['lo'] AS BIGINT) AS lo,
           CAST(u.ch['hi'] AS BIGINT) AS hi,
           CAST(u.ch['closed'] AS BOOLEAN) AS closed
    FROM (
        SELECT q.user_id,
               CASE WHEN q.best IS NOT NULL AND -q.best.v > q.beta THEN
                    [{'lo': q.lo, 'hi': q.best.s, 'closed': q.best.s - q.lo < 2},
                     {'lo': q.best.s, 'hi': q.hi, 'closed': q.hi - q.best.s < 2}]
               ELSE [{'lo': q.lo, 'hi': q.hi, 'closed': TRUE}] END AS children
        FROM (
            SELECT s.user_id, s.lo, s.hi, b.beta,
                   list_aggregate(
                     list_transform(range(s.lo + 1, s.hi),
                       sp -> {'v': -(((CAST(a.pql[s.hi + 1] - a.pql[s.lo + 1] AS DOUBLE)
                                       - CAST((a.psl[s.hi + 1] - a.psl[s.lo + 1])
                                              * (a.psl[s.hi + 1] - a.psl[s.lo + 1]) AS DOUBLE)
                                         / (s.hi - s.lo))
                                      - (CAST(a.pql[sp + 1] - a.pql[s.lo + 1] AS DOUBLE)
                                         - CAST((a.psl[sp + 1] - a.psl[s.lo + 1])
                                                * (a.psl[sp + 1] - a.psl[s.lo + 1]) AS DOUBLE)
                                           / (sp - s.lo)))
                                     - (CAST(a.pql[s.hi + 1] - a.pql[sp + 1] AS DOUBLE)
                                        - CAST((a.psl[s.hi + 1] - a.psl[sp + 1])
                                               * (a.psl[s.hi + 1] - a.psl[sp + 1]) AS DOUBLE)
                                          / (s.hi - sp))),
                              's': sp}),
                     'min') AS best
            FROM segs s
            JOIN arrays a ON a.user_id = s.user_id
            JOIN beta_u b ON b.user_id = s.user_id
            WHERE NOT s.closed
        ) q
    ) w, UNNEST(w.children) AS u(ch)
),
final_segs AS (
    SELECT user_id, lo, hi,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lo) - 1
                AS INTEGER) AS seg_idx
    FROM segs WHERE closed
)
SELECT s.user_id AS user_id, s.seg_idx,
       strftime(p_lo.ts, '%Y-%m-%d %H:%M:%S') AS start_ts_s,
       strftime(p_hi.ts, '%Y-%m-%d %H:%M:%S') AS end_ts_s,
       CAST(s.hi - s.lo AS BIGINT) AS n_pts,
       CAST(p_hi.ps - COALESCE(p_lo0.ps, 0) AS DOUBLE) / (s.hi - s.lo)
           AS mean_cents
FROM final_segs s
JOIN pre p_lo ON p_lo.user_id = s.user_id AND p_lo.rn = s.lo + 1
JOIN pre p_hi ON p_hi.user_id = s.user_id AND p_hi.rn = s.hi
LEFT JOIN pre p_lo0 ON p_lo0.user_id = s.user_id AND p_lo0.rn = s.lo
"""


@query(
    "ts_binseg_segments",
    oracle=_binseg_oracle(),
    tags=("tsdb", "changepoint", "W12"),
)
def ts_binseg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint split per user — the greedy
    O(n log n)-typical approximate alternative to exact PELT named in
    ts_pelt_segments' docstring (now implemented and oracled,
    completing W12's both-swaps treatment alongside ts_pelt_bounded).
    Same penalty (beta = 2*var*ln n, exact-moment variance), same
    integer-cents quantization, same output contract as the PELT pair,
    so the three results are directly comparable; greedy splits may
    differ from PELT's optimum (pinned both ways in
    tests/test_r9_ops.py — equality on well-separated planted steps,
    a constructed divergence case where greediness misses the
    up-then-down double step).

    Oracled (r9): the greedy recursion replays leaf-for-leaf in a
    recursive CTE — see _binseg_oracle. One shuffle on user_id into
    the sanctioned sequential boundary, same as ts_pelt_segments.
    """
    return _segment_per_user(load_table(spark, sf_dir, "events"), binseg_l2)


# ---------------------------------------------------------------------------
# Weekly activity profile: (day-of-week x hour) heatmap (A6 family)
# ---------------------------------------------------------------------------


@query(
    "ts_weekly_profile",
    oracle=f"""
SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
""",
    tags=("tsdb", "A6", "profile"),
)
def ts_weekly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic ops heatmap: event count and decimal-exact value sum
    per (day-of-week, hour-of-day) cell. DOW convention 0=Monday on
    both sides (Spark weekday() == DuckDB isodow()-1 — engines
    disagree on dayofweek()'s anchor, so the oracle pins the ISO one).
    One map-side projection + one 168-cell hash agg; scale-trivial.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.weekday("ts").alias("dow"),
            F.hour("ts").alias("hod"),
            "value",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Timezone-aware local-day aggregation (DST-correct calendar bucketing)
# ---------------------------------------------------------------------------


@query(
    "ts_local_day_agg",
    oracle=f"""
SELECT strftime(date_trunc('day',
           ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'),
           '%Y-%m-%d') AS local_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1
""",
    tags=("tsdb", "A6", "timezone"),
)
def ts_local_day_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LOCAL-calendar-day rollup in America/New_York — the
    DST-correct day bucket (a local day is 23 h on spring-forward and
    25 h on fall-back; fixed-width epoch buckets get both wrong).

    Both engines resolve the zone through the IANA tzdb: Spark
    `from_utc_timestamp` and DuckDB's double `AT TIME ZONE` produce
    the same local wall clock (spring-forward boundary pinned in a
    planted test — the fixture itself spans January only). Scale: same
    map-side projection + tiny hash agg as any day rollup; the tz
    conversion is a pure per-row function, pushdown-neutral.
    """
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    return (
        ev.select(F.date_format(F.date_trunc("day", local), "yyyy-MM-dd").alias("local_day"), "value")
        .groupBy("local_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential patterns: event-type trigram frequencies (order mining lite)
# ---------------------------------------------------------------------------


@query(
    "ts_event_trigrams",
    oracle="""
WITH s AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM s WHERE t3 IS NOT NULL
GROUP BY 1, 2, 3
""",
    tags=("tsdb", "sequence", "W2"),
)
def ts_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency of consecutive event-type triples per the per-user
    (ts, event_id) order — the sequential-pattern-mining primitive
    behind funnels and behavioral n-gram features (count + distinct
    users exhibiting each path).

    One user-keyed sort window produces both leads; the agg is exact
    integer counts. The alphabet is small (5 types -> <=125 trigram
    keys), so the final agg is broadcast-tiny at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        s.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test per series (A3c) — the
# distribution-shape complement to ts_value_drift_psi's binned PSI
# ---------------------------------------------------------------------------


@query(
    "ts_ks_drift",
    oracle="""
WITH b AS (
    SELECT event_type,
           CAST(round(value * 100.0) AS BIGINT) AS c,
           CASE WHEN epoch_us(ts) * 2 <= mn + mx THEN 1 ELSE 0 END AS is_a
    FROM events,
         (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events)
),
n AS (
    SELECT event_type,
           CAST(SUM(is_a) AS BIGINT) AS na,
           CAST(SUM(1 - is_a) AS BIGINT) AS nb
    FROM b GROUP BY event_type
),
cum AS (
    SELECT event_type, c,
           SUM(is_a) OVER w AS ca,
           SUM(1 - is_a) OVER w AS cb
    FROM b
    WINDOW w AS (PARTITION BY event_type ORDER BY c
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
    SELECT cum.event_type,
           MAX(abs(CAST(cum.ca AS HUGEINT) * n.nb
                   - CAST(cum.cb AS HUGEINT) * n.na)) AS ks_num
    FROM cum JOIN n ON n.event_type = cum.event_type
    GROUP BY cum.event_type
)
SELECT d.event_type, n.na, n.nb,
       CAST(d.ks_num AS BIGINT) AS ks_num,
       round(CAST(d.ks_num AS DOUBLE)
             / (CAST(n.na AS DOUBLE) * CAST(n.nb AS DOUBLE)), 6) AS ks
FROM d JOIN n ON n.event_type = d.event_type
""",
    tags=("tsdb", "A3c", "drift", "anomaly"),
)
def ts_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic per event type between the first and
    second half of the time range (split at the global midpoint):
    D = max_x |F_first(x) - F_second(x)| — the binning-free drift
    detector next to PSI.

    Exactness end to end: cents are integers, the empirical-CDF gap is
    maximized as the CROSS-MULTIPLIED integer |ca*nb - cb*na| (exact
    in decimal38/HUGEINT; ties handled by the RANGE frame, which
    includes all equal values — precisely the <= of an ECDF), and only
    the final reported D divides. One partitioned sort window + two
    tiny aggs; nothing global, nothing collected.
    """
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    b = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        fx("value").alias("c"),
        (F.unix_micros("ts") * 2 <= F.col("mn") + F.col("mx"))
        .cast("int")
        .alias("is_a"),
    )
    n = b.groupBy("event_type").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("nb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.select(
        "event_type",
        F.sum("is_a").over(w).alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).over(w).alias("cb"),
    )
    d = (
        cum.join(n, "event_type")
        .select(
            "event_type",
            "na",
            "nb",
            F.abs(dec("ca", 38, 0) * dec("nb", 38, 0) - dec("cb", 38, 0) * dec("na", 38, 0)).alias(
                "gap"
            ),
        )
        .groupBy("event_type")
        .agg(F.max("gap").alias("ks_num"), F.max("na").alias("na"), F.max("nb").alias("nb"))
    )
    return d.select(
        "event_type",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("ks_num").cast("bigint").alias("ks_num"),
        F.round(
            F.col("ks_num").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double")),
            6,
        ).alias("ks"),
    )


# ---------------------------------------------------------------------------
# A3d: Welch's t between every pair of event-type value distributions
# ---------------------------------------------------------------------------


@query(
    "ts_welch_t_pairs",
    oracle="""
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT)) AS HUGEINT) AS s,
           SUM(CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT)
               * CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT)) AS q
    FROM events GROUP BY event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb,
       round((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
              - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
             / SQRT(
                 (CAST(a.n * a.q - a.s * a.s AS DOUBLE)
                  / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE)))
                     / CAST(a.n AS DOUBLE)
               + (CAST(b.n * b.q - b.s * b.s AS DOUBLE)
                  / (CAST(b.n AS DOUBLE) * CAST(b.n - 1 AS DOUBLE)))
                     / CAST(b.n AS DOUBLE)), 6) AS t_welch
FROM m a JOIN m b ON a.event_type < b.event_type
WHERE a.n > 1 AND b.n > 1
  AND a.n * a.q - a.s * a.s + (b.n * b.q - b.s * b.s) > 0
""",
    tags=("tsdb", "A3d", "abtest"),
)
def ts_welch_t_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between every pair of
    event-type value distributions — the A/B-test primitive on series
    values (mean difference scaled by independent standard errors).

    All moments are exact integers (cents, decimal38/HUGEINT); the t
    expression is one mirrored double sequence with a single
    IEEE-exact SQRT, rounded 6dp. Degenerate guard (pooled variance
    numerator 0 or n<=1) is integer-exact, pre-division. The pair
    join runs on the 5-row moments table — free.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type", dec(fx("value"), 38, 0).alias("c")).groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("an"), F.col("s").alias("as_"), F.col("q").alias("aq"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("bn"), F.col("s").alias("bs"), F.col("q").alias("bq"),
    )
    D = lambda c: c.cast("double")
    var_num_a = F.col("an") * F.col("aq") - F.col("as_") * F.col("as_")
    var_num_b = F.col("bn") * F.col("bq") - F.col("bs") * F.col("bs")
    t = (
        D(F.col("as_")) / D(F.col("an")) - D(F.col("bs")) / D(F.col("bn"))
    ) / F.sqrt(
        (D(var_num_a) / (D(F.col("an")) * D(F.col("an") - 1))) / D(F.col("an"))
        + (D(var_num_b) / (D(F.col("bn")) * D(F.col("bn") - 1))) / D(F.col("bn"))
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .filter(
            (F.col("an") > 1)
            & (F.col("bn") > 1)
            & (var_num_a + var_num_b > 0)
        )
        .select(
            "type_a",
            "type_b",
            F.col("an").cast("bigint").alias("na"),
            F.col("bn").cast("bigint").alias("nb"),
            F.round(t, 6).alias("t_welch"),
        )
    )


# ---------------------------------------------------------------------------
# Behavioral cohort overlap: Jaccard of user sets between event types
# ---------------------------------------------------------------------------


@query(
    "ts_type_user_jaccard",
    oracle="""
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY event_type),
inter AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM tu a JOIN tu b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, na.n AS n_a, nb.n AS n_b, i.n_inter,
       round(CAST(i.n_inter AS DOUBLE)
             / CAST(na.n + nb.n - i.n_inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN n na ON na.event_type = i.type_a
JOIN n nb ON nb.event_type = i.type_b
""",
    tags=("tsdb", "cohort", "setsim"),
)
def ts_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of the USER sets behind every pair of event
    types — the behavioral-cohort similarity matrix (who clicks also
    buys?). Dedup to (type, user) first (the only data-sized shuffle),
    then the intersection join runs on deduped pairs keyed by user;
    sizes come from exact distinct counts. Same dedup-first discipline
    as ts_rolling_actives.
    """
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    n = tu.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Composed alert-rule pipeline: three detectors, one declarative plan
# ---------------------------------------------------------------------------

from . import REGISTRY as _REG  # noqa: E402  (registered above in this module)


@query(
    "pipeline_alert_rules",
    oracle=f"""
SELECT 'burst' AS rule, CAST(user_id AS VARCHAR) AS entity,
       bucket_ts AS at, CAST(cnt AS DOUBLE) AS score
FROM ({_REG['ts_burst_detect'].oracle}) WHERE is_burst = 1
UNION ALL
SELECT 'sla_downtime', CAST(user_id AS VARCHAR), '',
       round(availability, 6)
FROM ({_REG['ts_sla_availability'].oracle}) WHERE n_downtimes > 0
UNION ALL
SELECT 'mad_outliers', event_type, '', CAST(n_outliers AS DOUBLE)
FROM ({_REG['ts_mad_outliers'].oracle}) WHERE n_outliers > 0
""",
    tags=("tsdb", "pipeline", "alerting"),
)
def pipeline_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alert-rule engine shape: three independent detectors —
    trailing-baseline bursts, heartbeat-gap SLA violations, MAD
    robust outliers — evaluated and UNIONed into one normalized
    (rule, entity, at, score) stream in a single declarative plan.

    Built by composing the registered detector queries (their fns AND
    their oracle SQL nest verbatim), so this pipeline inherits each
    component's exactness proof; Catalyst still fuses and prunes each
    branch independently, and the union is append-cheap at any scale
    (the production form points the same plan at the streaming tier).
    """
    burst = (
        _REG["ts_burst_detect"].fn(spark, sf_dir)
        .filter(F.col("is_burst") == 1)
        .select(
            F.lit("burst").alias("rule"),
            F.col("user_id").cast("string").alias("entity"),
            F.col("bucket_ts").alias("at"),
            F.col("cnt").cast("double").alias("score"),
        )
    )
    sla = (
        _REG["ts_sla_availability"].fn(spark, sf_dir)
        .filter(F.col("n_downtimes") > 0)
        .select(
            F.lit("sla_downtime").alias("rule"),
            F.col("user_id").cast("string").alias("entity"),
            F.lit("").alias("at"),
            F.round(F.col("availability"), 6).alias("score"),
        )
    )
    mad = (
        _REG["ts_mad_outliers"].fn(spark, sf_dir)
        .filter(F.col("n_outliers") > 0)
        .select(
            F.lit("mad_outliers").alias("rule"),
            F.col("event_type").alias("entity"),
            F.lit("").alias("at"),
            F.col("n_outliers").cast("double").alias("score"),
        )
    )
    return burst.unionByName(sla).unionByName(mad)


# ---------------------------------------------------------------------------
# Storage analytics: Gorilla-style delta-of-delta size estimation
# ---------------------------------------------------------------------------


@query(
    "ts_gorilla_size_estimate",
    oracle="""
WITH s AS (
    SELECT user_id,
           epoch_us(ts) // 1000000 AS t,
           CAST(round(value * 100.0) AS BIGINT) AS c,
           ROW_NUMBER() OVER w AS rn,
           lag(epoch_us(ts) // 1000000, 1) OVER w AS t1,
           lag(epoch_us(ts) // 1000000, 2) OVER w AS t2,
           lag(CAST(round(value * 100.0) AS BIGINT), 1) OVER w AS c1,
           lag(CAST(round(value * 100.0) AS BIGINT), 2) OVER w AS c2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
bits AS (
    SELECT user_id,
           CASE WHEN rn = 1 THEN 64
                WHEN rn = 2 THEN 27
                ELSE CASE
                    WHEN (t - t1) - (t1 - t2) = 0 THEN 1
                    WHEN (t - t1) - (t1 - t2) BETWEEN -63 AND 64 THEN 9
                    WHEN (t - t1) - (t1 - t2) BETWEEN -255 AND 256 THEN 12
                    WHEN (t - t1) - (t1 - t2) BETWEEN -2047 AND 2048 THEN 16
                    ELSE 36 END END AS t_bits,
           CASE WHEN rn = 1 THEN 64
                WHEN rn = 2 THEN 27
                ELSE CASE
                    WHEN (c - c1) - (c1 - c2) = 0 THEN 1
                    WHEN (c - c1) - (c1 - c2) BETWEEN -63 AND 64 THEN 9
                    WHEN (c - c1) - (c1 - c2) BETWEEN -255 AND 256 THEN 12
                    WHEN (c - c1) - (c1 - c2) BETWEEN -2047 AND 2048 THEN 16
                    ELSE 36 END END AS v_bits
    FROM s
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(SUM(t_bits) AS BIGINT) AS ts_bits,
       CAST(SUM(v_bits) AS BIGINT) AS val_bits,
       CAST((SUM(t_bits) + SUM(v_bits) + 7) // 8 AS BIGINT) AS bytes_total,
       CAST((SUM(t_bits) + SUM(v_bits)) * 1000000 // (COUNT(*) * 8)
            AS DOUBLE) / 1000000.0 AS bytes_per_point
FROM bits GROUP BY user_id
""",
    tags=("tsdb", "storage", "compression"),
)
def ts_gorilla_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style (Facebook 2015, public paper) delta-of-delta size
    estimate per series: the bit cost of each point's timestamp (epoch
    seconds) and value (cents) under the paper's dod bucket widths
    {0:1, +-64:9, +-256:12, +-2048:16, else:36}, with 64-bit headers
    and 27-bit first deltas. The what-if query behind retention/tier
    sizing — how small would this series be in a compressed TSDB
    block store?

    Pure integer arithmetic end to end (the only division is the final
    reported bytes/point); one user-keyed sort window produces all
    four lags. The same plan over the rollup tiers estimates each
    tier's footprint.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.expr("unix_micros(ts) div 1000000")
    c = fx("value")
    s = ev.select(
        "user_id",
        t.alias("t"),
        c.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.lag(t, 1).over(w).alias("t1"),
        F.lag(t, 2).over(w).alias("t2"),
        F.lag(c, 1).over(w).alias("c1"),
        F.lag(c, 2).over(w).alias("c2"),
    )

    def dod_bits(cur, l1, l2):
        dod = (F.col(cur) - F.col(l1)) - (F.col(l1) - F.col(l2))
        return (
            F.when(F.col("rn") == 1, 64)
            .when(F.col("rn") == 2, 27)
            .otherwise(
                F.when(dod == 0, 1)
                .when(dod.between(-63, 64), 9)
                .when(dod.between(-255, 256), 12)
                .when(dod.between(-2047, 2048), 16)
                .otherwise(36)
            )
        )

    bits = s.select(
        "user_id",
        dod_bits("t", "t1", "t2").alias("t_bits"),
        dod_bits("c", "c1", "c2").alias("v_bits"),
    )
    total = F.sum("t_bits") + F.sum("v_bits")
    return bits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
        F.sum("t_bits").cast("bigint").alias("ts_bits"),
        F.sum("v_bits").cast("bigint").alias("val_bits"),
        F.expr("CAST((sum(t_bits) + sum(v_bits) + 7) div 8 AS BIGINT)").alias(
            "bytes_total"
        ),
        # bits/8/n is a dyadic rational that can land EXACTLY on the
        # 6dp round-half boundary (seen at sf0.1: 8.3171875), where the
        # engines' round-half modes differ — so fix the precision by
        # integer floor division instead (midpoint rule,
        # docs/determinism.md)
        (
            F.expr(
                "CAST((sum(t_bits) + sum(v_bits)) * 1000000 "
                "div (count(1) * 8) AS DOUBLE)"
            )
            / F.lit(1000000.0)
        ).alias("bytes_per_point"),
    )


# ---------------------------------------------------------------------------
# Lead-lag discovery: best cross-correlation lag between series pairs
# ---------------------------------------------------------------------------


@query(
    "ts_xcorr_best_lag",
    oracle=f"""
WITH hourly AS (
    SELECT {sql_time_bucket('ts', 3600)} AS bucket, event_type,
           CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY bucket, event_type
),
shifted AS (
    SELECT h.event_type, l.l,
           h.bucket - to_microseconds(l.l * 3600000000) AS k,
           h.v
    FROM hourly h CROSS JOIN (SELECT unnest(range(-6, 7)) AS l) l
),
pairs AS (
    SELECT a.event_type AS type_a, s.event_type AS type_b, s.l,
           CAST(a.v AS HUGEINT) AS x, CAST(s.v AS HUGEINT) AS y
    FROM hourly a JOIN shifted s ON a.bucket = s.k
    WHERE a.event_type < s.event_type
),
m AS (
    SELECT type_a, type_b, l, CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs GROUP BY type_a, type_b, l
),
c AS (
    SELECT type_a, type_b, l, CAST(n AS BIGINT) AS n_buckets,
           CAST(n * sxy - sx * sy AS DOUBLE)
           / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
    FROM m
    WHERE n >= 24 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                 ORDER BY abs(corr) DESC, l ASC) AS rk
    FROM c
)
SELECT type_a, type_b, CAST(l AS INTEGER) AS best_lag_hours, n_buckets, corr
FROM r WHERE rk = 1
""",
    tags=("tsdb", "corr", "leadlag"),
)
def ts_xcorr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every series pair, the hour lag in [-6, 6] that maximizes
    |corr(x_t, y_{t+lag})| — lead-lag discovery (does one metric
    anticipate another?), the shifted generalization of
    ts_series_corr.

    Shape: events collapse ONCE to the tiny hourly table; the 13-lag
    expansion applies to that table, not to events, so the join and
    moment aggs run on (buckets x types x lags) rows — thousands, at
    any corpus size. Same integer-moment exactness and degenerate
    guards as ts_series_corr; argmax tie-breaks to the smallest lag
    deterministically.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _bucket_cents(ev)
    shifted = hourly.select(
        "event_type", "v", "bucket",
        F.explode(F.sequence(F.lit(-6), F.lit(6))).alias("l"),
    ).select(
        F.col("event_type").alias("type_b"),
        F.col("l"),
        F.timestamp_micros(
            F.unix_micros("bucket") - F.col("l").cast("bigint") * F.lit(3_600_000_000)
        ).alias("k"),
        F.col("v").alias("y"),
    )
    a = hourly.select(
        F.col("event_type").alias("type_a"), F.col("bucket").alias("k"), F.col("v").alias("x")
    )
    m = (
        a.join(shifted, "k")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b", "l")
        .agg(*moment_sums("x", "y"))
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = n * F.col("syy") - F.col("sy") * F.col("sy")
    c = m.filter((F.col("n") >= 24) & (denx > 0) & (deny > 0)).select(
        "type_a",
        "type_b",
        "l",
        F.col("n").cast("bigint").alias("n_buckets"),
        (num / F.sqrt(denx.cast("double") * deny.cast("double"))).alias("corr"),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.abs(F.col("corr")).desc(), F.col("l").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("l").cast("int").alias("best_lag_hours"),
            "n_buckets",
            "corr",
        )
    )


# ---------------------------------------------------------------------------
# Information content: Shannon entropy of each series' value histogram
# ---------------------------------------------------------------------------


@query(
    "ts_entropy_by_type",
    oracle="""
WITH h AS (
    SELECT event_type,
           CAST(round(value * 100.0) AS BIGINT) // 500 AS bin,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY event_type)
SELECT h.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       n.n AS n_events,
       CAST(SUM(CAST(round(round(
               -(CAST(h.cnt AS DOUBLE) / CAST(n.n AS DOUBLE))
               * ln(CAST(h.cnt AS DOUBLE) / CAST(n.n AS DOUBLE)), 9) * 1000000000.0, 0)
             AS BIGINT)) AS DOUBLE) / 1000000000.0 AS entropy_nats
FROM h JOIN n ON n.event_type = h.event_type
GROUP BY h.event_type, n.n
""",
    tags=("tsdb", "entropy", "A3"),
)
def ts_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each event type's value distribution
    over fixed $5 bins — the information-content / spread diagnostic
    (uniform vs spiky value profiles).

    Each bin's -p ln p term is rounded 9dp then carried as 1e9
    fixed-point integers so the per-type sum is addition-order-immune
    (the PSI discipline: libm rule + round-before-integer-cast rule
    combined). Two hash aggs; the bin histogram is the only shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            "event_type",
            F.expr("CAST(round(value * 100.0) AS BIGINT) div 500").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    n = h.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term_fp = F.round(F.round(-p * F.log(p), 9) * F.lit(1e9), 0).cast("long")
    return (
        h.join(F.broadcast(n), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            (F.sum(term_fp).cast("double") / F.lit(1e9)).alias("entropy_nats"),
        )
        .select(
            "event_type",
            "n_bins",
            F.col("n").alias("n_events"),
            "entropy_nats",
        )
    )


# ---------------------------------------------------------------------------
# Ingest-order diagnostics: arrival-vs-event-time concordance
# ---------------------------------------------------------------------------


@query(
    "ts_order_inversions",
    oracle="""
WITH p AS (
    SELECT a.user_id,
           CAST(CASE WHEN (epoch_us(b.ts) - epoch_us(a.ts)) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS conc,
           CAST(CASE WHEN (epoch_us(b.ts) - epoch_us(a.ts)) < 0 THEN 1 ELSE 0 END
                AS BIGINT) AS disc
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS n_concordant,
       CAST(SUM(disc) AS BIGINT) AS n_discordant,
       round(CAST(SUM(conc) - SUM(disc) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS kendall_tau
FROM p GROUP BY user_id
""",
    tags=("tsdb", "ingest", "ordering"),
)
def ts_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion diagnostics per series: Kendall's tau
    between ARRIVAL order (event_id — the ingest sequence) and EVENT
    time. tau = 1 means perfectly in-order arrival; every discordant
    pair is a late event that a watermark must absorb — the statistic
    behind choosing `withWatermark` bounds.

    Same bounded-series pairwise shape as ts_theil_sen (one user_id
    co-partitioned self-join, O(n_s^2) per series with constant
    per-series density; the merge-sort inversion counter is the
    documented swap-in for unbounded series). Integer-exact counts;
    one final division, rounded.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "event_id", F.unix_micros("ts").alias("t"))
    a = base.alias("a")
    b = base.alias("b")
    dt = F.col("b.t") - F.col("a.t")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (dt > 0).cast("bigint").alias("conc"),
        (dt < 0).cast("bigint").alias("disc"),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("conc").cast("bigint").alias("n_concordant"),
        F.sum("disc").cast("bigint").alias("n_discordant"),
        F.round(
            (F.sum("conc") - F.sum("disc")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("kendall_tau"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: purchases credited to the nearest preceding
# click within 24h (the as-of join's marquee application)
# ---------------------------------------------------------------------------


@query(
    "ts_attribution_last_touch",
    oracle="""
WITH purchases AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
j AS (
    SELECT p.user_id, p.event_id, p.ts, c.click_id, c.click_ts,
           ROW_NUMBER() OVER (PARTITION BY p.event_id
                              ORDER BY c.click_ts DESC, c.click_id DESC) AS rk
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.ts
     AND epoch_us(p.ts) - epoch_us(c.click_ts) <= CAST(86400 AS BIGINT) * 1000000
)
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_attributed,
       CAST((SELECT COUNT(*) FROM purchases p2 WHERE p2.user_id = j.user_id)
            AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN rk = 1
                THEN epoch_us(ts) - epoch_us(click_ts) ELSE 0 END) AS BIGINT)
           AS total_lag_us
FROM j GROUP BY user_id
""",
    tags=("tsdb", "J6", "attribution"),
)
def ts_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing last-touch attribution: each purchase is credited to
    the user's nearest PRECEDING click within a 24-hour window — the
    as-of join's marquee application (asof_join with
    tolerance_seconds). Emits per-user attributed counts, total
    purchases, and the exact integer click-to-purchase lag sum.

    The operator path is the audited union+carry as-of join (one
    shuffle, no range explosion); the oracle expresses the same
    semantics as a windowed argmax so the hash compare cross-proves
    the carry implementation against a direct specification.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    j = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_id"],
        tolerance_seconds=86400,
    )
    n_purch = purchases.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
    agg = j.groupBy("user_id").agg(
        F.sum(F.col("click_id_r").isNotNull().cast("int")).cast("bigint").alias(
            "n_attributed"
        ),
        F.sum(
            F.when(
                F.col("click_id_r").isNotNull(),
                F.unix_micros("ts") - F.unix_micros("click_ts_r"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("total_lag_us"),
    )
    return (
        agg.join(n_purch, "user_id")
        .filter(F.col("n_attributed") > 0)
        .select("user_id", "n_attributed", "n_purchases", "total_lag_us")
    )


# ---------------------------------------------------------------------------
# Ingest debounce: drop same-type repeats within a refractory window
# ---------------------------------------------------------------------------


@query(
    "ts_debounce",
    oracle="""
WITH s AS (
    SELECT user_id, event_type, event_id, ts,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS prev_us
    FROM events
)
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_us IS NOT NULL
                 AND epoch_us(ts) - prev_us < CAST(3600 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
       CAST(COUNT(*) - SUM(CASE WHEN prev_us IS NOT NULL
                 AND epoch_us(ts) - prev_us < CAST(3600 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM s GROUP BY user_id, event_type
""",
    tags=("tsdb", "ingest", "dedup"),
)
def ts_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce accounting: per (user, type), how many events fall
    within one hour of the previous same-type event (the refractory
    window an ingest pipeline would suppress — double-clicks, retry
    storms) vs how many survive. Note the chain semantics: each event
    compares to its immediate predecessor, so a burst collapses to its
    first event plus any gap > 1h — lag-based, one partitioned sort
    window, integer epoch-us throughout.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    )
    is_dup = (
        F.col("prev_us").isNotNull()
        & ((F.col("us") - F.col("prev_us")) < F.lit(3_600_000_000).cast("bigint"))
    ).cast("int")
    return s.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(is_dup).cast("bigint").alias("n_debounced"),
        (F.count(F.lit(1)) - F.sum(is_dup)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Spectral analysis: dominant period per series via FFT periodogram
# ---------------------------------------------------------------------------


@query(
    "ts_dominant_period",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY event_type, h
),
bounds AS (
    SELECT event_type, MIN(h) AS h0, MAX(h) AS h1,
           CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS n,
           SUM(y) AS s
    FROM hourly GROUP BY event_type
),
-- zero-filled regular grid, mean-removed: x_i = y_i - s/n with the
-- IDENTICAL double division the engine's grid.mean() performs
grid AS (
    SELECT b.event_type, b.n, gs.i,
           coalesce(CAST(hy.y AS DOUBLE), 0)
           - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS x
    FROM bounds b
    CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, CAST(b.n - 1 AS INTEGER))) AS i
    ) gs
    LEFT JOIN hourly hy
      ON hy.event_type = b.event_type AND hy.h = b.h0 + gs.i
),
freqs AS (
    SELECT b.event_type, b.n, ks.k
    FROM bounds b
    CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, CAST(b.n // 2 AS INTEGER))) AS k
    ) ks
),
-- naive DFT power per non-DC bin; FFT-vs-naive accumulation differs
-- only at ~1e-13 relative, absorbed by the 1e9 ratio rounding below
power AS (
    SELECT f.event_type, f.n, f.k,
           SUM(g.x * cos(2 * pi() * f.k * g.i / f.n))
           * SUM(g.x * cos(2 * pi() * f.k * g.i / f.n))
           + SUM(g.x * sin(2 * pi() * f.k * g.i / f.n))
           * SUM(g.x * sin(2 * pi() * f.k * g.i / f.n)) AS p
    FROM freqs f JOIN grid g ON g.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.k
),
tots AS (
    SELECT event_type, SUM(p) AS tot FROM power GROUP BY event_type
),
ranked AS (
    SELECT p.event_type, p.n, p.k, p.p, t.tot,
           ROW_NUMBER() OVER (
               PARTITION BY p.event_type
               ORDER BY CASE WHEN t.tot > 0
                             THEN CAST(round(p.p / t.tot * 1e9, 0) AS BIGINT)
                             ELSE 0 END DESC,
                        p.k ASC) AS rn
    FROM power p JOIN tots t ON t.event_type = p.event_type
)
SELECT b.event_type,
       b.n AS n_hours,
       CASE WHEN r.k IS NULL THEN NULL
            ELSE round(CAST(b.n AS DOUBLE) / r.k, 3) END
       AS dominant_period_hours,
       CASE WHEN r.k IS NULL THEN 0.0
            WHEN r.tot > 0 THEN round(r.p / r.tot, 6)
            ELSE 0.0 END AS peak_power_ratio
FROM bounds b
LEFT JOIN ranked r ON r.event_type = b.event_type AND r.rn = 1
""",
    tags=("tsdb", "spectral", "seasonality"),
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant cycle length per event type: the hourly cents series is
    mean-removed and the periodogram peak (numpy rFFT, excluding the
    DC bin) picked deterministically (ties -> lowest frequency). The
    seasonality DISCOVERY step that ts_seasonal_baseline and
    ts_holt_winters assume as given (period=24h).

    Same collapsed-series discipline as DTW/xcorr: one bucket agg
    shuffles events down to (type, hour) rows; the FFT runs on the
    tiny aligned series inside applyInPandas (calendar-bounded length,
    series count scales out). Gaps are zero-filled on the regular
    hourly grid — the standard periodogram convention, deterministic.
    Oracled (r7 rows-only shrink): the oracle computes the NAIVE DFT
    (per-bin cos/sin sums over the same zero-filled mean-removed
    grid); FFT and naive accumulations agree to ~1e-13 relative, so
    the peak pick compares 1e9 fixed-point power RATIOS on both sides
    (ties -> lowest k) and the reported ratio rounds at 6dp. pytest
    still pins planted 24h-cycle recovery.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).select(
        "event_type", "h", F.col("c").cast("double").alias("y")
    )

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("h").reset_index(drop=True)
        h0, h1 = int(pdf["h"].iloc[0]), int(pdf["h"].iloc[-1])
        grid = np.zeros(h1 - h0 + 1)
        grid[(pdf["h"].to_numpy(dtype=np.int64) - h0)] = pdf["y"].to_numpy()
        n = len(grid)
        x = grid - grid.mean()
        power = np.abs(np.fft.rfft(x)) ** 2
        if len(power) > 1:
            tot = float(power[1:].sum())
            if tot > 0:
                # argmax over 1e9 fixed-point POWER RATIOS (not raw
                # magnitudes): FFT-vs-naive-DFT accumulation differs at
                # ~1e-13 relative, so the rounded integers — and hence
                # the argmax and its lowest-k tiebreak — are
                # oracle-exact
                ratio_fp = np.round(power[1:] / tot * 1e9).astype(np.int64)
                k = 1 + int(np.argmax(ratio_fp))  # ties -> lowest k
                peak_ratio = float(power[k]) / tot
            else:
                k = 1
                peak_ratio = 0.0
            # unrounded: n/k is rational and CAN land exactly on a 3dp
            # half boundary (715/176 = 4.0625 did), where Python
            # banker's rounding splits from SQL half-away — both output
            # columns round JVM-side below
            period = float(n) / k
        else:
            period, peak_ratio = None, 0.0
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [n],
                "dominant_period_hours": [period],
                "peak_power_ratio": [peak_ratio],
            }
        )

    out = hourly.groupBy("event_type").applyInPandas(
        run,
        "event_type string, n_hours long, dominant_period_hours double, "
        "peak_power_ratio double",
    )
    return out.withColumn(
        "dominant_period_hours", F.round(F.col("dominant_period_hours"), 3)
    ).withColumn("peak_power_ratio", F.round(F.col("peak_power_ratio"), 6))


# ---------------------------------------------------------------------------
# W13: gaps-and-islands — daily activity streaks per user
# ---------------------------------------------------------------------------


@query(
    "ts_activity_streaks",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
    FROM events
),
isl AS (
    SELECT user_id, d,
           d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
    FROM days
),
runs AS (
    SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS run_days
    FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(run_days) AS BIGINT) AS longest_streak,
       CAST(SUM(run_days) AS BIGINT) AS active_days
FROM runs GROUP BY user_id
""",
    tags=("tsdb", "W13", "sessionize"),
)
def ts_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the classic
    gaps-and-islands reduction: distinct active days, island id =
    day_number - row_number (constant within a consecutive run), one
    count per island, then per-user streak stats (count / longest /
    total active days). The engagement-analytics staple.

    Scale: the events table collapses to DISTINCT (user, day) FIRST
    (bounded by users x calendar, not events); the only window is
    partitioned by user over that collapsed table. Integer epoch-day
    arithmetic end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_days")
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("run_days").cast("bigint").alias("longest_streak"),
        F.sum("run_days").cast("bigint").alias("active_days"),
    )


# ---------------------------------------------------------------------------
# SLO2: multi-window error-budget burn rate (SRE fast-burn alert shape)
# ---------------------------------------------------------------------------


@query(
    "ts_burn_rate",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN value > 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS fails
    FROM events GROUP BY event_type, h
),
win AS (
    SELECT event_type, h, total, fails,
           CAST(SUM(total) OVER w AS BIGINT) AS total_6h,
           CAST(SUM(fails) OVER w AS BIGINT) AS fails_6h
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT event_type, h, total, fails, total_6h, fails_6h,
       round(CAST(fails AS DOUBLE) / CAST(total AS DOUBLE), 6) AS rate_1h,
       round(CAST(fails_6h AS DOUBLE) / CAST(total_6h AS DOUBLE), 6) AS rate_6h,
       CAST(CASE WHEN fails * 1000 >= 2 * 200 * total
                  AND fails_6h * 1000 >= 200 * total_6h
             THEN 1 ELSE 0 END AS INTEGER) AS fast_burn
FROM win
""",
    tags=("tsdb", "SLO2", "alerting"),
)
def ts_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn rate per event type (the SRE
    workbook's fast-burn rule): failure = value > 300, budget = 20%;
    alert when the 1-hour failure rate burns at >= 2x budget AND the
    trailing 6-hour rate is over budget — the two-window AND that
    suppresses blips (short window alone) and stale alerts (long
    window alone).

    One (type, hour) agg collapses events to the calendar-bounded
    hourly table; the 6h lookback is a RANGE frame over the integer
    hour index (gap-correct — missing hours shrink the window, a ROWS
    frame would silently stretch it), partitioned by type. The alert
    predicate compares cross-multiplied integers — no float threshold.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            _hour().alias("h"),
            (F.col("value") > 300.0).cast("int").alias("is_fail"),
        )
        .groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total"),
            F.sum("is_fail").cast("bigint").alias("fails"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-5, Window.currentRow)
    )
    win = hourly.select(
        "event_type",
        "h",
        "total",
        "fails",
        F.sum("total").over(w).cast("bigint").alias("total_6h"),
        F.sum("fails").over(w).cast("bigint").alias("fails_6h"),
    )
    D = lambda c: c.cast("double")
    return win.select(
        "event_type",
        "h",
        "total",
        "fails",
        "total_6h",
        "fails_6h",
        F.round(D(F.col("fails")) / D(F.col("total")), 6).alias("rate_1h"),
        F.round(D(F.col("fails_6h")) / D(F.col("total_6h")), 6).alias("rate_6h"),
        (
            (F.col("fails") * 1000 >= 2 * 200 * F.col("total"))
            & (F.col("fails_6h") * 1000 >= 200 * F.col("total_6h"))
        )
        .cast("int")
        .alias("fast_burn"),
    )


# ---------------------------------------------------------------------------
# W14: rolling median (robust smoothing; exact integer midpoint)
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_median",
    oracle="""
WITH c AS (
    SELECT user_id, event_id, ts,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
w AS (
    SELECT user_id, event_id, ts, cents,
           list_sort(list(cents) OVER win) AS frame
    FROM c
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, cents,
       CAST(len(frame) AS INTEGER) AS n_win,
       CAST(frame[(len(frame) + 1) // 2]
            + frame[len(frame) // 2 + 1] AS BIGINT) AS median_cents_x2,
       CAST(frame[(len(frame) + 1) // 2]
            + frame[len(frame) // 2 + 1] AS DOUBLE) / 2.0 / 100.0
           AS rolling_median
FROM w
""",
    tags=("tsdb", "W14", "robust"),
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-event rolling median per user — the robust smoother
    that ignores spikes a rolling mean would chase. The frame is
    collected, sorted, and the median read off as the SUM of the two
    middle order statistics (equal for odd frames): pure integer cents,
    so the even-frame midpoint (the classic cross-engine round-half
    hazard) never exists — the only division is the final exact-by-2
    then one /100, the same two IEEE ops on both engines.

    Scale: the frame is ROWS-bounded (7 ints on the heap per row, not
    a percentile over the partition); one user-partitioned sort window,
    identical partitioning to the other per-series operators.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "event_id",
        "ts",
        fx("value").alias("cents"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    w = c.select(
        "user_id",
        "event_id",
        "ts",
        "cents",
        F.sort_array(F.collect_list("cents").over(win)).alias("frame"),
    )
    n = F.size("frame")
    lo = F.element_at("frame", ((n + 1) / 2).cast("int"))
    hi = F.element_at("frame", (n / 2).cast("int") + 1)
    return w.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "cents",
        n.cast("int").alias("n_win"),
        (lo + hi).cast("bigint").alias("median_cents_x2"),
        ((lo + hi).cast("double") / 2.0 / 100.0).alias("rolling_median"),
    )


# ---------------------------------------------------------------------------
# W15: scalar Kalman filter (random-walk model; recursive-CTE oracle)
# ---------------------------------------------------------------------------
# Same sanctioned-sequential-boundary contract as ts_holt_linear: the
# numpy scalar loop and the DuckDB recursive CTE execute the IDENTICAL
# IEEE op sequence (gain inlined everywhere it appears — the CTE cannot
# alias intra-SELECT, and re-evaluating the same expression yields the
# same bits). Q=1.0, R=4.0, seeds x=first value, P=R: all constants
# exact doubles. Oracle sf ceiling: the ts_ema recursive-join note.


@query(
    "ts_kalman_filter",
    oracle="""
WITH RECURSIVE seq AS (
    SELECT user_id, event_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
kf AS (
    SELECT user_id, event_id, ts, value, rn,
           value AS x, CAST(4.0 AS DOUBLE) AS p
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.ts, s.value, s.rn,
           k.x + ((k.p + CAST(1.0 AS DOUBLE))
                  / ((k.p + CAST(1.0 AS DOUBLE)) + CAST(4.0 AS DOUBLE)))
                 * (s.value - k.x) AS x,
           (CAST(1.0 AS DOUBLE)
            - ((k.p + CAST(1.0 AS DOUBLE))
               / ((k.p + CAST(1.0 AS DOUBLE)) + CAST(4.0 AS DOUBLE))))
               * (k.p + CAST(1.0 AS DOUBLE)) AS p
    FROM kf k JOIN seq s ON s.user_id = k.user_id AND s.rn = k.rn + 1
)
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
       x AS kalman, p AS err_var
FROM kf
""",
    tags=("tsdb", "W15", "statespace"),
)
def ts_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Kalman filter per user over the (ts, event_id) order —
    random-walk state model with process noise Q=1 and observation
    noise R=4: predict P+Q, gain K=(P+Q)/(P+Q+R), update
    x += K*(z-x), P = (1-K)(P+Q). Unlike the fixed-alpha EMA, the
    smoothing weight ADAPTS: high after seeding (trust data), settling
    to the steady-state gain — the state-space denoiser.

    Scale: the stateful.batch_ema contract — one shuffle on user_id
    into the sanctioned applyInPandas boundary, numpy scalar loop,
    cross-series fan-out is the parallelism; the streaming twin would
    carry (x, P) per key exactly like stream_holt carries (level,
    trend).
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        zs = pdf["value"].to_numpy(dtype="float64")
        n = len(zs)
        xs = np.empty(n)
        ps = np.empty(n)
        x = p = 0.0
        for i in range(n):
            z = zs[i]
            if i == 0:
                x, p = z, 4.0
            else:
                pp = p + 1.0
                k = pp / (pp + 4.0)
                x = x + k * (z - x)
                p = (1.0 - k) * pp
            xs[i] = x
            ps[i] = p
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts_s": pdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": pdf["value"],
                "kalman": xs,
                "err_var": ps,
            }
        )

    return (
        ev.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            run,
            "user_id bigint, event_id bigint, ts_s string, value double, "
            "kalman double, err_var double",
        )
    )


# ---------------------------------------------------------------------------
# A6f: multi-resolution rollup — 1h/6h/24h tiers from ONE raw scan
# ---------------------------------------------------------------------------


@query(
    "ts_multi_resolution",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, h
)
SELECT CAST(3600 AS BIGINT) AS width_s, event_type, h AS bucket,
       cents, n
FROM hourly
UNION ALL
SELECT CAST(21600 AS BIGINT), event_type, h // 6,
       CAST(SUM(cents) AS BIGINT), CAST(SUM(n) AS BIGINT)
FROM hourly GROUP BY event_type, h // 6
UNION ALL
SELECT CAST(86400 AS BIGINT), event_type, h // 24,
       CAST(SUM(cents) AS BIGINT), CAST(SUM(n) AS BIGINT)
FROM hourly GROUP BY event_type, h // 24
""",
    tags=("tsdb", "A6f", "rollup"),
)
def ts_multi_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three serving tiers (1h / 6h / 24h) materialized in ONE
    query: the raw table shuffles exactly once (into the hourly agg);
    the 6h and 24h tiers re-aggregate FROM the hourly tier by integer
    bucket division — the tier-algebra contract ts_tier_routed_daily
    proves pairwise, here as the single-pass materialization a rollup
    scheduler would run. Exact cents sums make tier equality
    bit-checkable.

    Scale: the naive alternative (explode each event into 3 width
    rows, or 3 separate scans) triples scan or shuffle volume; this
    shape pays raw->hourly once and the coarser tiers aggregate
    calendar-bounded inputs.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(
        ev, F.count(F.lit(1)).cast("bigint").alias("n")
    ).withColumnRenamed("c", "cents")
    # No persist: the three tier branches share the hourly agg's
    # identical Exchange subplan, so Spark reuses the shuffle
    # (ReusedExchange x2 in the physical plan — verified) and the raw
    # table is scanned once, with nothing pinned in executor memory.
    t1 = hourly.select(
        F.lit(3600).cast("bigint").alias("width_s"),
        "event_type",
        F.col("h").alias("bucket"),
        "cents",
        "n",
    )

    def tier(div: int, width: int) -> DataFrame:
        return (
            hourly.groupBy("event_type", F.expr(f"h div {div}").alias("bucket"))
            .agg(
                F.sum("cents").cast("bigint").alias("cents"),
                F.sum("n").cast("bigint").alias("n"),
            )
            .select(
                F.lit(width).cast("bigint").alias("width_s"),
                "event_type",
                "bucket",
                "cents",
                "n",
            )
        )

    return t1.unionAll(tier(6, 21600)).unionAll(tier(24, 86400))


# ---------------------------------------------------------------------------
# A6g: STL-lite seasonal decomposition (trend MA + hour-of-day profile)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_decompose",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, h
),
tr AS (
    SELECT event_type, h, cents,
           CAST(SUM(cents) OVER w AS BIGINT) AS trend_x25,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
det AS (
    SELECT event_type, h % 24 AS hod,
           25 * cents - trend_x25 AS d_x25
    FROM tr WHERE n_win = 25
)
SELECT event_type, CAST(hod AS BIGINT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       round(CAST(SUM(d_x25) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 25.0 / 100.0, 4) AS seasonal_component
FROM det GROUP BY event_type, hod
""",
    tags=("tsdb", "A6g", "seasonality"),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition, classical-STL-lite: trend =
    centered 25-hour moving average of the hourly cents series (only
    COMPLETE windows — edges have no defined trend), detrended =
    series - trend, and the seasonal component = mean detrended value
    per hour-of-day per type — the day-shape profile with the
    multi-day trend removed, unlike ts_weekly_profile's raw means.

    Integer-exact core: the centered MA over a full window is
    sum/25, so detrended×25 = 25·cents − window_sum stays integer
    until the final display division (sum/n/25/100 — four mirrored
    IEEE ops). RANGE frame over the hour index: calendar gaps shrink
    n_win below 25 and those rows drop out rather than silently
    averaging a shorter window.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).withColumnRenamed("c", "cents")
    w = Window.partitionBy("event_type").orderBy("h").rangeBetween(-12, 12)
    tr = hourly.select(
        "event_type",
        "h",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("trend_x25"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )
    det = tr.filter(F.col("n_win") == 25).select(
        "event_type",
        (F.col("h") % 24).alias("hod"),
        (F.lit(25) * F.col("cents") - F.col("trend_x25")).alias("d_x25"),
    )
    D = lambda c: c.cast("double")
    return det.groupBy("event_type", F.col("hod").cast("bigint").alias("hod")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.round(
            D(F.sum("d_x25")) / D(F.count(F.lit(1))) / F.lit(25.0) / F.lit(100.0),
            4,
        ).alias("seasonal_component"),
    )


# ---------------------------------------------------------------------------
# W16: day-over-day top movers (change ranking)
# ---------------------------------------------------------------------------


@query(
    "ts_top_movers",
    oracle="""
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, d
),
ch AS (
    SELECT event_type, d, cents,
           lag(cents) OVER (PARTITION BY event_type ORDER BY d) AS prev_cents,
           lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev_d
    FROM daily
),
mv AS (
    SELECT event_type, d, cents, prev_cents,
           round(CAST(cents - prev_cents AS DOUBLE)
                 / CAST(prev_cents AS DOUBLE), 6) AS pct_change,
           abs(cents * 1000000 // prev_cents - 1000000) AS move_fp
    FROM ch
    WHERE prev_d = d - 1 AND prev_cents > 0
)
SELECT d, event_type, cents, prev_cents, pct_change,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY d
                                 ORDER BY move_fp DESC, event_type) AS rnk
    FROM mv
)
WHERE rnk <= 3
""",
    tags=("tsdb", "W16", "ranking"),
)
def ts_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 day-over-day movers per day: series ranked by the
    magnitude of their relative change vs the PREVIOUS CALENDAR day
    (a lag row from an older day is not a day-over-day move — the
    prev_d = d-1 guard), the dashboard staple for spotting which
    series jumped.

    The ranking key is integer fixed point (|cents*1e6 div prev - 1e6|
    — floor-div, engine-identical) so order never depends on a float
    compare; the display pct_change is one rounded division. Windows:
    per-series lag, then per-day rank over <= |series| rows
    (WindowGroupLimit applies).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
            fx("value").alias("c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    wl = Window.partitionBy("event_type").orderBy("d")
    ch = daily.select(
        "event_type",
        "d",
        "cents",
        F.lag("cents").over(wl).alias("prev_cents"),
        F.lag("d").over(wl).alias("prev_d"),
    )
    mv = ch.filter(
        (F.col("prev_d") == F.col("d") - 1) & (F.col("prev_cents") > 0)
    ).select(
        "event_type",
        "d",
        "cents",
        "prev_cents",
        F.round(
            (F.col("cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents").cast("double"),
            6,
        ).alias("pct_change"),
        F.abs(F.expr("cents * 1000000 div prev_cents - 1000000")).alias("move_fp"),
    )
    wr = Window.partitionBy("d").orderBy(F.col("move_fp").desc(), "event_type")
    return (
        mv.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "d",
            "event_type",
            "cents",
            "prev_cents",
            "pct_change",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# J5b: interval union / coverage (merge overlapping intervals)
# ---------------------------------------------------------------------------


@query(
    "ts_interval_coverage",
    oracle="""
WITH iv AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS e_us,
           event_id
    FROM events
),
m AS (
    SELECT user_id, s_us, e_us, event_id,
           MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
    FROM iv
),
isl AS (
    SELECT user_id, s_us, e_us,
           CAST(SUM(CASE WHEN prev_max_e IS NULL OR s_us > prev_max_e
                    THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY s_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS island
    FROM m
),
merged AS (
    SELECT user_id, island,
           MIN(s_us) AS m_start, MAX(e_us) AS m_end
    FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       CAST(SUM(m_end - m_start) AS BIGINT) AS covered_us,
       CAST(MAX(m_end - m_start) AS BIGINT) AS longest_us
FROM merged GROUP BY user_id
""",
    tags=("tsdb", "J5b", "intervals"),
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION per user: each event claims [ts, ts+30min),
    overlapping/adjacent-overlapping claims merge, and the output is
    the merged-interval count, total covered time, and longest merged
    span — the coverage/uptime algebra (billing sessions, maintenance
    windows, GPU occupancy) that point-event queries can't express.

    The sweep is the classic running-max trick: a new merged interval
    starts exactly when an interval's start exceeds the max end of ALL
    earlier intervals (ROWS UNBOUNDED..1 PRECEDING — not lag: an
    earlier long interval can swallow several later ones), island ids
    are the running sum of those starts, then one agg per island. All
    integer epoch-us; two user-partitioned windows over one Exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(1_800_000_000).cast("bigint")).alias("e_us"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id",
        "s_us",
        "e_us",
        "event_id",
        F.max("e_us").over(w_prev).alias("prev_max_e"),
    )
    new_isl = (
        F.col("prev_max_e").isNull() | (F.col("s_us") > F.col("prev_max_e"))
    ).cast("int")
    # both windows order by (s_us, event_id): duplicate timestamps are
    # real at scale and a tie-ambiguous island numbering would diverge
    # between engines
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = m.select(
        "user_id",
        "s_us",
        "e_us",
        F.sum(new_isl).over(w_run).cast("bigint").alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s_us").alias("m_start"), F.max("e_us").alias("m_end")
    )
    span = F.col("m_end") - F.col("m_start")
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.sum(span).cast("bigint").alias("covered_us"),
        F.max(span).cast("bigint").alias("longest_us"),
    )


# ---------------------------------------------------------------------------
# Seq2: first-order Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


@query(
    "ts_markov_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
tc AS (
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
rt AS (
    SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
    FROM tc GROUP BY from_type
)
SELECT tc.from_type, tc.to_type, tc.n, rt.row_total,
       round(CAST(tc.n AS DOUBLE) / CAST(rt.row_total AS DOUBLE), 6) AS p
FROM tc JOIN rt ON tc.from_type = rt.from_type
""",
    tags=("tsdb", "Seq2", "markov"),
)
def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next=to | current=from) with exact transition counts
    — the behavioral model behind next-action prediction and anomaly
    scoring of improbable paths (complements ts_event_pattern's regex
    matching and ts_event_trigrams' fixed patterns with the full
    |types|^2 probability matrix).

    One user-partitioned lead window, two hash aggs, a |types|-row
    broadcast for row totals; probabilities are single divisions of
    exact integers.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tc = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rt = tc.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("row_total"))
    return tc.join(F.broadcast(rt), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "row_total",
        F.round(
            F.col("n").cast("double") / F.col("row_total").cast("double"), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# J6c: linear multi-touch attribution (complement to last-touch)
# ---------------------------------------------------------------------------


@query(
    "ts_attribution_linear",
    oracle="""
WITH purchases AS (
    SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
    FROM events WHERE event_type = 'click'
),
touch AS (
    SELECT p.user_id, p.p_id, p.cents, c.c_id
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
     AND c.c_us <= p.p_us
     AND c.c_us > p.p_us - CAST(86400 AS BIGINT) * 1000000
),
n_t AS (
    SELECT p_id, CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM touch GROUP BY p_id
),
credit AS (
    SELECT t.user_id, t.c_id,
           CAST((t.cents * 1000000) // n.n_touches AS BIGINT) AS credit_fp
    FROM touch t JOIN n_t n ON t.p_id = n.p_id
)
SELECT user_id,
       CAST(COUNT(DISTINCT c_id) AS BIGINT) AS n_credited_clicks,
       CAST(SUM(credit_fp) AS BIGINT) AS credit_fp_total,
       round(CAST(SUM(credit_fp) AS DOUBLE) / 1e6 / 100.0, 4) AS credited_revenue
FROM credit GROUP BY user_id
""",
    tags=("tsdb", "J6c", "attribution"),
)
def ts_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: each purchase's revenue splits
    EQUALLY across all of the user's clicks in the preceding 24 h —
    the multi-touch complement to ts_attribution_last_touch (argmax).
    Per-user totals of credited clicks and revenue.

    Credit is integer fixed point: cents*1e6 div n_touches (floor —
    the pennies lost to integer division are the deterministic,
    auditable convention; a double 1/n would drift with addition
    order). The touch join is the bucketed range-join family shape
    (bounded 24 h lookback); n_touches is a purchase-keyed agg joined
    back.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.unix_micros("ts").alias("p_us"),
        fx("value").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    touch = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_us <= p.p_us)
        & (c.c_us > p.p_us - F.lit(86_400_000_000).cast("bigint")),
    ).select("user_id", "p_id", "cents", "c_id")
    n_t = touch.groupBy("p_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches")
    )
    credit = touch.join(n_t, "p_id").select(
        "user_id",
        "c_id",
        F.expr("(cents * 1000000) div n_touches").cast("bigint").alias("credit_fp"),
    )
    D = lambda x: x.cast("double")
    return credit.groupBy("user_id").agg(
        F.countDistinct("c_id").cast("bigint").alias("n_credited_clicks"),
        F.sum("credit_fp").cast("bigint").alias("credit_fp_total"),
        F.round(D(F.sum("credit_fp")) / F.lit(1e6) / F.lit(100.0), 4).alias(
            "credited_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# SLO3: Apdex score (satisfied/tolerating/frustrated classification)
# ---------------------------------------------------------------------------


@query(
    "ts_apdex",
    oracle="""
WITH b AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS satisfied,
           CAST(SUM(CASE WHEN value > 100.0 AND value <= 400.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS tolerating
    FROM events GROUP BY event_type, d
)
SELECT event_type, d, total, satisfied, tolerating,
       CAST(total - satisfied - tolerating AS BIGINT) AS frustrated,
       round(CAST(2 * satisfied + tolerating AS DOUBLE)
             / CAST(2 * total AS DOUBLE), 6) AS apdex
FROM b
""",
    tags=("tsdb", "SLO3", "alerting"),
)
def ts_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Apdex per event type (value as the latency proxy:
    satisfied <= T=100, tolerating <= 4T=400, else frustrated):
    apdex = (satisfied + tolerating/2) / total — the user-satisfaction
    index that complements ts_burn_rate's error budget (which counts
    failures; Apdex weights degraded-but-working). Computed as
    (2s + t) / 2n so the only division is one exact-integer ratio.
    One (type, day) hash agg; conditional counts are map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("d"),
            (F.col("value") <= 100.0).cast("int").alias("sat"),
            ((F.col("value") > 100.0) & (F.col("value") <= 400.0))
            .cast("int")
            .alias("tol"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total"),
            F.sum("sat").cast("bigint").alias("satisfied"),
            F.sum("tol").cast("bigint").alias("tolerating"),
        )
    )
    return b.select(
        "event_type",
        "d",
        "total",
        "satisfied",
        "tolerating",
        (F.col("total") - F.col("satisfied") - F.col("tolerating"))
        .cast("bigint")
        .alias("frustrated"),
        F.round(
            (2 * F.col("satisfied") + F.col("tolerating")).cast("double")
            / (2 * F.col("total")).cast("double"),
            6,
        ).alias("apdex"),
    )


# ---------------------------------------------------------------------------
# A3f: burstiness index over inter-arrival gaps
# ---------------------------------------------------------------------------


@query(
    "ts_burstiness",
    oracle="""
WITH g AS (
    SELECT user_id, event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
    FROM events
),
m AS (
    SELECT user_id, event_type,
           CAST(COUNT(gap) AS BIGINT) AS n,
           CAST(SUM(gap) AS HUGEINT) AS s1,
           SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS s2
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id, event_type
)
SELECT user_id, event_type, n,
       CAST(s1 AS BIGINT) AS sum_gap_us,
       round(CASE WHEN n >= 2 AND n * s2 - s1 * s1 >= 0 THEN
           (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) - CAST(s1 AS DOUBLE))
           / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) + CAST(s1 AS DOUBLE))
       END, 6) AS burstiness
FROM m WHERE n >= 2
""",
    tags=("tsdb", "A3f", "burstiness"),
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness index per (user, type):
    B = (sigma - mu) / (sigma + mu) over inter-arrival gaps — B -> -1
    for a metronome, 0 for Poisson arrivals, -> +1 for extreme bursts.
    The single-number traffic-shape summary that tells an ingest
    planner whether provisioning for the MEAN rate is safe
    (complements ts_burst_detect, which finds WHEN bursts happen).

    Algebra: with exact integer gap moments, n*sigma^2 scaled by n
    gives n^2 sigma^2 = n*s2 - s1^2, so B = (sqrt(n*s2 - s1^2) - s1)
    / (sqrt(n*s2 - s1^2) + s1) — population sigma, integers under one
    IEEE-exact sqrt and a single mirrored division (decimal38/HUGEINT
    carry the squares).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    m = g.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s1_b"),
        F.sum(dec("gap", 38, 0) * dec("gap", 38, 0)).alias("s2"),
    )
    m = m.filter(F.col("n") >= 2)
    D = lambda c: c.cast("double")
    disc = dec("n", 38, 0) * F.col("s2") - dec("s1_b", 38, 0) * dec("s1_b", 38, 0)
    root = F.sqrt(D(disc))
    return m.select(
        "user_id",
        "event_type",
        "n",
        F.col("s1_b").alias("sum_gap_us"),
        F.round(
            F.when(disc >= 0, (root - D(F.col("s1_b"))) / (root + D(F.col("s1_b")))),
            6,
        ).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# SLO4: incident extraction + MTTR from the burn-rate alert stream
# ---------------------------------------------------------------------------

from . import REGISTRY as _REGISTRY  # noqa: E402  (composition by reference)


@query(
    "ts_incident_mttr",
    oracle=f"""
WITH br AS ({{BURN}}),
alerts AS (
    SELECT event_type, h FROM br WHERE fails * 1000 >= 50 * total
),
isl AS (
    SELECT event_type, h,
           h - row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp
    FROM alerts
),
runs AS (
    SELECT event_type, grp,
           CAST(COUNT(*) AS BIGINT) AS dur_h
    FROM isl GROUP BY event_type, grp
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_incidents,
       CAST(SUM(dur_h) AS BIGINT) AS total_alert_hours,
       CAST(MAX(dur_h) AS BIGINT) AS max_duration_h,
       round(CAST(SUM(dur_h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS mttr_hours
FROM runs GROUP BY event_type
""".replace("{BURN}", _REGISTRY["ts_burn_rate"].oracle),
    tags=("tsdb", "SLO4", "alerting", "composition"),
)
def ts_incident_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident accounting over the burn-rate stream: consecutive
    over-budget hours (rate_1h >= a 5% incident budget — stricter than
    ts_burn_rate's paging budget, because incident REVIEW wants every
    breach, pages want only the loud ones) collapse into INCIDENTS
    (gaps-and-islands over the hour index), and each type reports
    incident count, total breach time, longest incident, and MTTR —
    the ops-review rollup one level above ts_burn_rate's per-hour
    flags.

    Composition by registry reference (the pipeline_alert_rules
    contract): the Spark side CALLS ts_burn_rate's registered fn and
    the oracle NESTS its oracle SQL verbatim, so this query inherits
    the component's exactness proof and can never drift from it.
    """
    br = _REGISTRY["ts_burn_rate"].fn(spark, sf_dir)
    # incident boundary = the 1x budget breach (rate_1h >= budget), not
    # the 2x fast-burn page: an incident lasts while the budget burns,
    # the page is just its loudest hour
    alerts = br.filter(
        F.col("fails") * 1000 >= 50 * F.col("total")
    ).select("event_type", "h")
    w = Window.partitionBy("event_type").orderBy("h")
    isl = alerts.select(
        "event_type", "h", (F.col("h") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("dur_h")
    )
    D = lambda c: c.cast("double")
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_incidents"),
        F.sum("dur_h").cast("bigint").alias("total_alert_hours"),
        F.max("dur_h").cast("bigint").alias("max_duration_h"),
        F.round(D(F.sum("dur_h")) / D(F.count(F.lit(1))), 6).alias("mttr_hours"),
    )


# ---------------------------------------------------------------------------
# ML6: Kaplan-Meier survival curve (user retention lifetimes)
# ---------------------------------------------------------------------------


@query(
    "ts_survival_km",
    oracle="""
WITH life AS (
    SELECT user_id, event_type,
           CAST(MAX(epoch_us(ts)) // 86400000000
                - MIN(epoch_us(ts)) // 86400000000 AS BIGINT) AS t_u,
           CAST(CASE WHEN MAX(epoch_us(ts)) // 86400000000
                          < (SELECT MAX(epoch_us(ts)) // 86400000000 - 2
                             FROM events)
                THEN 1 ELSE 0 END AS INTEGER) AS died
    FROM events GROUP BY user_id, event_type
),
dt AS (
    SELECT t_u AS t, CAST(COUNT(*) AS BIGINT) AS d
    FROM life WHERE died = 1 GROUP BY t_u
),
risk AS (
    SELECT dt.t, dt.d,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM life WHERE t_u >= dt.t) AS n
    FROM dt
),
haz AS (
    SELECT t, d, n,
           CASE WHEN d < n THEN
               CAST(round(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)),
                                6) * 1e6, 0) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS ln_fp
    FROM risk
),
cum AS (
    SELECT t, d, n,
           CAST(SUM(ln_fp) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c_fp
    FROM haz
)
SELECT t AS t_days, n AS n_at_risk, d AS n_deaths,
       CASE WHEN d = n THEN 0.0
            ELSE round(exp(CAST(c_fp AS DOUBLE) / 1e6), 6) END AS survival
FROM cum
""",
    tags=("tsdb", "ML6", "survival"),
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve over (user, event-type) series
    lifetimes: lifetime = days between a series' first and last event;
    a series DIED (the user stopped doing that thing) if its last
    event predates the corpus horizon by > 2 days, else it's
    right-censored — the estimator that uses censored
    users correctly instead of dropping them (the standard churn-curve
    mistake). S(t) = prod over death times <= t of (1 - d_i/n_i).

    The cumulative product is a prefix sum of 6dp-rounded ln terms
    (the libm rule) in 1e6 fixed point, computed with
    banded_prefix_sum — no global window — then one exp, rounded 6dp,
    mirrored verbatim. d = n (everyone remaining dies) can only occur
    at the last death time; that row's survival is exactly 0 by CASE,
    so ln(0) never evaluates. The death-time table is bounded by the
    calendar, not users.
    """
    from ..operators.rank import banded_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    horizon = ev.agg((F.max(day) - 2).cast("bigint").alias("hz"))
    life = (
        ev.groupBy("user_id", "event_type")
        .agg(
            (F.max(day) - F.min(day)).cast("bigint").alias("t_u"),
            F.max(day).cast("bigint").alias("last_d"),
        )
        .join(F.broadcast(horizon))
        .select(
            "t_u", (F.col("last_d") < F.col("hz")).cast("int").alias("died")
        )
    )
    dt = (
        life.filter(F.col("died") == 1)
        .groupBy(F.col("t_u").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = life.groupBy(F.col("t_u").alias("th")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    risk = (
        dt.join(F.broadcast(hist), F.col("th") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
    )
    D = lambda c: c.cast("double")
    ln_fp = F.when(
        F.col("d") < F.col("n"),
        F.round(
            F.round(F.log(F.lit(1.0) - D(F.col("d")) / D(F.col("n"))), 6)
            * F.lit(1e6),
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    haz = risk.select("t", "d", "n", ln_fp.alias("ln_fp"))
    cum = banded_prefix_sum(haz, "t", ["t"], "ln_fp", ascending=True, out="c_fp")
    return cum.select(
        F.col("t").alias("t_days"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.when(F.col("d") == F.col("n"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("c_fp").cast("double") / F.lit(1e6)), 6))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Spec2: autocorrelation function (ACF table, lags 1..12)
# ---------------------------------------------------------------------------


@query(
    "ts_acf",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
pairs AS (
    SELECT a.event_type, l.lag, a.c AS x, b.c AS y
    FROM hourly a
    CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS lag) l
    JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h + l.lag
),
m AS (
    SELECT event_type, lag,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
    FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
FROM m
WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    tags=("tsdb", "Spec2", "seasonality"),
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event type: Pearson correlation of
    the hourly series with itself at lags 1..12 — the classic
    pre-ARIMA diagnostic table (ts_xcorr_best_lag is the CROSS-series
    twin; ts_rolling_autocorr the windowed single-lag one). Gap-aware:
    pairs exist only where BOTH hours exist (no zero-fill bias in a
    correlation).

    The ts_series_corr exactness contract: integer moments in
    decimal38/HUGEINT, one mirrored double expression with two
    IEEE-exact sqrts, degenerate-variance rows filtered on both sides.
    The 12-lag fan-out joins the hourly table to itself once per lag
    on (type, h+lag) — calendar-bounded inputs, never raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)
    lags = spark.range(1, 13).select(F.col("id").cast("bigint").alias("lag"))
    a = hourly.crossJoin(F.broadcast(lags))
    b = hourly.select(
        F.col("event_type").alias("et_b"),
        F.col("h").alias("h_b"),
        F.col("c").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("et_b") == F.col("event_type"))
        & (F.col("h_b") == F.col("h") + F.col("lag")),
    ).select("event_type", "lag", F.col("c").alias("x"), "y")
    m = pairs.groupBy("event_type", "lag").agg(*moment_sums("x", "y"))
    D = lambda c: c.cast("double")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(D(cov) / F.sqrt(D(vx)) / F.sqrt(D(vy)), 6).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# Spec3: Haar wavelet energy decomposition (dyadic multi-resolution)
# ---------------------------------------------------------------------------


@query(
    "ts_haar_energy",
    oracle="""
WITH base AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
h0 AS (SELECT event_type AS et0, MIN(h) AS hmin FROM base GROUP BY event_type),
idx AS (
    SELECT event_type, h - hmin AS i, c
    FROM base JOIN h0 ON base.event_type = h0.et0
),
lv AS (SELECT unnest([1, 2, 3, 4]) AS k,
              unnest([1, 2, 4, 8]) AS halfw),
coeff AS (
    SELECT idx.event_type, lv.k,
           i // (2 * halfw) AS parent,
           CAST(SUM(c * (CASE WHEN (i // halfw) % 2 = 0
                         THEN 1 ELSE -1 END)) AS BIGINT) AS d
    FROM idx CROSS JOIN lv
    GROUP BY idx.event_type, lv.k, i // (2 * halfw)
)
SELECT event_type, CAST(k AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_coeffs,
       CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) / 1e8
           AS energy
FROM coeff GROUP BY event_type, k
""",
    tags=("tsdb", "Spec3", "wavelet"),
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy per dyadic level (1 = 2-hour detail up to
    4 = 16-hour detail): each level-k coefficient is the signed sum of
    hourly cents over a 2^k block (+ for the first half, - for the
    second — the unnormalized Haar detail), and the level energy is
    the sum of squared coefficients. Where the FFT periodogram
    (ts_dominant_period) localizes frequency, the wavelet energy
    profile localizes SCALE — which dyadic horizon carries the
    variance, the multi-resolution screen before picking a rollup
    tier.

    Missing hours contribute zero on the grid anchored at each
    series' first hour (the periodogram's zero-fill convention).
    Entirely integer until the final display division: signs are
    integer CASEs, coefficients exact sums, squares carried in
    decimal38/HUGEINT. One agg per level over the calendar-bounded
    hourly table, fanned out by a 4-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    base = _hourly_cents(ev)
    h0 = base.groupBy(F.col("event_type").alias("et0")).agg(
        F.min("h").alias("hmin")
    )
    idx = base.join(
        F.broadcast(h0), F.col("event_type") == F.col("et0")
    ).select("event_type", (F.col("h") - F.col("hmin")).alias("i"), "c")
    lv = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 4), (4, 8)], "k long, halfw long"
    )
    j = idx.crossJoin(F.broadcast(lv))
    sign = F.when(F.expr("(i div halfw) % 2") == 0, 1).otherwise(-1)
    coeff = j.groupBy(
        "event_type", "k", F.expr("i div (2 * halfw)").alias("parent")
    ).agg(F.sum(F.col("c") * sign).cast("bigint").alias("d"))
    return coeff.groupBy("event_type", F.col("k").cast("bigint").alias("level")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
        (F.sum(dec("d", 38, 0) * dec("d", 38, 0)).cast("double") / F.lit(1e8)).alias(
            "energy"
        ),
    )


# ---------------------------------------------------------------------------
# A6h: seasonality strength (variance-ratio scalar per series)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonality_strength",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, h
),
tr AS (
    SELECT event_type, h, cents,
           CAST(SUM(cents) OVER w AS BIGINT) AS trend_x25,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
det AS (
    SELECT event_type, h % 24 AS hod,
           25 * cents - trend_x25 AS d_x25
    FROM tr WHERE n_win = 25
),
seas AS (
    SELECT event_type, hod,
           CAST(SUM(d_x25) AS HUGEINT) AS s_sum,
           CAST(COUNT(*) AS HUGEINT) AS s_n
    FROM det GROUP BY event_type, hod
),
parts AS (
    SELECT d.event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(d.d_x25 AS HUGEINT) * CAST(d.d_x25 AS HUGEINT)) AS ss_det,
           CAST(SUM(d.d_x25) AS HUGEINT) AS s_det,
           SUM((CAST(d.d_x25 AS HUGEINT) * s.s_n - s.s_sum)
               * (CAST(d.d_x25 AS HUGEINT) * s.s_n - s.s_sum)
               // (s.s_n * s.s_n)) AS ss_resid_approx
    FROM det d JOIN seas s ON d.event_type = s.event_type AND d.hod = s.hod
    GROUP BY d.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
       round(GREATEST(0.0, 1.0
             - CAST(ss_resid_approx AS DOUBLE)
               / CAST(ss_det - s_det * s_det // n AS DOUBLE)), 6)
           AS seasonal_strength
FROM parts
WHERE ss_det - s_det * s_det // n > 0
""",
    tags=("tsdb", "A6h", "seasonality"),
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH per series — the scalar the decomposition
    (ts_seasonal_decompose) implies: 1 - Var(residual)/Var(detrended),
    where the residual removes each hour-of-day's mean. ~0 = the
    day-shape explains nothing, ->1 = the series IS its daily profile.
    The one-number screen for whether a seasonal model
    (ts_seasonal_baseline / holt_winters) is even applicable.

    Integer algebra: residual*s_n = d*s_n - s_sum stays integer;
    both sums of squares are HUGEINT/decimal38 with integer division
    by s_n^2 (floor — applied identically on both engines), so the
    variance ratio is one mirrored double expression. GREATEST(0,...)
    clamps the floor-division bias at the boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).withColumnRenamed("c", "cents")
    w = Window.partitionBy("event_type").orderBy("h").rangeBetween(-12, 12)
    tr = hourly.select(
        "event_type",
        "h",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("trend_x25"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )
    det = tr.filter(F.col("n_win") == 25).select(
        "event_type",
        (F.col("h") % 24).alias("hod"),
        (F.lit(25) * F.col("cents") - F.col("trend_x25")).alias("d_x25"),
    )
    seas = det.groupBy("event_type", "hod").agg(
        F.sum(dec("d_x25", 38, 0)).alias("s_sum"),
        dec(F.count(F.lit(1)), 38, 0).alias("s_n"),
    )
    j = det.join(F.broadcast(seas), ["event_type", "hod"])
    resid_num = dec("d_x25", 38, 0) * F.col("s_n") - F.col("s_sum")
    parts = j.groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum(dec("d_x25", 38, 0) * dec("d_x25", 38, 0)).alias("ss_det"),
        F.sum(dec("d_x25", 38, 0)).alias("s_det"),
        F.sum(
            F.expr(
                "CAST((CAST(d_x25 AS DECIMAL(38,0)) * s_n - s_sum)"
                " * (CAST(d_x25 AS DECIMAL(38,0)) * s_n - s_sum)"
                " div (s_n * s_n) AS DECIMAL(38,0))"
            )
        ).alias("ss_resid_approx"),
    )
    D = lambda c: c.cast("double")
    var_det = F.col("ss_det") - F.expr("CAST(s_det * s_det div n AS DECIMAL(38,0))")
    return (
        parts.filter(var_det > 0)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - D(F.col("ss_resid_approx")) / D(var_det),
                ),
                6,
            ).alias("seasonal_strength"),
        )
    )


# ---------------------------------------------------------------------------
# Fin1: Parkinson range-based volatility (high-low estimator)
# ---------------------------------------------------------------------------


@query(
    "ts_parkinson_volatility",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, h
),
daily AS (
    SELECT event_type, h // 24 AS d,
           CAST(MAX(cents) AS BIGINT) AS hi,
           CAST(MIN(cents) AS BIGINT) AS lo,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM hourly GROUP BY event_type, h // 24
),
t AS (
    SELECT event_type,
           CAST(round(round(ln(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE)), 6)
                      * round(ln(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE)), 6)
                      * 1e6, 0) AS BIGINT) AS r2_fp
    FROM daily WHERE n_hours >= 2 AND lo > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       round(sqrt(CAST(SUM(r2_fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
                  / (4.0 * round(ln(2.0), 6))), 6) AS parkinson_sigma
FROM t GROUP BY event_type
""",
    tags=("tsdb", "Fin1", "volatility"),
)
def ts_parkinson_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range-based volatility per event type: sigma^2 is
    estimated from each day's HIGH/LOW of the hourly series —
    E[ln(H/L)^2] / (4 ln 2) — the estimator that extracts ~5x more
    information per day than close-to-close returns because the range
    sees the whole intraday path (the OHLC family's statistical
    payoff; ts_ohlc_daily materializes the inputs, this consumes
    them). Days with fewer than 2 hourly observations have no range
    and drop out.

    libm discipline: each day's ln rounds 6dp, its SQUARE (of the
    rounded value) scales into 1e6 fixed point, the per-type mean is
    an integer ratio, and the final sqrt is IEEE-exact; even the 4ln2
    constant is the 6dp-rounded double on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).withColumnRenamed("c", "cents")
    daily = hourly.groupBy(
        "event_type", F.expr("h div 24").alias("d")
    ).agg(
        F.max("cents").cast("bigint").alias("hi"),
        F.min("cents").cast("bigint").alias("lo"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    D = lambda c: c.cast("double")
    lnr = F.round(F.log(D(F.col("hi")) / D(F.col("lo"))), 6)
    t = daily.filter((F.col("n_hours") >= 2) & (F.col("lo") > 0)).select(
        "event_type",
        F.round(lnr * lnr * F.lit(1e6), 0).cast("bigint").alias("r2_fp"),
    )
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.sqrt(
                F.sum("r2_fp").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
                / (F.lit(4.0) * F.round(F.log(F.lit(2.0)), 6))
            ),
            6,
        ).alias("parkinson_sigma"),
    )


# ---------------------------------------------------------------------------
# Spec4: local-maxima peak detection with neighbor guards
# ---------------------------------------------------------------------------


@query(
    "ts_peak_detection",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
nb AS (
    SELECT event_type, h, c,
           lag(c, 1) OVER w AS p1, lag(c, 2) OVER w AS p2,
           lead(c, 1) OVER w AS n1, lead(c, 2) OVER w AS n2,
           lag(h, 2) OVER w AS hp2, lead(h, 2) OVER w AS hn2
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h)
)
SELECT event_type, h, c AS cents,
       CAST(c - GREATEST(LEAST(p1, p2), LEAST(n1, n2)) AS BIGINT)
           AS prominence_cents
FROM nb
WHERE p1 IS NOT NULL AND p2 IS NOT NULL
  AND n1 IS NOT NULL AND n2 IS NOT NULL
  AND hp2 = h - 2 AND hn2 = h + 2
  AND c > p1 AND c > p2 AND c > n1 AND c > n2
""",
    tags=("tsdb", "Spec4", "peaks"),
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection over the hourly series: a peak is
    STRICTLY greater than its two neighbors on each side, with a
    contiguity guard (the 2-back/2-ahead rows must be exactly h±2 —
    after a calendar gap the 'neighbor' is hours away and says nothing
    about local shape). Prominence = height above the better shoulder
    (max of each side's min) — the ranking key for which peaks matter.
    The alert-enrichment step between raw thresholds (ts_burn_rate)
    and changepoints (ts_pelt_segments): peaks are events, not regime
    shifts.

    One per-series sort window, four lag/leads, integer cents end to
    end.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)
    w = Window.partitionBy("event_type").orderBy("h")
    nb = hourly.select(
        "event_type",
        "h",
        "c",
        F.lag("c", 1).over(w).alias("p1"),
        F.lag("c", 2).over(w).alias("p2"),
        F.lead("c", 1).over(w).alias("n1"),
        F.lead("c", 2).over(w).alias("n2"),
        F.lag("h", 2).over(w).alias("hp2"),
        F.lead("h", 2).over(w).alias("hn2"),
    )
    return (
        nb.filter(
            F.col("p1").isNotNull()
            & F.col("p2").isNotNull()
            & F.col("n1").isNotNull()
            & F.col("n2").isNotNull()
            & (F.col("hp2") == F.col("h") - 2)
            & (F.col("hn2") == F.col("h") + 2)
            & (F.col("c") > F.col("p1"))
            & (F.col("c") > F.col("p2"))
            & (F.col("c") > F.col("n1"))
            & (F.col("c") > F.col("n2"))
        )
        .select(
            "event_type",
            "h",
            F.col("c").alias("cents"),
            (
                F.col("c")
                - F.greatest(
                    F.least(F.col("p1"), F.col("p2")),
                    F.least(F.col("n1"), F.col("n2")),
                )
            )
            .cast("bigint")
            .alias("prominence_cents"),
        )
    )


# ---------------------------------------------------------------------------
# ML8: EMA alpha sweep (hyperparameter selection inside the engine)
# ---------------------------------------------------------------------------


@query(
    "ts_ema_alpha_sweep",
    oracle="""
WITH RECURSIVE seq AS (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
),
alphas AS (
    SELECT CAST(a AS DOUBLE) AS alpha
    FROM (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
                 (0.6), (0.7), (0.8), (0.9)) t(a)
),
rec AS (
    SELECT s.user_id, al.alpha, s.rn, s.n_events,
           s.value AS e, CAST(0 AS DOUBLE) AS sse
    FROM seq s CROSS JOIN alphas al
    WHERE s.rn = 1 AND s.n_events >= 2
    UNION ALL
    SELECT s.user_id, r.alpha, s.rn, s.n_events,
           r.alpha * s.value
               + (CAST(1 AS DOUBLE) - r.alpha) * r.e AS e,
           r.sse + (s.value - r.e) * (s.value - r.e) AS sse
    FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
),
final AS (
    SELECT user_id, alpha, n_events, sse FROM rec WHERE rn = n_events
)
SELECT user_id, alpha, n_events, round(sse, 4) AS sse,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sse, alpha) = 1
           AS is_best
FROM final
""",
    tags=("tsdb", "ML8", "tuning"),
)
def ts_ema_alpha_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass EMA hyperparameter sweep: for each user series, run
    the one-step-ahead EMA forecast at alpha in {0.1..0.9} and report
    each alpha's SSE plus the per-series argmin — model selection AS A
    QUERY, the grid-search loop a forecasting pipeline otherwise runs
    as nine separate jobs. Noisy series pick small alpha (smooth
    hard), trending series pick large (track fast); the best_alpha
    column is directly the per-series deployment parameter.

    Sequential boundary (batch_ema contract): all nine recursions run
    in ONE pass over each sorted series inside applyInPandas — the
    series is read once, not nine times. Oracled exactly (upgraded
    from rows-only, the ts_ema precedent): the DuckDB recursive CTE
    replays the identical IEEE op sequence per (user, alpha) — alpha
    literals CAST to DOUBLE are the same doubles Python's
    round(0.1*k, 1) yields, beta is computed as 1 - alpha on BOTH
    sides (not a literal, so no ties-to-even question), and is_best
    ranks the RAW accumulated sse (bit-identical across engines)
    before the display rounding. Same oracle sf ceiling as ts_ema:
    the recursion advances one row per (user, alpha) per iteration,
    9x ts_ema's working set. Pinned in tests: constant series ->
    SSE 0 at every alpha, smallest alpha flagged; a planted trend
    must pick a larger alpha than white noise.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    alphas = [round(0.1 * k, 1) for k in range(1, 10)]

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        xs = pdf["value"].to_numpy(dtype="float64")
        uid = int(pdf["user_id"].iloc[0])
        out = []
        if len(xs) >= 2:
            for a in alphas:
                b = 1.0 - a
                e = xs[0]
                sse = 0.0
                for x in xs[1:]:
                    d = x - e          # forecast error (EMA = prediction)
                    sse += d * d
                    e = a * x + b * e
                out.append((uid, a, len(xs), sse))
        if not out:
            return pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "alpha": pd.Series([], dtype="float64"),
                    "n_events": pd.Series([], dtype="int64"),
                    "sse": pd.Series([], dtype="float64"),
                    "is_best": pd.Series([], dtype="bool"),
                }
            )
        # argmin over the RAW sse (tie -> smaller alpha): raw doubles
        # are bit-identical across engines, where the old rounded-sse
        # tiebreak could pick differently than the oracle whenever two
        # alphas collided only after 4dp rounding
        best = min(out, key=lambda t: (t[3], t[1]))[1]
        return pd.DataFrame(
            [(u, a, n, sv, a == best) for (u, a, n, sv) in out],
            columns=["user_id", "alpha", "n_events", "sse", "is_best"],
        )

    return (
        ev.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            run,
            "user_id bigint, alpha double, n_events long, sse double, "
            "is_best boolean",
        )
        .withColumn("sse", F.round("sse", 4))
    )


# ---------------------------------------------------------------------------
# DQ4: missing-hours completeness report per series
# ---------------------------------------------------------------------------


@query(
    "ts_missing_hours",
    oracle="""
WITH hourly AS (
    SELECT DISTINCT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
    FROM events
),
g AS (
    SELECT event_type, h,
           h - lag(h) OVER (PARTITION BY event_type ORDER BY h) AS dh
    FROM hourly
)
SELECT event_type,
       CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS span_hours,
       CAST(COUNT(*) AS BIGINT) AS observed_hours,
       CAST(MAX(h) - MIN(h) + 1 - COUNT(*) AS BIGINT) AS missing_hours,
       CAST(COALESCE(MAX(dh) - 1, 0) AS BIGINT) AS longest_gap_hours,
       round(CAST(COUNT(*) AS DOUBLE)
             / CAST(MAX(h) - MIN(h) + 1 AS DOUBLE), 6) AS coverage
FROM g GROUP BY event_type
""",
    tags=("tsdb", "DQ4", "completeness"),
)
def ts_missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness report per series: calendar span vs observed
    hours, the count of MISSING hours, the longest contiguous gap,
    and the coverage ratio — the report a collection pipeline's
    health page shows (dq_expectations checks values; this checks
    PRESENCE, which value checks structurally can't see). The longest
    gap comes from consecutive observed hours' deltas — no calendar
    generation needed, one per-series lag window over the distinct
    (type, hour) table.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.select(
        "event_type",
        _hour().alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    g = hourly.select(
        "event_type", "h", (F.col("h") - F.lag("h").over(w)).alias("dh")
    )
    D = lambda c: c.cast("double")
    span = F.max("h") - F.min("h") + 1
    return g.groupBy("event_type").agg(
        span.cast("bigint").alias("span_hours"),
        F.count(F.lit(1)).cast("bigint").alias("observed_hours"),
        (span - F.count(F.lit(1))).cast("bigint").alias("missing_hours"),
        F.coalesce(F.max("dh") - 1, F.lit(0)).cast("bigint").alias(
            "longest_gap_hours"
        ),
        F.round(D(F.count(F.lit(1))) / D(span), 6).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# A3h: Ljung-Box white-noise statistic (composition over the ACF)
# ---------------------------------------------------------------------------


@query(
    "ts_ljung_box",
    oracle=f"""
WITH acf AS ({{ACF}}),
nser AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT)
          FROM events) t(event_type, h)
    GROUP BY event_type
),
terms AS (
    SELECT a.event_type, nser.n,
           CAST(round(round(a.acf * a.acf
                            / CAST(nser.n - a.lag AS DOUBLE), 9) * 1e9, 0)
                AS BIGINT) AS t_fp
    FROM acf a JOIN nser ON a.event_type = nser.event_type
    WHERE a.lag < nser.n
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_obs,
       CAST(COUNT(*) AS BIGINT) AS n_lags,
       round(CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) + 2.0)
             * CAST(SUM(t_fp) AS DOUBLE) / 1e9, 4) AS q_stat
FROM terms GROUP BY event_type
""".replace("{{ACF}}", "{ACF}").format(ACF=_REGISTRY["ts_acf"].oracle),
    tags=("tsdb", "A3h", "whitenoise", "composition"),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic per event type:
    Q = n(n+2) * sum_k r_k^2/(n-k) over the 12 ACF lags — the
    white-noise test that turns the ACF table into one decision number
    (Q far above the chi-square(12) tail => the series has structure
    worth modeling; near it => the fancy models are fitting noise).

    Composition by registry reference: the oracle NESTS ts_acf's
    oracle verbatim (the incident-mttr contract), n is the observed
    hourly-bucket count, and each r_k^2/(n-k) term rounds 9dp into
    1e9 fixed point so the 12-term sum is order-immune.
    """
    acf = _REGISTRY["ts_acf"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    nser = (
        ev.select(
            "event_type",
            _hour().alias("h"),
        )
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    D = lambda c: c.cast("double")
    j = acf.join(F.broadcast(nser), "event_type").filter(
        F.col("lag") < F.col("n")
    )
    t_fp = F.round(
        F.round(
            F.col("acf") * F.col("acf") / D(F.col("n") - F.col("lag")), 9
        )
        * F.lit(1e9),
        0,
    ).cast("bigint")
    terms = j.select("event_type", "n", t_fp.alias("t_fp"))
    return terms.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_lags"),
        F.round(
            D(F.max("n")) * (D(F.max("n")) + F.lit(2.0))
            * F.sum("t_fp").cast("double")
            / F.lit(1e9),
            4,
        ).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# A3i: one-way ANOVA across event types (between/within F statistic)
# ---------------------------------------------------------------------------


@query(
    "ts_anova_types",
    oracle="""
WITH c AS (
    SELECT event_type,
           CAST(round(value * 100, 0) AS HUGEINT) AS x
    FROM events
),
g AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n_g,
           CAST(SUM(x) AS HUGEINT) AS s_g,
           SUM(x * x) AS ss_g
    FROM c GROUP BY event_type
),
tot AS (
    SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
           CAST(SUM(s_g) AS HUGEINT) AS s,
           CAST(SUM(ss_g) AS HUGEINT) AS ss,
           CAST(COUNT(*) AS HUGEINT) AS k,
           CAST(SUM((s_g * s_g) // n_g) AS HUGEINT) AS sq_over_n
    FROM g
)
SELECT CAST(k AS BIGINT) AS n_groups,
       CAST(n AS BIGINT) AS n_obs,
       round((CAST(sq_over_n AS DOUBLE) - CAST(s AS DOUBLE)
              * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(k - 1 AS DOUBLE), 4) AS ms_between,
       round((CAST(ss AS DOUBLE) - CAST(sq_over_n AS DOUBLE))
             / CAST(n - k AS DOUBLE), 4) AS ms_within,
       round(((CAST(sq_over_n AS DOUBLE) - CAST(s AS DOUBLE)
               * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(k - 1 AS DOUBLE))
             / ((CAST(ss AS DOUBLE) - CAST(sq_over_n AS DOUBLE))
                / CAST(n - k AS DOUBLE)), 6) AS f_stat
FROM tot
WHERE n > k AND k > 1 AND ss > sq_over_n
""",
    tags=("tsdb", "A3i", "anova"),
)
def ts_anova_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: between-group vs within-group
    mean squares and the F statistic — "do the types differ in value
    AT ALL" in one test, where ts_welch_t_pairs answers pairwise
    (k groups need k(k-1)/2 t-tests and a multiplicity correction;
    ANOVA is the single gate run first).

    Moment algebra: per-group (n, sum, sum-of-squares) in HUGEINT/
    decimal38; SSB = sum(s_g^2/n_g) - s^2/n uses integer FLOOR
    division for the per-group term (applied identically both sides —
    the seasonality-strength convention) so the only floats are the
    final mirrored expressions.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("decimal(38,0)").alias("x"),
    )
    g = c.groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("ss_g"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        dec(F.count(F.lit(1)), 38, 0).alias("k"),
        F.sum(F.expr("CAST((s_g * s_g) div n_g AS DECIMAL(38,0))")).alias(
            "sq_over_n"
        ),
    )
    D = lambda c_: c_.cast("double")
    ssb = D(F.col("sq_over_n")) - D(F.col("s")) * D(F.col("s")) / D(F.col("n"))
    ssw = D(F.col("ss")) - D(F.col("sq_over_n"))
    msb = ssb / D(F.col("k") - 1)
    msw = ssw / D(F.col("n") - F.col("k"))
    return (
        tot.filter(
            (F.col("n") > F.col("k"))
            & (F.col("k") > 1)
            & (F.col("ss") > F.col("sq_over_n"))
        )
        .select(
            F.col("k").cast("bigint").alias("n_groups"),
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(msb, 4).alias("ms_between"),
            F.round(msw, 4).alias("ms_within"),
            F.round(msb / msw, 6).alias("f_stat"),
        )
    )


# ---------------------------------------------------------------------------
# A3j: Poisson bootstrap confidence interval (deterministic, map-side)
# ---------------------------------------------------------------------------

# Poisson(1) CDF cutoffs scaled to u32 (hardcoded identically on both
# engines; derived once from exp(-1) partial sums)
_PB_CUTS = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373]
_PB_B = 50


def _pb_weight_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_PB_CUTS[0]} THEN 0 "
        f"WHEN {u} < {_PB_CUTS[1]} THEN 1 "
        f"WHEN {u} < {_PB_CUTS[2]} THEN 2 "
        f"WHEN {u} < {_PB_CUTS[3]} THEN 3 "
        f"WHEN {u} < {_PB_CUTS[4]} THEN 4 ELSE 5 END"
    )


@query(
    "ts_poisson_bootstrap_ci",
    oracle=f"""
WITH b AS (SELECT unnest(generate_series(1, {_PB_B})) AS b),
w AS (
    SELECT e.event_type, b.b,
           CAST(round(e.value * 100, 0) AS HUGEINT) AS x,
           CAST({_pb_weight_sql(
               "CAST(concat('0x', substr(md5('pb-' || CAST(b.b AS VARCHAR)"
               " || '-' || CAST(e.event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
           )} AS HUGEINT) AS wt
    FROM events e CROSS JOIN b
),
rep AS (
    SELECT event_type, b,
           CAST((SUM(wt * x) * 1000000) // SUM(wt) AS BIGINT) AS mean_fp
    FROM w GROUP BY event_type, b
    HAVING SUM(wt) > 0
),
rk AS (
    SELECT event_type, mean_fp,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY mean_fp, b) AS r,
           COUNT(*) OVER (PARTITION BY event_type) AS nb
    FROM rep
),
full_m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((SUM(CAST(round(value * 100, 0) AS HUGEINT)) * 1000000)
                // COUNT(*) AS BIGINT) AS mean_fp
    FROM events GROUP BY event_type
)
SELECT f.event_type, f.n,
       round(CAST(f.mean_fp AS DOUBLE) / 1e6 / 100.0, 6) AS mean_value,
       round(CAST(lo.mean_fp AS DOUBLE) / 1e6 / 100.0, 6) AS ci_lo,
       round(CAST(hi.mean_fp AS DOUBLE) / 1e6 / 100.0, 6) AS ci_hi
FROM full_m f
JOIN (SELECT event_type, mean_fp FROM rk
      WHERE r = CAST(ceil(0.05 * nb) AS BIGINT)) lo
  ON f.event_type = lo.event_type
JOIN (SELECT event_type, mean_fp FROM rk
      WHERE r = CAST(ceil(0.95 * nb) AS BIGINT)) hi
  ON f.event_type = hi.event_type
""",
    tags=("tsdb", "A3j", "bootstrap"),
)
def ts_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP 90% confidence interval for the mean value
    per event type — the bootstrap that actually works distributed
    (Chamandy et al.): each of 50 replicates weights every row by an
    independent Poisson(1) draw, so resampling is a MAP-SIDE weight,
    not a with-replacement shuffle. Here the draws are md5-derived
    (u32 against hardcoded Poisson CDF cutoffs), making the whole
    interval DETERMINISTIC and exactly oracle-checkable — a bootstrap
    with a bit-exact cross-engine proof.

    Replicate means are integer fixed point ((Σwx·1e6) div Σw); the
    5th/95th replicate order statistics come from a per-type window
    over 50 rows. Cost: one pass over events × B weights (the
    replicate fan-out is a broadcast), one (type, b) agg.
    """
    ev = load_table(spark, sf_dir, "events")
    b = spark.range(1, _PB_B + 1).select(F.col("id").cast("int").alias("b"))
    u32 = md5_u32(
        F.concat(
            F.lit("pb-"),
            F.col("b").cast("string"),
            F.lit("-"),
            F.col("event_id").cast("string"),
        )
    )
    wt = (
        F.when(u32 < _PB_CUTS[0], 0)
        .when(u32 < _PB_CUTS[1], 1)
        .when(u32 < _PB_CUTS[2], 2)
        .when(u32 < _PB_CUTS[3], 3)
        .when(u32 < _PB_CUTS[4], 4)
        .otherwise(5)
    )
    w = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        "b",
        F.round(F.col("value") * 100, 0).cast("decimal(38,0)").alias("x"),
        dec(wt, 38, 0).alias("wt"),
    )
    rep = (
        w.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("wt") * F.col("x")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            F.expr("CAST((swx * 1000000) div sw AS BIGINT)").alias("mean_fp"),
        )
    )
    wk = Window.partitionBy("event_type").orderBy("mean_fp", "b")
    rk = rep.select(
        "event_type",
        "mean_fp",
        F.row_number().over(wk).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("nb"),
    )
    lo = rk.filter(
        F.col("r") == F.ceil(F.lit(0.05) * F.col("nb")).cast("bigint")
    ).select("event_type", F.col("mean_fp").alias("lo_fp"))
    hi = rk.filter(
        F.col("r") == F.ceil(F.lit(0.95) * F.col("nb")).cast("bigint")
    ).select("event_type", F.col("mean_fp").alias("hi_fp"))
    full_m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST((SUM(CAST(round(value * 100, 0) AS DECIMAL(38,0))) * 1000000)"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_fp"),
    )
    D = lambda c: c.cast("double")
    return (
        full_m.join(lo, "event_type")
        .join(hi, "event_type")
        .select(
            "event_type",
            "n",
            F.round(D(F.col("mean_fp")) / F.lit(1e6) / F.lit(100.0), 6).alias(
                "mean_value"
            ),
            F.round(D(F.col("lo_fp")) / F.lit(1e6) / F.lit(100.0), 6).alias("ci_lo"),
            F.round(D(F.col("hi_fp")) / F.lit(1e6) / F.lit(100.0), 6).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Fin2: maximum drawdown per series (running-max gap)
# ---------------------------------------------------------------------------


@query(
    "ts_max_drawdown",
    oracle="""
WITH c AS (
    SELECT user_id, event_id, ts,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
rm AS (
    SELECT user_id, cents,
           CAST(MAX(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peak
    FROM c
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(peak) AS BIGINT) AS peak_cents,
       CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
       round(CAST(MAX(peak - cents) AS DOUBLE)
             / CAST(MAX(peak) AS DOUBLE), 6) AS max_drawdown_frac
FROM rm
WHERE peak > 0
GROUP BY user_id
""",
    tags=("tsdb", "Fin2", "drawdown"),
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user series: the largest drop from any
    running peak to a subsequent value — the risk statistic volatility
    (ts_parkinson_volatility) can't see, because it's ORDER-sensitive:
    a series that dips then recovers has the same variance as one that
    crests then collapses, but very different drawdowns.

    peak - value under a running-max window is exact integer cents;
    the fraction normalizes by the GLOBAL peak (one of several
    conventions, stated so the number is interpretable). One
    user-partitioned window, one agg.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "event_id",
        "ts",
        fx("value").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rm = c.select(
        "user_id",
        "cents",
        F.max("cents").over(w).cast("bigint").alias("peak"),
    ).filter(F.col("peak") > 0)
    D = lambda x: x.cast("double")
    return rm.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("peak").cast("bigint").alias("peak_cents"),
        F.max(F.col("peak") - F.col("cents")).cast("bigint").alias(
            "max_drawdown_cents"
        ),
        F.round(
            D(F.max(F.col("peak") - F.col("cents"))) / D(F.max("peak")), 6
        ).alias("max_drawdown_frac"),
    )


# ---------------------------------------------------------------------------
# Spec5: Hurst exponent via rescaled-range analysis (long memory)
# ---------------------------------------------------------------------------


@query(
    "ts_hurst_exponent",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) AS y
    FROM events GROUP BY event_type, h
),
series AS (
    SELECT event_type, h, y,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) - 1 AS idx,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM hourly
),
scales AS (SELECT unnest([8, 16, 32, 64]) AS n),
blocks AS (
    SELECT s.event_type, sc.n, s.idx // sc.n AS blk, s.idx, s.y,
           SUM(s.y) OVER (PARTITION BY s.event_type, sc.n, s.idx // sc.n
                          ORDER BY s.idx) AS cum_y,
           ROW_NUMBER() OVER (PARTITION BY s.event_type, sc.n, s.idx // sc.n
                              ORDER BY s.idx) AS rn
    FROM series s CROSS JOIN scales sc
    WHERE s.cnt >= 2 * sc.n
),
bstats AS (
    SELECT event_type, n, blk, SUM(y) AS s_y
    FROM blocks GROUP BY event_type, n, blk HAVING COUNT(*) = n
),
zvals AS (
    SELECT b.event_type, b.n, b.blk,
           b.cum_y - b.rn * (t.s_y / b.n) AS z,
           (b.y - (t.s_y / b.n)) * (b.y - (t.s_y / b.n)) AS dsq
    FROM blocks b
    JOIN bstats t ON t.event_type = b.event_type AND t.n = b.n
                 AND t.blk = b.blk
),
rs AS (
    SELECT event_type, n,
           CAST(round((MAX(z) - MIN(z)) / sqrt(SUM(dsq) / n) * 1e9, 0)
                AS BIGINT) AS rs_fp
    FROM zvals GROUP BY event_type, n, blk
    HAVING sqrt(SUM(dsq) / n) > 0
),
pts AS (
    SELECT event_type, n,
           CAST(round(round(ln(CAST(SUM(rs_fp) AS DOUBLE) / 1e9 / COUNT(*)),
                            9) * 1e9, 0) AS BIGINT) AS y_fp,
           CAST(round(round(ln(CAST(n AS DOUBLE)), 9) * 1e9, 0) AS BIGINT)
           AS x_fp
    FROM rs GROUP BY event_type, n
),
fit AS (
    SELECT event_type,
           CAST(COUNT(*) AS INTEGER) AS n_scales,
           CAST(COUNT(*) AS HUGEINT) AS m,
           SUM(CAST(x_fp AS HUGEINT) * CAST(y_fp AS HUGEINT)) AS sxy,
           SUM(CAST(x_fp AS HUGEINT)) AS sx,
           SUM(CAST(y_fp AS HUGEINT)) AS sy,
           SUM(CAST(x_fp AS HUGEINT) * CAST(x_fp AS HUGEINT)) AS sxx
    FROM pts GROUP BY event_type
),
counts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM series GROUP BY event_type
)
SELECT c.event_type, c.n_hours,
       CAST(coalesce(f.n_scales, 0) AS INTEGER) AS n_scales,
       CASE WHEN f.n_scales >= 2
            THEN round(CAST(f.m * f.sxy - f.sx * f.sy AS DOUBLE)
                       / CAST(f.m * f.sxx - f.sx * f.sx AS DOUBLE), 4)
            END AS hurst
FROM counts c LEFT JOIN fit f ON f.event_type = c.event_type
""",
    tags=("tsdb", "Spec5"),
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type via rescaled-range (R/S) analysis
    over the hourly series: blocks of size n in {8,16,32,64}, each
    block's range-of-cumulative-deviations over its std, ln(R/S)
    regressed on ln(n) — H ~ 0.5 for a memoryless series, > 0.5 for
    persistent (trending) behavior, < 0.5 for mean reversion. The
    long-memory diagnostic ACF's fixed lags can't summarize.

    The R/S block computation is numpy inside applyInPandas on the
    calendar-bounded collapsed series (the FFT/DTW contract); series
    count is the scale axis. Oracled (r7 rows-only shrink — the "no
    SQL twin" claim was wrong): hourly cents sums are exact integers,
    block means divide by power-of-2 n, so deviations/cumsums/ranges
    are EXACT doubles on both engines; the only inexact quantities
    (block std, ln) pass through 1e9 fixed point before order-immune
    integer sums, and the ln(R/S)-on-ln(n) slope is the closed-form
    least-squares ratio over exact integer moment sums (Python
    bigint / DuckDB HUGEINT), divided once at the end. Planted
    trending-vs-alternating ordering and the white-noise ~0.5 anchor
    stay pinned in tests.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).select(
        "event_type", "h", F.col("c").cast("double").alias("y")
    )

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("h").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        pts = []  # (x_fp, y_fp) 1e9 fixed-point integers
        for n in (8, 16, 32, 64):
            if len(y) < 2 * n:
                continue
            rs_fp = []
            for s in range(0, len(y) - n + 1, n):
                blk = y[s : s + n]
                dev = blk - blk.mean()
                z = np.cumsum(dev)
                r = z.max() - z.min()
                sd = blk.std()
                if sd > 0:
                    rs_fp.append(int(round(r / sd * 1e9)))
            if rs_fp:
                mean_rs = float(sum(rs_fp)) / 1e9 / len(rs_fp)
                pts.append(
                    (
                        int(round(round(float(np.log(n)), 9) * 1e9)),
                        int(round(round(float(np.log(mean_rs)), 9) * 1e9)),
                    )
                )
        if len(pts) >= 2:
            # closed-form least-squares slope over exact integer moment
            # sums (Python bigint == the oracle's HUGEINT); the 1e18
            # fixed-point scale cancels in the ratio
            m = len(pts)
            sx = sum(p[0] for p in pts)
            sy = sum(p[1] for p in pts)
            sxy = sum(p[0] * p[1] for p in pts)
            sxx = sum(p[0] * p[0] for p in pts)
            num = m * sxy - sx * sy
            den = m * sxx - sx * sx
            # unrounded: num/den is an exact rational that can land on
            # a 4dp half boundary, where Python round (banker's) and
            # SQL round (half-away) split — final rounding happens
            # JVM-side (the forecast_per_day midpoint precedent)
            h_est = float(num) / float(den)
        else:
            h_est = None
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(y)],
                "n_scales": [len(pts)],
                "hurst": [h_est],
            }
        )

    out = hourly.groupBy("event_type").applyInPandas(
        run, "event_type string, n_hours long, n_scales int, hurst double"
    )
    return out.withColumn("hurst", F.round(F.col("hurst"), 4))


# ---------------------------------------------------------------------------
# Seq3: Markov entropy rate (composition over the transition matrix)
# ---------------------------------------------------------------------------


@query(
    "ts_entropy_rate",
    oracle=f"""
WITH tm AS ({{TM}}),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tr FROM tm),
terms AS (
    SELECT tm.from_type,
           CAST(round(round(-(CAST(tm.n AS DOUBLE) / CAST(tot.n_tr AS DOUBLE))
                            * ln(CAST(tm.n AS DOUBLE)
                                 / CAST(tm.row_total AS DOUBLE)), 9)
                      * 1e9, 0) AS BIGINT) AS t_fp
    FROM tm CROSS JOIN tot
)
SELECT CAST(COUNT(DISTINCT from_type) AS BIGINT) AS n_states,
       round(CAST(SUM(t_fp) AS DOUBLE) / 1e9, 6) AS entropy_rate_nats
FROM terms
""".replace("{{TM}}", "{TM}").format(TM=_REGISTRY["ts_markov_transitions"].oracle),
    tags=("tsdb", "Seq3", "markov", "composition"),
)
def ts_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the event-type Markov chain:
    H = -sum_ij pi_i p_ij ln p_ij with the stationary weight pi_i
    estimated by each state's share of observed transitions — bits of
    genuine surprise per step once first-order structure is accounted
    for (ts_entropy_by_type measures marginal entropy; the gap between
    them IS the predictability the transition matrix captures).

    Composition by registry reference: nests ts_markov_transitions'
    fn and oracle verbatim; each -pi*p*ln(p) term rounds 9dp into 1e9
    fixed point (the entropy contract) so the final sum is
    order-immune.
    """
    tm = _REGISTRY["ts_markov_transitions"].fn(spark, sf_dir)
    tot = tm.agg(F.sum("n").cast("bigint").alias("n_tr"))
    D = lambda c: c.cast("double")
    j = tm.join(F.broadcast(tot))
    t_fp = F.round(
        F.round(
            -(D(F.col("n")) / D(F.col("n_tr")))
            * F.log(D(F.col("n")) / D(F.col("row_total"))),
            9,
        )
        * F.lit(1e9),
        0,
    ).cast("bigint")
    terms = j.select("from_type", t_fp.alias("t_fp"))
    return terms.agg(
        F.countDistinct("from_type").cast("bigint").alias("n_states"),
        F.round(F.sum("t_fp").cast("double") / F.lit(1e9), 6).alias(
            "entropy_rate_nats"
        ),
    )


# ---------------------------------------------------------------------------
# A4e: exact quantile table (19-point distribution fingerprint)
# ---------------------------------------------------------------------------


@query(
    "ts_quantile_table",
    oracle="""
WITH c AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
hist AS (
    SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS k
    FROM c GROUP BY event_type, cents
),
cum AS (
    SELECT h.event_type, h.cents,
           (SELECT CAST(SUM(h2.k) AS BIGINT) FROM hist h2
            WHERE h2.event_type = h.event_type AND h2.cents <= h.cents) AS ck
    FROM hist h
),
tot AS (
    SELECT event_type, CAST(SUM(k) AS BIGINT) AS n FROM hist GROUP BY event_type
),
qgrid AS (SELECT unnest(generate_series(1, 19)) AS q20)
SELECT tot.event_type,
       round(CAST(q20 AS DOUBLE) / 20.0, 2) AS q,
       (SELECT MIN(cents) FROM cum
        WHERE cum.event_type = tot.event_type
          AND cum.ck * 20 >= q20 * tot.n) AS quantile_cents
FROM tot CROSS JOIN qgrid
""",
    tags=("tsdb", "A4e", "distribution"),
)
def ts_quantile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 19-point quantile table (q = 0.05..0.95) of value cents
    per event type — the distribution fingerprint behind QQ plots and
    distribution-shift dashboards (KS/PSI give one number; this gives
    the curve). Quantiles are exact lower order statistics: min cents
    with rank*20 >= q20*n, all integer comparisons.

    The cumulative counts come from banded_prefix_sum over the
    per-type VALUE HISTOGRAM (bounded by distinct cents, partitioned
    by type — no sort of the event-sized column), and the 19-point
    read-off is a filtered aggregation per grid point over that
    bounded table.
    """
    from ..operators.rank import banded_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            fx("value").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    cum = banded_prefix_sum(
        hist, "cents", ["cents"], "k", ascending=True, out="ck",
        partition_by=["event_type"],
    )
    tot = hist.groupBy("event_type").agg(F.sum("k").cast("bigint").alias("n"))
    qgrid = spark.range(1, 20).select(F.col("id").cast("bigint").alias("q20"))
    j = (
        cum.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(qgrid))
        .filter(F.col("ck") * 20 >= F.col("q20") * F.col("n"))
    )
    return j.groupBy(
        "event_type", F.round(F.col("q20").cast("double") / 20.0, 2).alias("q")
    ).agg(F.min("cents").cast("bigint").alias("quantile_cents"))


# ---------------------------------------------------------------------------
# W18: decomposition-residual anomaly flags (STL-anomaly composition)
# ---------------------------------------------------------------------------


@query(
    "ts_stl_anomaly",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, h
),
tr AS (
    SELECT event_type, h, cents,
           CAST(SUM(cents) OVER w AS BIGINT) AS trend_x25,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
det AS (
    SELECT event_type, h, h % 24 AS hod,
           25 * cents - trend_x25 AS d_x25
    FROM tr WHERE n_win = 25
),
seas AS (
    SELECT event_type, hod,
           CAST(SUM(d_x25) AS HUGEINT) AS s_sum,
           CAST(COUNT(*) AS HUGEINT) AS s_n
    FROM det GROUP BY event_type, hod
),
resid AS (
    SELECT d.event_type, d.h,
           CAST(d.d_x25 AS HUGEINT) * s.s_n - s.s_sum AS r_num,
           s.s_n
    FROM det d JOIN seas s ON d.event_type = s.event_type AND d.hod = s.hod
),
mom AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(r_num // s_n) AS s1,
           SUM((r_num // s_n) * (r_num // s_n)) AS s2
    FROM resid GROUP BY event_type
)
SELECT r.event_type, r.h,
       CAST(r.r_num // r.s_n AS BIGINT) AS resid_x25n,
       CAST(CASE WHEN m.n * (r.r_num // r.s_n) - m.s1 > 0
                  AND (m.n * (r.r_num // r.s_n) - m.s1)
                      * (m.n * (r.r_num // r.s_n) - m.s1)
                      > 9 * (m.n * m.s2 - m.s1 * m.s1)
                 THEN 1
                 WHEN m.n * (r.r_num // r.s_n) - m.s1 < 0
                  AND (m.n * (r.r_num // r.s_n) - m.s1)
                      * (m.n * (r.r_num // r.s_n) - m.s1)
                      > 9 * (m.n * m.s2 - m.s1 * m.s1)
                 THEN -1 ELSE 0 END AS INTEGER) AS anomaly
FROM resid r JOIN mom m ON r.event_type = m.event_type
WHERE (m.n * (r.r_num // r.s_n) - m.s1)
      * (m.n * (r.r_num // r.s_n) - m.s1)
      > 9 * (m.n * m.s2 - m.s1 * m.s1)
""",
    tags=("tsdb", "W18", "anomaly", "composition"),
)
def ts_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition-residual anomalies: hours whose residual (series
    minus trend minus hour-of-day seasonal) exceeds 3 sigma of the
    residual distribution, signed — the STL-anomaly shape that a raw
    threshold (ts_burn_rate) and an unadjusted z-score
    (ts_rolling_zscore) both get wrong during legitimate daily peaks:
    removing the expected shape FIRST is what makes a 9 am spike
    normal and the same spike at 3 am an alert.

    Same integer algebra as ts_seasonality_strength (residual*s_n
    stays integer via floor-div by s_n, mirrored); the 3-sigma gate is
    the emb_outliers cross-multiplied inequality, squared on both
    sides with the sign reported separately.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev).withColumnRenamed("c", "cents")
    w = Window.partitionBy("event_type").orderBy("h").rangeBetween(-12, 12)
    tr = hourly.select(
        "event_type",
        "h",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("trend_x25"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )
    det = tr.filter(F.col("n_win") == 25).select(
        "event_type",
        "h",
        (F.col("h") % 24).alias("hod"),
        (F.lit(25) * F.col("cents") - F.col("trend_x25")).alias("d_x25"),
    )
    seas = det.groupBy("event_type", "hod").agg(
        F.sum(dec("d_x25", 38, 0)).alias("s_sum"),
        dec(F.count(F.lit(1)), 38, 0).alias("s_n"),
    )
    resid = det.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        "h",
        F.expr(
            "CAST((CAST(d_x25 AS DECIMAL(38,0)) * s_n - s_sum) div s_n"
            " AS DECIMAL(38,0))"
        ).alias("r"),
    )
    mom = resid.groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
    )
    j = resid.join(F.broadcast(mom), "event_type")
    lhs = F.col("n") * F.col("r") - F.col("s1")
    var9 = F.lit(9) * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    return j.filter(lhs * lhs > var9).select(
        "event_type",
        "h",
        F.col("r").cast("bigint").alias("resid_x25n"),
        F.when(lhs > 0, 1).otherwise(-1).cast("int").alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# Store2: run-length encoding statistics (repeat-value codec analysis)
# ---------------------------------------------------------------------------


@query(
    "ts_rle_stats",
    oracle="""
WITH s AS (
    SELECT user_id,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           CASE WHEN lag(CAST(round(value * 100, 0) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS DISTINCT FROM CAST(round(value * 100, 0) AS BIGINT)
                THEN 1 ELSE 0 END AS brk
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(brk) AS BIGINT) AS n_runs,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(brk) AS DOUBLE), 6)
           AS rle_ratio
FROM s GROUP BY user_id
HAVING SUM(brk) > 0
""",
    tags=("tsdb", "Store2", "codec"),
)
def ts_rle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding statistics per series: run count (value
    changes, null-safe so the first row starts run 1) and the RLE
    compression ratio points/runs — the repeat-value codec analysis
    that pairs with ts_gorilla_size_estimate's delta-of-delta view:
    RLE wins on flatlined gauges, Gorilla on drifting ones, and the
    two ratios side by side pick the encoding per series. A ratio
    near 1.0 (this fixture's continuous values) is itself the signal
    that RLE is the WRONG codec here.

    One per-series lag with IS DISTINCT FROM (null-safe run breaks),
    one agg — all integer until the final ratio.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = fx("value")
    s = ev.select(
        "user_id",
        cents.alias("cents"),
        (~F.lag(cents).over(w).eqNullSafe(cents)).cast("int").alias("brk"),
    )
    D = lambda c: c.cast("double")
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("brk").cast("bigint").alias("n_runs"),
        )
        .filter(F.col("n_runs") > 0)
        .select(
            "user_id",
            "n_points",
            "n_runs",
            F.round(D(F.col("n_points")) / D(F.col("n_runs")), 6).alias(
                "rle_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A3k: skewness and kurtosis from exact power sums
# ---------------------------------------------------------------------------


@query(
    "ts_value_shape",
    oracle="""
WITH c AS (
    SELECT event_type, CAST(round(value * 100, 0) AS HUGEINT) AS x
    FROM events
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS s1,
           SUM(x * x) AS s2,
           SUM(x * x * x) AS s3,
           SUM(x * x * x * x) AS s4
    FROM c GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
       round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 1.5), 6)
           AS skewness,
       round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0, 6)
           AS excess_kurtosis
FROM m
WHERE n >= 2 AND CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      > (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
""",
    tags=("tsdb", "A3k", "moments"),
)
def ts_value_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution SHAPE per event type: skewness and excess kurtosis
    from exact integer power sums s1..s4 (population central moments
    via the binomial expansion) — the tail diagnostics beyond
    rel_stats_moments' variance: heavy-tailed latency-style values
    show positive skew and kurtosis long before a percentile table
    does. Every power sum is HUGEINT/decimal38; the centered-moment
    expressions are one mirrored double formula each (the pattern
    every moment statistic in this repo uses).
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("decimal(38,0)").alias("x"),
    )
    m = c.groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    D = lambda c_: c_.cast("double")
    mu = D(F.col("s1")) / D(F.col("n"))
    m2r = D(F.col("s2")) / D(F.col("n"))
    m3r = D(F.col("s3")) / D(F.col("n"))
    m4r = D(F.col("s4")) / D(F.col("n"))
    var = m2r - mu * mu
    m3c = m3r - F.lit(3.0) * mu * m2r + F.lit(2.0) * mu * mu * mu
    m4c = (
        m4r
        - F.lit(4.0) * mu * m3r
        + F.lit(6.0) * mu * mu * m2r
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return (
        m.filter((F.col("n") >= 2) & (m2r > mu * mu))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(m3c / F.pow(var, 1.5), 6).alias("skewness"),
            F.round(m4c / (var * var) - F.lit(3.0), 6).alias("excess_kurtosis"),
        )
    )


# ---------------------------------------------------------------------------
# W8f: Croston intermittent-demand forecasting (two-state recursion)
# ---------------------------------------------------------------------------
# The holt/kalman sanctioned-sequential contract: numpy loop and
# recursive-CTE oracle execute the identical IEEE op sequence over the
# demand-point series. States: smoothed demand size z and smoothed
# inter-demand interval p; alpha = 0.1 (1.0-0.1 == 0.9 exactly).
# Seeds: z = first demand, p = 1.0 (first interval unobserved — the
# standard convention, documented).


@query(
    "ts_croston",
    oracle="""
WITH RECURSIVE d AS (
    SELECT user_id,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) AS q
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, day
),
seq AS (
    SELECT user_id, day, q,
           CAST(COALESCE(day - lag(day) OVER
                (PARTITION BY user_id ORDER BY day), 1) AS DOUBLE) AS gap,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
    FROM d
),
cr AS (
    SELECT user_id, day, q, gap, rn,
           q AS z, CAST(1.0 AS DOUBLE) AS p
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.day, s.q, s.gap, s.rn,
           CAST(0.1 AS DOUBLE) * s.q + CAST(0.9 AS DOUBLE) * c.z,
           CAST(0.1 AS DOUBLE) * s.gap + CAST(0.9 AS DOUBLE) * c.p
    FROM cr c JOIN seq s ON s.user_id = c.user_id AND s.rn = c.rn + 1
)
SELECT user_id, day, q AS demand_cents, z AS smooth_size,
       p AS smooth_interval,
       round(z / p, 6) AS forecast_per_day
FROM cr
""",
    tags=("tsdb", "W8f", "forecast", "sequential"),
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per user over daily purchase demand: separate
    exponential smoothing of demand SIZE and inter-demand INTERVAL,
    forecast = z/p per day — the forecasting model for INTERMITTENT
    series where Holt/EMA on the raw (mostly-zero) sequence just decay
    to noise: smoothing only at demand points is the whole idea.

    alpha = 0.1; seeds z = first demand, p = 1.0 (first interval
    unobserved). Sequential boundary (batch_ema contract), recursive-
    CTE oracle replaying the identical IEEE recurrences.
    """
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
            fx("value").alias("c"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("double").alias("q"))
    )

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("day").reset_index(drop=True)
        qs = pdf["q"].to_numpy(dtype="float64")
        days = pdf["day"].to_numpy(dtype="int64")
        n = len(qs)
        zs = np.empty(n)
        ps = np.empty(n)
        z = p = 0.0
        for i in range(n):
            if i == 0:
                z, p = qs[0], 1.0
            else:
                gap = float(days[i] - days[i - 1])
                z = 0.1 * qs[i] + 0.9 * z
                p = 0.1 * gap + 0.9 * p
            zs[i] = z
            ps[i] = p
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "day": days,
                "demand_cents": qs,
                "smooth_size": zs,
                "smooth_interval": ps,
            }
        )

    out = d.groupBy("user_id").applyInPandas(
        run,
        "user_id bigint, day bigint, demand_cents double, smooth_size double, "
        "smooth_interval double",
    )
    # rounding happens JVM-side: numpy's round is half-even while both
    # engines' SQL round is half-away — the midpoint hazard caught live
    # on one row in 159 at sf0.001
    return out.withColumn(
        "forecast_per_day",
        F.round(F.col("smooth_size") / F.col("smooth_interval"), 6),
    )


# ---------------------------------------------------------------------------
# Fin3: expected shortfall / CVaR (tail mean beyond the exact p95)
# ---------------------------------------------------------------------------


@query(
    "ts_expected_shortfall",
    oracle="""
WITH c AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
hist AS (
    SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS k
    FROM c GROUP BY event_type, cents
),
cum AS (
    SELECT h.event_type, h.cents, h.k,
           (SELECT CAST(SUM(h2.k) AS BIGINT) FROM hist h2
            WHERE h2.event_type = h.event_type AND h2.cents <= h.cents) AS ck
    FROM hist h
),
tot AS (
    SELECT event_type, CAST(SUM(k) AS BIGINT) AS n FROM hist GROUP BY event_type
),
var95 AS (
    SELECT tot.event_type, tot.n,
           (SELECT MIN(cents) FROM cum
            WHERE cum.event_type = tot.event_type
              AND cum.ck * 20 >= 19 * tot.n) AS v
    FROM tot
)
SELECT c.event_type, var95.n AS n_obs,
       CAST(var95.v AS BIGINT) AS var95_cents,
       CAST(COUNT(*) AS BIGINT) AS n_tail,
       round(CAST(SUM(c.cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0,
             6) AS expected_shortfall
FROM c JOIN var95 ON c.event_type = var95.event_type
WHERE c.cents >= var95.v
GROUP BY c.event_type, var95.n, var95.v
""",
    tags=("tsdb", "Fin3", "risk"),
)
def ts_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) at 95% per event type: the MEAN of
    the tail at or beyond the exact p95 order statistic — the risk
    number regulators prefer over VaR because it sees HOW BAD the
    tail is, not just where it starts (ts_max_drawdown is the
    path-ordered cousin; this is the distributional one).

    The p95 comes from the bounded-domain histogram read-off (the
    rel_ship_latency pattern), broadcasts as one row per type, and
    the tail mean is exact integer cents over a filtered scan — no
    sort anywhere.
    """
    from ..operators.rank import banded_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        fx("value").alias("cents"),
    )
    hist = c.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    cum = banded_prefix_sum(
        hist, "cents", ["cents"], "k", ascending=True, out="ck",
        partition_by=["event_type"],
    )
    tot = hist.groupBy("event_type").agg(F.sum("k").cast("bigint").alias("n"))
    var95 = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("ck") * 20 >= 19 * F.col("n"))
        .groupBy("event_type", "n")
        .agg(F.min("cents").cast("bigint").alias("v"))
    )
    D = lambda x: x.cast("double")
    return (
        c.join(F.broadcast(var95), "event_type")
        .filter(F.col("cents") >= F.col("v"))
        .groupBy("event_type", "n", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            F.round(D(F.sum("cents")) / D(F.count(F.lit(1))) / 100.0, 6).alias(
                "expected_shortfall"
            ),
        )
        .select(
            "event_type",
            F.col("n").alias("n_obs"),
            F.col("v").alias("var95_cents"),
            "n_tail",
            "expected_shortfall",
        )
    )


# ---------------------------------------------------------------------------
# W8g: naive forecast baselines (the floor every model must beat)
# ---------------------------------------------------------------------------


@query(
    "ts_naive_baselines",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
lagd AS (
    SELECT a.event_type, a.h, a.c,
           b.c AS prev_c, s.c AS season_c
    FROM hourly a
    LEFT JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h - 1
    LEFT JOIN hourly s ON s.event_type = a.event_type AND s.h = a.h - 24
)
SELECT event_type,
       CAST(COUNT(prev_c) AS BIGINT) AS n_naive,
       round(CAST(SUM(abs(c - prev_c)) AS DOUBLE)
             / CAST(COUNT(prev_c) AS DOUBLE) / 100.0, 6) AS naive_mae,
       CAST(COUNT(season_c) AS BIGINT) AS n_seasonal,
       round(CAST(SUM(abs(c - season_c)) AS DOUBLE)
             / CAST(COUNT(season_c) AS DOUBLE) / 100.0, 6) AS seasonal_naive_mae
FROM lagd GROUP BY event_type
""",
    tags=("tsdb", "W8g", "forecast"),
)
def ts_naive_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two forecast baselines every model must beat: NAIVE (next
    hour = this hour) and SEASONAL NAIVE (next hour = same hour
    yesterday), as one-step MAE per event type — the floor that makes
    ts_forecast_backtest's Holt MAE interpretable (a model that can't
    beat seasonal-naive on a daily-patterned series is fitting noise,
    whatever its own error says). Calendar-gap-correct: comparisons
    exist only where the lagged hour actually exists (h-1 / h-24
    joins, not row lags).

    Integer absolute errors summed exactly; two joins against the
    calendar-bounded hourly table.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)
    prev = hourly.select(
        "event_type", (F.col("h") + 1).alias("h"), F.col("c").alias("prev_c")
    )
    seas = hourly.select(
        "event_type", (F.col("h") + 24).alias("h"), F.col("c").alias("season_c")
    )
    lagd = hourly.join(prev, ["event_type", "h"], "left").join(
        seas, ["event_type", "h"], "left"
    )
    D = lambda x: x.cast("double")
    return lagd.groupBy("event_type").agg(
        F.count("prev_c").cast("bigint").alias("n_naive"),
        F.round(
            D(F.sum(F.abs(F.col("c") - F.col("prev_c"))))
            / D(F.count("prev_c"))
            / 100.0,
            6,
        ).alias("naive_mae"),
        F.count("season_c").cast("bigint").alias("n_seasonal"),
        F.round(
            D(F.sum(F.abs(F.col("c") - F.col("season_c"))))
            / D(F.count("season_c"))
            / 100.0,
            6,
        ).alias("seasonal_naive_mae"),
    )


# ---------------------------------------------------------------------------
# A3l: Mann-Whitney U (nonparametric two-sample test, exact midranks)
# ---------------------------------------------------------------------------


@query(
    "ts_mann_whitney",
    oracle="""
WITH c AS (
    SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS grp,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('error', 'click')
),
hist AS (
    SELECT cents,
           CAST(COUNT(*) AS HUGEINT) AS ct,
           CAST(SUM(grp) AS HUGEINT) AS c1
    FROM c GROUP BY cents
),
cum AS (
    SELECT h.cents, h.ct, h.c1,
           (SELECT CAST(COALESCE(SUM(h2.ct), 0) AS HUGEINT) FROM hist h2
            WHERE h2.cents < h.cents) AS k_before
    FROM hist h
),
agg AS (
    SELECT CAST(SUM(c1) AS HUGEINT) AS n1,
           CAST(SUM(ct - c1) AS HUGEINT) AS n2,
           -- 2*rank-sum of group 1: midrank = K + (c+1)/2, x2 exact
           CAST(SUM(c1 * (2 * k_before + ct + 1)) AS HUGEINT) AS r1_x2
    FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_error,
       CAST(n2 AS BIGINT) AS n_click,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
       round(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * n2 AS DOUBLE), 6) AS auc,
       round(2.0 * CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * n2 AS DOUBLE) - 1.0, 6) AS rank_biserial
FROM agg
""",
    tags=("tsdb", "A3l", "nonparametric"),
)
def ts_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between 'error' and 'click' values — the
    NONPARAMETRIC two-sample test (ts_welch_t_pairs assumes rough
    normality; U only uses order, so heavy tails and outliers can't
    fake or hide a shift). Reported with its two standard effect
    sizes: AUC = U/(n1 n2) = P(error value > click value), and the
    rank-biserial correlation 2*AUC - 1.

    Exact TIE handling with zero sorting of the data: the pooled
    VALUE HISTOGRAM gives each value's occupied rank interval, the
    midrank doubles as the integer 2K + c + 1, and the group-1
    rank-sum (x2) is one integer dot product over the histogram —
    U, AUC and the effect sizes are exact-integer ratios.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type").isin("error", "click")).select(
        (F.col("event_type") == "error").cast("int").alias("grp"),
        fx("value").alias("cents"),
    )
    hist = c.groupBy("cents").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("ct"),
        dec(F.sum("grp"), 38, 0).alias("c1"),
    )
    # K_before via broadcast theta join over the bounded histogram
    other = hist.select(
        F.col("cents").alias("o_cents"), F.col("ct").alias("o_ct")
    )
    cum = (
        hist.join(F.broadcast(other), F.col("o_cents") < F.col("cents"), "left")
        .groupBy("cents", "ct", "c1")
        .agg(
            F.coalesce(F.sum("o_ct"), F.lit(0).cast("decimal(38,0)")).alias(
                "k_before"
            )
        )
    )
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).alias("n2"),
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("k_before") + F.col("ct") + 1)
        ).alias("r1_x2"),
    )
    D = lambda x: x.cast("double")
    u_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    auc = D(u_x2) / D(F.lit(2) * F.col("n1") * F.col("n2"))
    return agg.select(
        F.col("n1").cast("bigint").alias("n_error"),
        F.col("n2").cast("bigint").alias("n_click"),
        u_x2.cast("bigint").alias("u_x2"),
        F.round(auc, 6).alias("auc"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 6).alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Fin4: record-breaking counts (running-record randomness diagnostic)
# ---------------------------------------------------------------------------


@query(
    "ts_record_counts",
    oracle="""
WITH s AS (
    SELECT user_id, event_id, ts,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS prev_max
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_max IS NULL OR cents > prev_max
                THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       round(ln(CAST(COUNT(*) AS DOUBLE)) + 0.5772156649, 6)
           AS expected_if_iid
FROM s GROUP BY user_id
""",
    tags=("tsdb", "Fin4", "records"),
)
def ts_record_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking analysis per series: how many events set a new
    running maximum, vs the iid expectation H_n ~ ln(n) + gamma — a
    series whose record count far exceeds ln(n) is trending (records
    keep falling), far below is front-loaded; the classic
    distribution-free trend sniff that needs no model at all
    (complements ts_hurst_exponent with an O(1)-state statistic the
    streaming extrema operator already tracks).

    One running-max window (1 PRECEDING — the current row must beat
    STRICTLY earlier events), exact integer compares; the ln
    expectation is display-only.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = fx("value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.select(
        "user_id",
        cents.alias("cents"),
        F.max(cents).over(w).alias("prev_max"),
    )
    is_rec = (
        F.col("prev_max").isNull() | (F.col("cents") > F.col("prev_max"))
    ).cast("int")
    D = lambda x: x.cast("double")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(is_rec).cast("bigint").alias("n_records"),
        F.round(
            F.log(D(F.count(F.lit(1)))) + F.lit(0.5772156649), 6
        ).alias("expected_if_iid"),
    )


# ---------------------------------------------------------------------------
# A3m: Spearman rank correlation between series (robust cross-corr)
# ---------------------------------------------------------------------------


@query(
    "ts_spearman_pairs",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
rk AS (
    -- midrank x2 within each series (tie-correct, integer)
    SELECT a.event_type, a.h,
           CAST((SELECT 2 * COUNT(*) FROM hourly b
                 WHERE b.event_type = a.event_type AND b.c < a.c)
                + (SELECT COUNT(*) FROM hourly b
                   WHERE b.event_type = a.event_type AND b.c = a.c)
                + 1 AS HUGEINT) AS r_x2
    FROM hourly a
),
pairs AS (
    SELECT x.event_type AS type_a, y.event_type AS type_b,
           x.r_x2 AS rx, y.r_x2 AS ry
    FROM rk x JOIN rk y ON x.h = y.h AND x.event_type < y.event_type
),
m AS (
    SELECT type_a, type_b,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(rx) AS HUGEINT) AS sx,
           CAST(SUM(ry) AS HUGEINT) AS sy,
           SUM(rx * ry) AS sxy,
           SUM(rx * rx) AS sxx,
           SUM(ry * ry) AS syy
    FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
FROM m
WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    tags=("tsdb", "A3m", "correlation"),
)
def ts_spearman_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each pair of event-type
    hourly series — Pearson on MIDRANKS, so one outlier hour can't
    fabricate or destroy the relationship ts_series_corr (Pearson on
    values) reports; reading the two side by side separates linear
    co-movement from mere monotone association.

    Ranks are per-series midranks x2 (tie-correct integers) computed
    from each series' own value histogram — the Mann-Whitney
    machinery per series; the correlation is then the standard exact
    integer moment formula. Everything runs on the calendar-bounded
    hourly table.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)
    # per-series value histogram -> midrank x2 per value
    hist = hourly.groupBy("event_type", "c").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("ct")
    )
    other = hist.select(
        F.col("event_type").alias("o_et"),
        F.col("c").alias("o_c"),
        F.col("ct").alias("o_ct"),
    )
    cum = (
        hist.join(
            F.broadcast(other),
            (F.col("o_et") == F.col("event_type")) & (F.col("o_c") < F.col("c")),
            "left",
        )
        .groupBy("event_type", "c", "ct")
        .agg(
            F.coalesce(F.sum("o_ct"), F.lit(0).cast("decimal(38,0)")).alias(
                "k_before"
            )
        )
        .select(
            "event_type",
            "c",
            (F.lit(2) * F.col("k_before") + F.col("ct") + 1).alias("r_x2"),
        )
    )
    rk = hourly.join(cum, ["event_type", "c"]).select("event_type", "h", "r_x2")
    x = rk.select(
        F.col("event_type").alias("type_a"), "h", F.col("r_x2").alias("rx")
    )
    y = rk.select(
        F.col("event_type").alias("type_b"), "h", F.col("r_x2").alias("ry")
    )
    pairs = x.join(y, "h").filter(F.col("type_a") < F.col("type_b"))
    m = pairs.groupBy("type_a", "type_b").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    D = lambda x_: x_.cast("double")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            "type_a",
            "type_b",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(D(cov) / F.sqrt(D(vx)) / F.sqrt(D(vy)), 6).alias(
                "spearman_rho"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A6i: circular time-of-day statistics (directional mean hour)
# ---------------------------------------------------------------------------


@query(
    "ts_time_of_day_circular",
    oracle="""
WITH a AS (
    SELECT event_type,
           CAST(epoch_us(ts) % 86400000000 AS DOUBLE)
               * (2.0 * pi() / 86400000000.0) AS theta
    FROM events
),
t AS (
    SELECT event_type,
           CAST(round(round(sin(theta), 9) * 1e9, 0) AS BIGINT) AS s_fp,
           CAST(round(round(cos(theta), 9) * 1e9, 0) AS BIGINT) AS c_fp
    FROM a
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(s_fp) AS HUGEINT) AS ss,
           CAST(SUM(c_fp) AS HUGEINT) AS sc
    FROM t GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       round((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
              + CASE WHEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) < 0
                     THEN 2.0 * pi() ELSE 0.0 END)
             * (24.0 / (2.0 * pi())), 4) AS mean_hour,
       round(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                  + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             / 1e9 / CAST(n AS DOUBLE), 6) AS resultant_length
FROM m
""",
    tags=("tsdb", "A6i", "circular"),
)
def ts_time_of_day_circular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCULAR mean time-of-day per event type: each event's clock
    time becomes an angle, the mean direction comes from summed
    sin/cos components, and the resultant length R measures how
    concentrated activity is around that hour — the correct average
    of 23:00 and 01:00 is midnight, which an arithmetic mean of hours
    (noon) gets absurdly wrong. R ~ 0 = activity spread around the
    clock (this fixture), R -> 1 = a sharp daily habit.

    libm discipline: sin/cos round 9dp into 1e9 fixed point (the
    entropy-term rule) so component sums are order-immune integers;
    atan2 and the final sqrt run once per group on exact inputs.
    """
    ev = load_table(spark, sf_dir, "events")
    theta = (
        F.expr("CAST(unix_micros(ts) % 86400000000 AS DOUBLE)")
        * (2.0 * 3.141592653589793 / 86400000000.0)
    )
    t = ev.select(
        "event_type",
        fx(F.round(F.sin(theta), 9), 9).alias("s_fp"),
        fx(F.round(F.cos(theta), 9), 9).alias("c_fp"),
    )
    m = t.groupBy("event_type").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum(dec("s_fp", 38, 0)).alias("ss"),
        F.sum(dec("c_fp", 38, 0)).alias("sc"),
    )
    D = lambda x: x.cast("double")
    ang = F.atan2(D(F.col("ss")), D(F.col("sc")))
    ang_pos = ang + F.when(ang < 0, 2.0 * 3.141592653589793).otherwise(0.0)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(ang_pos * (24.0 / (2.0 * 3.141592653589793)), 4).alias(
            "mean_hour"
        ),
        F.round(
            F.sqrt(D(F.col("ss")) * D(F.col("ss")) + D(F.col("sc")) * D(F.col("sc")))
            / F.lit(1e9)
            / D(F.col("n")),
            6,
        ).alias("resultant_length"),
    )


# ---------------------------------------------------------------------------
# Fin5: variance-ratio test (Lo-MacKinlay random-walk diagnostic)
# ---------------------------------------------------------------------------


@query(
    "ts_variance_ratio",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
d1 AS (
    SELECT a.event_type, CAST(b.c - a.c AS HUGEINT) AS x
    FROM hourly a JOIN hourly b
      ON b.event_type = a.event_type AND b.h = a.h + 1
),
d4 AS (
    SELECT a.event_type, CAST(b.c - a.c AS HUGEINT) AS x
    FROM hourly a JOIN hourly b
      ON b.event_type = a.event_type AND b.h = a.h + 4
),
m1 AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS s1, SUM(x * x) AS s2
    FROM d1 GROUP BY event_type
),
m4 AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS s1, SUM(x * x) AS s2
    FROM d4 GROUP BY event_type
)
SELECT m1.event_type,
       CAST(m1.n AS BIGINT) AS n_1h_diffs,
       CAST(m4.n AS BIGINT) AS n_4h_diffs,
       round((CAST(m4.n * m4.s2 - m4.s1 * m4.s1 AS DOUBLE)
              / CAST(m4.n * m4.n AS DOUBLE))
             / (4.0 * CAST(m1.n * m1.s2 - m1.s1 * m1.s1 AS DOUBLE)
                / CAST(m1.n * m1.n AS DOUBLE)), 6) AS variance_ratio
FROM m1 JOIN m4 ON m1.event_type = m4.event_type
WHERE m1.n * m1.s2 - m1.s1 * m1.s1 > 0
""",
    tags=("tsdb", "Fin5", "randomwalk"),
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio test (Lo-MacKinlay): Var(4-hour change) /
    (4 x Var(1-hour change)) per series — exactly 1 for a random walk
    (variances add), > 1 for trending/momentum (long moves compound),
    < 1 for mean reversion (moves cancel). The econometric cousin of
    ts_hurst_exponent (VR ~ n^(2H-1) asymptotically), but closed-form
    from four exact moment sums instead of a block regression — so
    this one carries a full value oracle.

    Gap-correct: differences come from h+1 / h+4 joins, never row
    lags; population variances as integer cross products under one
    mirrored double expression.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)

    def diffs(k: int):
        b = hourly.select(
            "event_type", (F.col("h") - k).alias("h"), F.col("c").alias("c2")
        )
        return (
            hourly.join(b, ["event_type", "h"])
            .select("event_type", dec(F.col("c2") - F.col("c"), 38, 0).alias("x"))
            .groupBy("event_type")
            .agg(
                dec(F.count(F.lit(1)), 38, 0).alias("n"),
                F.sum("x").alias("s1"),
                F.sum(F.col("x") * F.col("x")).alias("s2"),
            )
        )

    m1 = diffs(1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s1").alias("a1"),
        F.col("s2").alias("b1"),
    )
    m4 = diffs(4).select(
        "event_type",
        F.col("n").alias("n4"),
        F.col("s1").alias("a4"),
        F.col("s2").alias("b4"),
    )
    D = lambda x: x.cast("double")
    v1 = F.col("n1") * F.col("b1") - F.col("a1") * F.col("a1")
    v4 = F.col("n4") * F.col("b4") - F.col("a4") * F.col("a4")
    return (
        m1.join(m4, "event_type")
        .filter(v1 > 0)
        .select(
            "event_type",
            F.col("n1").cast("bigint").alias("n_1h_diffs"),
            F.col("n4").cast("bigint").alias("n_4h_diffs"),
            F.round(
                (D(v4) / D(F.col("n4") * F.col("n4")))
                / (F.lit(4.0) * D(v1) / D(F.col("n1") * F.col("n1"))),
                6,
            ).alias("variance_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# A3n: per-user hour-of-day entropy (habit regularity score)
# ---------------------------------------------------------------------------


@query(
    "ts_user_hod_entropy",
    oracle="""
WITH hod AS (
    SELECT user_id,
           CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS hh,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id, hh
),
tot AS (
    SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM hod GROUP BY user_id
),
terms AS (
    SELECT hod.user_id,
           CAST(round(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                      * 1e9, 0) AS BIGINT) AS t_fp
    FROM hod JOIN tot ON hod.user_id = tot.user_id
)
SELECT terms.user_id,
       CAST(tot.n AS BIGINT) AS n_events,
       round(CAST(SUM(t_fp) AS DOUBLE) / 1e9, 6) AS hod_entropy,
       round(CAST(SUM(t_fp) AS DOUBLE) / 1e9
             / round(ln(24.0), 6), 6) AS regularity_deficit
FROM terms JOIN tot ON terms.user_id = tot.user_id
GROUP BY terms.user_id, tot.n
""",
    tags=("tsdb", "A3n", "behavior"),
)
def ts_user_hod_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day entropy per user: Shannon entropy of each user's
    activity histogram over the 24 clock hours, plus its share of the
    ln(24) maximum — the habit-regularity score (a 9-to-5 user scores
    low, a round-the-clock bot scores ~1.0) that complements
    ts_time_of_day_circular's mean direction with a spread measure
    and ts_burstiness's temporal clumping with a CLOCK-position one.

    The entropy fixed-point contract: -p ln p terms round 9dp into
    1e9 integers; one (user, hour) agg, bounded 24-row histograms.
    """
    ev = load_table(spark, sf_dir, "events")
    hod = (
        ev.select(
            "user_id",
            F.expr("(unix_micros(ts) % 86400000000) div 3600000000")
            .cast("bigint")
            .alias("hh"),
        )
        .groupBy("user_id", "hh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = hod.groupBy("user_id").agg(F.sum("c").cast("bigint").alias("n"))
    D = lambda x: x.cast("double")
    p = D(F.col("c")) / D(F.col("n"))
    t_fp = F.round(F.round(-p * F.log(p), 9) * F.lit(1e9), 0).cast("bigint")
    terms = hod.join(tot, "user_id").select("user_id", "n", t_fp.alias("t_fp"))
    ent = F.sum("t_fp").cast("double") / F.lit(1e9)
    return terms.groupBy("user_id", "n").agg(
        F.round(ent, 6).alias("hod_entropy"),
        F.round(ent / F.round(F.log(F.lit(24.0)), 6), 6).alias(
            "regularity_deficit"
        ),
    ).select(
        "user_id", F.col("n").alias("n_events"), "hod_entropy",
        "regularity_deficit",
    )


# ---------------------------------------------------------------------------
# A3o: effective sample size via integrated autocorrelation
# ---------------------------------------------------------------------------


@query(
    "ts_effective_sample_size",
    oracle=f"""
WITH acf AS ({{ACF}}),
nser AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT)
          FROM events) t(event_type, h)
    GROUP BY event_type
),
s AS (
    SELECT a.event_type,
           CAST(SUM(CAST(round(a.acf * 1e6, 0) AS BIGINT)) AS BIGINT) AS rho_fp
    FROM acf a GROUP BY a.event_type
)
SELECT nser.event_type, nser.n AS n_obs,
       round(1.0 + 2.0 * CAST(s.rho_fp AS DOUBLE) / 1e6, 6) AS act_factor,
       round(CAST(nser.n AS DOUBLE)
             / GREATEST(1.0 + 2.0 * CAST(s.rho_fp AS DOUBLE) / 1e6, 1.0), 4)
           AS effective_n
FROM nser JOIN s ON nser.event_type = s.event_type
""".replace("{{ACF}}", "{ACF}").format(ACF=_REGISTRY["ts_acf"].oracle),
    tags=("tsdb", "A3o", "composition"),
)
def ts_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size per series: n / (1 + 2*sum rho_k) over
    the 12 ACF lags — the autocorrelation-time correction that says
    how many INDEPENDENT observations the hourly series really
    contains (every confidence interval computed from n correlated
    hours is overconfident by exactly this factor; the MCMC ESS
    diagnostic applied to telemetry). Clamped at n (factor floor 1)
    for negative integrated autocorrelation.

    Composition by registry reference over ts_acf (oracle nested
    verbatim); the rounded ACF values re-round into 1e6 fixed point so
    the 12-term sum is order-immune.
    """
    acf = _REGISTRY["ts_acf"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    nser = (
        ev.select(
            "event_type",
            _hour().alias("h"),
        )
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    s = acf.groupBy("event_type").agg(
        F.sum(F.round(F.col("acf") * F.lit(1e6), 0).cast("bigint"))
        .cast("bigint")
        .alias("rho_fp")
    )
    D = lambda x: x.cast("double")
    factor = F.lit(1.0) + F.lit(2.0) * D(F.col("rho_fp")) / F.lit(1e6)
    return nser.join(s, "event_type").select(
        "event_type",
        F.col("n").alias("n_obs"),
        F.round(factor, 6).alias("act_factor"),
        F.round(D(F.col("n")) / F.greatest(factor, F.lit(1.0)), 4).alias(
            "effective_n"
        ),
    )


# ---------------------------------------------------------------------------
# Fin6: channel breakouts (trailing-window extreme crossings)
# ---------------------------------------------------------------------------


@query(
    "ts_channel_breakouts",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY event_type, h
),
ch AS (
    SELECT event_type, h, c,
           CAST(MAX(c) OVER w AS BIGINT) AS hi24,
           CAST(MIN(c) OVER w AS BIGINT) AS lo24,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval_hours,
       CAST(SUM(CASE WHEN c > hi24 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_upside_breaks,
       CAST(SUM(CASE WHEN c < lo24 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_downside_breaks,
       round(CAST(SUM(CASE WHEN c > hi24 THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN c < lo24 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS break_rate
FROM ch
WHERE n_win >= 12
GROUP BY event_type
""",
    tags=("tsdb", "Fin6", "breakout"),
)
def ts_channel_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian-channel breakouts per series: hours whose value
    exceeds the trailing 24-hour high or undercuts the trailing low —
    the BOUNDED-lookback sibling of ts_record_counts (a record beats
    all history and becomes ever rarer; a channel break beats a
    rolling day and keeps firing at a stationary rate, which is why
    channels drive trading/alert rules and records drive trend
    detection). Evaluation restricted to hours with >= 12 prior
    observations in the window (a near-empty channel breaks trivially).

    One per-series RANGE window over the integer hour index, exclusive
    of the current row (1 PRECEDING); exact integer compares.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = _hourly_cents(ev)
    w = Window.partitionBy("event_type").orderBy("h").rangeBetween(-24, -1)
    ch = hourly.select(
        "event_type",
        "h",
        "c",
        F.max("c").over(w).cast("bigint").alias("hi24"),
        F.min("c").over(w).cast("bigint").alias("lo24"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    ).filter(F.col("n_win") >= 12)
    up = (F.col("c") > F.col("hi24")).cast("int")
    dn = (F.col("c") < F.col("lo24")).cast("int")
    D = lambda x: x.cast("double")
    return ch.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_hours"),
        F.sum(up).cast("bigint").alias("n_upside_breaks"),
        F.sum(dn).cast("bigint").alias("n_downside_breaks"),
        F.round(
            D(F.sum(up) + F.sum(dn)) / D(F.count(F.lit(1))), 6
        ).alias("break_rate"),
    )
