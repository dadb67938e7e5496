"""Streaming queries (SURVEY.md §2.9).

DuckDB can't replay a STREAM, but it can state what the finished
replay must EQUAL — since r7's sixth wave, every stream query whose
replay contract is exact carries the declarative batch SQL as its
oracle, so the driver hash-verifies the streaming engine end to end;
tests/test_streaming.py additionally pins stream==batch equivalence
in Spark. The two that stay rows-only have structural reasons stated
at the oracle block below (approximate state-resume arithmetic,
prefix-only left-join flush).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import (
    run_sessionized_stream,
    run_stateful_dedup_stream,
    run_tumbling_counts_stream,
)
from ..functions import sql_davg, sql_dsum, sql_time_bucket, sql_ts_str
from . import LATE_BINDERS, REGISTRY, query

# Oracles for the exact-equivalence subset (r7 sixth wave): DuckDB
# cannot replay a STREAM, but it can state what the finished replay
# must EQUAL — each oracle below is the declarative batch semantics of
# the streaming pipeline, and pytest separately pins that the replayed
# stream is bit-equal to the batch run (tests/test_streaming.py). The
# driver therefore hash-verifies the streaming results end to end.
# Two queries stay rows-only, each for a stated structural reason:
# stream_ema (its batch twin's vectorized recurrence is observed only
# 1e-12-close to the stream's sequential one, so a hash oracle would
# be unsound — holt/kalman by contrast replay the IDENTICAL IEEE op
# sequence and are pinned bit-exact) and stream_stream_join_left
# (trailing null-row eviction is best-effort on a bounded replay —
# prefix semantics, not equality). stream_upsert_counts /
# stream_alert_burst joined the oracle gate in r8: their sinks are
# side-effectful, but the RETURNED state is deterministic — the
# single-file replay arrives as one micro-batch, so the watermark can
# never drop rows and the merged store must equal the batch
# aggregation (the equivalence tests/test_r6b_ops.py pins).


@query(
    "stream_bucket_counts",
    oracle=f"""
SELECT {sql_ts_str(sql_time_bucket('ts', 300))} AS bucket_ts,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       {sql_davg('value')} AS avg_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "ST2", "stream-oracled"),
)
def stream_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 5-min tumbling aggregation over the replayed stream.

    Oracled: the finished replay must equal the unfiltered flagship
    bucket aggregation (decimal-exact sum/avg) — stream==batch
    bit-equivalence is pinned separately in tests/test_streaming.py."""
    return run_tumbling_counts_stream(spark, sf_dir, 300)


@query(
    "stream_m4",
    # the finished replay must equal the batch M4 downsample EXACTLY
    # (same composite witness keys), so the oracle IS the batch
    # oracle, referenced rather than copied so the two can never
    # drift — bound in _bind_cross_module_oracles below (decoration-
    # time REGISTRY lookups would break standalone module import)
    oracle=None,  # late-bound from ts_m4_downsample
    tags=("streaming", "ST2", "A7b", "stream-oracled"),
)
def stream_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming M4 downsampling (r6): witness-point tiles per tumbling
    window — oracled with ts_m4_downsample's SQL verbatim (the stream
    must reproduce the batch witness points exactly; bit-equivalence
    additionally pinned in tests/test_streaming.py)."""
    from ..streaming.replay import run_m4_stream

    return run_m4_stream(spark, sf_dir, 900)


@query(
    "stream_session_windows",
    # session_window(start) == MIN(ts) of ts_sessionize's gaps-and-
    # islands session, so the oracle is that query's (tiebroken,
    # driver-proven) SQL trimmed to this projection — late-bound below
    # so the text can never drift from the batch twin
    oracle=None,  # late-bound from ts_sessionize
    tags=("streaming", "ST4", "stream-oracled"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (30-min gap) over the replayed stream.

    Oracled with the ts_sessionize gaps-and-islands convention
    (session_window(start) == MIN(ts) of the island; equivalence to
    the batch sessionizer pinned in tests/test_streaming.py)."""
    return run_sessionized_stream(spark, sf_dir, 1800)


@query(
    "stream_dedup_counts",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_events
FROM events GROUP BY event_type
""",
    tags=("streaming", "ST5", "stream-oracled"),
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup on event_id, then per-type counts.

    Oracled as per-type COUNT(DISTINCT event_id): equal to the
    stream's first-seen-wins dedup whenever event_id determines
    event_type — which the fixture (and any sane event log) satisfies;
    the equivalence is pinned in pytest."""
    return run_stateful_dedup_stream(spark, sf_dir)


@query(
    "stream_sliding_counts",
    oracle=f"""
WITH w AS (
    SELECT unnest([{sql_time_bucket('ts', 300)},
                   {sql_time_bucket('ts', 300)} - INTERVAL 300 SECONDS])
               AS win_start,
           event_type
    FROM events
)
SELECT {sql_ts_str('win_start')} AS win_start, event_type,
       COUNT(*) AS n_events
FROM w GROUP BY 1, 2
""",
    tags=("streaming", "ST3", "stream-oracled"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding every 5 min over the replayed stream.

    Oracled: each event lands in exactly width/slide = 2 windows, so
    the finished replay equals the 2-way window-start explode."""
    from ..streaming.stateful import run_sliding_counts_stream

    return run_sliding_counts_stream(spark, sf_dir)


@query(
    "stream_stream_join",
    oracle=f"""
SELECT p.user_id, p.event_id AS p_id,
       {sql_ts_str('p.ts')} AS p_ts_s,
       {sql_ts_str('c.ts')} AS c_ts_s
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts > p.ts - INTERVAL 600 SECONDS
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    tags=("streaming", "J7", "stream-oracled"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: purchases x clicks in 10 min.

    Oracled: the inner join's match set is watermark-independent (a
    match emits as soon as both sides arrive), so the finished replay
    equals the batch range predicate exactly."""
    from ..streaming.stateful import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@query("stream_stream_join_left", oracle=None, tags=("streaming", "J7", "no-oracle"))
def stream_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT watermarked stream-stream join (NULL clicks preserved);
    flushed-prefix-equivalent to batch range_join(how='left')."""
    from ..streaming.stateful import run_stream_stream_join_left

    return run_stream_stream_join_left(spark, sf_dir)


@query(
    "stream_ema",
    # the stream replays the identical IEEE EMA recurrence over the
    # in-order single-file replay, so its finished output equals the
    # batch twin exactly (pinned in pytest) — the oracle IS
    # ts_ema's recursive CTE, referenced via the late binder below
    # (the stream_holt/stream_kalman pattern; converted r9 from
    # rows-only, VERDICT r8 item 5)
    oracle=None,  # late-bound from ts_ema
    tags=("streaming", "ST6", "stream-oracled"),
)
def stream_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op: each user's EMA as a fold over the bucketed
    applyInPandasWithState state layout (streaming/stateful.py).

    Oracled (r9): same output columns as batch ts_ema and bit-exact
    equivalence on the in-order replay (pytest), so the batch
    recursive-CTE oracle verifies the stream directly."""
    from ..streaming.stateful import run_ema_stream

    return run_ema_stream(spark, sf_dir)


@query(
    "stream_holt",
    # the stream replays the identical IEEE Holt recurrence, so its
    # finished output equals the batch twin minus the forecast_next
    # projection — the oracle wraps ts_holt_linear's SQL (referenced,
    # not copied, via a LATE_BINDERS hook because extras.py loads
    # after this module) and trims that one column
    oracle=None,  # late-bound below from ts_holt_linear
    tags=("streaming", "ST6", "stream-oracled"),
)
def stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op (r6): each user's Holt linear level+trend as a
    fold over the bucketed applyInPandasWithState state layout — the
    streaming twin of ts_holt_linear, bit-exact on the in-order replay
    (pinned in pytest), so the batch recursive-CTE oracle verifies the
    stream directly."""
    from ..streaming.stateful import run_holt_stream

    return run_holt_stream(spark, sf_dir)


@query(
    "stream_running_extrema",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY user_id
""",
    tags=("streaming", "ST6", "stream-oracled"),
)
def stream_running_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running min/max/count per user as a JVM-native update-mode
    streaming aggregation (no Python state).

    Oracled: the last emitted snapshot per user (max n_events) must
    equal the batch extrema — min/max/count carry no float arithmetic,
    so the check is exact."""
    from ..streaming.stateful import run_running_extrema_stream

    return run_running_extrema_stream(spark, sf_dir)


@query(
    "stream_cusum",
    # the online chart's fixed process parameters (mu=150, sigma=85,
    # k=0.5 sigma -> slack 42.5, h=4 sigma -> 340) are constants, so
    # the stream's recurrence replays as a recursive CTE exactly like
    # the (data-estimated) ts_cusum_alarms oracle it mirrors
    oracle=f"""
WITH RECURSIVE t AS (
    SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS INTEGER) AS rn
    FROM events
), c(user_id, event_id, ts, value, rn, s_plus, s_minus, alarm) AS (
    SELECT user_id, event_id, ts, value, rn, s_plus, s_minus,
           CAST(CASE WHEN s_plus > CAST(340.0 AS DOUBLE)
                       OR s_minus > CAST(340.0 AS DOUBLE)
                THEN 1 ELSE 0 END AS INTEGER)
    FROM (
        SELECT user_id, event_id, ts, value, rn,
               greatest(CAST(0 AS DOUBLE),
                        (value - CAST(150.0 AS DOUBLE))
                        - CAST(42.5 AS DOUBLE)) AS s_plus,
               greatest(CAST(0 AS DOUBLE),
                        (CAST(150.0 AS DOUBLE) - value)
                        - CAST(42.5 AS DOUBLE)) AS s_minus
        FROM t WHERE rn = 1
    )
    UNION ALL
    SELECT user_id, event_id, ts, value, rn, s_plus, s_minus,
           CAST(CASE WHEN s_plus > CAST(340.0 AS DOUBLE)
                       OR s_minus > CAST(340.0 AS DOUBLE)
                THEN 1 ELSE 0 END AS INTEGER)
    FROM (
        SELECT t.user_id, t.event_id, t.ts, t.value, t.rn,
               greatest(CAST(0 AS DOUBLE),
                        (CASE WHEN c.alarm = 1 THEN CAST(0 AS DOUBLE)
                              ELSE c.s_plus END)
                        + ((t.value - CAST(150.0 AS DOUBLE))
                           - CAST(42.5 AS DOUBLE))) AS s_plus,
               greatest(CAST(0 AS DOUBLE),
                        (CASE WHEN c.alarm = 1 THEN CAST(0 AS DOUBLE)
                              ELSE c.s_minus END)
                        + ((CAST(150.0 AS DOUBLE) - t.value)
                           - CAST(42.5 AS DOUBLE))) AS s_minus
        FROM c JOIN t ON t.user_id = c.user_id AND t.rn = c.rn + 1
    )
)
SELECT user_id, event_id, {sql_ts_str('ts')} AS ts_s, value,
       s_plus, s_minus, alarm
FROM c
""",
    tags=("streaming", "ST6", "changepoint", "stream-oracled"),
)
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM chart per user (a fold over the bucketed
    applyInPandasWithState state layout; two doubles of state per
    user). Oracled: the fixed-target recurrence replays as a
    recursive CTE (slack/threshold fold to constants); exact batch
    equivalence vs operators/changepoint.py is additionally pinned in
    tests/test_streaming.py."""
    from ..streaming.stateful import run_cusum_stream

    return run_cusum_stream(spark, sf_dir)


@query(
    "stream_static_enrich",
    oracle=f"""
SELECT event_id, user_id,
       CASE user_id % 3 WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
            ELSE 'gold' END AS tier,
       {sql_ts_str('ts')} AS ts_s
FROM events
""",
    tags=("streaming", "J7", "stream-oracled"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment join (stateless, no
    watermark; batch-equivalence pinned in tests/test_streaming.py).

    Oracled: the dimension is a deterministic function of user_id and
    the join is stateless, so the finished replay equals the flat
    enrichment projection."""
    from ..streaming.replay import run_stream_static_enrich

    return run_stream_static_enrich(spark, sf_dir)


# Scratch-root lifecycle lives with the state store it serves
# (streaming/upsert.py, next to read_state/vacuum_generations) — this
# module just picks the per-query names.
from ..streaming.upsert import state_scratch_root as _stream_state_root  # noqa: E402


@query(
    "stream_upsert_counts",
    oracle=f"""
SELECT {sql_ts_str(sql_time_bucket('ts', 300))} AS bucket_ts,
       user_id,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "ST7b", "stream-oracled"),
)
def stream_upsert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7b (r6 late): UPDATE-mode window counts merged into a keyed
    parquet store via foreachBatch (generation-dir MERGE; Delta MERGE
    is the production swap-in). Final state == batch aggregation and
    batch re-application is a no-op — both pinned in
    tests/test_r6b_ops.py.

    Oracled (r8): the sink is side-effectful but the RETURNED state is
    deterministic — the whole fixture arrives in one micro-batch
    (single-file replay, maxFilesPerTrigger=1), so the watermark can
    never drop rows, UPDATE-mode's last refresh per key carries the
    full count, and the highest-seq merge keeps exactly that row. The
    driver hash therefore witnesses the foreachBatch MERGE path end to
    end against the flat batch aggregation."""
    from ..streaming.upsert import run_upsert_counts, vacuum_generations

    root = _stream_state_root("upsert")
    state = run_upsert_counts(spark, sf_dir, root)
    # drop the per-micro-batch snapshots; the live generation (which
    # the returned plan reads) is retained by contract
    vacuum_generations(root, keep_last=1)
    return state


@query(
    "stream_alert_burst",
    oracle=f"""
WITH counts AS (
    SELECT {sql_ts_str(sql_time_bucket('ts', 300))} AS bucket_ts,
           user_id,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
), trailed AS (
    SELECT user_id, bucket_ts,
           n_events AS cnt,
           SUM(n_events) OVER w AS trail,
           COUNT(*) OVER w AS n_trail
    FROM counts
    WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket_ts,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(trail AS BIGINT) AS trail,
       CAST(cnt * 12 > trail * 3 AS INT) AS is_burst
FROM trailed
WHERE n_trail = 12
""",
    tags=("streaming", "ST7b", "alerting", "stream-oracled"),
)
def stream_alert_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end streaming alert pipeline: events replay through
    the UPDATE-mode windowed aggregation into the keyed upsert store
    (the serving tier), and the burst rule — count > 3x the mean of
    the user's previous 12 active buckets — evaluates over that tier.
    Because the tier holds exactly the batch per-(user, bucket) counts
    (stream_upsert_counts' equivalence proof), the emitted alerts are
    pinned EQUAL to the batch ts_burst_detect rows in tests.

    Oracled (r8, with stream_upsert_counts): the serving tier is
    deterministic (one-micro-batch replay, highest-seq merge), and the
    trailing-12 frame orders by the 'yyyy-MM-dd HH:mm:ss' bucket string
    — lexicographic == chronological for that format, so the frame
    contents match the SQL window exactly.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..streaming.upsert import run_upsert_counts, vacuum_generations

    root = _stream_state_root("alert")
    state = run_upsert_counts(spark, sf_dir, root)  # bucket_ts, user_id, n_events
    vacuum_generations(root, keep_last=1)
    w = Window.partitionBy("user_id").orderBy("bucket_ts").rowsBetween(-12, -1)
    t = state.select(
        "user_id",
        "bucket_ts",
        F.col("n_events").alias("cnt"),
        F.sum("n_events").over(w).alias("trail"),
        F.count(F.lit(1)).over(w).alias("n_trail"),
    )
    return t.filter(F.col("n_trail") == 12).select(
        "user_id",
        "bucket_ts",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("trail").cast("bigint").alias("trail"),
        (F.col("cnt") * 12 > F.col("trail") * 3).cast("int").alias("is_burst"),
    )


@query(
    "stream_kalman",
    # bit-exact vs the batch Kalman twin on the in-order replay
    # (pinned in pytest), so the batch oracle verifies the stream —
    # late-bound below
    oracle=None,  # late-bound from ts_kalman_filter
    tags=("streaming", "ST6", "stream-oracled"),
)
def stream_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op (r6 late): each user's scalar Kalman filter as
    a fold over the bucketed applyInPandasWithState state layout — the
    streaming twin of ts_kalman_filter, equivalence-tested bit-for-bit
    in tests/test_streaming.py."""
    from ..streaming.stateful import run_kalman_stream

    return run_kalman_stream(spark, sf_dir)


def _bind_cross_module_oracles() -> None:
    """Resolve every stream oracle that references a batch twin's SQL.

    Referenced (not copied) so the texts can never drift; bound here
    rather than at decoration time so this module stays importable on
    its own and the binding is independent of _MODULES order. Each
    entry: stream name -> (batch name, optional trimming projection).
    Idempotent: a spec already bound is left alone."""
    import dataclasses

    refs = {
        "stream_m4": ("ts_m4_downsample", None),
        "stream_kalman": ("ts_kalman_filter", None),
        "stream_ema": ("ts_ema", None),
        "stream_holt": (
            "ts_holt_linear",
            "SELECT user_id, event_id, ts_s, value, level, trend",
        ),
        "stream_session_windows": (
            "ts_sessionize",
            "SELECT user_id, session_start, n_events",
        ),
    }
    for name, (batch, trim) in refs.items():
        spec = REGISTRY[name]
        if spec.oracle is not None:
            continue
        base = REGISTRY[batch].oracle
        sql = base if trim is None else f"{trim} FROM ({base})"
        REGISTRY[name] = dataclasses.replace(spec, oracle=sql)


LATE_BINDERS.append(_bind_cross_module_oracles)
