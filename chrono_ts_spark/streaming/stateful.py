"""Advanced streaming operators: sliding windows, stream-stream joins,
and arbitrary-stateful per-event recurrences (SURVEY.md §2.9
ST3/J7/ST6).

The per-event recurrences (EMA, Holt linear, scalar Kalman, online
CUSUM) are order-dependent folds, which no Spark streaming aggregate
expresses. They share one ``applyInPandasWithState`` state layout: the
group key is ``user_id % _N_BUCKETS`` and a bucket's state is its
users' recurrence values packed as two binary buffers
(bucketed_fold_update_fn). Holt, Kalman and CUSUM are each a per-event
``fold`` plus one call to that builder; EMA inlines its fold into the
same layout (ema_bucketed_update_fn). Each emits one row per event.
Running extrema are a commutative monoid, so they run as a JVM-native
update-mode aggregation. Watermarks bound how long idle keys hold
state.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..functions import ts_str
from .replay import _run_to_memory, replay_events_stream

# State groups per micro-batch. One group per user made the per-group
# JVM<->Python state round-trip the fixed per-batch cost (docs/scale.md
# "The pandas-state per-batch overhead, attacked"); a fixed bucket
# count amortizes it while leaving at least one group per core.
_N_BUCKETS = 1024

# sorted int64 user ids + their float64 state rows, each as one binary
# buffer. Field names are cosmetic: access is positional.
_PACKED_BUCKET_STATE = T.StructType(
    [
        T.StructField("ids", T.BinaryType()),
        T.StructField("states", T.BinaryType()),
    ]
)


def bucketed_fold_update_fn(n_state: int, fold, out_names: list):
    """applyInPandasWithState update function for the bucketed state
    layout, parameterized by a per-event ``fold(state_tuple | None,
    value) -> (new_state_tuple, out_values_tuple)``.

    A group is one bucket of users; its state is every member's
    ``n_state`` float64 values, packed as sorted-by-id int64/float64
    numpy buffers, so the stored bytes do not depend on partition or
    dict order. The batch is sorted by (ts, event_id), a total order
    since event_id is unique, so each user's events fold in event-time
    order with the same IEEE op sequence as the batch twins, whichever
    users share the bucket.

    Late-data policy: event-time order holds WITHIN a micro-batch; an
    event arriving in a later batch behind its user's position is still
    folded in, because dropping in-watermark data would be silent loss.
    State commits are atomic with batch offsets, so retries need no
    replay guard.

    Self-contained closure (stdlib + pandas + numpy only), so Python
    workers can unpickle it without importing this package.
    """

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            ids_b, st_b = state.get
            ids0 = np.frombuffer(ids_b, dtype=np.int64)
            sts0 = np.frombuffer(st_b, dtype=np.float64).reshape(
                len(ids0), n_state
            )
            cur = {
                i: tuple(row)
                for i, row in zip(ids0.tolist(), sts0.tolist())
            }
        else:
            cur = {}
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        extras: list[list] = [[] for _ in out_names]
        get = cur.get
        for uid, val in zip(
            batch["user_id"].tolist(), batch["value"].tolist()
        ):
            st, outs = fold(get(uid), val)
            cur[uid] = st
            for lst, v in zip(extras, outs):
                lst.append(v)
        res = pd.DataFrame(
            {
                "user_id": batch["user_id"].to_numpy(),
                "event_id": batch["event_id"].to_numpy(),
                "ts_s": batch["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": batch["value"].to_numpy(),
                **{n: lst for n, lst in zip(out_names, extras)},
            }
        )
        ids = np.fromiter(cur.keys(), dtype=np.int64, count=len(cur))
        sts = np.array(list(cur.values()), dtype=np.float64).reshape(
            len(cur), n_state
        )
        order = np.argsort(ids, kind="stable")
        state.update((ids[order].tobytes(), sts[order].tobytes()))
        yield res

    return update


def _run_bucketed(
    spark: SparkSession,
    sf_dir: str,
    update_fn,
    out_schema: T.StructType,
    sink_dir: str | None,
) -> DataFrame:
    """Replay the events through ``update_fn`` grouped by bucket; into
    the memory sink, or the parquet sink under ``sink_dir``."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    res = (
        ev.withColumn(
            "__bucket", F.pmod(F.col("user_id"), F.lit(_N_BUCKETS))
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=_PACKED_BUCKET_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(res, spark, sink_dir, output_mode="append")
    return _run_to_memory(res, spark, output_mode="append")


_EMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ema", T.DoubleType()),
    ]
)


def ema_bucketed_update_fn(alpha: float):
    """bucketed_fold_update_fn with the EMA fold inlined, so the
    per-event loop makes no fold call. Same layout, order and IEEE op
    sequence (``a·x + b·e``, with ``b = 1.0 − a`` computed once).

    Kept because it measured faster: ``tools/probe.py --corpus
    events=4000000,users=20000,slices=16 --queries run_ema_stream
    --pairs 5`` (4 cores) gave run_ema_stream a median of 68.4 s
    (q1–q3 66.9–69.9) with this function against 74.7 s (67.1–86.1)
    through the generic builder, which won 1 of 5 pairs.

    Self-contained closure (stdlib + pandas + numpy only)."""
    a = float(alpha)
    b = 1.0 - a

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            ids_b, emas_b = state.get
            cur = dict(
                zip(
                    np.frombuffer(ids_b, dtype=np.int64).tolist(),
                    np.frombuffer(emas_b, dtype=np.float64).tolist(),
                )
            )
        else:
            cur = {}
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        emas = []
        get = cur.get
        for uid, val in zip(
            batch["user_id"].tolist(), batch["value"].tolist()
        ):
            e = get(uid)
            e = val if e is None else a * val + b * e
            cur[uid] = e
            emas.append(e)
        res = pd.DataFrame(
            {
                "user_id": batch["user_id"].to_numpy(),
                "event_id": batch["event_id"].to_numpy(),
                "ts_s": batch["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": batch["value"].to_numpy(),
                "ema": emas,
            }
        )
        ids = np.fromiter(cur.keys(), dtype=np.int64, count=len(cur))
        vals = np.fromiter(cur.values(), dtype=np.float64, count=len(cur))
        order = np.argsort(ids, kind="stable")
        state.update((ids[order].tobytes(), vals[order].tobytes()))
        yield res

    return update


def run_ema_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.2,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user EMA over the replayed stream (arbitrary state):
    ``e = x`` on a user's first event, then ``α·x + (1−α)·e``.

    ``sink_dir`` switches the memory sink (fixture-scale: the driver
    collects the table) for the production parquet sink — EMA emits
    ONE ROW PER INPUT EVENT, so its output is data-proportional and
    the memory sink OOMs the local driver heap at the r11 30M probe
    (same class as run_kalman_stream / sessions / enrich; the 30M
    parquet-sink run completes)."""
    return _run_bucketed(
        spark, sf_dir, ema_bucketed_update_fn(alpha), _EMA_OUT, sink_dir
    )


def batch_ema(spark: SparkSession, sf_dir: str, alpha: float = 0.2) -> DataFrame:
    """Batch reference for the EMA stream (same semantics and op order).

    r6: per-series numpy scalar loop inside the sanctioned
    applyInPandas boundary — the CUSUM pattern (changepoint.py run(),
    which cut its 10M-row probe 31.2 s → 13.5 s) replacing the r5
    interpreted ``F.aggregate`` recursion over an ordered collect_list
    (~1.4 µs/row — VERDICT r5 "What's wrong" #3). The recursion itself
    (ema = α·x + (1−α)·prev over the (ts, event_id) order, first value
    seeds) is inherently sequential; cross-series fan-out is the
    parallelism, and every step is the same IEEE-double op sequence the
    DuckDB recursive-CTE oracle replays — note 1.0−α is computed once
    driver-side, and ties-to-even makes 1.0−0.2 == 0.8 exactly, the
    oracle's CAST(0.8 AS DOUBLE).
    """
    from ..catalog import load_table
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = load_table(spark, sf_dir, "events")
    a = float(alpha)
    b = 1.0 - a

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort"
        ).reset_index(drop=True)
        xs = pdf["value"].to_numpy(dtype="float64")
        out = np.empty(len(xs))
        e = 0.0
        for i in range(len(xs)):
            x = xs[i]
            e = x if i == 0 else a * x + b * e
            out[i] = e
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts_s": pdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "value": pdf["value"],
                "ema": out,
            }
        )

    return (
        ev.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            run,
            "user_id bigint, event_id bigint, ts_s string, value double, ema double",
        )
    )

_HOLT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ]
)


def run_holt_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user Holt linear (level+trend) over the replayed
    stream; state = (level, trend), the same IEEE op sequence as the
    batch twin (queries/extras.ts_holt_linear).

    ``sink_dir``: production parquet sink for the per-event output —
    data-proportional through the memory sink, the r11 30M stream_ema
    OOM class (see run_ema_stream)."""
    a, b1, g, g1 = float(alpha), 1.0 - float(alpha), float(beta), 1.0 - float(beta)

    def fold(st, x):
        if st is None:
            lvl, trd = x, 0.0
        else:
            lvl, trd = st
            nl = a * x + b1 * (lvl + trd)
            trd = g * (nl - lvl) + g1 * trd
            lvl = nl
        return (lvl, trd), (lvl, trd)

    return _run_bucketed(
        spark,
        sf_dir,
        bucketed_fold_update_fn(2, fold, ["level", "trend"]),
        _HOLT_OUT,
        sink_dir,
    )


_KALMAN_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("kalman", T.DoubleType()),
        T.StructField("err_var", T.DoubleType()),
    ]
)


def run_kalman_stream(
    spark: SparkSession,
    sf_dir: str,
    q: float = 1.0,
    r_noise: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user scalar Kalman filter over the replayed stream;
    state = (x, P), the same IEEE op sequence as the batch twin
    (queries/timeseries.ts_kalman_filter).

    ``sink_dir`` switches the memory sink (fixture-scale: the driver
    collects the table) for the production parquet sink — per-event
    output streams exceed driver.maxResultSize through the memory sink
    at probe scale (replay.run_to_parquet)."""
    qf, rf = float(q), float(r_noise)

    def fold(st, z):
        if st is None:
            x, p = z, rf
        else:
            x, p = st
            pp = p + qf
            k = pp / (pp + rf)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        return (x, p), (x, p)

    return _run_bucketed(
        spark,
        sf_dir,
        bucketed_fold_update_fn(2, fold, ["kalman", "err_var"]),
        _KALMAN_OUT,
        sink_dir,
    )


def run_sliding_counts_stream(
    spark: SparkSession, sf_dir: str, width_s: int = 600, slide_s: int = 300
) -> DataFrame:
    """ST3: sliding-window counts (each event lands in width/slide windows)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(
        F.window("ts", f"{width_s} seconds", f"{slide_s} seconds"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = agg.select(
        ts_str(F.col("window.start")).alias("win_start"),
        "event_type",
        "n_events",
    )
    return _run_to_memory(out, spark)


def _purchase_click_join(
    spark: SparkSession,
    sf_dir: str,
    lookback_s: int,
    how: str,
    watermark: str,
    sink_dir: str | None = None,
) -> DataFrame:
    """Shared purchases-to-preceding-clicks join body for the inner and
    left variants (r7 review: the two copies had silently drifted on
    watermark duration). The watermark differs by DESIGN per variant:
    the inner join only needs state long enough to pair in-lookback
    rows, so a generous "1 hour" is fine; the LEFT join emits an
    unmatched purchase only once the watermark passes p_ts + lookback,
    so a tight "10 minutes" bounds how much tail goes un-flushed on a
    bounded replay (see run_stream_stream_join_left's contract).
    """
    ev1 = replay_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    ev2 = replay_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    purchases = ev1.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev2.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {lookback_s} SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )
    out = joined.select(
        "user_id",
        "p_id",
        ts_str(F.col("p_ts")).alias("p_ts_s"),
        ts_str(F.col("c_ts")).alias("c_ts_s"),
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(out, spark, sink_dir, output_mode="append")
    return _run_to_memory(out, spark, output_mode="append")


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, lookback_s: int = 600,
    sink_dir: str | None = None,
) -> DataFrame:
    """J7: stream-stream inner join — purchases to clicks within the
    preceding `lookback_s` by the same user, with watermarks bounding
    both join-state buffers.

    ``sink_dir``: production parquet sink. Inner-join output is
    candidate-pair-bound (sparse on the probe corpus), but on skewed
    real traffic it can approach O(purchases x clicks-in-window) — the
    probe runs it through the parquet path alongside the left variant."""
    return _purchase_click_join(
        spark, sf_dir, lookback_s, "inner", "1 hour", sink_dir=sink_dir
    )


def run_stream_stream_join_left(
    spark: SparkSession, sf_dir: str, lookback_s: int = 600,
    sink_dir: str | None = None,
) -> DataFrame:
    """J7 outer flavor: LEFT stream-stream join — every purchase, with
    NULL click columns when no click landed in the preceding window.

    Semantics mirror the batch ``range_join(..., how='left')``; the
    state story differs: matched rows emit as they arrive (exactly the
    batch inner part), while unmatched purchases are emitted only when
    the watermark passes ``p_ts + lookback`` (the row is then provably
    unmatched). On a bounded availableNow replay the final no-data
    micro-batch flushes that state best-effort — trailing eviction is
    not guaranteed by Spark, so a replay may under-emit a handful of
    null rows near the end of the data (observed: ≤2 of ~90 at
    sf0.001; never a spurious or wrong row). On a continuous stream the
    watermark keeps advancing and every unmatched row is eventually
    emitted. The equivalence test pins: emitted ⊆ batch, matched part
    == batch inner part, null rows near-complete.

    ``sink_dir``: production parquet sink. The LEFT join emits AT
    LEAST one row per purchase — O(input) output — so it belongs to
    the data-proportional class (EMA/Holt/Kalman/CUSUM/sessions/
    enrich): the r11 60M stream probe OOMed the 8g heap through the
    memory sink (~12M buffered output rows + two-sided join state),
    the same failure the inner variant's sparse output hid.
    """
    return _purchase_click_join(
        spark, sf_dir, lookback_s, "leftOuter", "10 minutes", sink_dir=sink_dir
    )


def run_running_extrema_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/min/max as a JVM-native update-mode
    aggregation: min/max/count are commutative monoids, so the state
    stays in the JVM state store with no Python round-trips. Each
    micro-batch emits the updated users' running values; the last row
    per user (max n_events) equals the batch aggregate and is the one
    returned. (EMA/Holt/Kalman/CUSUM cannot take this path: their folds
    are order-dependent, and Spark has no ordered-fold streaming
    aggregate.)"""
    from pyspark.sql import Window as W

    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    snap = _run_to_memory(agg, spark, output_mode="update")
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# ST6b: streaming CUSUM changepoint chart (online formulation)
# ---------------------------------------------------------------------------

_CUSUM_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("s_plus", T.DoubleType()),
        T.StructField("s_minus", T.DoubleType()),
        T.StructField("alarm", T.IntegerType()),
    ]
)


def run_cusum_stream(
    spark: SparkSession,
    sf_dir: str,
    mu: float = 150.0,
    sigma: float = 85.0,
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6b: per-user online CUSUM over the replayed stream, monitored
    against known process parameters: the same recursion as
    operators/changepoint.py with target=(mu, sigma), so the batch op
    is the exact reference. State is (s_plus, s_minus) per user,
    whatever the history length — the O(keys) state property that makes
    the chart viable on an unbounded stream. A user's first event folds
    from (0.0, 0.0), and an alarm resets the sums AFTER its row is
    emitted.

    ``sink_dir``: production parquet sink. The chart emits ONE ROW PER
    INPUT EVENT (the monitored statistic, alarm flagged), so its output
    is data-proportional — the stream_ema memory-sink OOM class the r11
    30M probe established."""
    muf, slack = float(mu), float(k_sigma) * float(sigma)
    h = float(h_sigma) * float(sigma)

    def fold(st, x):
        sp, sm = st if st is not None else (0.0, 0.0)
        x = float(x)
        sp = max(0.0, sp + ((x - muf) - slack))
        sm = max(0.0, sm + ((muf - x) - slack))
        alarm = 1 if (sp > h or sm > h) else 0
        outs = (sp, sm, alarm)
        if alarm:
            sp = sm = 0.0
        return (sp, sm), outs

    return _run_bucketed(
        spark,
        sf_dir,
        bucketed_fold_update_fn(2, fold, ["s_plus", "s_minus", "alarm"]),
        _CUSUM_OUT,
        sink_dir,
    )
