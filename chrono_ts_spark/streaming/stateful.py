"""Advanced streaming operators: sliding windows, stream-stream joins,
and an arbitrary-stateful custom operator (SURVEY.md §2.9 ST3/J7/ST6).

The stateful op is a per-series exponential moving average — the
canonical "TSDB operator Spark lacks as a built-in" — implemented with
``applyInPandasWithState``: state = the recurrence values per key
(just the EMA), updated per micro-batch in event-time order, emitting
one EMA row per event. Watermark bounds how long idle keys hold state.
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

_EMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ema", T.DoubleType()),
    ]
)
# state = recurrence values only (r7 review: the last_ts_us /
# last_event_id fields of the removed replay guard were written every
# batch but never read — dropped; _CUSUM_STATE was always this form)
_EMA_STATE = T.StructType([T.StructField("ema", T.DoubleType())])


def ema_update_fn(alpha: float):
    """Build the applyInPandasWithState update function for EMA.

    Self-contained closure (stdlib + pandas only) so Python workers can
    unpickle it without importing this package.
    """

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (ema,) = state.get if state.exists else (None,)
        out = []
        # Late-data policy: event-time order is guaranteed WITHIN a
        # micro-batch (sorted here); an event arriving in a later batch
        # behind the key's position is still folded in — streaming EMA
        # is arrival-order-sensitive by nature and dropping in-watermark
        # data would be silent loss. (State commits are atomic with
        # batch offsets, so no replay guard is needed for retries.)
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for row in batch.itertuples():
            ema = row.value if ema is None else alpha * row.value + (1 - alpha) * ema
            out.append(
                (
                    key[0],
                    row.event_id,
                    row.ts.strftime("%Y-%m-%d %H:%M:%S"),
                    row.value,
                    ema,
                )
            )
        state.update((ema,))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ts_s", "value", "ema"]
        )

    return update


def run_ema_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.2,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user EMA over the replayed stream (arbitrary state).

    ``sink_dir`` switches the memory sink (fixture-scale: the driver
    collects the table) for the production parquet sink — EMA emits
    ONE ROW PER INPUT EVENT, so its output is data-proportional and
    the memory sink OOMs the local driver heap at the r11 30M probe
    (same class as run_kalman_stream / sessions / enrich; the 30M
    parquet-sink run completes)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    ema = ev.groupBy("user_id").applyInPandasWithState(
        ema_update_fn(alpha),
        outputStructType=_EMA_OUT,
        stateStructType=_EMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(ema, spark, sink_dir, output_mode="append")
    return _run_to_memory(ema, spark, output_mode="append")


# shared packed-bucket state shape: sorted int64 user ids + their
# float64 state rows, each as one binary buffer (EMA: 1 col; Holt/
# Kalman: 2). Field names are cosmetic — access is positional.
_PACKED_BUCKET_STATE = T.StructType(
    [
        T.StructField("ids", T.BinaryType()),
        T.StructField("states", T.BinaryType()),
    ]
)


def ema_bucketed_update_fn(alpha: float):
    """applyInPandasWithState update fn for BUCKETED per-user EMA:
    the group key is ``user_id % n_buckets`` and the state is every
    bucket member's (user_id, ema) packed as two binary arrays.

    Why (r14, VERDICT r13 item 4): the 60M/64-batch probe showed a
    ~12 s/batch FIXED cost in the per-user layout — not state size
    but the per-group Python state round-trips (60k groups × state
    get/update through the JVM↔Python protocol every batch). Bucketing
    divides the group count by ~n_buckets while keeping the per-event
    fold BIT-IDENTICAL: the batch is sorted globally by (ts,
    event_id) — a total order, since event_id is unique — so each
    user's subsequence is folded in exactly the per-user plan's order
    with exactly the same IEEE-double op sequence (α·x + (1−α)·e).
    State packs as sorted-by-id int64/float64 numpy buffers, so the
    stored bytes are partition- and dict-order-independent.

    Self-contained closure (stdlib + pandas + numpy only).
    """
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


def run_ema_stream_bucketed(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.2,
    sink_dir: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-user EMA with the bucketed state layout (see
    ema_bucketed_update_fn) — same output rows as run_ema_stream,
    bit-exact, with ~n_buckets× fewer state-store groups per batch.
    The per-user plan stays the registered query (it is the
    arbitrary-state API surface the oracle pins); this is the
    production posture for high-cardinality key spaces."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    ema = (
        ev.withColumn(
            "__bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            ema_bucketed_update_fn(alpha),
            outputStructType=_EMA_OUT,
            stateStructType=_PACKED_BUCKET_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(ema, spark, sink_dir, output_mode="append")
    return _run_to_memory(ema, spark, output_mode="append")


def bucketed_fold_update_fn(n_state: int, fold, out_names: list):
    """Generic bucketed-state update builder (r14): the
    ema_bucketed_update_fn layout — group key = user_id % n_buckets,
    state = the bucket's per-user float64 state rows packed as sorted
    numpy buffers — parameterized by a per-event ``fold(state_tuple |
    None, value) -> (new_state_tuple, out_values_tuple)`` closure.

    Bit-exactness argument is inherited: the global (ts, event_id)
    sort is a total order, so each user's subsequence folds in the
    per-user plan's exact order with the same arithmetic. The fold
    callback costs one extra Python call per event vs the inlined EMA
    specialization (~0.1–0.2 s/batch at 1M-row batches) — EMA keeps
    its inlined form; Holt/Kalman take this builder.

    Self-contained closure (stdlib + pandas + numpy only).
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
    n_buckets: int,
) -> DataFrame:
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    res = (
        ev.withColumn(
            "__bucket", F.pmod(F.col("user_id"), F.lit(n_buckets))
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


def run_holt_stream_bucketed(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    sink_dir: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Bucketed-state Holt linear — same rows as run_holt_stream,
    bit-exact (pinned in pytest), ~n_buckets× fewer state groups."""
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
        n_buckets,
    )


def run_kalman_stream_bucketed(
    spark: SparkSession,
    sf_dir: str,
    q: float = 1.0,
    r_noise: float = 4.0,
    sink_dir: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Bucketed-state scalar Kalman — same rows as run_kalman_stream,
    bit-exact (pinned in pytest), ~n_buckets× fewer state groups."""
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
        n_buckets,
    )


def run_running_extrema_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-NATIVE running extrema: min/max/count are commutative
    monoids, so the recurrence needs no arbitrary-state API at all —
    a plain update-mode streaming aggregation keeps all state in the
    state store JVM-side with zero Python round-trips (VERDICT r13
    item 4's 'JVM-native where closed forms exist'). Emits updated
    rows per batch; the last row per user equals the batch aggregate
    (pinned in tests). EMA/Holt/Kalman cannot take this path: their
    folds are order-dependent affine compositions — associative but
    NOT commutative — and Spark streaming aggregates require full
    commutative monoids (no ordered-fold aggregate exists), so the
    pandas-state layout (bucketed above) remains their floor."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    snap = _run_to_memory(agg, spark, output_mode="update")
    return _latest_snapshot_per_user(snap)


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
_HOLT_STATE = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ]
)


def holt_update_fn(alpha: float, beta: float):
    """applyInPandasWithState update for Holt linear smoothing (ST6):
    state = (level, trend, position); the recurrence is the identical
    IEEE op sequence as the batch twin (queries/extras.ts_holt_linear),
    so stream == batch bit-for-bit in arrival order. Self-contained
    closure (stdlib + pandas only), same late-data policy as EMA."""
    a, b1, g, g1 = alpha, 1.0 - alpha, beta, 1.0 - beta

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        lvl, trd = state.get if state.exists else (None, None)
        out = []
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for row in batch.itertuples():
            x = row.value
            if lvl is None:
                lvl, trd = x, 0.0
            else:
                nl = a * x + b1 * (lvl + trd)
                trd = g * (nl - lvl) + g1 * trd
                lvl = nl
            out.append(
                (
                    key[0],
                    row.event_id,
                    row.ts.strftime("%Y-%m-%d %H:%M:%S"),
                    x,
                    lvl,
                    trd,
                )
            )
        state.update((lvl, trd))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ts_s", "value", "level", "trend"]
        )

    return update


def run_holt_stream(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user Holt linear (level+trend) over the replayed stream.

    ``sink_dir``: production parquet sink for the per-event output —
    data-proportional through the memory sink, the r11 30M stream_ema
    OOM class (see run_ema_stream)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    holt = ev.groupBy("user_id").applyInPandasWithState(
        holt_update_fn(alpha, beta),
        outputStructType=_HOLT_OUT,
        stateStructType=_HOLT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(holt, spark, sink_dir, output_mode="append")
    return _run_to_memory(holt, spark, output_mode="append")


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
_KALMAN_STATE = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
    ]
)


def kalman_update_fn(q: float, r_noise: float):
    """applyInPandasWithState update for the scalar Kalman filter
    (ST6): state = (x, P, position); identical IEEE op sequence as the
    batch twin (queries/timeseries.ts_kalman_filter), so stream ==
    batch bit-for-bit in arrival order. Same closure/late-data
    contract as holt_update_fn."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        x, p = state.get if state.exists else (None, None)
        out = []
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for row in batch.itertuples():
            z = row.value
            if x is None:
                x, p = z, r_noise
            else:
                pp = p + q
                k = pp / (pp + r_noise)
                x = x + k * (z - x)
                p = (1.0 - k) * pp
            out.append(
                (
                    key[0],
                    row.event_id,
                    row.ts.strftime("%Y-%m-%d %H:%M:%S"),
                    z,
                    x,
                    p,
                )
            )
        state.update((x, p))
        yield pd.DataFrame(
            out,
            columns=["user_id", "event_id", "ts_s", "value", "kalman", "err_var"],
        )

    return update


def run_kalman_stream(
    spark: SparkSession,
    sf_dir: str,
    q: float = 1.0,
    r_noise: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6: per-user scalar Kalman filter over the replayed stream.

    ``sink_dir`` switches the memory sink (fixture-scale: the driver
    collects the table) for the production parquet sink — per-event
    output streams exceed driver.maxResultSize through the memory sink
    at probe scale (replay.run_to_parquet)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    kf = ev.groupBy("user_id").applyInPandasWithState(
        kalman_update_fn(q, r_noise),
        outputStructType=_KALMAN_OUT,
        stateStructType=_KALMAN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(kf, spark, sink_dir, output_mode="append")
    return _run_to_memory(kf, spark, output_mode="append")


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


# ---------------------------------------------------------------------------
# ST6 (modern API): transformWithStateInPandas stateful processor
# ---------------------------------------------------------------------------


def _tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state protocol;
    this container ships a broken google.protobuf (no descriptor
    module), so detect and fall back to applyInPandasWithState."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def run_running_extrema_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running min/max/count via transformWithStateInPandas —
    the Spark 4 arbitrary-state API (typed ValueState, timers, TTL) —
    with an applyInPandasWithState fallback when the environment lacks
    protobuf (same semantics, older state API).

    Emits one row per micro-batch per active user with the running
    extrema so far; the last row per user equals the batch min/max.
    """
    if not _tws_available():
        return _run_running_extrema_apiws(spark, sf_dir)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("min_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )

    class Extrema(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "extrema", "n BIGINT, mn DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, mn, mx = (
                self._state.get() if self._state.exists() else (0, None, None)
            )
            for pdf in rows:
                vals = pdf["value"]
                n += len(vals)
                bmn, bmx = float(vals.min()), float(vals.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "min_value": [mn],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        Extrema(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )
    snap = _run_to_memory(out, spark, output_mode="append")
    return _latest_snapshot_per_user(snap)


def _run_running_extrema_apiws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of run_running_extrema_stream."""
    out_schema = "user_id long, n_events long, min_value double, max_value double"
    state_schema = "n BIGINT, mn DOUBLE, mx DOUBLE"

    def update(key, pdfs, state):
        n, mn, mx = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            vals = pdf["value"]
            if len(vals):
                n += len(vals)
                bmn, bmx = float(vals.min()), float(vals.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
        state.update((n, mn, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "min_value": [mn], "max_value": [mx]}
        )

    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    snap = _run_to_memory(out, spark, output_mode="append")
    return _latest_snapshot_per_user(snap)


def _latest_snapshot_per_user(snap: DataFrame) -> DataFrame:
    """Keep only each user's final running-extrema row (micro-batches
    emit one snapshot per active key per batch; max n_events = last)."""
    from pyspark.sql import Window as W

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
_CUSUM_STATE = T.StructType(
    [
        T.StructField("s_plus", T.DoubleType()),
        T.StructField("s_minus", T.DoubleType()),
    ]
)


def cusum_update_fn(mu: float, sigma: float, k_sigma: float, h_sigma: float):
    """applyInPandasWithState update fn for the ONLINE CUSUM chart:
    state = (s_plus, s_minus) per key, monitored against known process
    parameters — bit-identical recursion to operators/changepoint.py
    with target=(mu, sigma), so the batch op is the exact reference.
    Self-contained closure (stdlib + pandas only)."""
    slack = k_sigma * sigma
    h = h_sigma * sigma

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sp, sm = state.get if state.exists else (0.0, 0.0)
        out = []
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for row in batch.itertuples():
            x = float(row.value)
            sp = max(0.0, sp + ((x - mu) - slack))
            sm = max(0.0, sm + ((mu - x) - slack))
            alarm = 1 if (sp > h or sm > h) else 0
            out.append(
                (
                    key[0],
                    int(row.event_id),
                    row.ts.strftime("%Y-%m-%d %H:%M:%S"),
                    x,
                    sp,
                    sm,
                    alarm,
                )
            )
            if alarm:
                sp = sm = 0.0
        state.update((sp, sm))
        yield pd.DataFrame(
            out,
            columns=["user_id", "event_id", "ts_s", "value", "s_plus", "s_minus", "alarm"],
        )

    return update


def run_cusum_stream(
    spark: SparkSession,
    sf_dir: str,
    mu: float = 150.0,
    sigma: float = 85.0,
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST6b: per-user online CUSUM over the replayed stream. State is
    two doubles per key regardless of history length — the O(keys)
    state property that makes the chart viable on an unbounded stream.

    ``sink_dir``: production parquet sink. The chart emits ONE ROW PER
    INPUT EVENT (the monitored statistic, alarm flagged), so its output
    is data-proportional — the stream_ema memory-sink OOM class the r11
    30M probe established. The r11 sink_dir sweep missed this runner
    (it was never probed past fixture scale); the r11 streaming
    probe's first smoke run caught it via the rows==input count
    (docs/scale.md "Re-measuring")."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy("user_id").applyInPandasWithState(
        cusum_update_fn(mu, sigma, k_sigma, h_sigma),
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if sink_dir is not None:
        from .replay import run_to_parquet

        return run_to_parquet(out, spark, sink_dir, output_mode="append")
    return _run_to_memory(out, spark, output_mode="append")


def run_cusum_stream_bucketed(
    spark: SparkSession,
    sf_dir: str,
    mu: float = 150.0,
    sigma: float = 85.0,
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    sink_dir: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Bucketed-state CUSUM — same rows as run_cusum_stream, bit-exact
    (pinned in pytest), ~n_buckets x fewer state-store groups per batch
    (r15, VERDICT r14 item 5: the last heavy per-user pandas-state
    stream without a bucketed twin rides the r14 generic builder).

    Fold mapping: the per-user fn seeds (0.0, 0.0) for unseen keys, so
    ``st is None`` maps to that seed; the alarm reset happens AFTER the
    emitted row, so the output tuple is captured before zeroing —
    identical IEEE op sequence per event, and the builder's global
    (ts, event_id) sort preserves each user's subsequence order."""
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
        n_buckets,
    )
