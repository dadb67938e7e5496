"""Streaming batch-equivalence harness (SURVEY.md §5.4): every
streaming op replayed with availableNow must equal the batch version
of the same logic on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chrono_ts_spark.catalog import load_table
from chrono_ts_spark.queries import load_all
from tests.conftest import SF_SMOKE

REG = load_all()


def as_sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture
def shared_buckets(monkeypatch):
    """Seven state buckets, so the fixture's users share them: each
    user's fold must stay exact however its bucket is shared."""
    from chrono_ts_spark.streaming import stateful

    monkeypatch.setattr(stateful, "_N_BUCKETS", 7)


@pytest.mark.slow
def test_tumbling_stream_equals_batch(spark):
    stream = REG["stream_bucket_counts"].fn(spark, SF_SMOKE)
    batch = REG["ts_bucket_agg"].fn(spark, SF_SMOKE)
    cols = ["bucket_ts", "event_type", "n_events", "sum_value", "min_value", "max_value", "avg_value"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


@pytest.mark.slow
def test_session_stream_equals_batch_sessionize(spark):
    stream = REG["stream_session_windows"].fn(spark, SF_SMOKE)
    batch = REG["ts_sessionize"].fn(spark, SF_SMOKE)
    # session_window(start) == min(ts) of the batch gaps-and-islands session
    cols = ["user_id", "session_start", "n_events"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(
        batch.select("user_id", F.col("session_start"), "n_events"), cols
    )


@pytest.mark.slow
def test_dedup_stream_equals_batch_counts(spark):
    stream = REG["stream_dedup_counts"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events").dropDuplicates(["event_id"])
    batch = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    cols = ["event_type", "n_events"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


@pytest.mark.slow
def test_sliding_stream_equals_batch(spark):
    stream = REG["stream_sliding_counts"].fn(spark, SF_SMOKE)
    # batch equivalent: each event belongs to 2 sliding windows (600/300)
    from chrono_ts_spark.functions import time_bucket, ts_str

    ev = load_table(spark, SF_SMOKE, "events")
    batch = (
        ev.select(
            F.explode(
                F.array(
                    time_bucket(F.col("ts"), 300),
                    time_bucket(F.col("ts"), 300) - F.expr("INTERVAL 300 SECONDS"),
                )
            ).alias("win_start"),
            "event_type",
        )
        .groupBy(ts_str(F.col("win_start")).alias("win_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    cols = ["win_start", "event_type", "n_events"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


@pytest.mark.slow
def test_stream_stream_join_equals_batch(spark):
    stream = REG["stream_stream_join"].fn(spark, SF_SMOKE)
    from chrono_ts_spark.functions import ts_str

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 600 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "user_id", "p_id",
        ts_str(F.col("p_ts")).alias("p_ts_s"),
        ts_str(F.col("c_ts")).alias("c_ts_s"),
    )
    cols = ["user_id", "p_id", "p_ts_s", "c_ts_s"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


@pytest.mark.slow
def test_stream_stream_join_left_equals_batch_range_join(spark):
    # The streaming left join must equal the batch bucketed left range
    # join on the flushed prefix (unmatched rows are only provable once
    # the watermark passes p_ts + lookback; the stream's trailing state
    # is never emitted on a bounded replay).
    from chrono_ts_spark.functions import ts_str
    from chrono_ts_spark.operators.rangejoin import range_join

    stream = REG["stream_stream_join_left"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    batch = range_join(
        p, c.withColumnRenamed("c_user", "user_id"),
        on=["user_id"], probe_ts="p_ts", build_ts="c_ts",
        lookback_seconds=600, how="left", probe_id="p_id",
    ).select(
        "user_id", "p_id",
        ts_str(F.col("p_ts")).alias("p_ts_s"),
        ts_str(F.col("c_ts")).alias("c_ts_s"),
    )
    cols = ["user_id", "p_id", "p_ts_s", "c_ts_s"]
    s_rows = set(as_sorted_rows(stream, cols))
    b_rows = set(as_sorted_rows(batch, cols))
    # 1. nothing spurious: every emitted row is a true batch row
    assert s_rows <= b_rows
    # 2. the inner (matched) part is exact — match results emit as they
    #    arrive, independent of watermark-driven state eviction
    s_matched = {t for t in s_rows if t[3] is not None}
    b_matched = {t for t in b_rows if t[3] is not None}
    assert s_matched == b_matched
    # 3. null rows need the watermark to pass p_ts+lookback; on a
    #    bounded replay the final no-data batch flushes them
    #    best-effort (trailing eviction is not guaranteed) — require
    #    near-complete coverage and real zero-preservation
    s_null = {t for t in s_rows if t[3] is None}
    b_null = {t for t in b_rows if t[3] is None}
    assert s_null <= b_null
    assert len(s_null) >= len(b_null) - 5 and len(s_null) > 0


@pytest.mark.slow
def test_ema_stream_equals_batch(spark, shared_buckets):
    from chrono_ts_spark.streaming.stateful import batch_ema

    stream = REG["stream_ema"].fn(spark, SF_SMOKE)
    batch = batch_ema(spark, SF_SMOKE)
    cols = ["user_id", "event_id", "ts_s", "value", "ema"]
    s_rows = as_sorted_rows(stream, cols)
    b_rows = as_sorted_rows(batch, cols)
    assert len(s_rows) == len(b_rows)
    for srow, brow in zip(s_rows, b_rows):
        assert srow[:4] == brow[:4]
        assert srow[4] == pytest.approx(brow[4], rel=1e-12)


@pytest.mark.slow
def test_rate_source_smoke(spark):
    """S4: the built-in rate source works as an alternate ingest path."""
    import tempfile, uuid

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    )
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="chrono_rate_"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        assert spark.table(name).count() > 0
        assert set(spark.table(name).columns) == {"timestamp", "value"}
    finally:
        q.stop()


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """ST1: in append mode, rows later than watermark behind the max
    seen event time are dropped from windowed aggregation state."""
    import tempfile, time, uuid
    from datetime import datetime

    src = str(tmp_path / "src")
    df1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0, 30), 1.0),
         (2, datetime(2024, 1, 1, 12, 0, 0), 1.0)],
        "event_id long, ts timestamp, value double",
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="chrono_wm_"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait until batch 1 (file 1) is fully processed
        deadline = time.time() + 30
        while time.time() < deadline:
            p1 = q.lastProgress
            if p1 and p1["stateOperators"] and p1["stateOperators"][0]["numRowsTotal"] >= 2:
                break
            time.sleep(0.5)
        # now the watermark advances to 11:50 on the next trigger;
        # write the LATE row (10:01, behind watermark) + a fresh one
        df2 = spark.createDataFrame(
            [(3, datetime(2024, 1, 1, 10, 1, 0), 1.0),
             (4, datetime(2024, 1, 1, 12, 1, 0), 1.0)],
            "event_id long, ts timestamp, value double",
        )
        df2.coalesce(1).write.mode("append").parquet(src)
        deadline = time.time() + 30
        while time.time() < deadline:
            got = {(r.ws.isoformat(), r.n) for r in spark.table(name).collect()}
            if any(ws.startswith("2024-01-01T10:00") for ws, _ in got):
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = {(r.ws.isoformat(), r.n) for r in spark.table(name).collect()}
    # the 10:00 window closed with ONLY event 1 — late event 3 dropped
    assert ("2024-01-01T10:00:00", 1) in got, got
    assert not any(ws.startswith("2024-01-01T10:00") and n == 2 for ws, n in got)


@pytest.mark.slow
def test_running_extrema_stream_equals_batch(spark):
    # The update-mode aggregation's last snapshot per user must equal
    # the batch aggregate exactly: min/max/count carry no float
    # arithmetic.
    stream = REG["stream_running_extrema"].fn(spark, SF_SMOKE)
    batch = load_table(spark, SF_SMOKE, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    cols = ["user_id", "n_events", "min_value", "max_value"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


@pytest.mark.slow
def test_running_extrema_native_equals_batch(spark, monkeypatch):
    # Called directly, the extrema runner keeps its state in the JVM
    # state store (a streaming aggregation, no Python state operator)
    # and still agrees with the batch aggregate exactly.
    from chrono_ts_spark.streaming import replay
    from chrono_ts_spark.streaming.stateful import run_running_extrema_stream

    started = []
    start = replay.start_bounded
    monkeypatch.setattr(
        replay, "start_bounded", lambda w, s: started.append(start(w, s)) or started[-1]
    )
    stream = run_running_extrema_stream(spark, SF_SMOKE)
    batch = load_table(spark, SF_SMOKE, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    cols = ["user_id", "n_events", "min_value", "max_value"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)
    assert len(started) == 1
    ops = [o["operatorName"] for o in started[0].lastProgress["stateOperators"]]
    assert ops and not any("Pandas" in op for op in ops), ops


@pytest.mark.slow
def test_parquet_streaming_sink(spark, tmp_path):
    """S6: the production file sink — tumbling counts streamed to
    parquet, read back, equal to the memory-sink/batch result."""
    import tempfile

    from chrono_ts_spark.functions import davg, dsum, ts_str
    from chrono_ts_spark.streaming.replay import replay_events_stream

    ev = replay_events_stream(spark, SF_SMOKE).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "300 seconds"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = agg.select(
        ts_str(F.col("window.start")).alias("bucket_ts"), "event_type", "n_events"
    )
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="chrono_psink_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(sink)
    batch = REG["ts_bucket_agg"].fn(spark, SF_SMOKE).select(
        "bucket_ts", "event_type", "n_events"
    )
    cols = ["bucket_ts", "event_type", "n_events"]
    # append mode emits only watermark-closed windows; all but the tail
    # windows close on a bounded replay — compare the closed set
    b_rows = dict(((r.bucket_ts, r.event_type), r.n_events) for r in batch.collect())
    s_rows = dict(((r.bucket_ts, r.event_type), r.n_events) for r in back.collect())
    assert len(s_rows) >= 0.9 * len(b_rows)
    for k, v in s_rows.items():
        assert b_rows[k] == v, k


@pytest.mark.slow
def test_ema_stream_keeps_same_microsecond_events(spark, tmp_path):
    """Review finding: the replay guard must not drop distinct events
    sharing a microsecond timestamp."""
    from datetime import datetime

    from chrono_ts_spark.streaming.stateful import run_ema_stream

    src = str(tmp_path / "ema_src")
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [(1, t0, 7, "click", 10.0, "{}"), (2, t0, 7, "click", 20.0, "{}"),
            (3, datetime(2024, 1, 1, 10, 1, 0), 7, "click", 30.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    # write in the raw nanos-as-long layout; the replay source expects a
    # single FILE named events.parquet (like the fixtures), so extract
    # the part file from the written directory
    staging = str(tmp_path / "staging")
    df.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    import pathlib
    import shutil

    pathlib.Path(src).mkdir(parents=True, exist_ok=True)
    part = next(pathlib.Path(staging).glob("part-*.parquet"))
    shutil.copy(part, src + "/events.parquet")
    out = run_ema_stream(spark, src, alpha=0.5).collect()
    got = {r.event_id: r.ema for r in out}
    assert len(out) == 3, out
    assert got[1] == 10.0
    assert got[2] == 0.5 * 20.0 + 0.5 * 10.0
    assert got[3] == 0.5 * 30.0 + 0.5 * got[2]


class TestKafkaParse:
    def test_parse_kafka_events_batch(self, spark):
        # Kafka wire schema mimicked as a batch frame: the parser is a
        # pure transform, so batch-proving it pins the streaming path.
        import json

        def wire(eid, us, uid, etype, val):
            return json.dumps(
                {"event_id": eid, "ts_us": us, "user_id": uid,
                 "event_type": etype, "value": val, "props": "{}"}
            ).encode()

        rows = [
            (None, wire(1, 1_700_000_000_000_000, 7, "click", 1.5), "t", 0, 100),
            (None, wire(2, 1_700_000_000_500_000, 8, "error", 0.0), "t", 1, 5),
            (None, b"not json at all", "t", 1, 6),  # corrupt -> dead letter
        ]
        raw = spark.createDataFrame(
            rows,
            "key binary, value binary, topic string, partition int, offset long",
        )
        from chrono_ts_spark.streaming.kafka import parse_kafka_events

        out = {r.kafka_offset: r for r in parse_kafka_events(raw).collect()}
        assert len(out) == 3
        ok = out[100]
        assert (ok.event_id, ok.user_id, ok.event_type, ok.value) == (1, 7, "click", 1.5)
        assert ok.ts.isoformat().startswith("2023-11-14T22:13:20")
        assert not ok.is_corrupt and ok.kafka_partition == 0
        bad = out[6]
        assert bad.is_corrupt and bad.event_id is None

    def test_kafka_source_unavailable_raises_clearly(self, spark):
        import pytest as _pytest

        from chrono_ts_spark.streaming.kafka import kafka_events_stream

        with _pytest.raises(RuntimeError, match="spark-sql-kafka"):
            kafka_events_stream(spark, "localhost:9092", "events")


def test_cusum_stream_equals_batch(spark, shared_buckets):
    """Online streaming CUSUM == batch changepoint op with the same
    fixed target parameters (exact, not approximate)."""
    from chrono_ts_spark.operators.changepoint import cusum
    from chrono_ts_spark.catalog import load_table

    mu, sigma = 150.0, 85.0
    stream = REG["stream_cusum"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    batch = cusum(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        k_sigma=0.5, h_sigma=4.0, target=(mu, sigma),
        tiebreak=["event_id"],  # match the stream's (ts, event_id) order
    )
    s_rows = {
        (r.user_id, r.event_id): (r.value, r.s_plus, r.s_minus, r.alarm)
        for r in stream.collect()
    }
    # map batch rows (keyed on rn) back to event ids via ordered ts
    ev_ids = {
        (r.user_id, r.ts): r.event_id
        for r in ev.select("user_id", "ts", "event_id").collect()
    }
    n = 0
    for r in batch.collect():
        eid = ev_ids[(r.user_id, r.ts)]
        assert s_rows[(r.user_id, eid)] == (r.value, r.s_plus, r.s_minus, r.alarm)
        n += 1
    assert n == len(s_rows) and n > 0


@pytest.mark.slow
def test_cusum_stream_state_crosses_batches(spark, tmp_path, monkeypatch):
    """Two files -> two micro-batches: the user's (s_plus, s_minus) in
    its bucket's packed state must carry across the batch boundary (no
    restart at zero)."""
    from datetime import datetime

    from chrono_ts_spark.streaming import replay
    from chrono_ts_spark.streaming.stateful import run_cusum_stream
    import pathlib

    src = pathlib.Path(tmp_path / "cusum_src")
    src.mkdir(parents=True)

    def write_file(name, rows):
        staging = str(tmp_path / ("st_" + name))
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        df.select(
            "event_id", (F.unix_micros("ts") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(pathlib.Path(staging).glob("part-*.parquet"))
        import shutil

        shutil.copy(part, src / name)

    t = lambda m: datetime(2024, 1, 1, 10, m, 0)
    # mu=10, sigma=2 -> slack=1, h=4 (h_sigma=2). Values of 13 add 2 per
    # step to s_plus; the alarm needs 3 steps, which only happens if
    # state survives the file boundary after 2 steps.
    write_file("slice_00000.parquet", [(1, t(0), 5, "c", 13.0, "{}"),
                                       (2, t(1), 5, "c", 13.0, "{}")])
    write_file("slice_00001.parquet", [(3, t(2), 5, "c", 13.0, "{}")])

    started = []
    start = replay.start_bounded
    monkeypatch.setattr(
        replay, "start_bounded", lambda w, s: started.append(start(w, s)) or started[-1]
    )
    out = run_cusum_stream(spark, str(src), mu=10.0, sigma=2.0, h_sigma=2.0)
    rows = {r.event_id: r for r in out.collect()}
    fed = [p["numInputRows"] for p in started[0].recentProgress if p["numInputRows"]]
    assert fed == [2, 1]
    assert len(rows) == 3
    assert rows[1].s_plus == 2.0 and rows[1].alarm == 0
    assert rows[2].s_plus == 4.0 and rows[2].alarm == 0
    # third step only reaches 6.0 > h=4 if state crossed the boundary
    assert rows[3].s_plus == 6.0 and rows[3].alarm == 1


def test_stream_static_enrich_equals_batch(spark):
    from chrono_ts_spark.catalog import load_table
    from chrono_ts_spark.functions import ts_str

    stream = REG["stream_static_enrich"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    static = (
        ev.select("user_id").distinct().withColumn(
            "tier",
            F.element_at(
                F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold")),
                (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
            ),
        )
    )
    batch = ev.join(static, "user_id").select(
        "event_id", "user_id", "tier", ts_str(F.col("ts")).alias("ts_s")
    )
    cols = ["event_id", "user_id", "tier", "ts_s"]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


def test_holt_stream_equals_batch(spark, shared_buckets):
    # r6: same bit-exactness contract as EMA — the stream replays the
    # identical IEEE recurrence, so level/trend match the batch twin
    # exactly (not approx) on the in-order replay.
    batch = REG["ts_holt_linear"].fn(spark, SF_SMOKE).drop("forecast_next")
    stream = REG["stream_holt"].fn(spark, SF_SMOKE)
    cols = ["user_id", "event_id", "ts_s", "value", "level", "trend"]
    s_rows = as_sorted_rows(stream, cols)
    b_rows = as_sorted_rows(batch, cols)
    assert len(s_rows) == len(b_rows)
    assert s_rows == b_rows


def test_m4_stream_equals_batch(spark):
    # r6: streaming M4 must reproduce the batch downsample exactly —
    # witness timestamps, values, and counts (deterministic composite
    # min_by/max_by keys on both sides).
    stream = REG["stream_m4"].fn(spark, SF_SMOKE)
    batch = REG["ts_m4_downsample"].fn(spark, SF_SMOKE)
    cols = [
        "bucket_ts", "event_type", "t_first", "v_first", "t_min", "v_min",
        "t_max", "v_max", "t_last", "v_last", "n_events",
    ]
    assert as_sorted_rows(stream, cols) == as_sorted_rows(batch, cols)


def test_kalman_stream_equals_batch(spark, shared_buckets):
    # r6 late: the stream replays the identical IEEE Kalman recurrence
    # (state = x, P per key), so estimates and error variances match
    # the batch twin bit-for-bit on the in-order replay.
    batch = REG["ts_kalman_filter"].fn(spark, SF_SMOKE)
    stream = REG["stream_kalman"].fn(spark, SF_SMOKE)
    cols = ["user_id", "event_id", "ts_s", "value", "kalman", "err_var"]
    s_rows = as_sorted_rows(stream, cols)
    b_rows = as_sorted_rows(batch, cols)
    assert len(s_rows) == len(b_rows)
    assert s_rows == b_rows


def test_replay_glob_sliced_equals_single_file(spark, tmp_path):
    """Production posture (r13): replaying the fixture as N
    time-sliced, mtime-ordered files (a layout with no events.parquet)
    — one micro-batch per slice, so the watermark actually advances
    between batches — must produce exactly the single-micro-batch
    output. Pins the layout that the 60M state-retention probes
    (sliced corpora, docs/scale.md "Re-measuring") run through."""
    from chrono_ts_spark.streaming.stateful import run_ema_stream
    from tools.probe import build_sliced_events

    sliced_dir = str(tmp_path / "sliced")
    build_sliced_events(
        spark, f"{SF_SMOKE}/events.parquet", sliced_dir, slices=4
    )

    single = as_sorted_rows(
        run_ema_stream(spark, SF_SMOKE), ["event_id", "user_id", "ema"]
    )
    sliced = as_sorted_rows(
        run_ema_stream(spark, sliced_dir), ["event_id", "user_id", "ema"]
    )
    assert sliced == single


def test_static_enrich_sliced_equals_single_file(spark, tmp_path):
    """The stream-static enrichment's static side reads the files the
    replay selects, so a sliced layout (no events.parquet) runs and
    enriches exactly like the single-file fixture; ``load_table`` reads
    the same slices as the events table."""
    from chrono_ts_spark.streaming.replay import run_stream_static_enrich
    from tools.probe import build_sliced_events

    sliced_dir = str(tmp_path / "sliced")
    build_sliced_events(
        spark, f"{SF_SMOKE}/events.parquet", sliced_dir, slices=4
    )
    cols = ["event_id", "user_id", "tier", "ts_s"]
    single = as_sorted_rows(run_stream_static_enrich(spark, SF_SMOKE), cols)
    sliced = as_sorted_rows(run_stream_static_enrich(spark, sliced_dir), cols)
    assert sliced == single and single
    ev_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert as_sorted_rows(load_table(spark, sliced_dir, "events"), ev_cols) == as_sorted_rows(
        load_table(spark, SF_SMOKE, "events"), ev_cols
    )


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


@pytest.fixture
def shuffle_partitions_7(spark):
    """The session's batch setting at 7, restored afterwards: neither
    the core count nor the conftest's 4, so a stream that inherited it
    would show."""
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, "7")
    try:
        yield
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, before)


@pytest.mark.parametrize("runner", ["memory", "parquet", "upsert"])
def test_bounded_stream_state_one_partition_per_core(
    spark, tmp_path, monkeypatch, shuffle_partitions_7, runner
):
    """Every bounded start site gives each stateful operator one state
    partition per core, and the session keeps its own setting."""
    from chrono_ts_spark.streaming import replay
    from chrono_ts_spark.streaming.upsert import run_upsert_counts

    started = []
    start = replay.start_bounded
    monkeypatch.setattr(
        replay, "start_bounded", lambda w, s: started.append(start(w, s)) or started[-1]
    )
    if runner == "memory":
        replay.run_stateful_dedup_stream(spark, SF_SMOKE)
    elif runner == "parquet":
        replay.run_sessionized_stream(spark, SF_SMOKE, sink_dir=str(tmp_path / "sink"))
    else:
        run_upsert_counts(spark, SF_SMOKE, str(tmp_path / "store"))
    cores = spark.sparkContext.defaultParallelism
    assert spark.conf.get(SHUFFLE_PARTITIONS) == "7"
    assert len(started) == 1
    ops = started[0].lastProgress["stateOperators"]
    assert ops
    assert all(o["numShufflePartitions"] == cores for o in ops), ops
    assert all(o["numStateStoreInstances"] == cores for o in ops), ops


def test_start_bounded_restores_conf_when_start_raises(spark, shuffle_partitions_7):
    from pyspark.errors import AnalysisException

    from chrono_ts_spark.streaming.replay import replay_events_stream, start_bounded

    writer = (
        replay_events_stream(spark, SF_SMOKE)
        .writeStream.format("memory")
        .queryName("complete_without_aggregation")
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    with pytest.raises(AnalysisException):
        start_bounded(writer, spark)
    assert spark.conf.get(SHUFFLE_PARTITIONS) == "7"


def test_concurrent_bounded_starts_restore_session_conf():
    """Threads starting streams on one session at once: every start
    sees the core count and the session ends at its own value. An
    unserialized start would restore another start's core count."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from chrono_ts_spark.streaming.replay import start_bounded

    values = {SHUFFLE_PARTITIONS: "7"}
    session = SimpleNamespace(
        conf=SimpleNamespace(get=values.__getitem__, set=values.__setitem__),
        sparkContext=SimpleNamespace(defaultParallelism=3),
    )
    seen = []

    class Writer:
        def start(self):
            seen.append(values[SHUFFLE_PARTITIONS])
            time.sleep(0.0005)
            return self

    def starts():
        for _ in range(20):
            start_bounded(Writer(), session)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=starts) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 16 * 20 and set(seen) == {"3"}
    assert values[SHUFFLE_PARTITIONS] == "7"


CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


@pytest.mark.parametrize("runner", ["memory", "upsert", "pandas_state"])
def test_bounded_stream_commits_a_changelog(spark, tmp_path, monkeypatch, runner):
    """On the session as the package configures it, every stateful
    operator commits its RocksDB state as a changelog: no SST file is
    copied into the checkpoint during the batch."""
    from chrono_ts_spark.streaming import replay
    from chrono_ts_spark.streaming.stateful import run_ema_stream
    from chrono_ts_spark.streaming.upsert import run_upsert_counts

    started = []
    start = replay.start_bounded
    monkeypatch.setattr(
        replay, "start_bounded", lambda w, s: started.append(start(w, s)) or started[-1]
    )
    if runner == "memory":
        replay.run_stateful_dedup_stream(spark, SF_SMOKE)
    elif runner == "upsert":
        run_upsert_counts(spark, SF_SMOKE, str(tmp_path / "store"))
    else:
        run_ema_stream(spark, SF_SMOKE)
    assert len(started) == 1
    ops = started[0].lastProgress["stateOperators"]
    assert ops and any(o["numRowsTotal"] > 0 for o in ops), ops
    for o in ops:
        metrics = o["customMetrics"]
        assert "rocksdbChangeLogWriterCommitLatencyMs" in metrics, o["operatorName"]
        assert metrics.get("rocksdbFilesCopied", 0) == 0, o["operatorName"]
    assert spark.conf.get(CHANGELOG) == "true"


def test_caller_setting_after_first_load_holds(spark, monkeypatch):
    """The package sets its runtime confs once per session, so a value
    the caller sets after the first load holds: with changelog commits
    switched off, the replay commits RocksDB snapshots."""
    from chrono_ts_spark.catalog import load_table
    from chrono_ts_spark.streaming import replay

    started = []
    start = replay.start_bounded
    monkeypatch.setattr(
        replay, "start_bounded", lambda w, s: started.append(start(w, s)) or started[-1]
    )
    load_table(spark, SF_SMOKE, "events")
    before = spark.conf.get(CHANGELOG)
    spark.conf.set(CHANGELOG, "false")
    try:
        replay.run_stateful_dedup_stream(spark, SF_SMOKE)
        assert spark.conf.get(CHANGELOG) == "false"
    finally:
        spark.conf.set(CHANGELOG, before)
    ops = started[0].lastProgress["stateOperators"]
    assert ops and any(o["numRowsTotal"] > 0 for o in ops), ops
    for o in ops:  # each commit zipped a snapshot into the checkpoint
        assert o["customMetrics"]["rocksdbZipFileBytesUncompressed"] > 0, o["operatorName"]


def _failing(df, col):
    """``df`` whose ``col`` raises once a micro-batch computes it."""
    return df.withColumn(
        col, F.when(F.col(col) > 0, F.raise_error(F.lit("planted failure"))).otherwise(F.col(col))
    )


def test_failed_bounded_stream_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """A bounded stream that fails is stopped and the checkpoint it
    created is removed; a checkpoint the caller passed in is kept."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    from chrono_ts_spark.streaming.replay import _run_to_memory, replay_events_stream
    from chrono_ts_spark.streaming.upsert import run_upsert_sink, windowed_counts

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = replay_events_stream(spark, SF_SMOKE).withWatermark("ts", "10 minutes")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    with pytest.raises(StreamingQueryException, match="planted failure"):
        _run_to_memory(_failing(agg, "n_events"), spark)
    assert not list(tmp_path.glob("chrono_ckpt_*"))
    assert not spark.streams.active

    ckpt = tmp_path / "resume_ckpt"
    with pytest.raises(StreamingQueryException, match="planted failure"):
        run_upsert_sink(
            _failing(windowed_counts(ev), "n_events"), str(tmp_path / "store"), ckpt=str(ckpt)
        )
    assert (ckpt / "offsets").is_dir()
    assert not spark.streams.active
