"""File-stream replay of the events table + canonical streaming ops.

The static events parquet is replayed as a Structured Streaming file
source (ST: the ingest path of the TSDB). ``availableNow`` processes
the backlog as micro-batches and terminates — the same code, pointed
at a Kafka source with a processing-time trigger, is the production
ingest (S4/S6).

Watermarks bound state in the production configuration: with
"10 minutes" on a continuous source, the windowed state store holds
only the trailing windows — O(active windows), not O(history), the
property that matters when the stream is 100 TB/day. NOTE (r7 review):
the replay RUNNERS below use `complete` output mode so the bounded
fixture replay materializes the full result table for the equivalence
tests — in complete mode Spark does NOT evict aggregation state, so
this exact configuration must not be pointed at an unbounded source.
The production ingest uses the same transformations with
`update`/`append` output (as run_upsert_sink does), where the
watermark eviction claim above actually applies.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions import ts_str
from ..session import apply_runtime_confs

def _replay_source(spark: SparkSession, sf_dir: str) -> tuple[str, T.StructType]:
    """The replayed files' glob (``catalog.events_files``: the one-file
    fixture, else the time slices) and their observed schema.
    readStream requires a declared schema, so the footer's own encoding
    of ``ts`` is declared and normalized afterwards."""
    from ..catalog import events_files, observed_schema

    apply_runtime_confs(spark)
    pattern, schema_file = events_files(sf_dir)
    return pattern, observed_schema(spark, schema_file)


def replay_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame replaying the events of ``sf_dir``, with
    ``ts`` normalized to TIMESTAMP as ``catalog.load_table`` does.

    The one-file fixture replays as a single micro-batch (the premise
    the upsert/alert oracles assert via ``assert_single_file_replay``).
    A time-sliced, mtime-ordered layout (``slice_*.parquet``, no
    ``events.parquet``) replays one slice per micro-batch through
    maxFilesPerTrigger=1, so the watermark actually advances: the
    bounded-state deployment shape the r12/r13 60M probes measure
    (docs/scale.md stream-stream join state retention)."""
    from ..catalog import normalize_timestamps

    glob_pat, raw_schema = _replay_source(spark, sf_dir)
    raw = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", glob_pat)
        .option("maxFilesPerTrigger", "1")
        .load(sf_dir.rstrip("/"))
    )
    return normalize_timestamps(raw, "events")


def assert_single_file_replay(sf_dir: str) -> None:
    """Fail loudly if the events fixture is not ONE regular file.

    The stream_upsert_counts / stream_alert_burst oracles (r8) rest on
    the premise that the whole fixture arrives as a single micro-batch
    (one file matched by pathGlobFilter + maxFilesPerTrigger=1), so the
    10-minute watermark can never drop rows. If the fixture is ever
    sharded into part files (``events.parquet`` becomes a directory),
    replay turns multi-batch and out-of-order files could be
    watermark-dropped — that must surface HERE as a clear error, not
    downstream as an inscrutable oracle hash mismatch (ADVICE r8).
    Local-path check only: the driver fixtures are local; remote URIs
    (no such fixture exists today) pass through un-checked.
    """
    base = sf_dir.rstrip("/")
    if "://" in base:  # non-local URI — not a driver fixture layout
        return
    p = os.path.join(base, "events.parquet")
    if not os.path.isfile(p):
        raise AssertionError(
            f"single-micro-batch replay premise violated: {p} is not a "
            "regular file (sharded/multi-file fixtures make the replay "
            "multi-batch, so the watermark could drop rows and the "
            "stream_upsert/alert oracles no longer hold)"
        )


_START_LOCK = threading.Lock()


def start_bounded(writer: DataStreamWriter, spark: SparkSession) -> StreamingQuery:
    """Start ``writer`` with one state partition per core.

    A stateful operator keeps one state-store instance per shuffle
    partition, fixed when the checkpoint is created; AQE never
    coalesces it. Inheriting the batch setting (32 from ``get_spark``,
    64 on a stock driver session) makes every micro-batch of a bounded
    replay load and commit that many RocksDB stores in waves of
    fixed-cost tasks. The stream clones the session's SQL conf when
    ``start()`` constructs it, so the core count is set only around
    that call: the stream keeps it, and the session's previous value is
    back as soon as ``start()`` returns or raises. A batch query that
    another thread plans inside that window sees the core count too
    (a partition count, not a result). Concurrent starts are serialized:
    interleaved, the second would read the first's core count as the
    value to restore. A resumed checkpoint keeps the partition count it
    recorded.
    """
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        previous = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, previous)


def _run_bounded(
    writer: DataStreamWriter, spark: SparkSession, ckpt: str | None = None
) -> None:
    """Run ``writer`` as an availableNow query until it terminates.

    It starts through :func:`start_bounded`, so its state has one
    partition per core. Without ``ckpt`` the query gets a fresh
    checkpoint dir, removed once the query ends, failed or not: a
    bounded replay constructs fresh state, so the checkpoint has no
    further use. A ``ckpt`` the caller passes (to resume a previous
    run) is kept. The query is stopped however it ends.
    """
    own_ckpt = ckpt is None
    if own_ckpt:
        ckpt = tempfile.mkdtemp(prefix="chrono_ckpt_")
    try:
        q = start_bounded(
            writer.option("checkpointLocation", ckpt).trigger(availableNow=True),
            spark,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        if own_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)


def _run_to_memory(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Run a bounded query into a memory sink (:func:`_run_bounded`);
    return the table. The memory table itself lives for the session —
    callers collect from it lazily, so it can't be dropped here.
    """
    name = "mem_" + uuid.uuid4().hex[:10]
    _run_bounded(
        result.writeStream.format("memory").queryName(name).outputMode(output_mode),
        spark,
    )
    return spark.table(name)


def run_to_parquet(
    result: DataFrame,
    spark: SparkSession,
    out_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Run a bounded query into a PARQUET sink (:func:`_run_bounded`);
    return a reader.

    The memory sink materializes the whole result driver-side, which
    caps per-event-output streams (Kalman/EMA/Holt emit one row per
    input event) at spark.driver.maxResultSize — the r9 10M streaming
    probe hit exactly that (1 GiB of task results aborting the memory
    sink's MicroBatchWrite). This is the production sink shape: state
    stays on executors, output goes to files, the driver never holds
    rows. The fixture-scale query registry keeps the memory sink (the
    driver wants a collectable table); scale probes and any real
    deployment use this.
    """
    _run_bounded(
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode(output_mode),
        spark,
    )
    return spark.read.parquet(out_dir)


def run_m4_stream(
    spark: SparkSession, sf_dir: str, width_seconds: int = 900
) -> DataFrame:
    """ST2+A7b (r6): streaming M4 downsampling — the same witness
    semantics as the batch ts_m4_downsample, per tumbling window, so
    downsampled tiles materialize continuously as data arrives.
    Batch-equivalence asserted in tests.

    r11 state-width experiment (VERDICT r10 item 6): the four witness
    extremes are plain ``min``/``max`` over ORDERING-ENCODING structs
    — min(struct(ts, event_id, value)) selects the same row as
    min_by(payload, struct(ts, event_id)) whenever event_id is unique
    (the totality the old min_by comparator already required for
    determinism) — but each aggregate's streaming state is ONE struct
    instead of a comparator-key + payload buffer pair. Measured at
    10M events on the single-file replay (A/B, same load): 18.5 s vs
    88.9 s for the min_by form, 4.8x, outputs identical row for row.
    stream_m4 was the heaviest stream at the r10 30M probe (230.5 s,
    1.7x the next-heaviest); re-probed at 30M with this form on a
    quiet box: 12.8 s — an 18x cut that moves it from heaviest stream
    to one of the lightest.
    """
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(
        F.window("ts", f"{width_seconds} seconds"), F.col("event_type")
    ).agg(
        F.min(F.struct("ts", "event_id", "value")).alias("_f"),
        F.max(F.struct("ts", "event_id", "value")).alias("_l"),
        F.min(F.struct("value", "ts", "event_id")).alias("_mn"),
        F.max(F.struct("value", "ts", "event_id")).alias("_mx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    out = agg.select(
        ts_str(F.col("window.start")).alias("bucket_ts"),
        "event_type",
        ts_str(F.col("_f.ts")).alias("t_first"),
        F.col("_f.value").alias("v_first"),
        ts_str(F.col("_mn.ts")).alias("t_min"),
        F.col("_mn.value").alias("v_min"),
        ts_str(F.col("_mx.ts")).alias("t_max"),
        F.col("_mx.value").alias("v_max"),
        ts_str(F.col("_l.ts")).alias("t_last"),
        F.col("_l.value").alias("v_last"),
        "n_events",
    )
    return _run_to_memory(out, spark)


def run_tumbling_counts_stream(
    spark: SparkSession, sf_dir: str, bucket_seconds: int = 300
) -> DataFrame:
    """ST1+ST2: watermarked tumbling-window counts, replayed to a table.

    Batch-equivalent to the flagship ts_bucket_agg aggregation.
    """
    from ..functions import davg, dsum

    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(
        F.window("ts", f"{bucket_seconds} seconds"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        davg("value").alias("avg_value"),
    )
    out = agg.select(
        ts_str(F.col("window.start")).alias("bucket_ts"),
        "event_type",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
        "avg_value",
    )
    return _run_to_memory(out, spark)


def run_sessionized_stream(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 1800,
    sink_dir: str | None = None,
) -> DataFrame:
    """ST4: session-window aggregation per user (event-time sessions).

    Session count is PROPORTIONAL TO DATA (unlike the bounded
    tumbling/M4 results), so the memory sink is fixture-scale only —
    the r10 30M-event probe lost the driver to TaskResultLost
    collecting ~millions of session rows. Pass ``sink_dir`` for the
    production parquet path (state on executors, rows to files), the
    same split stream_kalman established in r9. Sink semantics differ
    by contract: memory+complete emits EVERY session; parquet+append
    emits only watermark-CLOSED sessions, withholding each user's
    trailing open session at end-of-replay — the correct production
    behavior for an unbounded stream (a session not yet closed is not
    yet a result)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(
        F.session_window("ts", f"{gap_seconds} seconds"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = agg.select(
        "user_id",
        ts_str(F.col("session_window.start")).alias("session_start"),
        "n_events",
    )
    if sink_dir is not None:
        return run_to_parquet(out, spark, sink_dir, output_mode="append")
    return _run_to_memory(out, spark)


def run_stateful_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: exact-once event ids via dropDuplicatesWithinWatermark,
    then per-type counts (complete mode for a bounded replay)."""
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(agg, spark)


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, sink_dir: str | None = None
) -> DataFrame:
    """Stream-static enrichment join (the standard dimension-lookup
    ingest pattern): the replayed event stream inner-joins a BATCH
    dimension (per-user tier derived deterministically from user_id).

    Stream-static joins are stateless on the stream side — the static
    side is (re)read per micro-batch and the join needs no watermark or
    state store, which is why this is the preferred shape for enriching
    a 100 TB/day stream with reference data (vs a stream-stream join
    whose state grows with the watermark gap). Output is one row PER
    EVENT, so the memory sink is fixture-scale only (the stream_kalman
    r9 finding); pass ``sink_dir`` for the production parquet path —
    append semantics are identical here (stateless join, every row
    emits immediately)."""
    # the static side reads exactly the files the replay streams
    glob_pat, raw_schema = _replay_source(spark, sf_dir)
    static = (
        spark.read.schema(raw_schema)
        .option("pathGlobFilter", glob_pat)
        .parquet(sf_dir.rstrip("/"))
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.element_at(
                F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold")),
                (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
            ),
        )
    )
    ev = replay_events_stream(spark, sf_dir)
    enriched = ev.join(static, "user_id").select(
        "event_id", "user_id", "tier", ts_str(F.col("ts")).alias("ts_s")
    )
    if sink_dir is not None:
        return run_to_parquet(enriched, spark, sink_dir, output_mode="append")
    return _run_to_memory(enriched, spark, output_mode="append")
