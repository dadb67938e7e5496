"""SparkSession construction + runtime configuration.

Two contexts use this module:

1. Our own tests / bench build a session via :func:`get_spark`.
2. The verification driver hands us *its* session; we can only apply
   runtime-settable confs there — :func:`apply_runtime_confs` holds
   exactly that subset and is called by every loader/query entry point;
   it sets them once per session, so a caller's own later setting holds.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on a session we do not own.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark 4 refuses TIMESTAMP(NANOS)
    # unless read as raw long (we convert to µs ourselves in catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics, matching DuckDB's naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Pinned, not assumed (ADVICE r15): the fixed-point int64 aggregates
    # (functions.fsum/favg and the per-site *_u4/_u6 sums) rely on ANSI
    # mode turning a long-sum overflow into a loud error instead of a
    # silent wraparound. Spark 4 defaults to true, but a cluster whose
    # spark-defaults disable ANSI would otherwise return plausible wrong
    # totals once a group's unit sum crosses 2^63 (rel_pricing_summary's
    # sum_charge budget: ~4.4e7 rows/group — a HARD scale ceiling for
    # the fixed-point path; past it, revert that site to dsum/davg).
    "spark.sql.ansi.enabled": "true",
    # Arrow for any pandas interchange (UDF paths, toPandas in tests).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Spark's default parquet timestamp encoding is INT96, which carries
    # NO column statistics — every timestamp-partitioned sink would lose
    # row-group pruning (discovered live via io_sorted_write's footer
    # read: stats == None). TIMESTAMP_MICROS stores an annotated int64
    # with full min/max stats and is the modern interchange encoding.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Disk-backed streaming state EVERYWHERE, not just the cluster
    # preset (r10): the default HDFSBackedStateStore keeps every state
    # row as an UnsafeRow copy ON THE HEAP — the 30M-event probe OOMed
    # an 8g JVM at ~28M (bucket, user) aggregation states
    # (UnsafeRow.copy inside HDFSBackedStateStore.put), while RocksDB
    # finishes the same stream in 78 s with heap flat — the
    # wrong-at-scale default is not worth it.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # A RocksDB commit appends the batch's writes to one changelog file
    # per store; snapshots move to the state-store maintenance thread.
    # Without it every commit of every micro-batch flushes the memtable,
    # copies the new SST files plus a zip into the checkpoint and fsyncs
    # them: a fixed cost per store per batch, whatever the data size
    # (measured in docs/scale.md "Streaming state commits").
    # A checkpoint written with either setting resumes under the other.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


# SparkContext attribute caching whether the SparkConf sets
# spark.sql.shuffle.partitions (same marker idiom as
# ensure_package_on_workers).
_SHUFFLE_SET_MARKER = "_chrono_shuffle_partitions_set"
# SparkSession attribute: the confs below were applied to this session.
_CONFS_SET_MARKER = "_chrono_runtime_confs_set"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs once per session; safe on a
    driver-owned session. Later calls return at once, so a value the
    caller sets afterwards with ``spark.conf.set`` holds."""
    if getattr(spark, _CONFS_SET_MARKER, False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A locked-down session may refuse some confs; every query is
            # written to degrade gracefully (only nanosAsLong is load-bearing,
            # and it is runtime-settable in Spark 4.1).
            pass
    try:
        # A session still on Spark's stock 200 means nobody tuned it; right-
        # size for the local fixture scales. Streaming plans can't rely on
        # AQE coalescing, so the initial number matters there. A value
        # explicitly present in the SparkConf (builder config /
        # spark-defaults) is a deliberate setting and is left alone even
        # when it equals 200 (r7 review); a runtime spark.conf.set("200")
        # remains indistinguishable from the stock default — the one
        # residual ambiguity, accepted. A running context's SparkConf
        # cannot change, so it is read once per context: getConf()
        # copies the whole conf over py4j, key by key.
        sc = spark.sparkContext
        explicitly_set = getattr(sc, _SHUFFLE_SET_MARKER, None)
        if explicitly_set is None:
            explicitly_set = "spark.sql.shuffle.partitions" in dict(
                sc.getConf().getAll()
            )
            setattr(sc, _SHUFFLE_SET_MARKER, explicitly_set)
        if (
            not explicitly_set
            and spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            spark.conf.set("spark.sql.shuffle.partitions", "64")
    except Exception:
        pass
    setattr(spark, _CONFS_SET_MARKER, True)
    return spark


# Recommended spark-defaults for the 100 TB / 1000-executor deployment
# (docs/scale.md). Not applied locally — local[32] wants the small-scale
# settings in get_spark(); this dict is the documented cluster preset.
CLUSTER_CONF: dict[str, str] = {
    **RUNTIME_CONFS,
    # ~200 MB post-shuffle partitions at PB scan scale; AQE coalesces up
    "spark.sql.shuffle.partitions": "8000",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    "spark.sql.files.maxPartitionBytes": "256m",
    # skewed series keys / hot join keys
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512m",
    # star-schema dims broadcast aggressively
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # arrow batches sized so multimodal blobs don't blow worker memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    # streaming state on disk, committed as a changelog per micro-batch
    # (both inherited from RUNTIME_CONFS)
}

_PKG_ZIP: str | None = None
_PKG_LOCK = __import__("threading").Lock()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship chrono_ts_spark to executor Python workers via addPyFile.

    Needed by any Pandas-UDF / mapInPandas path: cloudpickle serializes
    module-level functions by reference, so workers must be able to
    import the package — which a driver-owned session (cwd elsewhere)
    cannot do from sys.path alone.
    """
    global _PKG_ZIP
    marker = "_chrono_pkg_shipped"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return
    # re-check existence (a tmp reaper can remove the zip between
    # SparkContexts) and serialize concurrent first builds so one
    # thread can't truncate the zip another's executors are fetching
    # (r7 review)
    with _PKG_LOCK:
        if _PKG_ZIP is not None and not os.path.exists(_PKG_ZIP):
            _PKG_ZIP = None
        if _PKG_ZIP is None:
            import tempfile
            import zipfile
            from pathlib import Path

            pkg_dir = Path(__file__).resolve().parent
            # Per-process file name: a shared fixed path would let one
            # process truncate the zip while another's executors fetch it.
            zip_path = (
                Path(tempfile.gettempdir())
                / f"chrono_ts_spark_pkg_{os.getpid()}.zip"
            )
            with zipfile.ZipFile(zip_path, "w") as z:
                for p in sorted(pkg_dir.rglob("*.py")):
                    z.write(p, "chrono_ts_spark/" + str(p.relative_to(pkg_dir)))
            _PKG_ZIP = str(zip_path)
    try:
        sc.addPyFile(_PKG_ZIP)
    except Exception as e:  # re-adding the same path raises: that's fine
        if "already registered" not in str(e).lower():
            raise  # a real failure must not be cached as success
    setattr(sc, marker, True)


def get_spark(
    app_name: str = "chrono-ts-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) a local session tuned for the test/bench scales.

    At cluster scale the same code runs unchanged: the confs below are
    either size-neutral (AQE, Arrow, timezone) or would be supplied by
    the cluster's spark-defaults (shuffle partitions sized to executors).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("CHRONO_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
