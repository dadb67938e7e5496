"""Table catalog: declared schemas, loaders, and view registration.

Schemas are declared (FIXTURES.md, verified against parquet footers)
rather than inferred, so oracle schema comparison stays deterministic.
``load_table`` is the single entry point every query uses — it owns the
events-timestamp normalization that keeps Spark and the DuckDB oracle
bit-identical (see docs/determinism.md).

Scale note: loaders are plain ``spark.read.parquet`` — on a real
cluster the same call reads a partitioned directory tree and Catalyst
does partition pruning + predicate pushdown from whatever filters the
query adds downstream. Nothing here materializes or collects.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import apply_runtime_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Logical schemas as Spark sees them after load_table's normalization.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),  # normalized, see load_table
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# Physical (as-inferred) schema per parquet path, cached per process.
# Schema inference on a parquet path launches a footer-read Spark job
# on EVERY spark.read.parquet call — ~1 job per table per query build,
# hundreds per sweep, and the reason the contract lint could never be
# job-free. One inference per distinct path is enough; every later
# read declares the cached schema, which skips the inference job
# entirely. At 100 TB the same discipline matters more, not less:
# declared schemas avoid re-listing/footer-sampling wide partitioned
# trees on every query. The immutability premise is ENFORCED, not
# assumed (ADVICE r10): the cache key carries the path's (mtime_ns,
# size) fingerprint, so a fixture rewritten in-process at the same
# path re-infers instead of silently serving a stale schema.
# Directory-style parquet paths fingerprint the directory listing
# (names + sizes + mtimes of the data files).
_SCHEMA_CACHE: dict[tuple[str, tuple], T.StructType] = {}


def _path_fingerprint(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of a local parquet file, or a
    sorted per-file fingerprint tuple for a directory-style dataset.
    Directory trees recurse (os.walk, same _/. pruning) so a rewrite
    INSIDE a partition subdirectory — which need not touch the parent
    directory's mtime — still changes the fingerprint (r11, ADVICE:
    the one-level scandir could serve a stale schema for partitioned
    trees). Non-local / unstatable paths (e.g. s3://) fingerprint as
    a constant — falling back to the r9 per-path-forever behavior for
    storage where mtime probing isn't free."""
    try:
        st = os.stat(path)
    except OSError:
        return ("nostat",)
    if os.path.isdir(path):
        entries = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, path)
            for name in files:
                if name.startswith(("_", ".")):
                    continue
                s = os.stat(os.path.join(root, name))
                entries.append((rel, name, s.st_mtime_ns, s.st_size))
        return tuple(sorted(entries))
    return (st.st_mtime_ns, st.st_size)


def observed_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet file's schema exactly as this session infers it
    (post runtime-confs, e.g. nanosAsLong), cached per
    (path, mtime, size) so an in-process rewrite invalidates."""
    key = (path, _path_fingerprint(path))
    if key not in _SCHEMA_CACHE:
        apply_runtime_confs(spark)
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
        # Drop superseded fingerprints for the same path so a
        # rewrite-heavy process (io_* tests) can't grow the cache.
        for k in [k for k in _SCHEMA_CACHE if k[0] == path and k != key]:
            del _SCHEMA_CACHE[k]
    return _SCHEMA_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types to SCHEMAS[name].

    Timestamp normalization (fixture-encoding-robust — the driver has
    rotated the events.ts physical type across rounds, see
    docs/determinism.md "Timestamps"):

    * ``timestamp[ns]`` + ``spark.sql.legacy.parquet.nanosAsLong=true``
      → Spark reads a raw long of nanoseconds; truncate (integer div)
      to µs, matching DuckDB's ns→µs truncation on read.
    * naive ``timestamp[us]`` → Spark 4.x reads TIMESTAMP_NTZ; cast to
      TIMESTAMP. The session TZ is pinned UTC (session.py), so the
      wall-clock values are unchanged and this matches DuckDB, which
      treats naive parquet timestamps as UTC instants.

    The rule is applied to *every* column observed as ``timestamp_ntz``
    in *every* table, not just events.ts, so a future rotation of
    o_orderdate / l_shipdate cannot re-open the same hole
    (:func:`normalize_timestamps`, which the streaming replay applies
    too). The events table is read where :func:`events_files` finds it.
    """
    apply_runtime_confs(spark)
    base = sf_dir.rstrip("/")
    if name == "events":
        pattern, schema_file = events_files(base)
    else:
        pattern = f"{name}.parquet"
        schema_file = f"{base}/{pattern}"
    df = spark.read.schema(observed_schema(spark, schema_file)).parquet(f"{base}/{pattern}")
    return normalize_timestamps(df, name)


# The time-sliced events layout: one file per replay micro-batch, in
# mtime order (streaming/replay.py).
SLICE_GLOB = "slice_*.parquet"


def events_files(sf_dir: str) -> tuple[str, str]:
    """Where the events table of ``sf_dir`` lives, as (file name or
    glob under ``sf_dir``, one file to read its schema from):
    ``events.parquet`` when it exists, else the time-sliced
    ``slice_*.parquet`` layout. A non-local URI is taken to hold
    ``events.parquet``, as is a directory with neither (its read then
    fails on the missing path)."""
    base = sf_dir.rstrip("/")
    single = f"{base}/events.parquet"
    if "://" in base or os.path.exists(single):
        return "events.parquet", single
    slices = sorted(glob.glob(f"{base}/{SLICE_GLOB}"))
    return (SLICE_GLOB, slices[0]) if slices else ("events.parquet", single)


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """``load_table``'s timestamp rule on a frame read as table
    ``name`` is stored (batch or streaming): every column declared
    TimestampType comes out as TIMESTAMP, whatever the encoding."""
    # ns-as-bigint rule generalized over SCHEMAS (r7 review: it was
    # hard-coded to events.ts while the docstring promised every
    # column): any column DECLARED TimestampType that loads as bigint
    # is nanosAsLong output and truncates to micros
    declared_ts = {
        f.name
        for f in SCHEMAS[name].fields
        if isinstance(f.dataType, T.TimestampType)
    }
    for c, t in df.dtypes:
        if t == "bigint" and c in declared_ts:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register temp views (S7) so ``spark.sql`` queries see the catalog."""
    for name in (tables if tables is not None else TABLE_NAMES):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
