#!/usr/bin/env python
"""Probe harness: registry queries and streaming runners on a corpus,
one fresh JVM per run, interleaved across A/B arms.

    python tools/probe.py --data /root/testdata/sf0.1 --queries tag:bench \\
        --arms 7e69293,. --pairs 3 --trace
    python tools/probe.py --corpus events=200000,slices=4 \\
        --queries run_sessionized_stream,ts_rate

``--queries``: registry names, ``tag:<tag>``, or streaming runners
(``run_*`` in ``chrono_ts_spark.streaming``). A runner that accepts
``sink_dir`` always gets a fresh parquet sink, counted and then
removed: its output grows with the input and is never collected.

``--data DIR`` reads an existing corpus; ``--corpus key=N,...`` builds
one (keys in CORPUS_KEYS) in a fresh JVM, cached under
``.probe/corpus/``. With ``slices`` its events are only time-range files
``slice_*.parquet``: streaming runners replay one slice per micro-batch
and batch queries read the slices as the events table
(``catalog.events_files``).

``--arms`` (default ``.``): ``.`` is this checkout as it stands; any
other git ref is checked out into a temporary worktree under
``.probe/``. Every arm runs this file; only the ``chrono_ts_spark`` it
imports differs, so an A/B of an old operator is ``--arms <commit>,.``.
An arm may carry environment assignments: ``HEAD:KEY=VALUE``.

Each (pair, arm) is one subprocess with its own JVM; odd pairs reverse
the arm order. Stopping the harness (SIGTERM or Ctrl-C) kills the
running subprocess and its JVM and removes the temporary worktrees.
Per query: ``build_s`` (plan construction), one untimed warm run, one
timed noop-sink run (``exec_s``). A runner builds and
runs in one call (``build_s`` 0); its record also carries, per stateful
operator, ``numShufflePartitions`` and ``numStateStoreInstances`` from
the stream's progress and the commit split of the timed run summed
over its progress reports: ``commitTimeMs`` and the RocksDB
``rocksdbCommitFileSyncLatencyMs``,
``rocksdbChangeLogWriterCommitLatencyMs``,
``rocksdbCommitFlushLatency`` and ``rocksdbCommitCheckpointLatency``
(``COMMIT_SPLIT``). An exception fails that query in
that arm; the run goes on. ``--trace`` turns on Spark's event log
through the launch configuration, tags build and exec phases with
``setJobGroup`` and adds the layer metrics of ``benchmark/tracing.py``;
a runner's record also gets ``streaming.batch_p50_s``.

``.probe/runs/<stamp>/`` gets ``runs.jsonl`` (one line per arm, pair
and query), ``plans/<arm>/<query>.txt`` (EXPLAIN FORMATTED; for a
runner, of the table it returns) and ``summary.json``, also printed as
the last stdout line: median and quartiles of ``build_s + exec_s`` per
query and arm, and the pairs the second arm won. ``gain`` is the pair
rule: at least 10 pairs, the second arm won 9/10 of them, and its
median is lower by more than the first arm's interquartile range.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

TOOLS = Path(__file__).resolve().parent
ROOT = TOOLS.parent
BENCH = ROOT / "benchmark"
PROBE = ROOT / ".probe"

# --corpus keys and defaults; 0 leaves a table out. users defaults to
# max(1000, events // 1000): a constant ~1000 events per series as the
# corpus grows. tpch multiplies the sf0.1 TPC-H table sizes.
CORPUS_KEYS = {
    "events": 0, "users": 0, "docs": 0, "vocab": 100,
    "vectors": 0, "tpch": 0, "slices": 0,
}


# --- corpus builders (Spark-side: every row is generated on the executors)


def _hash_mod(col, n: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col), F.lit(n))


def _pick(values: list, col):
    """One of ``values``, chosen by the hash of ``col``."""
    from pyspark.sql import functions as F

    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (_hash_mod(col, len(values)) + 1).cast("int"))


def _write(df, path: str, name: str) -> None:
    df.write.mode("overwrite").parquet(f"{path}/{name}.parquet")


def build_events(spark, path: str, rows: int, users: int) -> None:
    """Synthetic events over one month, written as ONE parquet file at
    ``<path>/events.parquet``: the default replay glob matches a file,
    not a directory, and a single file still scans in parallel by row
    group."""
    from pyspark.sql import functions as F

    i = F.col("id")
    month_us = 30 * 86400 * 1_000_000
    df = spark.range(rows).select(
        i.alias("event_id"),
        F.timestamp_micros(F.lit(1704067200000000) + _hash_mod(i, month_us)).alias("ts"),
        _hash_mod(i + 7, users).alias("user_id"),
        _pick(["click", "view", "purchase", "error", "signup"], i + 13).alias("event_type"),
        F.round(_hash_mod(i + 29, 30000).cast("double") / 100.0, 2).alias("value"),
        F.concat(F.lit('{"k": '), (i % 100).cast("string"), F.lit("}")).alias("props"),
    )
    staging = f"{path}/_staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    (part,) = Path(staging).glob("part-*.parquet")
    shutil.move(str(part), f"{path}/events.parquet")
    shutil.rmtree(staging)


def build_sliced_events(spark, src_file: str, out_dir: str, slices: int) -> None:
    """Re-lay an events file as ``slices`` time-range files
    ``slice_NNNNN.parquet``, mtime-ordered so FileStreamSource
    (latestFirst=false) replays them oldest-first and the watermark
    advances monotonically."""
    df = spark.read.parquet(src_file).repartitionByRange(slices, "ts")
    staging = f"{out_dir}/_staging"
    df.sortWithinPartitions("ts").write.mode("overwrite").parquet(staging)
    parts = sorted(Path(staging).glob("part-*.parquet"))
    if len(parts) != slices:
        raise RuntimeError(f"expected {slices} parts, got {len(parts)}")
    # part file NAMES are already range-ordered (partition index order);
    # stamp increasing mtimes so the source's mod-time ordering agrees.
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    base = time.time() - slices * 2
    for n, p in enumerate(parts):
        dst = f"{out_dir}/slice_{n:05d}.parquet"
        shutil.move(str(p), dst)
        os.utime(dst, (base + n * 2, base + n * 2))
    shutil.rmtree(staging, ignore_errors=True)


def build_documents(spark, path: str, docs: int, vocab_size: int = 100) -> None:
    """Word-soup documents (30-69 words of a ``vocab_size`` vocabulary)
    with planted repeats for the dedup and span families: doc_id % 50
    == 49 clones doc_id - 1; doc_id % 20 == 0 and doc_id % 7 == 3 embed
    two fixed 14-token boilerplates. A fixed vocabulary makes random
    shingle collisions grow quadratically with the corpus; real corpora
    grow it with size (Heaps' law), e.g. ``vocab=docs/10000``."""
    from pyspark.sql import functions as F

    i = F.col("id")
    seed = F.when(i % 50 == 49, i - 1).otherwise(i)
    words = F.transform(
        F.sequence(F.lit(1), (_hash_mod(seed, 40) + 30).cast("int")),
        lambda k: F.concat(F.lit("w"), F.pmod(F.xxhash64(seed, k), F.lit(vocab_size)).cast("string")),
    )
    boiler = [F.when(seed % m == r, F.lit(" ".join(f"{p}{n}" for n in range(14)))).otherwise(F.lit(""))
              for m, r, p in ((20, 0, "ba"), (7, 3, "bb"))]
    text = F.concat_ws(" ", F.concat_ws(" ", words), *boiler)
    _write(spark.range(docs).select(
        i.alias("doc_id"),
        text.alias("text"),
        _pick(["en", "zh", "es", "fr", "de"], i + 3).alias("lang"),
        F.concat(F.lit("src"), (i % 20).cast("string")).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    ), path, "documents")


def build_embeddings(spark, path: str, vecs: int, dims: int = 64) -> None:
    """Synthetic embeddings: 8 well-separated hash-jittered clusters."""
    from pyspark.sql import functions as F

    i = F.col("id")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: (F.when(d == (i % 8).cast("int") * 8, F.lit(10.0)).otherwise(0.0)
                   + F.pmod(F.xxhash64(i, d), F.lit(1000)).cast("double") / 1000.0).cast("float"),
    )
    _write(spark.range(vecs).select(
        i.alias("vec_id"), (i % 8).cast("int").alias("label"), emb.alias("embedding"),
    ), path, "embeddings")


def build_tpch(spark, path: str, mult: float) -> None:
    """TPC-H-shaped tables at ``mult`` times the sf0.1 fixture sizes
    (lineitem 600k -> 30M at mult=50), schema- and value-range-
    compatible with the fixtures (dates 1995+, foreign keys modular
    within the parent key space) so the relational registry queries
    run unmodified. region and nation are the fixtures' constants."""
    from pyspark.sql import functions as F

    i, pm = F.col("id"), _hash_mod
    _write(spark.range(5).select(
        i.cast("int").alias("r_regionkey"),
        F.element_at(F.array(*map(F.lit, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])),
                     (i + 1).cast("int")).alias("r_name"),
    ), path, "region")
    _write(spark.range(25).select(
        i.cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), i.cast("string")).alias("n_name"),
        (i % 5).cast("int").alias("n_regionkey"),
    ), path, "nation")
    n_cust, n_supp, n_part = int(15_000 * mult), int(1_000 * mult), int(20_000 * mult)
    n_ord, n_li = int(150_000 * mult), int(600_000 * mult)
    t0, day_us = 788_918_400_000_000, 86_400_000_000  # 1995-01-01 UTC in micros

    def day(col, days: int):
        return F.timestamp_micros(F.lit(t0) + pm(col, days) * F.lit(day_us))

    def money(col, n: int, base: float):
        return F.lit(base) + pm(col, n).cast("double") / 100.0

    _write(spark.range(n_cust).select(
        i.alias("c_custkey"),
        F.concat(F.lit("Customer#"), i.cast("string")).alias("c_name"),
        pm(i + 1, 25).cast("int").alias("c_nationkey"),
        money(i + 2, 1_100_000, -1000.0).alias("c_acctbal"),
        _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], i + 3).alias("c_mktsegment"),
    ), path, "customer")
    _write(spark.range(n_supp).select(
        i.alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), i.cast("string")).alias("s_name"),
        pm(i + 4, 25).cast("int").alias("s_nationkey"),
        money(i + 5, 1_100_000, -1000.0).alias("s_acctbal"),
    ), path, "supplier")
    words = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
             "black", "blanched", "blue", "blush", "brown", "burlywood"]
    types = [f"{a} {b} {c}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
             for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
             for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
    _write(spark.range(n_part).select(
        i.alias("p_partkey"),
        F.concat_ws(" ", _pick(words, i + 6), _pick(words, i + 7)).alias("p_name"),
        _pick([f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)], i + 8).alias("p_brand"),
        _pick(types, i + 9).alias("p_type"),
        (pm(i + 10, 50) + 1).cast("int").alias("p_size"),
        money(i + 11, 110_000, 900.0).alias("p_retailprice"),
    ), path, "part")
    _write(spark.range(n_ord).select(
        i.alias("o_orderkey"),
        pm(i + 12, n_cust).alias("o_custkey"),
        _pick(["O", "F", "P"], i + 13).alias("o_orderstatus"),
        money(i + 14, 45_000_000, 1000.0).alias("o_totalprice"),
        day(i + 15, 2_400).alias("o_orderdate"),
        _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], i + 16).alias("o_orderpriority"),
    ), path, "orders")
    _write(spark.range(n_li).select(
        pm(i + 17, n_ord).alias("l_orderkey"),
        pm(i + 18, n_part).alias("l_partkey"),
        pm(i + 19, n_supp).alias("l_suppkey"),
        (pm(i + 20, 7) + 1).cast("int").alias("l_linenumber"),
        (pm(i + 21, 50) + 1).cast("double").alias("l_quantity"),
        money(i + 22, 9_500_000, 900.0).alias("l_extendedprice"),
        (pm(i + 23, 11).cast("double") / 100.0).alias("l_discount"),
        (pm(i + 24, 9).cast("double") / 100.0).alias("l_tax"),
        _pick(["R", "A", "N"], i + 25).alias("l_returnflag"),
        _pick(["O", "F"], i + 26).alias("l_linestatus"),
        day(i + 27, 2_500).alias("l_shipdate"),
    ), path, "lineitem")


def parse_corpus(text: str) -> dict:
    spec = dict(CORPUS_KEYS)
    for item in filter(None, text.split(",")):
        key, sep, value = item.partition("=")
        if key not in CORPUS_KEYS or not sep:
            raise SystemExit(f"--corpus: bad item {item!r}; keys are {sorted(CORPUS_KEYS)}")
        spec[key] = float(value) if key == "tpch" else int(value)
    if spec["slices"] and not spec["events"]:
        raise SystemExit("--corpus: slices needs events")
    spec["users"] = spec["events"] and (spec["users"] or max(1000, spec["events"] // 1000))
    spec["vocab"] = spec["docs"] and spec["vocab"]
    return spec


def build_corpus(spec_json: str, out: str) -> None:
    """Every table of a parsed ``--corpus`` spec into ``out``."""
    from chrono_ts_spark.session import get_spark

    spec = json.loads(spec_json)
    spark = get_spark("probe-corpus")
    Path(out).mkdir(parents=True, exist_ok=True)
    if spec["events"]:
        build_events(spark, out, spec["events"], spec["users"])
        if spec["slices"]:
            build_sliced_events(spark, f"{out}/events.parquet", out, spec["slices"])
            os.remove(f"{out}/events.parquet")
    if spec["docs"]:
        build_documents(spark, out, spec["docs"], spec["vocab"])
    if spec["vectors"]:
        build_embeddings(spark, out, spec["vectors"])
    if spec["tpch"]:
        build_tpch(spark, out, spec["tpch"])
    spark.stop()


def ensure_corpus(spec: dict) -> Path:
    """The cached corpus directory of ``spec``, built on first use."""
    name = "_".join(f"{k}{v}" for k, v in spec.items() if v)
    out = PROBE / "corpus" / name
    if out.is_dir():
        return out
    tmp = out.with_name(name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    if spawn(ROOT, "build_corpus", [json.dumps(spec), str(tmp)], {}, {}):
        raise SystemExit(f"building corpus {name} failed")
    tmp.rename(out)
    print(f"built {out} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return out


# --- targets


def runners() -> dict:
    """Streaming runners: ``run_*(spark, sf_dir, ...)`` functions of the
    ``chrono_ts_spark.streaming`` modules."""
    import importlib
    import pkgutil

    import chrono_ts_spark.streaming as pkg

    found = {}
    for m in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{m.name}")
        for name, fn in vars(mod).items():
            if name.startswith("run_") and inspect.isfunction(fn):
                params = list(inspect.signature(fn).parameters.values())
                required = [p.name for p in params if p.default is inspect.Parameter.empty]
                if required == ["spark", "sf_dir"]:
                    found[name] = fn
    return found


def expand(queries: str) -> list[str]:
    """Registry names, ``tag:<tag>`` groups and runner names, in order."""
    from chrono_ts_spark.queries import load_all

    registry, streams, out = load_all(), runners(), []
    for item in filter(None, (q.strip() for q in queries.split(","))):
        if item.startswith("tag:"):
            names = sorted(n for n, s in registry.items() if item[4:] in s.tags)
        elif item in registry or item in streams:
            names = [item]
        else:
            names = []
        if not names:
            raise SystemExit(f"--queries: {item!r} names no registry query, tag or runner")
        out += [n for n in names if n not in out]
    return out


# --- one (pair, arm): runs in its own subprocess and JVM


# Per stateful operator, summed over a run's progress reports: the
# state-store commit time and the RocksDB metrics that split it
# (snapshot: memtable flush, local checkpoint, SST copy + fsync;
# changelog: one file written and synced per store).
COMMIT_SPLIT = (
    "commitTimeMs",
    "rocksdbCommitFileSyncLatencyMs",
    "rocksdbChangeLogWriterCommitLatencyMs",
    "rocksdbCommitFlushLatency",
    "rocksdbCommitCheckpointLatency",
)


def state_operators(progress: list[dict]) -> dict:
    """Per stateful operator, in plan order (empty lists for a
    stateless runner): its shuffle partitions and state-store instances
    as the last progress report with state operators gives them, and
    each ``COMMIT_SPLIT`` metric summed over every report (0 where a
    report lacks it)."""
    reports = [p["stateOperators"] for p in progress if p.get("stateOperators")]
    ops = reports[-1] if reports else []
    out = {
        "numShufflePartitions": [o.get("numShufflePartitions") for o in ops],
        "numStateStoreInstances": [o.get("numStateStoreInstances") for o in ops],
    }
    for key in COMMIT_SPLIT:
        out[key] = [0] * len(ops)
        for r in reports:
            for i, o in enumerate(r[: len(ops)]):
                out[key][i] += o.get(key, o.get("customMetrics", {}).get(key, 0))
    return out


def batch_p50_s(progress: list[dict]) -> float:
    """The median micro-batch time (``triggerExecution``) of a run's
    progress reports in seconds, as ``benchmark/run.py`` computes
    ``streaming.batch_p50_s``; 0.0 for a run with no report."""
    times = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    return statistics.median(times) if times else 0.0


class Worker:
    """Runs every target once in one session and writes the records."""

    def __init__(self, cfg: dict) -> None:
        from chrono_ts_spark.queries import load_all
        from chrono_ts_spark.session import get_spark

        import tracing

        self.cfg = cfg
        self.data = cfg["data"]
        self.plans = Path(cfg["plans"])
        self.plans.mkdir(parents=True, exist_ok=True)
        self.registry = load_all()
        self.streams = runners()
        self.spark = get_spark("probe")
        self.progress = tracing.ProgressLog()
        self.spark.streams.addListener(self.progress.listener())

    def tag(self, group: str) -> None:
        if self.cfg["trace"]:
            self.spark.sparkContext.setJobGroup(group, group)

    def save_plan(self, name: str, df) -> None:
        from chrono_ts_spark.planinfo import explain_text

        self.tag(f"plan|{name}")
        (self.plans / f"{name}.txt").write_text(explain_text(df, "formatted"))

    def query(self, name: str) -> tuple[dict, list[str], list | None]:
        fn = self.registry[name].fn
        self.tag(f"build|{name}")
        t0 = time.perf_counter()
        df = fn(self.spark, self.data)
        build_s = time.perf_counter() - t0
        self.tag(f"warm|{name}")
        df.write.mode("overwrite").format("noop").save()
        self.tag(f"exec|{name}")
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        exec_s = time.perf_counter() - t0
        self.save_plan(name, df)
        return {"build_s": build_s, "exec_s": exec_s}, [f"build|{name}", f"exec|{name}"], None

    def stream(self, name: str) -> tuple[dict, list[str], list | None]:
        fn = self.streams[name]
        takes_sink = "sink_dir" in inspect.signature(fn).parameters

        def once() -> tuple[int, float]:
            kwargs = {"sink_dir": tempfile.mkdtemp(prefix="probe_sink_")} if takes_sink else {}
            try:
                t0 = time.perf_counter()
                out = fn(self.spark, self.data, **kwargs)
                rows = out.count()
                took = time.perf_counter() - t0
                self.save_plan(name, out)
                return rows, took
            finally:
                if takes_sink:
                    shutil.rmtree(kwargs["sink_dir"], ignore_errors=True)

        self.tag(f"warm|{name}")
        once()
        self.tag(f"exec|{name}")
        n0 = len(self.progress.progress)
        rows, exec_s = once()
        self.progress.wait_idle()
        progress = self.progress.progress[n0:]
        # streaming jobs run under their query's runId as job group
        groups = [f"exec|{name}"] + sorted({p["runId"] for p in progress})
        return {"build_s": 0.0, "exec_s": exec_s, "rows": rows, **state_operators(progress)}, groups, progress

    def run(self) -> None:
        """Every target once; records are saved after each one, so a
        dead JVM keeps the results before it."""
        cfg, done = self.cfg, []
        for name in cfg["queries"]:
            rec = {"arm": cfg["arm"], "pair": cfg["pair"], "query": name}
            groups, progress = [], None
            try:
                if name in self.registry:
                    vals, groups, progress = self.query(name)
                elif name in self.streams:
                    vals, groups, progress = self.stream(name)
                else:
                    raise KeyError(f"{name} is not defined in this arm")
                rec.update(vals)
            except Exception as e:  # noqa: BLE001 - the query fails, the run goes on
                traceback.print_exc()
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
            print(f"  [{cfg['arm']} #{cfg['pair']}] {json.dumps(rec)}", file=sys.stderr)
            done.append((rec, groups, progress))
            self.save([d[0] for d in done])
        self.spark.stop()  # flushes the event log
        if cfg["trace"]:
            import tracing

            log = tracing.EventLog.read(tracing.find_event_log(cfg["eventlog"]))
            for rec, groups, progress in done:
                if "error" in rec:
                    continue
                rec.update(log.layer(groups))
                rec["queries.build_jobs"] = log.layer([f"build|{rec['query']}"])["spark.jobs"]
                if progress is not None:
                    rec.update(tracing.streaming_layer(progress))
                    rec["streaming.batch_p50_s"] = batch_p50_s(progress)
            self.save([d[0] for d in done])

    def save(self, records: list[dict]) -> None:
        Path(self.cfg["out"]).write_text("".join(json.dumps(r) + "\n" for r in records))


def worker(cfg_path: str) -> None:
    Worker(json.loads(Path(cfg_path).read_text())).run()


# --- arms, pairs and the summary


def spawn(tree: Path, call: str, args: list[str], env: dict, confs: dict) -> int:
    """Run ``probe.<call>(*args)`` in a new interpreter that imports
    ``tree``'s package: ``tree`` is first on the path (Python workers
    inherit it), then this harness and the tracing module. ``confs``
    is the Spark launch configuration.

    The interpreter leads its own session, so it and its JVM form one
    process group, which is killed however this call ends (a SIGTERM
    to the harness included, see ``main``). PySpark's worker daemon
    leads a group of its own; it and its workers exit when the JVM's
    pipe to it closes."""
    confs = {"spark.ui.showConsoleProgress": "false", **confs}
    submit = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    env = {**os.environ, **env, "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell"}
    paths = [str(tree), str(TOOLS), str(BENCH), env.get("PYTHONPATH", "")]
    env["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    code = f"import sys, probe; probe.{call}(*sys.argv[1:])"
    proc = subprocess.Popen([sys.executable, "-c", code, *args], cwd=tree, env=env,
                            stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait()
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def parse_arms(text: str) -> list[tuple[str, str, dict]]:
    """``ref[:KEY=VALUE...]`` items as (label, ref, env)."""
    arms = []
    for label in filter(None, (a.strip() for a in text.split(","))):
        ref, *assigns = label.split(":")
        if not ref or any("=" not in a for a in assigns):
            raise SystemExit(f"--arms: bad arm {label!r}; want ref[:KEY=VALUE...]")
        arms.append((label, ref, dict(a.split("=", 1) for a in assigns)))
    if len({a[0] for a in arms}) != len(arms):
        raise SystemExit("--arms: each arm must be named once")
    return arms


def git(*args: str) -> str:
    out = subprocess.run(["git", "-C", str(ROOT), *args], capture_output=True, text=True)
    if out.returncode:
        raise SystemExit(f"git {' '.join(args)}: {out.stderr.strip()}")
    return out.stdout.strip()


@contextmanager
def checkouts(refs: set[str], stamp: str):
    """ref -> source tree: ``.`` is this checkout; other refs are
    temporary detached worktrees, removed on exit."""
    trees, made = {}, []
    try:
        for i, ref in enumerate(sorted(refs)):
            if ref == ".":
                trees[ref] = ROOT
                continue
            tree = PROBE / "worktrees" / f"{stamp}-{i}"
            git("worktree", "add", "--detach", str(tree), git("rev-parse", "--verify", f"{ref}^{{commit}}"))
            made.append(tree)
            trees[ref] = tree
        yield trees
    finally:
        for tree in made:
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force", str(tree)],
                           capture_output=True)
        subprocess.run(["git", "-C", str(ROOT), "worktree", "prune"], capture_output=True)


def run_arm(arm: tuple, tree: Path, pair: int, targets: list[str], data: str,
            run_dir: Path, trace: bool) -> list[dict]:
    label, _, arm_env = arm
    slug = re.sub(r"[^\w=-]", "_", label).strip("_") or "checkout"
    work = run_dir / f"work-{slug}-{pair}"
    work.mkdir()
    cfg = {
        "arm": label, "pair": pair, "queries": targets, "data": data, "trace": trace,
        "plans": str(run_dir / "plans" / slug), "eventlog": str(work / "eventlog"),
        "out": str(work / "records.jsonl"),
    }
    confs = {}
    if trace:
        (work / "eventlog").mkdir()
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    (work / "cfg.json").write_text(json.dumps(cfg))
    rc = spawn(tree, "worker", [str(work / "cfg.json")], arm_env, confs)
    out = Path(cfg["out"])
    records = [json.loads(line) for line in out.read_text().splitlines()] if out.is_file() else []
    ran = {r["query"] for r in records}
    records += [{"arm": label, "pair": pair, "query": q, "error": f"worker exited with code {rc}"}
                for q in targets if q not in ran]
    if not rc:
        shutil.rmtree(work)  # event log and scratch; a failed worker's stay
    return records


def spread(values: list[float]) -> dict:
    if not values:
        return {"n": 0}
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive") if len(values) > 1 else values * 3
    return {"n": len(values), "median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def summarize(records: list[dict], labels: list[str], targets: list[str], pairs: int) -> dict:
    """Per query and arm: median and quartiles of build_s + exec_s.
    With two or more arms, the second arm's pair wins over the first
    and whether they meet the gain rule."""
    wall = {(r["arm"], r["pair"], r["query"]): r["build_s"] + r["exec_s"]
            for r in records if "error" not in r}
    out = {}
    for q in targets:
        row = {a: spread([wall[a, p, q] for p in range(pairs) if (a, p, q) in wall]) for a in labels}
        if len(labels) > 1:
            a, b = labels[:2]
            both = [p for p in range(pairs) if (a, p, q) in wall and (b, p, q) in wall]
            wins = sum(wall[b, p, q] < wall[a, p, q] for p in both)
            row["wins"] = f"{wins}/{pairs}"
            ra, rb = row[a], row[b]
            row["gain"] = bool(
                pairs >= 10 and ra["n"] and rb["n"] and wins >= 0.9 * pairs
                and ra["median"] - rb["median"] > ra["q3"] - ra["q1"]
            )
        out[q] = row
    failed = sorted(f"{r['arm']}#{r['pair']}:{r['query']}" for r in records if "error" in r)
    return {"arms": labels, "pairs": pairs, "failed": len(failed), "failures": failed, "queries": out}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--data", help="an existing corpus directory")
    src.add_argument("--corpus", help=f"build or reuse a corpus: {','.join(f'{k}=N' for k in CORPUS_KEYS)}")
    ap.add_argument("--queries", required=True, help="names, tag:<tag> or run_* runners, comma-separated")
    ap.add_argument("--arms", default=".", help="git refs ('.' = this checkout), ref[:KEY=VALUE...]")
    ap.add_argument("--pairs", type=int, default=1, help="runs per arm, arm order alternating")
    ap.add_argument("--trace", action="store_true", help="event-log layer metrics per query")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    return args


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the running worker is killed
    # and the temporary worktrees are removed on the way out
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    arms = parse_arms(args.arms)
    targets = expand(args.queries)
    data = Path(args.data).resolve() if args.data else ensure_corpus(parse_corpus(args.corpus))
    if not data.is_dir():
        raise SystemExit(f"--data: {data} is not a directory")
    stamp = time.strftime("%Y%m%d-%H%M%S") + f"-{os.getpid()}"
    run_dir = PROBE / "runs" / stamp
    run_dir.mkdir(parents=True)
    records = []
    with checkouts({ref for _, ref, _ in arms}, stamp) as trees:
        for pair in range(args.pairs):
            for arm in arms if pair % 2 == 0 else arms[::-1]:
                records += run_arm(arm, trees[arm[1]], pair, targets, str(data), run_dir,
                                   args.trace)
    (run_dir / "runs.jsonl").write_text("".join(json.dumps(r) + "\n" for r in records))
    summary = {"dir": str(run_dir), "data": str(data),
               **summarize(records, [a[0] for a in arms], targets, args.pairs)}
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1))
    print(json.dumps(summary))
    return 1 if summary["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
