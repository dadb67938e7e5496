"""Keyed upsert sink via foreachBatch (ST7b): continuous aggregates
materialized into a queryable keyed store with MERGE semantics.

Structured Streaming's parquet sink is append-only; real TSDB ingest
needs "last write per key wins" so late/updated windows CORRECT rows
instead of duplicating them. Production shape: `foreachBatch` +
`MERGE INTO` on a transactional table format (Delta/Iceberg — not in
this container). This module implements the same contract on plain
parquet with generation directories:

- state lives in ``<root>/gen=<n>``; ``<root>/_CURRENT`` names the
  live generation (pointer write is a single small-file replace — the
  atomicity stand-in for a table-format commit);
- each micro-batch: dedup within the batch (highest ``seq_col`` wins,
  deterministic tiebreak), anti-join the current state on the keys,
  union, write ``gen=n+1``, flip the pointer;
- the merge is IDEMPOTENT: re-applying a batch (checkpoint replay
  after a crash between sink write and offset commit) converges to
  the same state — upsert of identical rows is a no-op, which is the
  exactly-once story foreachBatch needs and append sinks can't give.

At 100 TB the full-state rewrite per batch is the scale limit of the
parquet stand-in; Delta MERGE rewrites only touched files, and the
generation-pointer scheme maps 1:1 onto its transaction log. The
*operator* semantics (batch dedup -> key anti-join -> union) are
identical — that is what's tested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_RUN_TOKEN: str | None = None  # per-process isolation token, lazy
_STATE_SEQ: dict[str, int] = {}  # per-name invocation counter


def state_scratch_root(name: str) -> str:
    """Per-invocation scratch root for a keyed store, with bounded
    retention. A caller's returned DataFrame lazily reads the live
    generation, so this invocation's store must survive past return —
    but a fresh mkdtemp per invocation leaked one full state copy per
    run (r7 review), and clearing a FIXED root up front invalidated
    the previous invocation's still-lazy result (r7 ADVICE).
    Resolution: each invocation gets a numbered subdir of a fixed
    per-process base, and the vacuum removes only subdirs two or more
    invocations old — the immediately previous result stays readable,
    disk stays bounded at two copies per name, and results older than
    one call back are documented as expiring."""
    import shutil
    import tempfile
    import uuid

    global _RUN_TOKEN
    if _RUN_TOKEN is None:
        _RUN_TOKEN = uuid.uuid4().hex[:8]
    seq = _STATE_SEQ.get(name, -1) + 1
    _STATE_SEQ[name] = seq
    base = os.path.join(
        tempfile.gettempdir(), f"chrono_{name}_state_{_RUN_TOKEN}"
    )
    if os.path.isdir(base):
        for d in os.listdir(base):
            try:
                stale = int(d) <= seq - 2
            except ValueError:
                stale = True
            if stale:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    root = os.path.join(base, str(seq))
    shutil.rmtree(root, ignore_errors=True)
    return root


def _current_gen(root: str) -> int:
    ptr = os.path.join(root, "_CURRENT")
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as f:
        return int(f.read().strip())


def read_state(
    spark: SparkSession, root: str, gen: int | None = None
) -> DataFrame | None:
    """Read the live generation, or — time travel — any retained
    earlier generation by number (every committed merge leaves its
    full-state snapshot behind until compaction, exactly the
    table-format version-history contract; `list_generations` below
    enumerates them)."""
    if gen is None:
        gen = _current_gen(root)
    if gen < 0 or not os.path.isdir(os.path.join(root, f"gen={gen}")):
        return None
    return spark.read.parquet(os.path.join(root, f"gen={gen}"))


def list_generations(root: str) -> list[int]:
    """All retained snapshot generations, oldest first."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(p.split("=", 1)[1])
        for p in os.listdir(root)
        if p.startswith("gen=")
    )


def _commit_generation(merged: DataFrame, root: str) -> None:
    """The shared commit protocol: write the next generation dir, then
    atomically flip _CURRENT (write-tmp + rename). Used by every state
    mutator (upsert_batch, delete_keys) so a future change — fsync,
    crash-window handling, retention hooks — lands in one place."""
    gen = _current_gen(root) + 1
    out = os.path.join(root, f"gen={gen}")
    merged.write.mode("overwrite").parquet(out)
    tmp = os.path.join(root, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(gen))
    os.replace(tmp, os.path.join(root, "_CURRENT"))


def upsert_batch(
    batch: DataFrame, root: str, keys: list[str], seq_col: str
) -> None:
    """MERGE one micro-batch into the keyed store under ``root``:
    per key, the row with the HIGHEST ``seq_col`` wins — across the
    batch AND against existing state (the `WHEN MATCHED AND source.seq
    >= target.seq` guard of a real MERGE), so a late micro-batch
    carrying a stale lower-seq row can never regress the store (r7
    review; the pre-r7 form let the newest batch overwrite
    unconditionally). Exact seq ties break by the remaining columns
    desc, then prefer the incoming row — deterministic either way, and
    replaying an identical batch is a no-op by construction."""
    spark = batch.sparkSession
    from pyspark.sql import Window

    def seq_dedup(df: DataFrame, extra_last: list = ()) -> DataFrame:
        w_cols = [F.col(seq_col).desc()] + [
            F.col(c).desc() for c in batch.columns if c not in keys and c != seq_col
        ] + list(extra_last)
        rn = F.row_number().over(Window.partitionBy(*keys).orderBy(*w_cols))
        return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")

    deduped = seq_dedup(batch)
    state = read_state(spark, root)
    if state is None:
        merged = deduped
    else:
        tagged = state.withColumn("__src", F.lit(0)).unionByName(
            deduped.withColumn("__src", F.lit(1))
        )
        merged = seq_dedup(tagged, extra_last=[F.col("__src").desc()]).drop("__src")

    _commit_generation(merged, root)


def windowed_counts(stream: DataFrame, width_seconds: int = 300) -> DataFrame:
    """Per-(tumbling bucket, user) count over a watermarked stream."""
    from ..functions import ts_str

    return (
        stream.groupBy(F.window("ts", f"{width_seconds} seconds"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            ts_str(F.col("window.start")).alias("bucket_ts"),
            "user_id",
            "n_events",
        )
    )


def run_upsert_sink(
    agg: DataFrame,
    root: str,
    ckpt: str | None = None,
    keys: list[str] | None = None,
    seq_col: str = "n_events",
) -> None:
    """Drive an UPDATE-mode aggregation into the keyed store at ``root``
    (availableNow; one merge per micro-batch). Pass a stable ``ckpt``
    to resume a previous run: Structured Streaming's offset log then
    skips already-committed source files, and the sink's idempotent
    merge absorbs any batch replayed from an uncommitted epoch — the
    two halves of the exactly-once story."""
    from .replay import _run_bounded

    _run_bounded(
        agg.writeStream.outputMode("update").foreachBatch(
            lambda b, _id: upsert_batch(
                b, root, keys=keys or ["bucket_ts", "user_id"], seq_col=seq_col
            )
        ),
        agg.sparkSession,
        ckpt,
    )


def run_upsert_counts(
    spark: SparkSession, sf_dir: str, root: str, width_seconds: int = 300
) -> DataFrame:
    """Streaming per-(bucket, user) event counts upserted into ``root``:
    UPDATE output mode emits refreshed window rows each batch; the sink
    merges them by key, so the store always holds the current count —
    never duplicate window rows. Returns the final state.

    Guarded by the single-micro-batch premise check: the r8 oracles of
    stream_upsert_counts / stream_alert_burst hold only while the whole
    fixture replays as ONE batch (no watermark drops possible), so a
    sharded fixture must fail loudly here, not as a hash mismatch."""
    from .replay import assert_single_file_replay, replay_events_stream

    assert_single_file_replay(sf_dir)
    ev = replay_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    run_upsert_sink(windowed_counts(ev, width_seconds), root)
    state = read_state(spark, root)
    assert state is not None
    return state


def delete_keys(
    spark: SparkSession, root: str, key_col: str, values: DataFrame
) -> None:
    """Targeted delete: commit a new generation WITHOUT any row whose
    ``key_col`` appears in ``values`` (single-column DataFrame) — the
    MERGE ... WHEN MATCHED THEN DELETE shape on the generation store.
    """
    state = read_state(spark, root)
    if state is None:
        return
    remaining = state.join(
        values.select(F.col(values.columns[0]).alias(key_col)), key_col, "left_anti"
    )
    _commit_generation(remaining, root)


def vacuum_generations(root: str, keep_last: int = 1) -> int:
    """Physically remove old generation snapshots; returns how many
    were deleted. Time travel is a RETENTION feature — a deletion
    request is only honored once the generations that still contain the
    data are vacuumed (the Delta VACUUM / GDPR interaction, reproduced
    on the stand-in).

    Victims are chosen by distance BEHIND the _CURRENT pointer, never
    by list position, and the _CURRENT generation itself is always
    retained (keep_last clamps to >= 1) — so a vacuum can never leave
    _CURRENT dangling while read_state() returns None (ADVICE r6).
    Generations AHEAD of _CURRENT (a crashed writer's uncommitted
    gen+1) are also retained: they are not history.
    """
    import shutil

    keep_last = max(1, keep_last)
    cur = _current_gen(root)
    history = [g for g in list_generations(root) if g <= cur]
    victims = history[:-keep_last]
    for g in victims:
        shutil.rmtree(os.path.join(root, f"gen={g}"), ignore_errors=True)
    return len(victims)
