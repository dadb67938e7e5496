"""tools/probe.py end to end: one interleaved pair of a git-ref arm
(a temporary worktree) and this checkout, traced, over a registry
query, a plan-heavy text query and a sink_dir streaming runner; and a
SIGTERM to the harness stopping its worker and removing the worktree;
and the per-operator commit split and the median batch time computed
from canned progress."""

from __future__ import annotations

import json
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parents[1]
QUERIES = ["ts_bucket_agg", "doc_quality", "run_sessionized_stream"]


def _worktrees() -> list[str]:
    out = subprocess.run(
        ["git", "-C", str(ROOT), "worktree", "list"], capture_output=True, text=True
    )
    if out.returncode:
        pytest.skip("not a git checkout")
    return out.stdout.splitlines()


@pytest.mark.slow
def test_probe_pair_head_vs_checkout():
    before = _worktrees()
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "probe.py"), "--data", SF_SMOKE,
         "--queries", ",".join(QUERIES), "--arms", "HEAD,.", "--pairs", "1", "--trace"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert _worktrees() == before
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    run_dir = Path(summary["dir"])
    try:
        assert summary["failed"] == 0, summary["failures"]
        assert set(summary["queries"]) == set(QUERIES)
        records = [json.loads(line) for line in (run_dir / "runs.jsonl").read_text().splitlines()]
        assert {(r["arm"], r["query"]) for r in records} == {
            (arm, q) for arm in ("HEAD", ".") for q in QUERIES
        }
        for r in records:
            for key in ("build_s", "exec_s", "spark.cpu_s", "spark.exchanges"):
                assert key in r, (r["arm"], r["query"], key)
        stream = [r for r in records if r["query"] == "run_sessionized_stream"]
        assert all(r["rows"] > 0 and r["streaming.batches"] >= 1 for r in stream)
        assert all(r["streaming.batch_p50_s"] > 0 for r in stream)
        # the session window is one stateful operator; its layout is recorded
        assert all(len(r["numShufflePartitions"]) == 1 for r in stream)
        assert all(r["numStateStoreInstances"] == r["numShufflePartitions"] for r in stream)
        plan_dirs = sorted((run_dir / "plans").iterdir())
        assert len(plan_dirs) == 2
        for d in plan_dirs:
            assert sorted(p.stem for p in d.glob("*.txt")) == sorted(QUERIES)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except FileNotFoundError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"  # a zombie is dead


def test_sigterm_kills_worker_and_removes_worktree(tmp_path):
    # The (pair, arm) worker is a stub that sleeps next to a child of its
    # own (standing in for the JVM) and records both pids. SIGTERM to the
    # harness must kill both and remove the HEAD arm's worktree.
    before = _worktrees()
    pids = tmp_path / "pids"
    stub = tmp_path / "worker.sh"
    stub.write_text(
        "#!/bin/sh\n"
        "sleep 600 &\n"
        f'echo "$$ $! $3" > {pids}.tmp && mv {pids}.tmp {pids}\n'
        "wait\n"
    )
    stub.chmod(0o755)
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(ROOT / 'tools')!r})\n"
        "import probe\n"
        f"sys.executable = {str(stub)!r}\n"
        f"sys.exit(probe.main(['--data', {SF_SMOKE!r}, '--queries', 'ts_bucket_agg',\n"
        "                      '--arms', 'HEAD,.', '--pairs', '1']))\n"
    )
    harness = subprocess.Popen([sys.executable, str(driver)], cwd=ROOT,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 300
        while not pids.exists():
            assert harness.poll() is None, harness.communicate()[1][-3000:]
            assert time.monotonic() < deadline, "the stub worker never started"
            time.sleep(0.2)
        worker, child = pids.read_text().split()[:2]
        assert any(".probe/worktrees" in line for line in _worktrees())
        harness.send_signal(signal.SIGTERM)
        assert harness.wait(timeout=60) == 128 + signal.SIGTERM
        deadline = time.monotonic() + 10
        while (_alive(int(worker)) or _alive(int(child))) and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not _alive(int(worker)) and not _alive(int(child))
        assert _worktrees() == before
    finally:
        if harness.poll() is None:
            harness.kill()
        harness.wait()
        if pids.exists():
            shutil.rmtree(Path(pids.read_text().split()[2]).parents[1], ignore_errors=True)


def test_state_operators_sum_the_commit_split():
    sys.path.insert(0, str(ROOT / "tools"))
    import probe

    def op(parts, commit, custom):
        return {"numShufflePartitions": parts, "numStateStoreInstances": parts,
                "commitTimeMs": commit, "customMetrics": custom}

    progress = [
        {"batchId": 0, "stateOperators": [
            op(4, 500, {"rocksdbCommitFileSyncLatencyMs": 450, "rocksdbCommitFlushLatency": 20,
                        "rocksdbCommitCheckpointLatency": 10}),
            op(4, 300, {"rocksdbCommitFileSyncLatencyMs": 280}),
        ]},
        {"batchId": 1},  # a report with no state operators adds nothing
        {"batchId": 2, "stateOperators": [
            op(4, 60, {"rocksdbCommitFileSyncLatencyMs": 55,
                       "rocksdbChangeLogWriterCommitLatencyMs": 55}),
            op(4, 40, {"rocksdbCommitFileSyncLatencyMs": 35,
                       "rocksdbChangeLogWriterCommitLatencyMs": 35}),
        ]},
    ]
    got = probe.state_operators(progress)
    assert set(got) == {"numShufflePartitions", "numStateStoreInstances", *probe.COMMIT_SPLIT}
    assert got["numShufflePartitions"] == got["numStateStoreInstances"] == [4, 4]
    assert got["commitTimeMs"] == [560, 340]
    assert got["rocksdbCommitFileSyncLatencyMs"] == [505, 315]
    assert got["rocksdbChangeLogWriterCommitLatencyMs"] == [55, 35]
    assert got["rocksdbCommitFlushLatency"] == [20, 0]
    assert got["rocksdbCommitCheckpointLatency"] == [10, 0]
    assert probe.state_operators([{"batchId": 0}]) == {
        key: [] for key in got
    }


def test_batch_p50_is_the_median_trigger_execution():
    sys.path.insert(0, str(ROOT / "tools"))
    import probe

    progress = [
        {"batchId": b, "durationMs": {"triggerExecution": ms, "addBatch": ms // 2}}
        for b, ms in enumerate([900, 150, 500, 250])
    ]
    assert probe.batch_p50_s(progress) == 0.375
    assert probe.batch_p50_s(progress[:3]) == 0.5
    assert probe.batch_p50_s([]) == 0.0
