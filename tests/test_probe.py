"""tools/probe.py end to end: one interleaved pair of a git-ref arm
(a temporary worktree) and this checkout, traced, over a registry
query, a plan-heavy text query and a sink_dir streaming runner."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
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
        # the session window is one stateful operator; its layout is recorded
        assert all(len(r["numShufflePartitions"]) == 1 for r in stream)
        assert all(r["numStateStoreInstances"] == r["numShufflePartitions"] for r in stream)
        plan_dirs = sorted((run_dir / "plans").iterdir())
        assert len(plan_dirs) == 2
        for d in plan_dirs:
            assert sorted(p.stem for p in d.glob("*.txt")) == sorted(QUERIES)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
