"""bench.py JSON-emitter contract (VERDICT r6 item 7 / ADVICE r5).

The headline `value` must never silently sum a surviving subset: any
per-query error nulls it and sets `partial`, so a round-over-round
comparison can't mistake an erroring round for a faster one.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_clean_run_sums_timings():
    out = _bench().build_artifact(
        {"q1": 1.0, "q2": 2.5}, {}, 0.1, "4.1.2", cpus=4, master="local[4]"
    )
    assert out["value"] == 3.5
    assert out["n_queries"] == 2
    assert "partial" not in out and "errors" not in out
    json.dumps(out)  # one-line JSON serializable


def test_any_error_nulls_headline_and_flags_partial():
    out = _bench().build_artifact(
        {"q1": 1.0}, {"q2": "RuntimeError: boom"}, 0.1, "4.1.2",
        cpus=4, master="local[4]",
    )
    assert out["value"] is None
    assert out["partial"] is True
    assert out["errors"] == {"q2": "RuntimeError: boom"}
    # surviving per-query detail still carries its number
    assert out["queries"] == {"q1": 1.0}
    json.dumps(out)


def test_all_errors_is_still_well_formed():
    out = _bench().build_artifact(
        {}, {"q1": "E"}, 0.01, "4.1.2", cpus=4, master="local[4]"
    )
    assert out["value"] is None and out["partial"] is True
    assert out["n_queries"] == 0


def test_artifact_reports_cores_and_master():
    out = _bench().build_artifact(
        {"q1": 1.0}, {}, 0.1, "4.1.2", cpus=8, master="local[8]"
    )
    assert (out["cpus"], out["master"]) == (8, "local[8]")


def test_python_worker_warm_up_runs(spark):
    """The pandas-UDF warm-up must execute, not fail on its signature
    and leave the worker start to the first Python-UDF query."""
    _bench().warm_python_workers(spark)
