"""The benchmark's own tests: a tiny smoke run of every workload, the
metric names and units each mode prints, a planted wrong answer that
must fail the run, and the refusal to run without the engine.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark JVM, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.analytics import result_hash  # noqa: E402
from perfbench.common import percentile  # noqa: E402
from perfbench.metrics import END_TO_END, GATED, WORKLOADS, per_layer_printed  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        out = None
    return proc.returncode, out, proc.stderr


def _smoke(workload: str, trace: int, *extra: str):
    return _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--smoke", *extra)


def test_benchmark_json_lists_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(GATED)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    for w in GATED:
        assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
            k: v[:2] for k, v in per_layer_printed(w).items()
        }
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    code, out, err = _smoke(workload, 0)
    assert code == 0, err[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: v[0] for k, v in END_TO_END.items()
    }
    assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


# per-layer metrics each workload's traced run must measure (non-zero)
LAYER_SAMPLES = {
    "elt_daily": ["entrypoints.weather_s", "plans.load_s", "plans.jobs_per_day",
                  "sources.fetch_calls_per_day", "streaming.drain_s", "io.reload_partitions_s"],
    "analytics_sf005": ["operators.events_range_join_s", "operators.ann_topk_bruteforce_s",
                       "operators.jobs_per_query", "operators.tasks_per_query"],
    "store_serving": ["io.lookup_ms", "io.upsert_s", "io.jobs_per_read", "io.files_per_read",
                      "io.write_amp", "io.space_amp"],
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_prints_every_per_layer_metric(workload):
    code, out, err = _smoke(workload, 1)
    assert code == 0, err[-3000:]
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: v[0] for k, v in per_layer_printed(workload).items()
    }
    for name in LAYER_SAMPLES[workload] + ["session.start_s", "trace.round_s"]:
        assert out["metrics"][name]["value"] > 0, name
    assert "self time by layer" in err


def test_planted_wrong_shadow_value_fails_the_run():
    code, out, err = _smoke("store_serving", 0, "--corrupt-shadow")
    assert code != 0
    assert out is not None and not out["correct"] and out["failed"] >= 1
    assert "FAILED" in err


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _err = _run("--workload", "elt_daily", "--seed", "1", "--seconds", "1",
                           "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and out is None


def test_result_hash_ignores_row_and_column_order():
    a = result_hash([(1, "x", 2.5), (2, "y", None)], ["b", "a", "c"])
    b = result_hash([("y", 2, None), ("x", 1, 2.5)], ["a", "b", "c"])
    assert a == b
    assert a != result_hash([(1, "x", 2.5000001), (2, "y", None)], ["b", "a", "c"])


def test_self_time_subtracts_children():
    tr = Tracer(spark=None, enabled=True)
    with tr.span("io.upsert"):
        with tr.span("io.read"):
            pass
        with tr.span("io.exists"):
            pass
    tr.finish()
    outer, r, e = tr.spans
    assert r.parent == 0 and e.parent == 0
    assert outer.self_s == pytest.approx(outer.dur - r.dur - e.dur, abs=1e-9)


def test_percentile_interpolates():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == pytest.approx(4.6)
