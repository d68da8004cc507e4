"""Smoke checks of the benchmark at toy scale: both workloads, untraced and
traced, through the command BENCHMARK.json names; plus the refusals.

    python3 -m pytest perfbench/tests -q

The toy runs start Spark at local[N] for each case (~1-2 min each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import threading
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

import eventlog  # noqa: E402
import tracing  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str, timeout: float = 600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_toy_run_reports_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", str(trace),
             "--seconds", "1", "--trace", str(trace), "--toy")
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert len(lines) == 1, "only the result line belongs on stdout"
    res = json.loads(lines[0])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    if trace:
        m = res["metrics"]
        assert m["trace.attributed_job_share"]["value"] >= 0.95
        assert m["pass.fuzzy_min_pc.jobs"]["value"] > 0
        assert m["scoring.python_s"]["value"] > 0
        writes = m["checkpoint.writes"]["value"]
        assert (writes > 0) == (workload == "incremental_store")
        report = json.loads((ROOT / ".perfbench" / "reports" /
                             f"{workload}-seed1-trace1.json").read_text())
        assert report["trace_report"]["levels"][0]["passes"]
        assert "tracing_overhead_s" in report
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def _copy_bench(dest: Path, with_program: bool) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", dest)
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(ROOT / "perfbench", dest / "perfbench", ignore=ignore)
    if with_program:
        shutil.copytree(ROOT / "address_matcher_spark",
                        dest / "address_matcher_spark", ignore=ignore)


def test_refuses_without_program(tmp_path):
    _copy_bench(tmp_path, with_program=False)
    p = _run(tmp_path, "--workload", "batch_skewed", "--seed", "0",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_refuses_inputs_that_differ_from_the_pins(tmp_path):
    _copy_bench(tmp_path, with_program=True)
    pins_path = tmp_path / "perfbench" / "pins.json"
    pins = json.loads(pins_path.read_text())
    pins["toy"]["batch_skewed"]["inputs"] = "0" * 16
    pins_path.write_text(json.dumps(pins))
    p = _run(tmp_path, "--workload", "batch_skewed", "--seed", "0",
             "--seconds", "1", "--trace", "0", "--toy", timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "refusing to report" in p.stderr


class _FakeContext:
    """Records the span property per thread, as Spark's local properties
    are kept."""

    def __init__(self):
        self.tags: dict[int, str | None] = {}

    def setLocalProperty(self, key, value):
        self.tags[threading.get_ident()] = value


def test_tracer_keeps_a_returned_pass_tagged_and_parents_thread_spans():
    sc = _FakeContext()
    t = tracing.Tracer(sc)
    seen = {}

    def lazy_pass():
        mod.leaf()
        # a nested span restores the enclosing span's tag on return
        seen["inside"] = sc.tags[threading.get_ident()]

    def worker():
        mod.lazy_pass()
        # the pass returned: its jobs run now, under its tag
        seen["after"] = sc.tags[threading.get_ident()]
        mod.write()

    def waterfall():
        th = threading.Thread(target=worker)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()

    mod = types.SimpleNamespace(leaf=lambda: None, lazy_pass=lazy_pass,
                                write=lambda: None, waterfall=waterfall)
    t.wrap(mod, "waterfall", "waterfall")
    t.wrap(mod, "lazy_pass", "pass")
    t.wrap(mod, "leaf", "leaf")
    t.wrap(mod, "write", "write", after_lingering=True)
    mod.waterfall()
    t.uninstall()

    by_name = {s.name: s for s in t.spans}
    assert by_name["pass"].parent == by_name["waterfall"].id
    assert by_name["leaf"].parent == by_name["pass"].id
    assert by_name["write"].parent == by_name["pass"].id
    assert seen["inside"] == seen["after"] == str(by_name["pass"].id)
    assert not hasattr(mod.leaf, "__wrapped__")  # originals restored


def test_union_length_merges_overlapping_jobs():
    assert eventlog._union_len([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert eventlog._union_len([]) == 0
