"""Self-test of the benchmark in its small-input mode (several minutes).

    python3 -m pytest perfbench/tests -q

Runs every workload untraced and traced, then once each with a wrong
cached oracle answer, and checks the result lines, the metric names and
units against BENCHMARK.json, and that nothing the benchmark started is
left running or left on disk.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
ALL = ("pipeline_html", "resume_text", "corpus_queries")


def _procs() -> dict[int, str]:
    """{pid: command line} of every process; `[name]` for one without a
    command line, such as a JVM whose first thread has returned while its
    other threads still run."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
                if not cmd:
                    with open(f"/proc/{pid}/comm") as fh:
                        cmd = f"[{fh.read().strip()}]"
                out[int(pid)] = cmd
            except OSError:
                pass
    return out


def bench(workload: str, seed: int, trace: int) -> tuple[int, list[dict]]:
    """Run the benchmark command; returns its exit code and result lines,
    after checking that it left no process and no run directory behind."""
    before = set(_procs())
    proc = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=1500,
    )
    marks = ("org.apache.spark", "[java]", "pyspark.daemon", "perfbench/worker.py")
    left = {pid: cmd for pid, cmd in _procs().items()
            if pid not in before and any(m in cmd for m in marks)}
    assert not left, f"processes left running: {left}"
    runs = os.path.join(ROOT, ".perfbench", "runs")
    assert not os.path.isdir(runs) or not os.listdir(runs), os.listdir(runs)
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert lines, proc.stderr[-3000:]
    return proc.returncode, lines


def _check_line(line: dict, kind: str) -> None:
    assert set(line) >= {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0, line
    assert line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK[kind]}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())


@pytest.mark.parametrize("trace", [0, 1])
def test_all_workloads_pass_their_checks(trace):
    code, lines = bench("all", seed=3, trace=trace)
    assert code == 0
    kind = "per_layer" if trace else "end_to_end"
    per_workload = {ln["workload"]: ln for ln in lines[:-1]}
    assert tuple(per_workload) == ALL
    for line in per_workload.values():
        _check_line(line, kind)
    if not trace:
        for line in per_workload.values():
            assert all(v["value"] > 0 for v in line["metrics"].values())
    else:
        # spans of the traced html run cover nearly all of its wall time
        cover = per_workload["pipeline_html"]["metrics"]["trace.span_coverage"]["value"]
        assert cover >= 0.9
        # every layer is measured by at least one workload
        for m in BENCHMARK["per_layer"]:
            if m["name"] not in ("spark.spill_bytes", "spark.failed_tasks"):
                assert any(ln["metrics"][m["name"]]["value"] != 0
                           for ln in per_workload.values()), m["name"]
    final = lines[-1]
    assert final["correct"] is True and final["failed"] == 0


@pytest.mark.parametrize("workload", ["pipeline_html", "corpus_queries"])
def test_wrong_answer_fails_the_run(workload, tmp_path, monkeypatch):
    """The output checks are live: a wrong cached oracle answer fails the
    run, and the harness exits non-zero."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    seed = 4242
    inputs = worker.prepare_inputs(workload, seed, "small")
    if workload == "pipeline_html":
        path = os.path.join(inputs, "oracle.json")
        wrong = {"docs": worker.SIZES["small"]["pages"], "kept": -1, "hits": {}}
    else:
        path = os.path.join(inputs, "duckdb.json")
        wrong = {q: [["c"], [[1]]] for q in worker.SWEEP}
    with open(path, "w") as fh:
        json.dump(wrong, fh)
    try:
        code, lines = bench(workload, seed=seed, trace=0)
    finally:
        shutil.rmtree(inputs)
    assert code != 0
    assert lines[-1]["correct"] is False and lines[-1]["failed"] >= 1
