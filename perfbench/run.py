"""Benchmark harness: one workload run in a fresh, isolated process.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1> [--size small]

Workloads (see BENCHMARK.json for why each exists):
  pipeline_html   main.main over seeded synthetic html pages
  resume_text     main.main --resume --skip-extract over a half-done output
  corpus_queries  registry queries, .count() each, over a seeded corpus

The harness starts worker.py twice, each time in a new process session with
its own TMPDIR, SPARK_LOCAL_DIRS and Spark conf dir under .perfbench/runs/:
first to make (or find cached) the seed's inputs, then to run the workload,
sampling the summed memory of every process in that session. After each
worker exits it waits until the session is empty (killing it on timeout).
A run with a surviving process, a failed output check or a worker error is
not correct.
The last line of stdout is the result JSON: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import procs  # noqa: E402

WORKLOADS = ("pipeline_html", "resume_text", "corpus_queries")
DRIVER_MEM = "2g"
RUN_LIMIT_S = 158   # both workers' wall-clock budget; a run must end within 180 s
# the first run in a checkout may take 900 s; it makes the corpus too
FIRST_RUN_LIMIT_S = 600
TEARDOWN_S = 10     # grace for the JVM and Python workers after a worker exits
# memory sampling period: one sample (smaps_rollup of every process of the
# session, the JVM's 2 GB heap included) takes 60-90 ms of a core
SAMPLE_S = 1.0


def _spark_defaults(run_dir: str, trace: bool) -> str:
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    lines = [
        # keep the JVM's temp files (and no hsperfdata) inside the run dir;
        # a fixed-size heap (initial = max), because a growing one left the
        # JVM's resident memory anywhere from 1.2 to 1.6 GB at the peak;
        # only the C1 JIT, because with C2 each of the first five timed CLI
        # runs was faster than the one before (10.1 s down to 6.5 s), so a
        # run's median depended on how far C2 had got; with C1 alone the
        # first timed run is as fast as the next
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={run_dir}/tmp"
        f" -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/eventlog",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return conf


def run_session(cmd: list[str], env: dict, log_path: str, deadline: float,
                samples: list | None = None) -> tuple[int | None, list[str]]:
    """Run `cmd` in a new process session until it exits or `deadline`
    (time.monotonic) passes, then wait until every process of the session
    has ended, killing them on timeout. With `samples`, appends (epoch,
    summed PSS bytes of the session) every SAMPLE_S. Returns the exit code
    and the problems seen."""
    problems = []
    with open(log_path, "ab") as log:
        worker = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                  stdout=log, stderr=subprocess.STDOUT,
                                  start_new_session=True)
    sid = worker.pid
    try:
        while worker.poll() is None:
            if samples is not None:
                samples.append((time.time(), procs.session_pss(sid)))
            if time.monotonic() > deadline:
                problems.append("worker still running at the run's deadline")
                break
            try:
                worker.wait(SAMPLE_S)
            except subprocess.TimeoutExpired:
                pass
    finally:
        if worker.poll() is None:
            procs.kill_session(sid)
            worker.wait()
        if not procs.wait_session_gone(sid, TEARDOWN_S):
            problems.append("processes outlived the worker; killed")
            procs.kill_session(sid)
            if not procs.wait_session_gone(sid, 5):
                problems.append(
                    f"processes survived SIGKILL: {sorted(procs.session_procs(sid))}")
    if worker.returncode != 0:
        problems.append(f"worker exited with {worker.returncode}")
    return worker.returncode, problems


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def run_workload(args, workload: str) -> dict:
    """Make the workload's inputs, then run it, each in its own session;
    returns the parsed result plus the harness's own measurements (peak
    memory, teardown outcome)."""
    began = time.monotonic()
    first = not os.path.isdir(os.path.join(ROOT, ".perfbench", "inputs"))
    deadline = began + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_CONF_DIR": _spark_defaults(run_dir, bool(args.trace)),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    log_path = os.path.join(run_dir, "worker.log")
    base = [sys.executable, os.path.join(PERFBENCH, "worker.py"),
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--run-dir", run_dir]
    out: dict = {"workload": workload, "problems": []}
    samples: list[tuple[float, int]] = []  # (epoch, summed PSS bytes)

    try:
        made = os.path.join(run_dir, "inputs.json")
        _, problems = run_session(
            base + ["--phase", "inputs", "--result", made, "--spawned", repr(time.time())]
            + (["--all-inputs"] if first else []),
            env, log_path, deadline)
        out["problems"] += problems
        inputs = _read_json(made)
        if inputs is None:
            out["problems"].append("no inputs were made")
        else:
            out["inputs_s"] = inputs["inputs_s"]
            result_path = os.path.join(run_dir, "result.json")
            _, problems = run_session(
                base + ["--phase", "run", "--inputs", inputs["inputs"],
                        "--result", result_path, "--spawned", repr(time.time())],
                env, log_path, deadline, samples)
            out["problems"] += problems
            result = _read_json(result_path)
            if result is None:
                out["problems"].append("worker wrote no result")
            else:
                out.update(result)
        out["wall_s"] = time.monotonic() - began
        windows = [r["window"] for r in out.get("runs", []) if r.get("window")]
        in_runs = [rss for t, rss in samples if any(a <= t <= b for a, b in windows)]
        out["peak_rss_mb"] = max(in_runs or [rss for _, rss in samples] or [0]) / 2**20
        out["setup_s"] = (out["start_s"] + out["warmup_s"]) if "warmup_s" in out else None
        if out["problems"] or not out.get("runs"):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(f"--- {workload} worker log (tail) ---\n")
                sys.stderr.write("".join(fh.readlines()[-40:]))
    finally:
        # also when a SIGTERM ends the harness mid-run, after
        # run_session has stopped the session
        shutil.rmtree(run_dir, ignore_errors=True)
    # the full record of the run (phases, every timed run, Spark conf,
    # host) stays beside the inputs for later inspection
    records = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{workload}_s{args.seed}_t{args.trace}.json"), "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    return out


def summarize(res: dict, trace: bool, benchmark: dict) -> dict:
    """The contract's result object for one workload run."""
    runs = res.get("runs", [])
    ops = sum(r.get("ops", 1) for r in runs) or 1
    failed = sum(r.get("failed_ops", 0 if r["ok"] else 1) for r in runs)
    if res["problems"] or not runs:
        failed = max(failed, 1)
    good = [r for r in runs if r["ok"]]
    for r in runs:
        if not r["ok"]:
            sys.stderr.write(f"{res['workload']}: check failed: {r['problems']}\n")
    for p in res["problems"]:
        sys.stderr.write(f"{res['workload']}: {p}\n")
    metrics: dict = {}
    if good:
        run_s = statistics.median(r["run_s"] for r in good)
        values = {
            "setup_s": res["setup_s"],
            "run_s": run_s,
            "docs_per_s": statistics.median(r["rows_written"] for r in good) / run_s,
            "peak_rss_mb": res["peak_rss_mb"],
            "sink_bytes_per_doc": statistics.median(
                r["sink_bytes"] / r["rows_total"] for r in good),
        }
        if trace:
            values = res.get("layers", {})
        kind = "per_layer" if trace else "end_to_end"
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in benchmark[kind] if m["name"] in values}
    return {
        "correct": failed == 0 and bool(metrics),
        "attempted": ops,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="small: tiny inputs, for the self-test")
    args = ap.parse_args()

    missing = [p for p in ("main.py", "rsmetacheck_spark/__init__.py",
                           "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a checkout of the program; missing {missing}\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        benchmark = json.load(fh)
    procs.become_subreaper()
    # a terminated harness still runs run_session's teardown
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    summaries = {}
    for wl in workloads:
        res = run_workload(args, wl)
        summaries[wl] = summarize(res, bool(args.trace), benchmark)
        if args.workload == "all":
            print(json.dumps({"workload": wl, **summaries[wl]}), flush=True)
    if args.workload == "all":
        final = {
            "correct": all(s["correct"] for s in summaries.values()),
            "attempted": sum(s["attempted"] for s in summaries.values()),
            "failed": sum(s["failed"] for s in summaries.values()),
            "metrics": {f"{wl}.{name}": m for wl, s in summaries.items()
                        for name, m in s["metrics"].items()},
        }
    else:
        final = summaries[args.workload]
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
