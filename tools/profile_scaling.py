"""Phase-level scaling profile (VERDICT r2 item 7): which part of
materialize() fails to scale from local[2] to local[8]?

Phases measured per parallelism level (fresh pinned JVM each):
  scan_model : scan -> mapInPandas model stage -> native rules, written to
               the `noop` sink (no exchange, no parquet) — the
               embarrassingly-parallel part.
  full       : the real materialize() (adds bucket exchange + partitioned
               parquet write + metrics/lineage aggregations over the sink).
  residual   : full - scan_model ~= exchange + write + sink-read jobs.

Usage: python tools/profile_scaling.py [--docs 400000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def phase_run(cpus: int, n_docs: int) -> dict:
    from rsmetacheck_spark import synth
    from rsmetacheck_spark.plans.pipeline import materialize, verdict_plan
    from rsmetacheck_spark.session import get_spark

    spark = get_spark(f"prof{cpus}", cores=cpus, shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    path = synth.spark_pages_parquet(spark, n_docs, seed=42)
    pages = spark.read.parquet(path).repartition(cpus)

    out = {}
    # warmup (full size, untimed — cold python workers/JIT/page cache)
    out_dir = tempfile.mkdtemp(prefix="prof_")
    materialize(spark, pages, out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    t0 = time.time()
    verdict_plan(pages).write.format("noop").mode(
        "overwrite"
    ).save()
    out["scan_model"] = round(time.time() - t0, 2)

    out_dir = tempfile.mkdtemp(prefix="prof_")
    t0 = time.time()
    materialize(spark, pages, out_dir)
    out["full"] = round(time.time() - t0, 2)
    shutil.rmtree(out_dir, ignore_errors=True)
    out["residual"] = round(out["full"] - out["scan_model"], 2)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=400_000)
    ap.add_argument("--cpus", type=int, nargs="*", default=[2, 8])
    args = ap.parse_args()
    if os.environ.get("_PROF_CHILD"):
        print("@@" + json.dumps(phase_run(
            int(os.environ["_PROF_CPUS"]), args.docs
        )))
        return
    results = {}
    for c in args.cpus:
        env = dict(os.environ, _PROF_CHILD="1", _PROF_CPUS=str(c))
        cmd = [sys.executable, os.path.abspath(__file__), "--docs", str(args.docs)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{c - 1}"] + cmd
        p = subprocess.run(cmd, env=env, capture_output=True, text=True,
                           timeout=3600)
        for line in p.stdout.splitlines():
            if line.startswith("@@"):
                results[c] = json.loads(line[2:])
                break
        else:
            raise RuntimeError(f"cpus={c} failed: {p.stderr[-1500:]}")
        print(c, results[c])
    if len(results) >= 2:
        cs = sorted(results)
        lo, hi = cs[0], cs[-1]
        for phase in ("scan_model", "full", "residual"):
            sp = results[lo][phase] / max(results[hi][phase], 1e-9)
            eff = sp / (hi / lo)
            print(f"{phase:11s} {lo}c={results[lo][phase]}s {hi}c={results[hi][phase]}s"
                  f" speedup={sp:.2f}x eff={eff:.2f}")


if __name__ == "__main__":
    main()
