"""Iso-load scaling attribution (VERDICT r3 item 7).

The iso-load control runs the N-core pinned job while every OTHER host
core runs a spin load, so the 4-core and 16-core measurements both see a
fully-busy machine (removes the idle-core turbo/bandwidth advantage the
small-N config otherwise enjoys). Round 3 measured 4->16 iso-load
efficiency 0.69 and left the attribution open: is the non-scaling
residue the Arrow batch handoff or the bucket-write exchange?

This tool answers it with two factors per parallelism level:
  phase      scan_model (noop sink — no exchange, no parquet) vs full
             materialize() (adds bucket exchange + partitioned write +
             sink-read aggregations)
  arrow      spark.sql.execution.arrow.maxRecordsPerBatch at the 10k
             default vs 50k (bigger batches = fewer Python round-trips)

Usage: python tools/profile_isoload.py [--docs 200000] [--cpus 4 16]
Each cell runs in a fresh pinned JVM with all remaining host cores under
spin load; full-size warmup excluded from timing; best of 2 reps.
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


def phase_run(cpus: int, n_docs: int, arrow_batch: int) -> dict:
    from rsmetacheck_spark import synth
    from rsmetacheck_spark.plans.pipeline import materialize, verdict_plan
    from rsmetacheck_spark.session import get_spark

    spark = get_spark(f"iso{cpus}", cores=cpus, shuffle_partitions=max(cpus, 8))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
    spark.sparkContext.setLogLevel("ERROR")
    path = synth.spark_pages_parquet(spark, n_docs, seed=42)
    pages = spark.read.parquet(path).repartition(cpus)

    # full-size warmup, untimed
    out_dir = tempfile.mkdtemp(prefix="iso_")
    materialize(spark, pages, out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    out = {}
    for _rep in range(2):
        t0 = time.time()
        verdict_plan(pages).write.format("noop").mode(
            "overwrite"
        ).save()
        out["scan_model"] = min(
            out.get("scan_model", 1e9), round(time.time() - t0, 2)
        )
        out_dir = tempfile.mkdtemp(prefix="iso_")
        t0 = time.time()
        materialize(spark, pages, out_dir)
        out["full"] = min(out.get("full", 1e9), round(time.time() - t0, 2))
        shutil.rmtree(out_dir, ignore_errors=True)
    out["residual"] = round(out["full"] - out["scan_model"], 2)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, nargs="*", default=[4, 16])
    ap.add_argument("--arrow", type=int, nargs="*", default=[10_000, 50_000])
    args = ap.parse_args()

    if os.environ.get("_ISO_CHILD"):
        print("@@" + json.dumps(phase_run(
            int(os.environ["_ISO_CPUS"]), args.docs,
            int(os.environ["_ISO_ARROW"]),
        )))
        return

    n_host = os.cpu_count() or 32
    results: dict[str, dict] = {}
    for arrow in args.arrow:
        for c in args.cpus:
            spin_cores = list(range(c, n_host))
            spinners = [
                subprocess.Popen(
                    ["taskset", "-c", str(sc), sys.executable, "-c",
                     "while True: pass"],
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                )
                for sc in spin_cores
            ]
            try:
                env = dict(os.environ, _ISO_CHILD="1", _ISO_CPUS=str(c),
                           _ISO_ARROW=str(arrow))
                cmd = ["taskset", "-c", f"0-{c - 1}", sys.executable,
                       os.path.abspath(__file__), "--docs", str(args.docs)]
                p = subprocess.run(cmd, env=env, capture_output=True,
                                   text=True, timeout=3600)
                for line in p.stdout.splitlines():
                    if line.startswith("@@"):
                        results[f"arrow{arrow}_cpus{c}"] = json.loads(line[2:])
                        break
                else:
                    raise RuntimeError(
                        f"iso child cpus={c} arrow={arrow}: {p.stderr[-1500:]}"
                    )
            finally:
                for sp in spinners:
                    sp.kill()
            print(f"# arrow={arrow} cpus={c}: "
                  f"{results[f'arrow{arrow}_cpus{c}']}", file=sys.stderr)

    summary = {"docs": args.docs, "cells": results, "efficiency": {}}
    lo, hi = min(args.cpus), max(args.cpus)
    ratio = hi / lo
    for arrow in args.arrow:
        a, b = results[f"arrow{arrow}_cpus{lo}"], results[f"arrow{arrow}_cpus{hi}"]
        for phase in ("scan_model", "full"):
            summary["efficiency"][f"arrow{arrow}_{phase}_{lo}to{hi}"] = round(
                a[phase] / (ratio * b[phase]), 3
            )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
