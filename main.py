"""Production entry point (north_rule launch shape):

    spark-submit --py-files rsmetacheck_spark.zip main.py \
        --input  <pages parquet path> [<more paths> ...]  \
        --output <output dir/table prefix>                \
        [--resume] [--snapshot <id>]                      \
        [--skip-extract]                                  \
        [--threshold NAME=VALUE ...] [--rules R001,R014]  \
        [--pitfalls-output DIR] [--analysis-output FILE]

Reads the pages table(s), runs the quality-filter pipeline, writes
pages_out / metrics / lineage / host_metrics (+ per-doc JSON reports),
prints the summary JSON. A plain run writes every bucket of pages_out in
one job (plans/pipeline.materialize); with --resume, only the buckets
missing from the output checkpoint are written (streaming/incremental.py).
Either way the same tail follows: plans/pipeline.finish reads the sink
back and writes metrics / lineage / host metrics / the per-doc reports in
one concurrent wave of jobs; the summary's totals are sums over the
written lineage rows, and its per-rule rows the written metrics rows,
both observed on those writes.

CLI surface mirrors the reference cli.py:8-38:
  --input is multi-valued with per-item dispatch (cli.py:11-16's URL/file
    dispatch becomes parquet path/dir union — the engine's input kinds);
  --threshold is the rule-threshold override analog of the SoMEF
    confidence threshold (cli.py:33-38) — repeatable NAME=VALUE pairs over
    the thresholds registry (e.g. --threshold MIN_WORDS=30);
  --rules enables a subset of the rule registry (run/skip detectors);
  --pitfalls-output / --analysis-output name the per-doc report directory
    and the summary JSON file exactly like cli.py:22-31.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _apply_threshold_overrides(pairs: list[str]) -> None:
    """NAME=VALUE threshold overrides. Values are literal-eval'd so ints,
    floats, strings and tuples all round-trip; unknown names fail fast
    (a typo'd threshold silently running at the default is worse).

    Overrides are applied to the driver module AND exported via
    RSMC_THRESHOLD_OVERRIDES, which thresholds.py re-applies at module
    import — PySpark worker processes import the module fresh, so
    executor-consumed thresholds (PII_PATTERNS, STOPWORDS, KEEP_LANGS,
    ...) would otherwise silently run the defaults. Set BEFORE the
    SparkSession starts (main() does); get_spark mirrors the env var
    into spark.executorEnv for cluster executors."""
    import ast
    import json

    from rsmetacheck_spark import thresholds as TH

    applied = {}
    # isupper() gate: dir(TH) also exposes functions (apply_overrides)
    # that hasattr alone would accept and silently clobber; OVERRIDDEN /
    # EXECUTOR_CONSUMED are uppercase but are bookkeeping registries,
    # not thresholds — overriding them corrupts the override machinery
    not_thresholds = {"OVERRIDDEN", "EXECUTOR_CONSUMED"}
    for kv in pairs:
        name, _, raw = kv.partition("=")
        if (not _ or not name.isupper() or name in not_thresholds
                or not hasattr(TH, name)):
            known = [
                n for n in dir(TH)
                if n.isupper() and n not in not_thresholds
            ]
            raise SystemExit(
                f"--threshold {kv!r}: unknown threshold {name!r}; "
                f"known: {', '.join(sorted(known))}"
            )
        try:
            value = ast.literal_eval(raw)
        except (SyntaxError, ValueError):
            value = raw
        applied[name] = value
    if applied:
        try:
            payload = json.dumps(applied)
        except TypeError as e:  # non-JSON value: can't reach executors
            raise SystemExit(
                f"--threshold values must be JSON-encodable to reach "
                f"executor workers: {e}"
            )
        # the shared entry point keeps derived registries (RULE_SEVERITY,
        # STOPWORD_UNION) consistent on the driver exactly as worker
        # imports will compute them from the env var
        TH.apply_overrides(applied)
        os.environ["RSMC_THRESHOLD_OVERRIDES"] = payload


def _apply_rule_subset(spec: str) -> None:
    """Restrict the rule registry to a comma-separated subset. Downstream
    (verdicts/metrics/reports) iterates TH.RULES at plan-build time, so
    narrowing the tuple is the single switch point."""
    from rsmetacheck_spark import thresholds as TH

    want = {r.strip() for r in spec.split(",") if r.strip()}
    known = {rule for rule, _sev in TH.RULES}
    bad = want - known
    if bad:
        raise SystemExit(
            f"--rules: unknown rule(s) {sorted(bad)}; known: {sorted(known)}"
        )
    TH.RULES = tuple((r, s) for r, s in TH.RULES if r in want)
    TH.RULE_SEVERITY = dict(TH.RULES)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Quality-filter web pages and report per-rule findings."
    )
    ap.add_argument(
        "--input", required=True, nargs="+", action="extend",
        help="One or more pages parquet paths/dirs (unioned by name); "
        "the flag may also be repeated.",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--skip-extract", action="store_true",
        help="Inputs carry already-extracted `text` instead of `html` "
        "(the reference's --skip-somef analog): skip the extraction step, "
        "run everything downstream unchanged.",
    )
    ap.add_argument(
        "--threshold", action="append", default=[], metavar="NAME=VALUE",
        help="Override a thresholds-registry constant (repeatable), e.g. "
        "--threshold MIN_WORDS=30 --threshold MAX_LOG_PPL=6.5",
    )
    ap.add_argument(
        "--rules", default=None, metavar="R001,R014,...",
        help="Run only these rules (default: the full registry).",
    )
    ap.add_argument(
        "--pitfalls-output", default=None, metavar="DIR",
        help="Per-doc JSON report directory (default: <output>/reports).",
    )
    ap.add_argument(
        "--analysis-output", default=None, metavar="FILE",
        help="Summary JSON file (default: <output>/analysis_results.json; "
        "also printed to stdout).",
    )
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args(argv)

    # a stale env var from an earlier run in this process (or an outer
    # shell) would contaminate this run's workers — the flag set below is
    # the only sanctioned source
    os.environ.pop("RSMC_THRESHOLD_OVERRIDES", None)
    if args.threshold:
        _apply_threshold_overrides(args.threshold)
    if args.rules is not None:
        _apply_rule_subset(args.rules)

    from functools import reduce

    from rsmetacheck_spark.operators.report import summary_report
    from rsmetacheck_spark.plans import pipeline
    from rsmetacheck_spark.session import get_spark
    from rsmetacheck_spark.streaming import incremental

    spark = get_spark("rsmetacheck_main", cores=args.cpus)
    # every input must carry the payload column for the selected mode —
    # null-filling a missing payload would silently drop that input's
    # docs through the rules instead of failing loudly
    payload = "text" if args.skip_extract else "html"
    parts = []
    for path in args.input:
        df = pipeline.read_pages(spark, path)
        if payload not in df.columns:
            raise SystemExit(
                f"--input {path}: missing required column {payload!r} "
                f"(columns: {df.columns}); use {'--skip-extract' if payload == 'html' else 'the html pipeline'}"
                " for inputs of the other shape"
            )
        parts.append(df)
    # optional columns (lang, the other payload) may differ; union on the
    # common set and null-fill the rest
    pages = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
    snapshot = args.snapshot or f"input:{','.join(args.input)}"

    reports_dir = args.pitfalls_output or os.path.join(args.output, "reports")
    if args.resume:
        incremental.resume_materialize(spark, pages, args.output,
                                       text_input=args.skip_extract)
        schema = pipeline.verdict_plan(pages, text_input=args.skip_extract).schema
        res = pipeline.finish(spark, args.output, schema, snapshot,
                              reports_dir=reports_dir)
    else:
        res = pipeline.materialize(
            spark, pages, args.output, input_snapshot=snapshot,
            text_input=args.skip_extract, reports_dir=reports_dir,
        )
    # the summary's numbers were observed on the lineage and metrics
    # writes, the same way on every path: no job of their own
    summary = summary_report(res.rules, res.total, res.kept)
    analysis_path = args.analysis_output or os.path.join(
        args.output, "analysis_results.json"
    )
    body = summary if summary.endswith("\n") else summary + "\n"
    if "://" in analysis_path:
        # remote URI (--output hdfs://... / s3://...): write through the
        # cluster filesystem like every table, not the driver's local disk
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        path = jvm.org.apache.hadoop.fs.Path(analysis_path)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        out = fs.create(path, True)
        out.write(bytearray(body.encode()))
        out.close()
    else:
        os.makedirs(os.path.dirname(analysis_path) or ".", exist_ok=True)
        with open(analysis_path, "w") as fh:
            fh.write(body)
    print(summary)


if __name__ == "__main__":
    main()
