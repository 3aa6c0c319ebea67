"""One workload run inside its own process session (started by run.py).

run.py starts this script twice per run, each time in a process session of
its own:

  --phase inputs   makes the workload's inputs from the seed, without Spark,
                   and caches them (see `prepare_inputs`). Untimed.
  --phase run      1. session up          (session.start_s, counted in setup_s)
                   2. warm-up             (session.warmup_s, counted in setup_s;
                                           the process's first Spark job)
                   3. preparation         (resume starting state; untimed)
                   4. timed runs          (repeated until --seconds have passed
                                           and min_runs are made;
                                           each output is checked right after)
                   5. traced run + probes (only with --trace 1)

Each phase writes its result as JSON to --result; the run phase's carries
the timed windows the harness needs for peak RSS.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import multiprocessing
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
sys.path[:0] = [ROOT, PERFBENCH]

import corpus  # noqa: E402
import spans  # noqa: E402

# Input sizes. "full" is what BENCHMARK.json runs; "small" is the
# self-test's quick mode. `pages` is the timed input, `scale` the corpus
# scale factor and `sample` the pages the single-thread function probes time.
SIZES = {
    "full": {"pages": 4000, "scale": 0.025, "sample": 100},
    "small": {"pages": 200, "scale": 0.002, "sample": 20},
}
INPUTS = os.path.join(ROOT, ".perfbench", "inputs")
INPUTS_KEPT = 6  # cached input sets kept, most recently used first
# corpus_queries stands in for a fixed dataset, so its corpus does not
# follow --seed: it is always made with the seed of the fixed test data
CORPUS_SEED = 42

# The corpus_queries sweep, in alphabetical order, grouped by the layer
# each query exercises: the shingle/signature feeder (dd02), the
# unit-vector feeder and a consumer of it (dd05, sim08), a checkpointed
# relational rollup (q14), the evidence model (ev09) and stream-stream
# join state (st08). Each run rebuilds every feeder from cold caches.
QUERY_GROUPS = {
    "dedup": ("dd02",),
    "embed": ("dd05", "sim08"),
    "relational": ("q14",),
    "evidence": ("ev09",),
    "streaming": ("st08",),
}
SWEEP = tuple(sorted(q for qs in QUERY_GROUPS.values() for q in qs))
WARMUP_QUERIES = ("q61",)
TRACED = "traced"


def _du(path: str, pattern: str = "**/*") -> tuple[int, int]:
    """(file count, bytes) of the files under `path` matching `pattern`."""
    files = [f for f in glob.glob(os.path.join(path, pattern), recursive=True)
             if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def source_hash() -> str:
    """Digest of every source file the cached inputs are made from: the
    program (generator, oracle, queries), the typed comparison and the
    benchmark's own generators. A change to any of them makes new inputs,
    so a run is never checked against answers an older program made."""
    files = sorted(glob.glob(os.path.join(ROOT, "rsmetacheck_spark", "**", "*.py"),
                             recursive=True))
    files += [os.path.join(ROOT, "main.py"), os.path.join(ROOT, "tools", "check_oracle.py"),
              os.path.join(PERFBENCH, "corpus.py"), os.path.abspath(__file__)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def input_dir(workload: str, seed: int, size: str) -> str:
    if workload == "corpus_queries":
        kind, seed = "corpus", CORPUS_SEED
    else:
        kind = "pages"
    return os.path.join(INPUTS, f"{kind}_s{seed}_{size}_{source_hash()}")


def _page_chunk(job) -> dict:
    """Pages lo..hi-1 of `seed` written as one parquet file, and the pandas
    oracle's kept count and per-rule hits over them.
    The rows are synth.gen_row's, the pure function of (seed, i) that
    synth.spark_pages_parquet maps over, so they equal its output."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rsmetacheck_spark import synth

    seed, lo, hi, path = job
    df = pd.DataFrame([synth.gen_row(seed, i) for i in range(lo, hi)]).drop(columns=["_class"])
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    # naive timestamps mean UTC, the session time zone of get_spark
    pq.write_table(pa.Table.from_pandas(
        df.assign(warc_ts=df["warc_ts"].dt.tz_localize("UTC")),
        schema=schema, preserve_index=False), path)
    from rsmetacheck_spark import thresholds as TH
    from rsmetacheck_spark.oracle import oracle_labels

    labels = oracle_labels(df)
    return {"docs": len(labels), "kept": int(labels["keep"].sum()),
            "hits": {r: int(labels[f"hit_{r}"].sum()) for r, _ in TH.RULES}}


def make_pages(dest: str, seed: int, sizes: dict, cores: int) -> None:
    """pages/ (the timed input, one parquet file per core) and oracle.json
    (the oracle's answer over it), made by a pool of `cores` processes."""
    n = sizes["pages"]
    cut = [n * k // cores for k in range(cores + 1)]
    os.makedirs(os.path.join(dest, "pages"))
    jobs = [(seed, cut[k], cut[k + 1],
             os.path.join(dest, "pages", f"part-{k:05d}.parquet"))
            for k in range(cores)]
    pool = multiprocessing.get_context("fork").Pool(cores)
    try:
        parts = pool.map(_page_chunk, jobs, chunksize=1)
    finally:
        pool.close()
        pool.join()
    _atomic_json(os.path.join(dest, "oracle.json"), {
        "docs": sum(p["docs"] for p in parts),
        "kept": sum(p["kept"] for p in parts),
        "hits": {r: sum(p["hits"][r] for p in parts) for r in parts[0]["hits"]},
    })


def make_corpus(dest: str, seed: int, sizes: dict) -> None:
    """corpus/ (the seeded tables) and duckdb.json: each swept query's
    oracle_sql() answer from DuckDB, normalised by the typed comparison of
    tools/check_oracle.py."""
    import duckdb

    from rsmetacheck_spark.queries import REGISTRY

    sf = corpus.write_corpus(os.path.join(dest, "corpus"), seed, sizes["scale"])
    full = {k.split("_")[0]: k for k in REGISTRY}
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t + '.parquet')}'")
    answers = {}
    for q in SWEEP:
        tbl = con.sql(REGISTRY[full[q]][1]).arrow()
        cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        answers[q] = normalized(tbl.column_names, list(zip(*cols)))
    con.close()
    _atomic_json(os.path.join(dest, "duckdb.json"), answers)


def normalized(cols, rows):
    """Rows under the typed comparison of tools/check_oracle.py, passed
    through JSON so cached answers and fresh results compare alike."""
    from tools.check_oracle import norm_rows

    return json.loads(json.dumps(norm_rows(cols, rows), default=str))


def prepare_inputs(workload: str, seed: int, size: str) -> str:
    """The workload's input directory, made unless already cached. Of each
    kind (pages, corpus), only the INPUTS_KEPT most recently used sets stay
    on disk."""
    dest = input_dir(workload, seed, size)
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        os.utime(dest)
    else:
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "corpus_queries":
            make_corpus(tmp, CORPUS_SEED, SIZES[size])
        else:
            make_pages(tmp, seed, SIZES[size], len(os.sched_getaffinity(0)))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
    kind = os.path.basename(dest).split("_")[0]
    kept = sorted(glob.glob(os.path.join(INPUTS, f"{kind}_*")),
                  key=os.path.getmtime, reverse=True)
    for old in kept[INPUTS_KEPT:]:
        if old != dest:
            shutil.rmtree(old, ignore_errors=True)
    return dest


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _atomic_json(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def sink_digest(table) -> str:
    """Order-insensitive digest of (url, keep, scrubbed_text, findings)."""
    rows = sorted(
        hashlib.sha256(json.dumps(r, sort_keys=True, default=str).encode()).hexdigest()
        for r in table.to_pylist()
    )
    return hashlib.sha256("".join(rows).encode()).hexdigest()


class Patches:
    """Module attributes replaced for the length of one run."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def set(self, obj, name: str, value) -> None:
        self._undo.append((obj, name, getattr(obj, name)))
        setattr(obj, name, value)

    def restore(self) -> None:
        while self._undo:
            obj, name, value = self._undo.pop()
            setattr(obj, name, value)


class Workload:
    """Shared frame; subclasses fill in the phase hooks."""

    min_runs = 1  # timed runs made even when --seconds has passed

    def __init__(self, spark, args, sizes: dict, run_dir: str) -> None:
        self.spark = spark
        self.args = args
        self.sizes = sizes
        self.run_dir = run_dir
        self.cores = spark.sparkContext.defaultParallelism
        self.cache = args.inputs

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def inputs(self) -> None: ...
    def warmup(self) -> None: ...
    def prepare(self) -> None: ...
    def run_once(self, i, tracer=None) -> dict: ...

    def layer_metrics(self, tracer, tasks: dict) -> dict:
        return {}

    def events(self) -> list[dict]:
        # the listener bus writes the log asynchronously; let it drain
        # the last task-end events of the traced run
        time.sleep(1.0)
        return spans.read_event_log(os.path.join(self.run_dir, "eventlog"))

    def traced(self, untraced_s: list[float]) -> tuple[dict, list]:
        """One run with spans and job descriptions, attributed through
        the event log, then the workload's probes."""
        tracer = spans.Tracer(self.spark.sparkContext,
                              f"{self.args.workload}-{self.args.seed}")
        rec = self.run_once(TRACED, tracer)
        if not rec["ok"]:
            raise RuntimeError(f"traced run failed its check: {rec['problems']}")
        tasks = spans.attribute(self.events(), tracer)
        layers = spans.engine_metrics([t for ts in tasks.values() for t in ts])
        layers["trace.overhead_s"] = rec["run_s"] - statistics.median(untraced_s)
        layers["trace.span_coverage"] = tracer.coverage()
        layers.update(self.layer_metrics(tracer, tasks))
        layers.update(function_costs(self.args.seed, self.sizes["sample"]))
        return layers, tracer.spans


class PipelineWorkload(Workload):
    """The CLI (main.main) over seeded synthetic pages."""

    text_input = False
    # the median of two CLI runs, whatever the host's speed: with the C1
    # JIT the first timed run is as fast as the next, and in two ten-run
    # sets the median of two spread no more than the median of three
    # (0.05 and 0.20 against 0.09 and 0.21), for ≈ 8 s less per run
    min_runs = 2

    def inputs(self) -> None:
        self.pages = os.path.join(self.cache, "pages")
        with open(os.path.join(self.cache, "oracle.json")) as fh:
            self.expect = json.load(fh)
        self.n_docs = self.expect["docs"]
        self.input_bytes = _du(self.pages, "*.parquet")[1]

    def cli(self, out: str, *extra: str) -> None:
        import main as cli_main

        cli_main.main(["--input", self.pages, "--output", out,
                       "--cpus", str(self.cores), *extra])

    def instrument(self, patches: Patches, tracer, captured: dict) -> None:
        """Capture materialize's result (its observed sink counters) on
        every run; with a tracer, also open a span around each layer call
        that main.main makes."""
        from pyspark.sql.classic.dataframe import DataFrame

        from rsmetacheck_spark.operators import report
        from rsmetacheck_spark.plans import pipeline
        from rsmetacheck_spark.sources import tables
        from rsmetacheck_spark.streaming import incremental

        def spanned(name, fn):
            if tracer is None:
                return fn

            def wrapped(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapped

        materialize = spanned("pipeline.materialize", pipeline.materialize)

        def capture(*a, **kw):
            captured["result"] = materialize(*a, **kw)
            return captured["result"]

        patches.set(pipeline, "materialize", capture)
        if tracer is None:
            return
        sink_spans = {"pages_out": "pipeline.sink_write",
                      "metrics": "metrics.rule_metrics",
                      "lineage": "metrics.lineage",
                      "host_metrics": "metrics.host_metrics",
                      "reports": "report.per_doc_reports"}
        write_table = tables.write_table

        def traced_write(df, path, *a, **kw):
            with tracer.span(sink_spans.get(os.path.basename(path), "sink.other")):
                return write_table(df, path, *a, **kw)

        patches.set(tables, "write_table", traced_write)
        patches.set(pipeline, "write_table", traced_write)
        patches.set(pipeline, "read_pages",
                    spanned("sources.read_pages", pipeline.read_pages))
        patches.set(incremental, "resume_materialize",
                    spanned("incremental.resume", incremental.resume_materialize))
        # called once per bucket group the resumed run completes
        patches.set(incremental, "_mark_done",
                    spanned("incremental.group_done", incremental._mark_done))
        patches.set(report, "summary_report",
                    spanned("report.summary", report.summary_report))
        # main.py's two count() jobs over the sink are the only count()
        # calls in a CLI run
        patches.set(DataFrame, "count",
                    spanned("report.count_jobs", DataFrame.count))

    def timed_cli(self, tracer, out: str, *extra: str) -> dict:
        patches, captured = Patches(), {}
        self.instrument(patches, tracer, captured)
        try:
            t0, p0 = time.time(), time.perf_counter()
            with tracer.span(self.args.workload) if tracer else nullcontext():
                self.cli(out, *extra)
            run_s = time.perf_counter() - p0
        finally:
            patches.restore()
        n_files, n_bytes = _du(os.path.join(out, "pages_out"), "**/*.parquet")
        res = captured.get("result")
        return {"run_s": run_s, "window": (t0, t0 + run_s),
                "sink_bytes": n_bytes, "sink_files": n_files,
                "observed": res.observed if res is not None else None}

    def read_sink(self, out: str):
        import pyarrow.dataset as ds

        return ds.dataset(os.path.join(out, "pages_out"), format="parquet",
                          partitioning="hive").to_table(
            columns=["url", "keep", "scrubbed_text", "findings"])

    def probes(self) -> dict:
        """Noop-sink cuts at the scan, model-stage and verdict boundaries."""
        from rsmetacheck_spark.operators.model_stage import apply_model_stage
        from rsmetacheck_spark.plans.pipeline import read_pages, verdict_plan

        payload = "text" if self.text_input else "html"
        scan = read_pages(self.spark, self.pages).select("url", "warc_ts", payload)
        self.spark.sparkContext.setJobDescription("probe")
        scan_s = _noop(scan)
        model_s = _noop(apply_model_stage(scan, text_input=self.text_input))
        verdict_s = _noop(verdict_plan(scan, text_input=self.text_input))
        self.spark.sparkContext.setJobDescription(None)
        return {"sources.scan_s": scan_s,
                "model_stage.noop_s": model_s - scan_s,
                "verdicts.noop_s": verdict_s - model_s}

    def layer_metrics(self, tracer, tasks: dict) -> dict:
        sink = tasks.get("pipeline.sink_write", [])
        out = {
            "sources.input_bytes": self.input_bytes,
            "pipeline.materialize_s": tracer.total("pipeline.materialize"),
            # reduce side of the bucket exchange: shuffle read + sink write
            "pipeline.exchange_write_s": sum(
                t["run_ms"] for t in sink if t["shuffle_read"]) / 1e3,
            "pipeline.shuffle_bytes": sum(t["shuffle_write"] for t in sink),
            "pipeline.sink_files": self.traced_sink_files,
            "metrics.rule_metrics_s": tracer.total("metrics.rule_metrics"),
            "metrics.lineage_s": tracer.total("metrics.lineage"),
            "metrics.host_metrics_s": tracer.total("metrics.host_metrics"),
            "report.per_doc_reports_s": tracer.total("report.per_doc_reports"),
            "report.count_jobs_s": tracer.total("report.count_jobs"),
        }
        out.update(self.probes())
        return out

    def finish_run(self, i, out: str, rec: dict, problems: list[str], sink) -> dict:
        if i == TRACED:
            self.traced_sink_files = rec["sink_files"]
        shutil.rmtree(out, ignore_errors=True)
        return {**rec, "ok": not problems, "problems": problems,
                "rows_total": sink.num_rows}


class PipelineHtml(PipelineWorkload):
    def warmup(self) -> None:
        # over the whole input, not a slice: after a one-file slice (one
        # scan task) the first timed run was still 25-60 % slower than the
        # next ones, while the first call costs about the same either way
        out = self.fresh_dir("warmup")
        self.cli(out)
        shutil.rmtree(out, ignore_errors=True)

    def run_once(self, i, tracer=None) -> dict:
        import pyarrow.parquet as pq

        out = self.fresh_dir(f"run_{i}")
        rec = self.timed_cli(tracer, out)
        sink = self.read_sink(out)
        hits = {m["rule"]: m["hits"]
                for m in pq.read_table(os.path.join(out, "metrics")).to_pylist()}
        kept = sum(sink.column("keep").to_pylist())
        problems = []
        if sink.num_rows != self.expect["docs"]:
            problems.append(f"pages_out rows {sink.num_rows} != {self.expect['docs']}")
        if not rec["observed"] or rec["observed"].get("n_model_errors") != 0:
            problems.append(f"observed counters {rec['observed']}")
        if kept != self.expect["kept"]:
            problems.append(f"kept {kept} != oracle {self.expect['kept']}")
        if hits != self.expect["hits"]:
            problems.append(f"rule hits {hits} != oracle {self.expect['hits']}")
        if i == TRACED:
            self.traced_digest = sink_digest(sink)
        rec["rows_written"] = sink.num_rows
        return self.finish_run(i, out, rec, problems, sink)

    def layer_metrics(self, tracer, tasks: dict) -> dict:
        """The html run's layers, plus one traced resumed --skip-extract
        run over the same pages so the incremental layer is measured too;
        its output must equal the html run's."""
        out = super().layer_metrics(tracer, tasks)
        resume = ResumeText(self.spark, self.args, self.sizes, self.run_dir)
        resume.inputs()
        resume.prepare_base()
        resume.ref_digest = self.traced_digest
        r_tracer = spans.Tracer(self.spark.sparkContext, tracer.run_id + "-resume")
        rec = resume.run_once(TRACED, r_tracer)
        if not rec["ok"]:
            raise RuntimeError(f"traced resume run failed its check: {rec['problems']}")
        out.update(resume.incremental_metrics(
            r_tracer, spans.attribute(self.events(), r_tracer)))
        return out


class ResumeText(PipelineWorkload):
    """main.main --resume --skip-extract over a half-done output."""

    text_input = True

    def warmup(self) -> None:
        """A full non-resume --skip-extract run; its output is the one
        every resumed run must reproduce."""
        ref = self.fresh_dir("warmup")
        self.cli(ref, "--skip-extract")
        self.ref_digest = sink_digest(self.read_sink(ref))
        shutil.rmtree(ref, ignore_errors=True)

    def prepare(self) -> None:
        self.prepare_base()

    def prepare_base(self) -> None:
        """Half-done output made by the program's own crash injection:
        two bucket groups written, then a failure. Made once per input set
        and copied before every run."""
        from rsmetacheck_spark.plans.pipeline import read_pages
        from rsmetacheck_spark.streaming.incremental import load_done, resume_materialize

        self.base = os.path.join(self.cache, "resume_base")
        if not os.path.exists(os.path.join(self.base, "_PREPARED")):
            shutil.rmtree(self.base, ignore_errors=True)
            try:
                resume_materialize(self.spark, read_pages(self.spark, self.pages),
                                   self.base, fail_after_groups=2, text_input=True)
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
            open(os.path.join(self.base, "_PREPARED"), "w").close()
        self.done_before = len(load_done(self.base))
        self.rows_before = self.read_sink(self.base).num_rows

    def run_once(self, i, tracer=None) -> dict:
        out = self.fresh_dir(f"run_{i}")
        shutil.copytree(self.base, out)
        rec = self.timed_cli(tracer, out, "--resume", "--skip-extract")
        sink = self.read_sink(out)
        problems = []
        if sink.num_rows != self.n_docs:
            problems.append(f"pages_out rows {sink.num_rows} != {self.n_docs}")
        if sink_digest(sink) != self.ref_digest:
            problems.append("resumed pages_out differs from the non-resume run")
        rec["rows_written"] = sink.num_rows - self.rows_before
        return self.finish_run(i, out, rec, problems, sink)

    def incremental_metrics(self, tracer, tasks: dict) -> dict:
        scanned = sum(t["records_in"] for t in tasks.get("incremental.resume", []))
        return {
            "incremental.resume_s": tracer.total("incremental.resume"),
            "incremental.groups": tracer.count("incremental.group_done"),
            "incremental.scan_amplification": scanned / max(self.n_docs - self.rows_before, 1),
        }

    def layer_metrics(self, tracer, tasks: dict) -> dict:
        out = super().layer_metrics(tracer, tasks)
        out.update(self.incremental_metrics(tracer, tasks))
        return out


class CorpusQueries(Workload):
    """The registry query sweep over a seeded corpus, `.count()` each."""

    def inputs(self) -> None:
        import pyarrow.parquet as pq

        from rsmetacheck_spark.queries import REGISTRY

        self.sf = os.path.join(self.cache, "corpus")
        self.n_docs = pq.ParquetFile(os.path.join(self.sf, "documents.parquet")).metadata.num_rows
        self.input_bytes = _du(self.sf, "*.parquet")[1]
        full = {k.split("_")[0]: k for k in REGISTRY}
        self.fns = {q: REGISTRY[full[q]][0] for q in SWEEP + WARMUP_QUERIES}
        with open(os.path.join(self.cache, "duckdb.json")) as fh:
            self.expect = json.load(fh)

    def reset_caches(self) -> None:
        """Empty every scratch-table cache so the next sweep starts cold."""
        from rsmetacheck_spark import queries
        from rsmetacheck_spark.streaming import oracle_rows

        for cache in (queries._CKPT_CACHE, queries._UNIT_MAT_CACHE,
                      queries._ASG_CACHE, oracle_rows._STREAM_DIRS):
            cache.clear()
        for d in glob.glob(os.path.join(os.environ["TMPDIR"], "rsmc_*")):
            shutil.rmtree(d, ignore_errors=True)

    def warmup(self) -> None:
        for q in WARMUP_QUERIES:
            self.fns[q](self.spark, self.sf).count()
        self.reset_caches()

    def run_once(self, i, tracer=None) -> dict:
        if i:
            self.reset_caches()
        dfs, counts, per_query = {}, {}, {}
        t0, p0 = time.time(), time.perf_counter()
        with tracer.span(self.args.workload) if tracer else nullcontext():
            for q in SWEEP:
                q0 = time.perf_counter()
                with tracer.span(f"queries.{q}") if tracer else nullcontext():
                    dfs[q] = self.fns[q](self.spark, self.sf)
                    counts[q] = dfs[q].count()
                per_query[q] = time.perf_counter() - q0
        run_s = time.perf_counter() - p0
        scratch = glob.glob(os.path.join(os.environ["TMPDIR"], "rsmc_ckpt_*"))
        scratch_bytes = sum(_du(d)[1] for d in scratch)
        c0 = time.perf_counter()
        problems = []
        for q in SWEEP:
            n_rows = len(self.expect[q][1])
            if counts[q] != n_rows:
                problems.append(f"{q}: count {counts[q]} != oracle {n_rows}")
            elif normalized(dfs[q].columns,
                            [tuple(r) for r in dfs[q].collect()]) != self.expect[q]:
                problems.append(f"{q}: rows differ from oracle_sql()")
        self.last = {"per_query": per_query, "scratch_dirs": len(scratch),
                     "scratch_bytes": scratch_bytes}
        return {"run_s": run_s, "window": (t0, t0 + run_s),
                "sink_bytes": scratch_bytes, "ok": not problems, "problems": problems,
                "ops": len(SWEEP), "failed_ops": len(problems), "per_query": per_query,
                "check_s": time.perf_counter() - c0,
                "rows_written": self.n_docs, "rows_total": self.n_docs}

    def layer_metrics(self, tracer, tasks: dict) -> dict:
        per_query = self.last["per_query"]
        out = {f"queries.{q}_s": per_query[q] for q in SWEEP}
        for group, qs in QUERY_GROUPS.items():
            if group != "streaming":
                out[f"queries.{group}_s"] = sum(per_query[q] for q in qs)
        self.spark.sparkContext.setJobDescription("probe")
        scan_s = sum(_noop(self.spark.read.parquet(os.path.join(self.sf, t + ".parquet")))
                     for t in corpus.TABLES)
        self.spark.sparkContext.setJobDescription(None)
        out.update({
            "streaming.st08_s": per_query["st08"],
            "queries.scratch_dirs": self.last["scratch_dirs"],
            "queries.scratch_bytes": self.last["scratch_bytes"],
            "sources.scan_s": scan_s,
            "sources.input_bytes": self.input_bytes,
        })
        return out


WORKLOADS = {
    "pipeline_html": PipelineHtml,
    "resume_text": ResumeText,
    "corpus_queries": CorpusQueries,
}


def function_costs(seed: int, n: int) -> dict:
    """Single-thread microseconds per doc of each model-stage function on
    the seed's first `n` pages (best of three passes)."""
    from rsmetacheck_spark import synth
    from rsmetacheck_spark.functions.pytext import text_stats, tokenize
    from rsmetacheck_spark.operators.extract import extract_text
    from rsmetacheck_spark.operators.langid import get_model as get_langid
    from rsmetacheck_spark.operators.perplexity import get_model as get_ppl
    from rsmetacheck_spark.operators.scrub import scrub_text

    html = synth.gen_pages(n, seed)["html"].tolist()
    texts = [extract_text(h) for h in html]
    toks = [tokenize(t) for t in texts]
    langid, ppl = get_langid(), get_ppl()
    calls = {
        "extract.us_per_doc": lambda i: extract_text(html[i]),
        "pytext.tokenize_us_per_doc": lambda i: tokenize(texts[i]),
        "langid.us_per_doc": lambda i: langid.predict_top2(texts[i]),
        "perplexity.us_per_doc": lambda i: ppl.log_ppl(texts[i], toks[i]),
        "scrub.us_per_doc": lambda i: scrub_text(texts[i]),
        "pytext.stats_us_per_doc": lambda i: text_stats(texts[i], toks[i]),
    }
    out = {}
    for name, fn in calls.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for i in range(n):
                fn(i)
            best = min(best, time.perf_counter() - t0)
        out[name] = best / n * 1e6
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    ap.add_argument("--phase", required=True, choices=("inputs", "run"))
    ap.add_argument("--inputs", help="input directory made by --phase inputs")
    ap.add_argument("--all-inputs", action="store_true",
                    help="--phase inputs: also make the corpus (first run in a checkout)")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned", type=float, required=True,
                    help="epoch time the harness started this process")
    args = ap.parse_args()

    if args.phase == "inputs":
        t0 = time.perf_counter()
        dest = prepare_inputs(args.workload, args.seed, args.size)
        if args.all_inputs:
            # the corpus and its DuckDB answers take ≈ 30 s; made here,
            # they never push a corpus_queries run past its 180 s
            prepare_inputs("corpus_queries", args.seed, args.size)
        _atomic_json(args.result, {"inputs": dest, "inputs_s": time.perf_counter() - t0})
        return 0

    cores = len(os.sched_getaffinity(0))
    from rsmetacheck_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - args.spawned
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    result: dict = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "sizes": SIZES[args.size], "start_s": start_s,
        "host": {"name": platform.node(), "cores": cores, "mem_gb": mem_kb / 2**20,
                 "python": platform.python_version()},
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
    }
    wl = WORKLOADS[args.workload](spark, args, SIZES[args.size], args.run_dir)
    try:
        t0 = time.perf_counter()
        wl.inputs()
        t1 = time.perf_counter()
        wl.warmup()
        t2 = time.perf_counter()
        wl.prepare()
        result["warmup_s"] = t2 - t1
        result["phases"] = {"load_s": t1 - t0, "warmup_s": t2 - t1,
                            "prepare_s": time.perf_counter() - t2}
        runs = result["runs"] = []
        t_begin = time.perf_counter()
        while len(runs) < wl.min_runs or time.perf_counter() - t_begin < args.seconds:
            try:
                runs.append(wl.run_once(len(runs)))
            except Exception:
                runs.append({"ok": False, "problems": [traceback.format_exc()]})
        if args.trace:
            layers, span_list = wl.traced([r["run_s"] for r in runs if r["ok"]])
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = result["warmup_s"]
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                names = [m["name"] for m in json.load(fh)["per_layer"]]
            # layers this workload does not run read 0
            result["not_measured"] = [n for n in names if n not in layers]
            result["layers"] = {n: layers.get(n, 0.0) for n in names}
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            _atomic_json(os.path.join(trace_dir, f"{args.workload}_s{args.seed}.json"),
                         {"spans": span_list, "layers": layers})
    finally:
        spark.stop()
        _atomic_json(args.result, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
