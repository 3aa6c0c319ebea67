"""End-to-end CLI surface (reference cli.py:8-38 parity analog):
multi-valued --input, --threshold overrides, --rules subset,
--pitfalls-output, --analysis-output. Drives main.main() in-process
against synthetic pages parquet."""

import glob
import json
import os
import tempfile

import pytest

import main as cli_main
from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH


@pytest.fixture()
def th_restore():
    saved = {
        n: getattr(TH, n)
        for n in dir(TH)
        if n.isupper() and not n.startswith("_")
    }
    yield
    for n, v in saved.items():
        setattr(TH, n, v)
    # _apply_threshold_overrides exports into os.environ for executor
    # imports; leaving it set leaks the override into every later
    # get_spark / subprocess in this pytest process (an
    # EXECUTOR_CONSUMED name would trip session.py's fresh-session
    # RuntimeError in an unrelated test)
    os.environ.pop("RSMC_THRESHOLD_OVERRIDES", None)


@pytest.fixture(scope="module")
def pages_parquet(spark):
    return synth.spark_pages_parquet(spark, 300, seed=11)


@pytest.fixture(scope="module")
def empty_parquet(spark, pages_parquet):
    empty = tempfile.mkdtemp(prefix="cli_empty_")
    spark.read.parquet(pages_parquet).limit(0).write.mode("overwrite").parquet(empty)
    return empty


def _run(pages_parquet, *extra, cpus="8"):
    out = tempfile.mkdtemp(prefix="cli_out_")
    cli_main.main([
        "--input", pages_parquet, "--output", out, "--cpus", cpus, *extra,
    ])
    return out


def test_cli_default_run(spark, pages_parquet, th_restore):
    out = _run(pages_parquet)
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    assert summary["total_docs"] == 300
    assert 0 < summary["kept"] < 300
    assert len(summary["rules"]) == 15
    assert os.path.isdir(os.path.join(out, "reports"))
    assert os.path.isdir(os.path.join(out, "metrics"))


def _run_capturing(monkeypatch, pages_parquet, *extra):
    """`_run`, also returning the plain run's PipelineResult (None after
    --resume, which does not go through materialize)."""
    from rsmetacheck_spark.plans import pipeline

    captured = {}
    materialize = pipeline.materialize

    def capture(*a, **kw):
        captured["res"] = materialize(*a, **kw)
        return captured["res"]

    monkeypatch.setattr(pipeline, "materialize", capture)
    return _run(pages_parquet, *extra), captured.get("res")


def _lineage_sums(spark, out):
    return tuple(spark.read.parquet(os.path.join(out, "lineage")).selectExpr(
        "coalesce(sum(rows_in), 0)", "coalesce(sum(rows_kept), 0)").first())


@pytest.mark.parametrize("extra", [(), ("--resume",)], ids=["plain", "resume"])
def test_cli_summary_counts_match_sink(spark, pages_parquet, th_restore,
                                       monkeypatch, extra):
    """total_docs and kept in analysis_results.json are the written
    lineage table's sums, and equal the sink's row count and keep count
    and (plain run) the counters observed during the sink write."""
    out, res = _run_capturing(monkeypatch, pages_parquet, *extra)
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    sink = spark.read.parquet(os.path.join(out, "pages_out"))
    assert summary["total_docs"] == sink.count() == 300
    assert summary["kept"] == sink.filter("keep").count()
    assert summary["dropped"] == summary["total_docs"] - summary["kept"]
    counts = (summary["total_docs"], summary["kept"])
    assert _lineage_sums(spark, out) == counts
    if extra:
        assert res is None
    else:
        assert (res.observed["n_docs"], res.observed["n_keep"]) == counts


@pytest.mark.parametrize("extra", [(), ("--resume",)], ids=["plain", "resume"])
def test_cli_summary_counts_on_empty_input(spark, empty_parquet, th_restore,
                                           monkeypatch, extra):
    """An empty input reports 0 docs and 0 kept, not a null sum of the
    empty lineage table, on both paths: the resumed sink is read back with
    the verdict schema, as an empty sink has no data file to infer one
    from."""
    out, res = _run_capturing(monkeypatch, empty_parquet, *extra)
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    assert (summary["total_docs"], summary["kept"], summary["dropped"]) == (0, 0, 0)
    assert _lineage_sums(spark, out) == (0, 0)
    if not extra:
        assert res.observed == {"n_docs": 0, "n_keep": 0, "n_model_errors": 0}


@pytest.mark.parametrize("source", ["pages", "empty"])
@pytest.mark.parametrize("extra", [(), ("--resume",)], ids=["plain", "resume"])
def test_cli_summary_rules_match_written_metrics(spark, request, th_restore,
                                                 extra, source):
    """The summary's per-rule rows, observed on the metrics write, are
    the written metrics table's rows, on both paths and on empty input."""
    out = _run(request.getfixturevalue(f"{source}_parquet"), *extra)
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    written = sorted(
        (r.asDict(recursive=True)
         for r in spark.read.parquet(os.path.join(out, "metrics")).collect()),
        key=lambda r: r["rule"],
    )
    assert len(written) == len(TH.RULES)
    assert summary["rules"] == json.loads(json.dumps(written, default=str))


@pytest.mark.parametrize("extra", [(), ("--resume",)], ids=["plain", "resume"])
def test_cli_writes_one_file_per_bucket(spark, pages_parquet, th_restore, extra):
    """With 8 shuffle partitions for 32 buckets, every bucket directory
    of the sink still holds exactly one file: the bucket exchange keeps a
    bucket in one write task, instead of one file per task per bucket."""
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.files.minPartitionNum")}
    try:
        out = _run(pages_parquet, *extra, cpus="4")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    dirs = glob.glob(os.path.join(out, "pages_out", "bucket=*"))
    assert len(dirs) == TH.N_BUCKETS
    files = {d: glob.glob(os.path.join(d, "*.parquet")) for d in dirs}
    assert all(len(f) == 1 for f in files.values()), files


def test_cli_plain_and_resume_write_the_same_tables(spark, pages_parquet, th_restore):
    """A plain run and a --resume run into a fresh directory share one
    tail after the sink: every table they derive from it, and the summary
    file, are equal."""
    plain = _run(pages_parquet, "--snapshot", "snap-1")
    resumed = _run(pages_parquet, "--snapshot", "snap-1", "--resume")
    for table in ("metrics", "lineage", "host_metrics", "reports"):
        rows = [
            sorted(
                json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                for r in spark.read.parquet(os.path.join(out, table)).collect()
            )
            for out in (plain, resumed)
        ]
        assert rows[0] == rows[1] and rows[0], table
    assert (open(os.path.join(plain, "analysis_results.json")).read()
            == open(os.path.join(resumed, "analysis_results.json")).read())


def test_cli_multi_input_union(spark, pages_parquet, th_restore):
    # nargs='+' AND a repeated flag must both accumulate (action='extend');
    # the default argparse store action silently discards earlier --input
    out = _run(pages_parquet, "--input", pages_parquet, pages_parquet)
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    assert summary["total_docs"] == 900  # three inputs unioned


def test_cli_rules_subset(spark, pages_parquet, th_restore):
    out = _run(pages_parquet, "--rules", "R001_doc_length,R014_host_blocklist")
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    assert sorted(r["rule"] for r in summary["rules"]) == [
        "R001_doc_length", "R014_host_blocklist",
    ]
    # fewer drop rules => keep rate can only rise vs the full registry
    assert summary["kept"] >= 0


def test_cli_rules_subset_without_drop_rule(spark, pages_parquet, th_restore):
    """With only warn-severity rules selected, nothing can drop a doc."""
    out = _run(pages_parquet, "--rules", "R011_pii_email,R015_freshness")
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    assert summary["total_docs"] == summary["kept"] == 300
    assert sum(r["hits"] for r in summary["rules"]) > 0


def test_cli_threshold_override_changes_keeps(spark, pages_parquet, th_restore):
    base = json.load(open(os.path.join(
        _run(pages_parquet), "analysis_results.json")))
    # drastically relax R001's lower bound -> strictly more docs survive it
    loose = json.load(open(os.path.join(
        _run(pages_parquet, "--threshold", "MIN_WORDS=1"),
        "analysis_results.json")))
    r001 = {r["rule"]: r["hits"] for r in base["rules"]}["R001_doc_length"]
    r001_loose = {r["rule"]: r["hits"] for r in loose["rules"]}["R001_doc_length"]
    assert r001_loose < r001
    assert loose["kept"] > base["kept"]


def test_cli_threshold_unknown_name_fails_fast(spark, pages_parquet, th_restore):
    with pytest.raises(SystemExit):
        _run(pages_parquet, "--threshold", "NOT_A_THRESHOLD=1")


def test_cli_rules_unknown_rule_fails_fast(spark, pages_parquet, th_restore):
    with pytest.raises(SystemExit):
        _run(pages_parquet, "--rules", "R999_nope")


def test_cli_output_path_flags(spark, pages_parquet, th_restore):
    pit = tempfile.mkdtemp(prefix="cli_pit_")
    ana = os.path.join(tempfile.mkdtemp(prefix="cli_ana_"), "s.json")
    out = _run(
        pages_parquet, "--pitfalls-output", pit, "--analysis-output", ana,
    )
    assert json.load(open(ana))["total_docs"] == 300
    # reports went to the override dir, not <output>/reports
    assert any(os.scandir(pit))
    assert not os.path.exists(os.path.join(out, "reports"))


def test_skip_extract_equivalence(spark, th_restore):
    """The --skip-extract path must produce EXACTLY the verdicts of the
    html path when fed that path's own extracted text (the reference's
    --skip-somef contract: analysis of pre-extracted outputs == analysis
    after extraction)."""
    from rsmetacheck_spark.plans.pipeline import materialize

    spark_pages = spark.createDataFrame(
        synth.gen_pages(200, seed=13)
    ).select("url", "warc_ts", "html")
    out1 = materialize(spark, spark_pages, tempfile.mkdtemp(prefix="ske1_"))
    pre = out1.pages_out.selectExpr("url", "warc_ts", "extracted_text AS text")
    out2 = materialize(
        spark, pre, tempfile.mkdtemp(prefix="ske2_"), text_input=True
    )
    cols = (
        "url", "lang_pred", "log_ppl", "keep", "scrubbed_text",
        "to_json(findings) AS fj", "bucket",
    )
    a = out1.pages_out.selectExpr(*cols).orderBy("url").collect()
    b = out2.pages_out.selectExpr(*cols).orderBy("url").collect()
    assert a == b


def test_cli_skip_extract_flag(spark, pages_parquet, th_restore):
    # build a pre-extracted text table from the html corpus via the
    # library path, then drive the CLI over it with --skip-extract
    from rsmetacheck_spark.plans.pipeline import materialize, read_pages

    res = materialize(
        spark, read_pages(spark, pages_parquet), tempfile.mkdtemp(prefix="skc_")
    )
    text_dir = tempfile.mkdtemp(prefix="sk_text_") + "/pages"
    res.pages_out.selectExpr(
        "url", "warc_ts", "extracted_text AS text"
    ).write.parquet(text_dir)
    out = _run(text_dir, "--skip-extract")
    summary = json.load(open(os.path.join(out, "analysis_results.json")))
    from rsmetacheck_spark.operators.report import summary_report

    base = json.loads(summary_report(
        [r.asDict(recursive=True) for r in res.metrics.collect()],
        res.pages_out.count(),
        res.pages_out.filter("keep").count(),
    ))
    assert summary == base


def test_cli_threshold_reaches_executors(pages_parquet, th_restore):
    """PII_PATTERNS is compiled at scrub-module import INSIDE worker
    processes — a driver-only setattr can't reach it (the round-4 review
    finding). The env-var propagation must: overriding the email pattern
    to match any vowel has to make R011 fire on ~every doc (default ~8/300).
    Runs main.py as a real subprocess so module import order matches the
    spark-submit launch shape."""
    import subprocess
    import sys

    out = tempfile.mkdtemp(prefix="cli_exec_")
    ana = os.path.join(out, "s.json")
    cmd = [
        sys.executable, "main.py", "--input", pages_parquet,
        "--output", out, "--cpus", "8", "--analysis-output", ana,
        "--threshold", "PII_PATTERNS=(('pii_email','[aeiou]','*'),)",
    ]
    p = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert p.returncode == 0, p.stderr[-2000:]
    summary = json.load(open(ana))
    hits = {r["rule"]: r["hits"] for r in summary["rules"]}
    assert hits["R011_pii_email"] > 250, hits


def test_resume_with_skip_extract(spark, pages_parquet, th_restore):
    """A resumed --skip-extract run must process the text payload, not
    crash selecting the absent html column (round-4 review finding)."""
    from rsmetacheck_spark.plans.pipeline import (
        materialize, read_pages, read_sink, verdict_plan,
    )
    from rsmetacheck_spark.streaming.incremental import resume_materialize

    res = materialize(
        spark, read_pages(spark, pages_parquet), tempfile.mkdtemp(prefix="rse_")
    )
    pre = res.pages_out.selectExpr("url", "warc_ts", "extracted_text AS text")
    out = tempfile.mkdtemp(prefix="rse_out_")
    resume_materialize(spark, pre, out, text_input=True)
    resumed = read_sink(spark, out, verdict_plan(pre, text_input=True).schema)
    assert resumed.count() == res.pages_out.count()
    assert (resumed.filter("keep").count()
            == res.pages_out.filter("keep").count())
