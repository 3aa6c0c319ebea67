"""Job counts of the tail after the sink write: at bench scale each Spark
job is fixed cost, so the metrics table is held to a job budget."""

from __future__ import annotations

from rsmetacheck_spark import synth
from rsmetacheck_spark.operators.metrics import rule_metrics_table
from rsmetacheck_spark.plans.pipeline import read_sink, verdict_plan, write_buckets
from rsmetacheck_spark.sources.tables import write_table


def test_metrics_table_runs_at_most_three_jobs(spark, tmp_path):
    """One scan of the sink (its aggregation stage and the collect of the
    counts) plus the write of the 15-row table: no join to a rule list,
    no second count scan, no broadcast jobs."""
    pages = spark.createDataFrame(synth.gen_pages(200, seed=5)).select(
        "url", "warc_ts", "html")
    plan = verdict_plan(pages)
    write_buckets(plan, str(tmp_path / "pages_out"))
    sink = read_sink(spark, str(tmp_path), plan.schema)
    sc = spark.sparkContext
    sc.setJobGroup("metrics_table", "build and write the metrics table")
    try:
        write_table(rule_metrics_table(sink), str(tmp_path / "metrics"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("metrics_table")
    assert 0 < len(jobs) <= 3, jobs
