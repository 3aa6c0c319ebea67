"""End-to-end quality-filter plan (the analog of detect_all_pitfalls,
detect_pitfalls_main.py:41-412, recast as one lazy DataFrame graph):

    pages(url, warc_ts, html[, text, lang])
      -> fused model stage (extract + langid + perplexity + scrub + token
         stats; ONE Arrow round trip, per-executor model singletons)
      -> rules as SQL text -> findings array + keep gate
      -> write_buckets: pages_out, partitioned by url-hash bucket
      -> finish: metrics / lineage [/ host_metrics / reports] FROM THE
         WRITTEN TABLE, all in one concurrent wave of jobs

This module owns everything after the verdicts, for both ways a run
writes the sink. `materialize` writes every bucket in one job; a resumed
run (streaming/incremental.py) writes the missing buckets group by group
through the same `write_buckets`. Both then call the same `finish`, which
reads the sink back with the verdict schema (`read_sink`) and submits
every table derived from it at once: metrics and lineage always, host
metrics and the per-doc reports when given a reports directory (the CLI
passes one; bench.py's call does not).

Why metrics read the sink instead of re-aggregating the live plan: the
model stage is the expensive part; aggregating the written table scans only
the narrow columns (column pruning at the parquet scan) and never
recomputes models. The bucket column doubles as the checkpoint/resume unit.

Scale notes (the 100 TB story):
 - model stage: embarrassingly parallel, zero shuffle; it runs at the
   scan's partitioning (bounded by spark.sql.files.maxPartitionBytes), and
   nothing repartitions the input.
 - only shuffle in the whole plan: the partitionBy write (hash-bucketed,
   uniform by construction — url hash, no hot keys) and the tiny
   (rule, lang) metric aggregation of pre-combined partial counts.
 - the driver reads two things, both bounded by the rule registry, not by
   the corpus: the (rule, lang) metric counts, at most
   (|RULES|+1)·(|langs|+1) rows, collected to build the 15-row metrics
   table; and the summary's numbers, observed on the metrics and lineage
   writes. Nothing else is collected.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import thresholds as TH
from ..operators.metrics import host_metrics_table, lineage_table, rule_metrics_table
from ..operators.model_stage import apply_model_stage
from ..operators.report import per_doc_reports
from ..operators.sqltext import ident, number
from ..operators.verdicts import with_findings
from ..sources.tables import write_table

OUTPUT_COLS = (
    "url", "warc_ts", "lang_pred", "lang_top2", "log_ppl", "keep",
    "extracted_text", "scrubbed_text", "findings", "model_error", "bucket",
)


@dataclass
class PipelineResult:
    pages_out: DataFrame
    metrics: DataFrame
    lineage: DataFrame
    # the run summary's numbers, observed on the metrics and lineage
    # writes (see finish): the document and keep totals, and the written
    # metrics rows as dicts, in no particular order
    total: int
    kept: int
    rules: list[dict]
    # global counters observed DURING the sink write (free — no extra
    # scan or job; see the Observation in write_buckets); None after a
    # resumed run, whose writes each saw only part of the table
    observed: dict | None = None


def bucket_sql() -> str:
    """The url-hash bucket, as SQL text: the sink's partition column and
    the unit a resumed run checkpoints. A pure function of the url, so a
    resumed run can filter on it before the model stage."""
    return f"CAST(pmod(xxhash64(url), {number(TH.N_BUCKETS)}) AS INT)"


def verdict_plan(pages: DataFrame, text_input: bool = False) -> DataFrame:
    """The lazy end-to-end plan: input pages -> verdict rows (no action).

    text_input=True is the reference's --skip-somef analog: the input
    carries already-extracted `text` instead of `html`; the extraction
    step is skipped, everything downstream (langid, perplexity, scrub,
    stats, rules, findings) runs identically."""
    # Early projection: ground-truth lang (or anything else) must not
    # ride the Arrow round trip and the bucket exchange.
    pages = pages.select("url", "warc_ts", "text" if text_input else "html")
    scored = apply_model_stage(pages, text_input=text_input)
    out = with_findings(scored)
    return out.selectExpr(*(
        f"{bucket_sql()} AS bucket" if c == "bucket" else ident(c) for c in OUTPUT_COLS
    ))


def decode_from_sink(df: DataFrame) -> DataFrame:
    """Restore extracted_text, which the model stage emits sparsely (NULL
    where it equals scrubbed_text, ~94% of rows): the Arrow boundary, the
    bucket exchange and the sink carry half the text bytes."""
    return df.withColumn(
        "extracted_text", F.coalesce("extracted_text", "scrubbed_text")
    )


def write_buckets(
    plan: DataFrame, pages_path: str, buckets: list[int] | None = None
) -> dict:
    """Write verdict rows to the sink, one file per bucket, and return the
    counters observed during the write.

    buckets=None: `plan` holds every bucket and replaces the whole table
    (write_table, which stamps the manifest). A list: `plan` holds only
    those buckets, and only their directories are replaced (dynamic
    partition overwrite), so a completed bucket is never rewritten and a
    retried group is idempotent — the resume unit."""
    # Cluster by bucket before the partitioned write: otherwise every write
    # task emits a file per bucket (tasks × buckets tiny files — observed
    # 2048 files for a 4k-doc bench, dominating both the write and every
    # downstream scan). Hash partitioning never splits a bucket across
    # tasks, so this still writes one file per bucket, from as many tasks
    # as the session's shuffle partitions, which AQE coalesces further —
    # not one task per bucket: at bench scale each reduce task is fixed
    # cost (4,000 docs on 4 cores: the 32 bucket files took 0.44 s from 32
    # tasks, 0.25 s from 8). The model stage still parallelizes at the scan
    # partitioning, upstream of this exchange.
    rows = plan.repartition("bucket")
    # Global counters ride the WRITE action itself (AggregatingAccumulator
    # under CollectMetrics): at 100 TB this is n_docs/n_keep/n_errors for
    # free — no separate count job, no second scan of the sink. The
    # metrics/lineage tables still aggregate the sink (they need per-rule
    # breakdowns); tests assert the observed counters equal the
    # sink-derived ones.
    obs = Observation("sink_counters")
    rows = rows.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum(F.col("model_error").isNotNull().cast("long")).alias(
            "n_model_errors"
        ),
    )
    if buckets is None:
        write_table(rows, pages_path, partition_by=("bucket",))
    else:
        (
            rows.write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(pages_path)
        )
    return {k: (v if v is not None else 0) for k, v in obs.get.items()}


def read_sink(spark: SparkSession, out_dir: str, schema: StructType) -> DataFrame:
    """The written pages_out, decoded. Read with the verdict schema: an
    empty input writes no data files, and schema inference would fail."""
    return decode_from_sink(
        spark.read.schema(schema).parquet(os.path.join(out_dir, "pages_out"))
    )


def finish(
    spark: SparkSession,
    out_dir: str,
    schema: StructType,
    input_snapshot: str,
    observed: dict | None = None,
    reports_dir: str | None = None,
) -> PipelineResult:
    """Derive every table from the written sink, in one concurrent wave.

    Always writes metrics and lineage; with a `reports_dir`, also
    host_metrics and the per-doc reports (into `reports_dir`). The jobs
    are independent small scans of the same sink, so they are submitted
    together: the scheduler interleaves their tasks instead of running
    one job's tail after another's. Each table's plan is built inside its
    own wave thread too (the metrics table runs its aggregation job while
    it is built).

    The summary numbers ride the writes as `Observation`s: total/kept sum
    the lineage rows, and the metrics rows are collected as they are
    written (15 rows), so the summary costs no job of its own."""
    pages_out = read_sink(spark, out_dir, schema)
    metrics_obs, lineage_obs = Observation("metrics_rows"), Observation("lineage_sums")

    def metrics() -> DataFrame:
        df = rule_metrics_table(pages_out)
        return df.observe(
            metrics_obs, F.collect_list(F.struct(*df.columns)).alias("rows")
        )

    def lineage() -> DataFrame:
        # the sums are null over an empty lineage table, where both read 0
        return lineage_table(pages_out, input_snapshot).observe(
            lineage_obs,
            F.coalesce(F.sum("rows_in"), F.lit(0)).alias("total"),
            F.coalesce(F.sum("rows_kept"), F.lit(0)).alias("kept"),
        )

    writes = [
        (metrics, os.path.join(out_dir, "metrics"), ()),
        (lineage, os.path.join(out_dir, "lineage"), ()),
    ]
    if reports_dir is not None:
        writes += [
            (lambda: host_metrics_table(pages_out),
             os.path.join(out_dir, "host_metrics"), ()),
            (lambda: per_doc_reports(pages_out), reports_dir, ("bucket",)),
        ]

    def build_and_write(build, path: str, parts: tuple[str, ...]) -> DataFrame:
        df = build()
        # write_table is looked up in this module at call time, so a
        # wrapper installed on the module (perfbench's tracer) sees every
        # write of the wave
        write_table(df, path, partition_by=parts)
        return df

    with ThreadPoolExecutor(len(writes)) as ex:
        futures = [ex.submit(build_and_write, *w) for w in writes]
        written = [f.result() for f in futures]
    # an Observation is read only once every write has returned: a failed
    # write raises above instead of leaving get() waiting for its metrics
    counts = lineage_obs.get
    return PipelineResult(
        pages_out=pages_out,
        metrics=spark.read.schema(written[0].schema).parquet(writes[0][1]),
        lineage=spark.read.schema(written[1].schema).parquet(writes[1][1]),
        total=counts["total"],
        kept=counts["kept"],
        rules=[r.asDict(recursive=True) for r in metrics_obs.get["rows"]],
        observed=observed,
    )


def materialize(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    input_snapshot: str = "synthetic",
    text_input: bool = False,
    reports_dir: str | None = None,
) -> PipelineResult:
    """Write every bucket of pages_out in one job, then `finish`. The
    model stage runs at the scan's partitioning; a caller that wants
    another repartitions `pages` first (tools/scale.py profile does)."""
    plan = verdict_plan(pages, text_input=text_input)
    observed = write_buckets(plan, os.path.join(out_dir, "pages_out"))
    return finish(spark, out_dir, plan.schema, input_snapshot, observed, reports_dir)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(
        *[c for c in ("url", "warc_ts", "html", "text", "lang") if c in df.columns]
    )
