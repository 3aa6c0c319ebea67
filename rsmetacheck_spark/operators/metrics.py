"""Aggregate metrics + per-partition lineage (A1-A4, SURVEY.md §2.4; the
analog of analysis_results.json, detect_pitfalls_main.py:385-394).

metrics:  rule, hits, pct (round 2), lang_counts map<lang,count>
lineage:  partition_id, input_snapshot, rows_in, rows_kept, rule_hits map

Shuffle story: one explode -> partial-aggregated groupBy(rule) (map-side
combine is automatic for count/sum); the total-docs scalar joins back via a
broadcast of a 1-row DataFrame, not a window over the full data. The
findings array is in fixed RULES order (verdicts.py), so per-rule sums use
element_at instead of a second explode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import thresholds as TH
from .sqltext import named_struct, quote


def rule_metrics_table(pages_out: DataFrame) -> DataFrame:
    """Every registered rule always appears, zero-hit rules included — the
    reference emits every detector with count 0 (detect_pitfalls_main.py:
    393-396), so consumers can rely on a fixed 15-row table. The hit
    aggregation right-joins a literal rule list (broadcast, 15 rows)."""
    spark = pages_out.sparkSession
    # from a pandas frame, which goes through Arrow: a list of tuples
    # goes through a pickled Python RDD (the metrics write at 4,000 docs on
    # 4 cores: 0.31-0.52 s that way, 0.22-0.27 s this way). Not `FROM
    # VALUES`: that makes `rule` non-nullable and changes the written schema.
    all_rules = spark.createDataFrame(
        pd.DataFrame({"rule": [rule for rule, _sev in TH.RULES]}), "rule string"
    )
    total = pages_out.select(F.count("*").alias("total_docs"))
    # A3 fidelity (detect_pitfalls_main.py:346-351): a hit counts once per
    # TARGET LANGUAGE of the document (multi-valued explode over the
    # langid top-2 list when present), while `hits` stays doc-level —
    # exactly the reference's two counters
    langs = (
        F.col("lang_top2") if "lang_top2" in pages_out.columns
        else F.array("lang_pred")
    )
    # ONE pass over the sink for BOTH grains (the doc-level `hits` and
    # the per-language counts used to need two scans + two explodes):
    # posexplode_outer tags each finding's first lang row (pos 0; pos
    # NULL for the empty-langs model-error rows, which must still count
    # as hits), so hits = sum of first-flags while lang counts group the
    # non-null lang rows — identical numbers, half the sink scans.
    hit_findings = (
        pages_out
        .select(langs.alias("langs"), F.explode("findings").alias("f"))
        .filter(F.col("f.hit"))
        .select(
            F.col("f.rule").alias("rule"),
            F.posexplode_outer("langs").alias("pos", "lang"),
        )
    )
    per_rule_lang = (
        hit_findings
        .groupBy("rule", "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.coalesce(F.col("pos"), F.lit(0)) == 0, 1).otherwise(0)
            ).alias("nf"),
        )
    )
    agg = (
        per_rule_lang
        .groupBy("rule")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("lang").isNotNull(), F.struct("lang", "n")
                        )
                    )
                )
            ).alias("lang_counts"),
            F.sum("nf").alias("hits"),
        )
    )
    empty_map = F.map_from_entries(
        F.array().cast("array<struct<lang:string,n:bigint>>")
    )
    return (
        all_rules
        .join(F.broadcast(agg), "rule", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "rule",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            # greatest(total, 1): a zero-row corpus must yield pct=0.0,
            # not an ANSI DIVIDE_BY_ZERO that aborts the metrics write
            # (found by the empty-input observed-counters probe)
            F.round(
                F.coalesce("hits", F.lit(0)) * 100.0
                / F.greatest(F.col("total_docs"), F.lit(1)),
                2,
            ).alias("pct"),
            F.coalesce("lang_counts", empty_map).alias("lang_counts"),
        )
    )


def _rule_hit_sums() -> F.Column:
    """rule -> hit count map, one SQL expression (see sqltext.py)."""
    entries = ", ".join(
        named_struct({
            "key": quote(rule),
            "value": f"sum(CAST(element_at(findings, {i + 1}).hit AS BIGINT))",
        })
        for i, (rule, _sev) in enumerate(TH.RULES)
    )
    return F.expr(f"map_from_entries(array({entries}))")


def host_metrics_table(pages_out: DataFrame) -> DataFrame:
    """Per-host keep stats with EXPLICIT skew salting (north_rule: "salting
    hot hosts"): the synthetic corpus gives 3 hosts ~30% of all rows, so a
    naive groupBy(host) sends a third of the table to 3 reducers. Phase 1
    aggregates (host, salt) with salt = url-hash mod N_SALT — hot hosts
    fan out across N_SALT reducers; phase 2 combines the <= N_SALT partial
    rows per host. AQE skew handling stays on as backstop; this makes the
    fan-out deterministic rather than reactive."""
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    salt = F.pmod(F.xxhash64("url"), F.lit(TH.N_SALT))
    phase1 = (
        pages_out
        .groupBy(host.alias("host"), salt.alias("__salt"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        )
    )
    return (
        phase1.groupBy("host")
        .agg(F.sum("n").alias("n_docs"), F.sum("k").alias("n_kept"))
        .withColumn("keep_pct", F.round(100.0 * F.col("n_kept") / F.col("n_docs"), 2))
    )


def lineage_table(pages_out: DataFrame, input_snapshot: str) -> DataFrame:
    """Per-partition lineage; partition = the deterministic url-hash bucket
    (the checkpoint/resume unit), not the ephemeral task partition id."""
    part = (
        F.col("bucket") if "bucket" in pages_out.columns else F.spark_partition_id()
    )
    return (
        pages_out
        .groupBy(part.alias("partition_id"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            _rule_hit_sums().alias("rule_hits"),
        )
        .withColumn("input_snapshot", F.lit(input_snapshot))
    )
