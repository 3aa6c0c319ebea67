"""Aggregate metrics + per-partition lineage (A1-A4, SURVEY.md §2.4; the
analog of analysis_results.json, detect_pitfalls_main.py:385-394).

metrics:  rule, hits, pct (round 2), lang_counts map<lang,count>
lineage:  partition_id, input_snapshot, rows_in, rows_kept, rule_hits map

Shuffle story: metrics is one explode -> partial-aggregated groupBy(rule,
lang) (map-side combine is automatic for count), whose few rows are
collected: the document total rides the same aggregation as a NULL rule,
not a second scan or a join. The findings array is in fixed RULES order
(verdicts.py), so lineage's per-rule sums use element_at instead of an
explode.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from .. import thresholds as TH
from .sqltext import named_struct, quote


# the written schema, nullability included (tests/test_cli_golden.py pins
# it): `rule` nullable, `hits` and `lang_counts` not; `pct` is derived
_METRICS_COUNTS = StructType([
    StructField("rule", StringType()),
    StructField("hits", LongType(), False),
    StructField("total_docs", LongType(), False),
    StructField("lang_counts", MapType(StringType(), LongType()), False),
])


def rule_metrics_table(pages_out: DataFrame) -> DataFrame:
    """Every registered rule always appears, zero-hit rules included — the
    reference emits every detector with count 0 (detect_pitfalls_main.py:
    393-396), so consumers can rely on a fixed 15-row table.

    ONE scan of the sink: each document contributes its hit rules plus
    one NULL entry standing for the document itself, crossed with its
    langs and grouped by (rule, lang). The result is collected — at most
    (|RULES|+1)·(|langs|+1) rows, whatever the corpus size — and the
    table is built from it on the driver, so there is no join to a rule
    list and no second scan for the document total."""
    # A3 fidelity (detect_pitfalls_main.py:346-351): a hit counts once per
    # TARGET LANGUAGE of the document (multi-valued explode over the
    # langid top-2 list), while `hits` stays doc-level — exactly the
    # reference's two counters
    # the findings plus a NULL entry standing for the document (explode,
    # not filter/transform lambdas, which are interpreted: 0.34 s against
    # 0.22 s per 100k docs on 4 cores); explode_outer makes a NULL
    # findings array that entry too. posexplode_outer then tags each
    # entry's first lang row (pos 0; pos NULL for the empty-langs
    # model-error rows, which must still count), so per-document numbers
    # are sums of first-flags while the per-language counts group the
    # non-null lang rows
    doc = F.lit(None).cast(pages_out.schema["findings"].dataType.elementType)
    counts = (
        pages_out
        .select(
            F.col("lang_top2").alias("langs"),
            F.explode_outer(F.concat("findings", F.array(doc))).alias("f"),
        )
        .filter(F.col("f").isNull() | F.col("f.hit"))
        .select(
            F.col("f.rule").alias("rule"),
            F.posexplode_outer("langs").alias("pos", "lang"),
        )
        .groupBy("rule", "lang")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.coalesce("pos", F.lit(0)) == 0).alias("nf"),
        )
        .collect()
    )
    total, hits, lang_counts = 0, Counter(), defaultdict(dict)
    for r in counts:
        if r.rule is None:
            total += r.nf
            continue
        hits[r.rule] += r.nf
        if r.lang is not None:
            lang_counts[r.rule][r.lang] = r.n
    rules = [rule for rule, _sev in TH.RULES]
    # from a pandas frame: a local relation through Arrow (a list of
    # tuples goes through a pickled Python RDD)
    table = pages_out.sparkSession.createDataFrame(
        pd.DataFrame({
            "rule": rules,
            "hits": [hits[rule] for rule in rules],
            "total_docs": [total] * len(rules),
            "lang_counts": [dict(sorted(lang_counts[rule].items())) for rule in rules],
        }),
        _METRICS_COUNTS,
    )
    return table.select(
        "rule",
        "hits",
        # greatest(total, 1): a zero-row corpus must yield pct=0.0, not an
        # ANSI DIVIDE_BY_ZERO that aborts the metrics write
        F.round(
            F.col("hits") * 100.0 / F.greatest("total_docs", F.lit(1)), 2
        ).alias("pct"),
        "lang_counts",
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
    return (
        pages_out
        .groupBy(F.col("bucket").alias("partition_id"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            _rule_hit_sums().alias("rule_hits"),
        )
        .withColumn("input_snapshot", F.lit(input_snapshot))
    )
