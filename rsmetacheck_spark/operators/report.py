"""Report sinks — the JSON-LD-shaped outputs of the reference recast as
Spark-native JSON assembly (S6/S7, SURVEY §2.1):

 - per-document verdict report for every FLAGGED doc (the any-issue gate,
   detect_pitfalls_main.py:360-366), one JSON string per row via
   to_json(struct(...)) (json_ld_utils.py:447-493 analog), with
   * first failing drop-rule = first-match-wins (F4 shape, p004.py:78)
   * evidence truncated to 3 entries (O3 shape, json_ld_utils.py:201-202)
 - run summary assembled from the tiny metrics table (S7,
   analysis_results.json analog, detect_pitfalls_main.py:385-398): its
   ~15 rows reach the driver as an Observation on the metrics write
   (plans/pipeline.finish), not as a separate collect.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import thresholds as TH
from .sqltext import named_struct, quote


def _rule_lookup(idx: int) -> str:
    """Literal map rule -> RULE_INFO[idx] (the reference's static
    description/category/suggestion tables, json_ld_utils.py:53-91,
    336-376, 379-418 — broadcast-free: a map literal folds into the plan
    as a constant)."""
    entries = ", ".join(
        f"{quote(rule)}, {quote(info[idx])}" for rule, info in TH.RULE_INFO.items()
    )
    return f"map({entries})"


def per_doc_reports(pages_out: DataFrame) -> DataFrame:
    """Flagged docs -> (url, bucket, report:string JSON). Each hit rule
    renders a CheckResult-shaped entry (checkId/category/process/
    suggestion/evidence, json_ld_utils.py:447-493). The report is one SQL
    expression (see sqltext.py)."""
    hits = "filter(findings, f -> f.hit)"
    first_drop = (
        f"try_element_at(filter(findings, f -> f.hit AND f.severity = "
        f"{quote(TH.DROP)}), 1).rule"
    )
    check = named_struct({
        "checkId": "f.rule",
        "category": f"{_rule_lookup(0)}[f.rule]",
        "process": f"{_rule_lookup(1)}[f.rule]",
        "suggestion": f"{_rule_lookup(2)}[f.rule]",
        "evidence": "f.evidence",
    })
    report = "to_json(" + named_struct({
        "url": "url",
        "lang": "lang_pred",
        "keep": "keep",
        "firstDropRule": first_drop,
        "checkIds": f"transform({hits}, f -> f.rule)",
        "evidence": f"slice(transform({hits}, f -> f.evidence), 1, 3)",
        "checks": f"transform({hits}, f -> {check})",
    }) + ")"
    return (
        pages_out
        .filter(F.expr(f"size({hits}) > 0"))
        .select("url", "bucket", F.expr(report).alias("report"))
    )


def summary_report(rules: list[dict], total_docs: int, kept: int) -> str:
    """The run summary from the metrics rows (dicts, as
    `PipelineResult.rules` carries them) and the document totals."""
    return json.dumps(
        {
            "total_docs": total_docs,
            "kept": kept,
            "dropped": total_docs - kept,
            "rules": sorted(rules, key=lambda r: r["rule"]),
        },
        default=str,
    )
