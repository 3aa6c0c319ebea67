"""Verdict assembly + keep/drop gate.

Per-document `findings` column: array<struct<rule,hit,severity,metric,
evidence>> — the Spark analog of the reference's per-rule verdict dicts
(p001.py:70-77) with `pitfall_code` stamping (detect_pitfalls_main.py:331).
`keep` mirrors the any-issue reduce gating JSON-LD emission
(detect_pitfalls_main.py:360-366): keep = no drop-severity hit.

Plan shape: metric/hit expressions are materialized as NAMED columns first,
and the findings structs reference them as attribute refs — CollapseProject
will not re-inline a non-cheap expression referenced multiple times, so
each metric is computed exactly once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import thresholds as TH
from . import rules as R
from .sqltext import ident, named_struct, quote


def with_findings(df: DataFrame) -> DataFrame:
    """Expects model-stage columns; adds findings + keep."""
    cols = {name: F.col(name) for name in df.columns}
    # the model stage emits extracted_text SPARSELY (null == identical to
    # scrubbed_text); rules that read the raw text get the restored value
    lowtext = None
    if "extracted_text" in cols and "scrubbed_text" in cols:
        cols["extracted_text"] = F.coalesce("extracted_text", "scrubbed_text")
        # boilerplate scans a LOWERED copy of the text per phrase; name
        # it once (attribute refs are not re-inlined, see module doc) so
        # the row pays one lowercase pass instead of |PHRASES|
        lowtext = F.lower(cols["extracted_text"])
        df = df.withColumn("__lowtext", lowtext)
        cols["__lowtext"] = F.col("__lowtext")
    metrics = R.rule_metrics(cols)

    metric_cols, hit_cols = {}, {}
    for rule, _sev in TH.RULES:
        metric, hit = metrics[rule]
        metric_cols[f"__m_{rule}"] = F.coalesce(metric.cast("double"), F.lit(0.0))
        hit_cols[f"__h_{rule}"] = F.coalesce(hit, F.lit(False))
    df = df.withColumns({**metric_cols, **hit_cols})

    # per-rule evidence template (the reference renders a distinct template
    # per detector, json_ld_utils.py:144-333): the rule's description from
    # the static lookup is baked in as a literal, so each struct's evidence
    # is a one-format_string codegen expression. Evidence text is rendered
    # ONLY for hits — the reference renders evidence only for flagged
    # verdicts (json_ld_utils.py:447-493), and null evidence for the ~13
    # non-hit rules per doc saves ~1 KB/row at the sink. Both columns are
    # one SQL expression each (sqltext.py: one parse, not a Column tree).
    finding_structs = []
    for rule, severity in TH.RULES:
        hit, metric = ident(f"__h_{rule}"), ident(f"__m_{rule}")
        template = quote(f"%s: {TH.RULE_INFO[rule][1]} (metric=%s)")
        evidence = (f"CASE WHEN {hit} THEN format_string({template}, "
                    f"{quote(rule)}, CAST({metric} AS STRING)) END")
        finding_structs.append(named_struct({
            "rule": quote(rule), "hit": hit, "severity": quote(severity),
            "metric": metric, "evidence": evidence,
        }))
    drop_hits = [ident(f"__h_{rule}") for rule, sev in TH.RULES if sev == TH.DROP]
    df = df.withColumns({
        "findings": F.expr(f"array({', '.join(finding_structs)})"),
        "keep": F.expr(f"NOT ({' OR '.join(drop_hits) or 'false'})"),
    })
    drop_helpers = list(metric_cols.keys()) + list(hit_cols.keys())
    if lowtext is not None:
        drop_helpers.append("__lowtext")
    return df.drop(*drop_helpers)
