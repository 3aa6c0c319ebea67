"""Verdict assembly + keep/drop gate.

Per-document `findings` column: array<struct<rule,hit,severity,metric,
evidence>> — the Spark analog of the reference's per-rule verdict dicts
(p001.py:70-77) with `pitfall_code` stamping (detect_pitfalls_main.py:331).
`keep` mirrors the any-issue reduce gating JSON-LD emission
(detect_pitfalls_main.py:360-366): keep = no drop-severity hit.

Plan shape: three projections of SQL text (rules.py, sqltext.py). The
lowercased text and then the metric/hit expressions are materialized as
NAMED columns, and the findings structs reference them as attribute refs —
CollapseProject will not re-inline a non-cheap expression referenced
multiple times, so the row pays one lowercase pass instead of one per
boilerplate phrase, and each metric is computed exactly once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import thresholds as TH
from . import rules as R
from .sqltext import ident, named_struct, quote


def with_findings(df: DataFrame) -> DataFrame:
    """Expects model-stage columns; adds findings + keep."""
    out_cols = [ident(c) for c in df.columns]
    # the model stage emits extracted_text SPARSELY (null == identical to
    # scrubbed_text); the boilerplate rule reads the restored text
    df = df.selectExpr(
        "*", "lower(coalesce(extracted_text, scrubbed_text)) AS __lowtext"
    )
    metrics, named = R.rule_metrics(), []
    for rule, _sev in TH.RULES:
        metric, hit = metrics[rule]
        named += [
            f"coalesce(CAST(({metric}) AS DOUBLE), 0.0D) AS {ident(f'__m_{rule}')}",
            f"coalesce(({hit}), false) AS {ident(f'__h_{rule}')}",
        ]
    df = df.selectExpr("*", *named)

    # per-rule evidence template (the reference renders a distinct template
    # per detector, json_ld_utils.py:144-333): the rule's description from
    # the static lookup is baked in as a literal, so each struct's evidence
    # is a one-format_string codegen expression. Evidence text is rendered
    # ONLY for hits — the reference renders evidence only for flagged
    # verdicts (json_ld_utils.py:447-493), and null evidence for the ~13
    # non-hit rules per doc saves ~1 KB/row at the sink.
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
    return df.selectExpr(
        *out_cols,
        f"array({', '.join(finding_structs)}) AS findings",
        f"NOT ({' OR '.join(drop_hits) or 'false'}) AS keep",
    )
