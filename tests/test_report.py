"""Report sink tests: flagged-only emission, first-match-wins, evidence
truncation, valid JSON, summary totals."""

from __future__ import annotations

import json

from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.operators.report import per_doc_reports, summary_report
from rsmetacheck_spark.plans.pipeline import materialize


def test_reports(spark, tmp_path):
    pages = spark.createDataFrame(synth.gen_pages(200, seed=3))
    res = materialize(spark, pages, str(tmp_path))
    po = res.pages_out.cache()
    rows = po.collect()
    reports = {r.url: json.loads(r.report) for r in per_doc_reports(po).collect()}

    n_flagged = 0
    for row in rows:
        hit_rules = [f.rule for f in row.findings if f.hit]
        if not hit_rules:
            assert row.url not in reports
            continue
        n_flagged += 1
        rep = reports[row.url]
        assert rep["checkIds"] == hit_rules
        assert len(rep["evidence"]) == min(len(hit_rules), 3)
        drop_rules = [
            f.rule for f in row.findings
            if f.hit and TH.RULE_SEVERITY[f.rule] == TH.DROP
        ]
        # to_json omits null fields, so warn-only docs have no firstDropRule
        assert rep.get("firstDropRule") == (drop_rules[0] if drop_rules else None)
        assert rep["keep"] == row.keep
    assert n_flagged == len(reports) > 0

    kept = sum(1 for r in rows if r.keep)
    summary = json.loads(summary_report(res.metrics, len(rows), kept))
    assert summary["total_docs"] == 200 and summary["kept"] == kept
    by_rule = {r["rule"]: r for r in summary["rules"]}
    want_hits = sum(1 for r in rows for f in r.findings
                    if f.hit and f.rule == "R001_doc_length")
    if want_hits:
        assert by_rule["R001_doc_length"]["hits"] == want_hits
    po.unpersist()


def test_report_checks_carry_lookup_tables(spark, tmp_path):
    """Every hit rule renders a CheckResult entry with the static
    category/description/suggestion tables (json_ld_utils.py analog)."""
    pages = spark.createDataFrame(synth.gen_pages(80, seed=11))
    res = materialize(spark, pages, str(tmp_path))
    reports = [json.loads(r.report)
               for r in per_doc_reports(res.pages_out).collect()]
    assert reports
    for rep in reports:
        assert [c["checkId"] for c in rep["checks"]] == rep["checkIds"]
        for c in rep["checks"]:
            cat, desc, sugg = TH.RULE_INFO[c["checkId"]]
            assert c["category"] == cat
            assert c["process"] == desc
            assert c["suggestion"] == sugg
