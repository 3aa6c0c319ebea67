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
    summary = json.loads(summary_report(
        [r.asDict(recursive=True) for r in res.metrics.collect()], len(rows), kept))
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


def test_registry_text_reaches_reports_verbatim(spark, tmp_path, monkeypatch):
    """Registry text is spliced into generated SQL: quotes, backslashes
    and backslash sequences Spark would unescape must come out exactly as
    written, in the finding's evidence and in the report's check entry.
    The CLI can set this text (--threshold RULE_INFO=...)."""
    rule = "R001_doc_length"
    cat = "it's a \\ \"cat\""
    desc = "don't \\n stop \\u0041 \"here\" \\' \\"
    sugg = "a'b \"c\" \\\\ end\\"
    monkeypatch.setitem(TH.RULE_INFO, rule, (cat, desc, sugg))
    pages = spark.createDataFrame(synth.gen_pages(120, seed=3))
    res = materialize(spark, pages, str(tmp_path / "out"),
                      reports_dir=str(tmp_path / "reports"))
    evidence = {
        r.url: r.ev for r in res.pages_out.selectExpr(
            "url", "try_element_at(filter(findings, f -> f.hit AND "
            f"f.rule = '{rule}'), 1).evidence AS ev"
        ).where("ev IS NOT NULL").collect()
    }
    assert evidence
    for ev in evidence.values():
        assert ev.startswith(f"{rule}: {desc} (metric="), ev
    reports = [json.loads(r.report)
               for r in spark.read.parquet(str(tmp_path / "reports")).collect()]
    checks = [(rep["url"], c) for rep in reports for c in rep["checks"]
              if c["checkId"] == rule]
    assert len(checks) == len(evidence)
    for url, c in checks:
        assert (c["category"], c["process"], c["suggestion"]) == (cat, desc, sugg)
        assert c["evidence"] == evidence[url]
