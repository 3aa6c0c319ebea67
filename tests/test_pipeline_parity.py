"""End-to-end pipeline vs pure-pandas oracle: keep/drop F1, per-rule hit
parity, byte-identical extracted + scrubbed text per url (BASELINE.json
metric: F1 >= 0.99; input_hint per-row invariant)."""

from __future__ import annotations

import pandas as pd
import pytest

from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.oracle import oracle_labels
from rsmetacheck_spark.plans.pipeline import materialize, verdict_plan

N_DOCS = 400


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("pipe_out"))
    pages_pdf = synth.gen_pages(N_DOCS, seed=42)
    pages = spark.createDataFrame(pages_pdf)
    res = materialize(spark, pages.select("url", "warc_ts", "html"), out_dir)
    got = res.pages_out.toPandas().set_index("url").sort_index()
    want = oracle_labels(pages_pdf).set_index("url").sort_index()
    truth = pages_pdf.set_index("url").sort_index()
    return got, want, truth, res


def test_extracted_text_byte_identical(results):
    got, want, truth, _ = results
    assert (got["extracted_text"] == truth["text"]).all()
    for u in got.index[:50]:
        assert got.loc[u, "extracted_text"].encode() == truth.loc[u, "text"].encode()


def test_scrubbed_text_byte_identical(results):
    got, want, _, _ = results
    assert (got["scrubbed_text"] == want["scrubbed_text"]).all()
    changed = (want["scrubbed_text"] != want["extracted_text"]).sum()
    assert changed > 0  # the PII class actually exercises the scrub


def test_keep_f1(results):
    got, want, _, _ = results
    tp = (got["keep"] & want["keep"]).sum()
    fp = (got["keep"] & ~want["keep"]).sum()
    fn = (~got["keep"] & want["keep"]).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep F1={f1} (fp={fp}, fn={fn})"
    assert 0.2 < got["keep"].mean() < 0.8  # gate actually discriminates


def test_per_rule_hit_parity(results):
    got, want, _, _ = results
    hits = pd.DataFrame(
        [{f["rule"]: f["hit"] for f in row} for row in got["findings"]],
        index=got.index,
    )
    for rule, _sev in TH.RULES:
        mism = (hits[rule] != want[f"hit_{rule}"]).sum()
        assert mism == 0, f"{rule}: {mism}/{len(hits)} mismatches"


def test_lang_and_ppl_parity(results):
    got, want, _, _ = results
    assert (got["lang_pred"] == want["lang_pred"]).all()
    assert (got["log_ppl"] == want["log_ppl"]).all()


def test_metrics_table(results, spark):
    got, want, _, res = results
    m = res.metrics.toPandas().set_index("rule")
    for rule, _sev in TH.RULES:
        want_hits = int(want[f"hit_{rule}"].sum())
        got_hits = int(m.loc[rule, "hits"]) if rule in m.index else 0
        assert got_hits == want_hits, rule
        if rule in m.index:
            assert m.loc[rule, "pct"] == round(100.0 * want_hits / N_DOCS, 2)


def test_lineage_sums(results):
    got, want, _, res = results
    lin = res.lineage.toPandas()
    assert lin["rows_in"].sum() == N_DOCS
    assert lin["rows_kept"].sum() == int(want["keep"].sum())
    total_hits = {r: 0 for r, _ in TH.RULES}
    for m in lin["rule_hits"]:
        for r, v in m.items():
            total_hits[r] += v
    for rule, _sev in TH.RULES:
        assert total_hits[rule] == int(want[f"hit_{rule}"].sum()), rule


# accents, CJK, emoji and a combining mark before, around and inside the
# boilerplate phrases; hits and near misses
MULTIBYTE_TEXTS = (
    "Café crème brûlée, lorem ipsum dolor sit amet",
    "日本語の文章です。enable javascript 中文字符",
    "🎉🎊 click here to continue 🎉",
    "👍🏽lorem ipsum👍🏽",
    "ÉTÉ — ALL RIGHTS RESERVED WORLDWIDE — ÉTÉ",
    "e\u0301 terms of service apply",
    "ｌｏｒｅｍ ｉｐｓｕｍ 全角",
    "lorem ipsüm, naïve façade 😀",
    "terms of service appl\u00e9 ça",
    "中文 enable javascrípt",
)


def test_boilerplate_probe_on_multibyte_text(spark):
    """R006 probes lowercased UTF-8 text byte by byte: multi-byte
    characters next to a phrase must not change its answer."""
    rule = "R006_boilerplate_phrase"
    pages_pdf = pd.DataFrame({
        "url": [f"https://ok.example/mb/{i}" for i in range(len(MULTIBYTE_TEXTS))],
        "warc_ts": pd.Timestamp("2025-01-01"),
        "html": [synth.render_html(t) for t in MULTIBYTE_TEXTS],
    })
    rows = verdict_plan(spark.createDataFrame(pages_pdf)).select(
        "url", "findings").collect()
    got = {r.url: next(f.hit for f in r.findings if f.rule == rule) for r in rows}
    want = oracle_labels(pages_pdf).set_index("url")[f"hit_{rule}"].to_dict()
    assert got == want
    assert sum(got.values()) == 6
