"""Pure-pandas oracle: reference labels for the pipeline (FIXTURES.md §2).

Computes keep/drop + per-rule hits + scrubbed text for a pages DataFrame in
plain pandas/Python over the SAME shared modules the pipeline uses
(thresholds, pytext stats, extract, langid, perplexity, scrub) — one
formula module by design (the reference's divergent-duplicate lesson,
SURVEY.md §7). The Spark pipeline's keep/drop is F1-checked against this
(target F1 >= 0.99 per BASELINE.json); the independent cross-engine check
is the driver's DuckDB oracle over __spark_entry__.queries().
"""

from __future__ import annotations

import re

import pandas as pd

from . import thresholds as TH
from .functions.pytext import text_stats
from .operators.extract import extract_text
from .operators.langid import get_model as get_langid
from .operators.perplexity import get_model as get_ppl
from .operators.scrub import scrub_text

_HOST_RE = re.compile(r"^https?://([^/]+)")


def doc_rule_hits(
    text: str, url: str, warc_ts: pd.Timestamp,
    lang_pred: str, log_ppl: float, pii_counts: dict[str, int],
) -> dict[str, bool]:
    s = text_stats(text)
    low = text.lower()
    m = _HOST_RE.match(url)
    host = m.group(1) if m else ""
    return {
        "R001_doc_length": s["n_words"] < TH.MIN_WORDS or s["n_words"] > TH.MAX_WORDS,
        "R002_symbol_ratio": s["sym_ratio"] > TH.MAX_SYMBOL_RATIO,
        "R003_stopword_fraction": s["stop_frac"] < TH.MIN_STOPWORD_FRAC,
        "R004_mean_word_length": (
            s["mean_word_len"] < TH.MIN_MEAN_WORD_LEN
            or s["mean_word_len"] > TH.MAX_MEAN_WORD_LEN
        ),
        "R005_dup_ngram_fraction": s["dup_ngram_frac"] > TH.MAX_DUP_NGRAM_FRAC,
        "R006_boilerplate_phrase": any(p in low for p in TH.BOILERPLATE_PHRASES),
        "R007_bullet_ratio": s["bullet_frac"] > TH.MAX_BULLET_LINE_FRAC,
        "R008_ellipsis_ratio": s["ellipsis_frac"] > TH.MAX_ELLIPSIS_LINE_FRAC,
        "R009_langid": lang_pred not in TH.KEEP_LANGS,
        "R010_perplexity": log_ppl > TH.MAX_LOG_PPL,
        "R011_pii_email": pii_counts.get("pii_email", 0) > 0,
        "R012_pii_phone": pii_counts.get("pii_phone", 0) > 0,
        "R013_pii_id": pii_counts.get("pii_id", 0) > 0,
        "R014_host_blocklist": host in TH.HOST_BLOCKLIST,
        "R015_freshness": warc_ts < pd.Timestamp(TH.FRESHNESS_CUTOFF),
    }


def oracle_labels(pages: pd.DataFrame) -> pd.DataFrame:
    """pages: url, warc_ts, html -> url, keep, scrubbed_text, hit_<rule>..."""
    langid = get_langid()
    ppl = get_ppl()
    rows = []
    for rec in pages.itertuples(index=False):
        text = extract_text(rec.html)
        lang_pred = langid.predict(text)
        log_ppl = ppl.log_ppl(text)  # tokenizes with the shared pytext.tokenize
        scrubbed, counts = scrub_text(text)
        hits = doc_rule_hits(text, rec.url, rec.warc_ts, lang_pred, log_ppl, counts)
        keep = not any(hits[r] for r, sev in TH.RULES if sev == TH.DROP)
        row = {
            "url": rec.url,
            "extracted_text": text,
            "lang_pred": lang_pred,
            "log_ppl": log_ppl,
            "scrubbed_text": scrubbed,
            "keep": keep,
        }
        row.update({f"hit_{r}": hits[r] for r, _ in TH.RULES})
        rows.append(row)
    return pd.DataFrame(rows)
