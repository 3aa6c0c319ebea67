"""Quality rules over pre-computed feature columns.

Split of labor (SURVEY.md §2.9): token-level stats arrive from the fused
Arrow stage (functions/pytext.py explains why); everything HERE is a native
SQL expression — threshold compares, substring probes, URL/host and
timestamp rules — all inside whole-stage codegen. Each rule is
(metric, hit) SQL text (sqltext.py: one parse per column, every threshold
a literal that reads back exactly); registry order mirrors the reference's
fixed detector list (detect_pitfalls_main.py:281-311) since rule order is
part of output parity.

Reference shapes implemented (SURVEY.md §2.3):
 - doc length      <- P010's line-count check (p010.py:73)
 - symbol ratio    <- P003's separator-pattern shape (p003.py:6-29)
 - stopword frac   <- W001's ratio shape (w001.py:114-115)
 - dup n-grams     <- hashed-shingle repetition (SURVEY §2.5 dedup precursor)
 - boilerplate     <- P002 placeholder-regex alternation (p002.py:30-59)
 - host blocklist  <- P004 URL classifier (p004.py:7-45)
 - freshness       <- W002 date-delta rule (w002.py:104-145)
"""

from __future__ import annotations

from .. import thresholds as TH
from .sqltext import number, quote


def _in(col: str, values) -> str:
    # an empty IN list is a syntax error in SQL text; no value is in it
    return f"{col} IN ({', '.join(map(quote, values))})" if values else "false"


def rule_metrics() -> dict[str, tuple[str, str]]:
    """rule_code -> (metric_sql, hit_sql), SQL text over the model-stage
    columns (url, warc_ts, lang_pred, log_ppl, n_pii_*, the pytext stats)
    plus `__lowtext`, the lowercased extracted text that verdicts.py
    names once per row.

    Boilerplate probes `contains` the lowered text: a byte search, where
    `instr` steps through characters to return a position; a valid UTF-8
    phrase can only match valid UTF-8 text at a character boundary, so
    both give the same answer (16,000 docs on 4 cores: the probes took
    0.216 s with instr, 0.036 s this way, with identical hits)."""
    boiler = " OR ".join(
        f"contains(__lowtext, {quote(p)})" for p in TH.BOILERPLATE_PHRASES
    ) or "false"
    host = f"regexp_extract(url, {quote(r'^https?://([^/]+)')}, 1)"

    def above(col: str, limit) -> tuple[str, str]:
        return col, f"{col} > {number(limit)}"

    return {
        "R001_doc_length": (
            "CAST(n_words AS DOUBLE)",
            f"n_words < {number(TH.MIN_WORDS)} OR n_words > {number(TH.MAX_WORDS)}",
        ),
        "R002_symbol_ratio": above("sym_ratio", TH.MAX_SYMBOL_RATIO),
        "R003_stopword_fraction": (
            "stop_frac", f"stop_frac < {number(TH.MIN_STOPWORD_FRAC)}"
        ),
        "R004_mean_word_length": (
            "mean_word_len",
            f"mean_word_len < {number(TH.MIN_MEAN_WORD_LEN)}"
            f" OR mean_word_len > {number(TH.MAX_MEAN_WORD_LEN)}",
        ),
        "R005_dup_ngram_fraction": above("dup_ngram_frac", TH.MAX_DUP_NGRAM_FRAC),
        "R006_boilerplate_phrase": (
            f"CASE WHEN {boiler} THEN 1.0D ELSE 0.0D END", boiler
        ),
        "R007_bullet_ratio": above("bullet_frac", TH.MAX_BULLET_LINE_FRAC),
        "R008_ellipsis_ratio": above("ellipsis_frac", TH.MAX_ELLIPSIS_LINE_FRAC),
        "R009_langid": ("0.0D", f"NOT ({_in('lang_pred', TH.KEEP_LANGS)})"),
        "R010_perplexity": above("log_ppl", TH.MAX_LOG_PPL),
        "R011_pii_email": ("CAST(n_pii_email AS DOUBLE)", "n_pii_email > 0"),
        "R012_pii_phone": ("CAST(n_pii_phone AS DOUBLE)", "n_pii_phone > 0"),
        "R013_pii_id": ("CAST(n_pii_id AS DOUBLE)", "n_pii_id > 0"),
        "R014_host_blocklist": ("0.0D", _in(host, TH.HOST_BLOCKLIST)),
        "R015_freshness": (
            "0.0D",
            f"warc_ts < CAST({quote(TH.FRESHNESS_CUTOFF)} AS TIMESTAMP)",
        ),
    }
