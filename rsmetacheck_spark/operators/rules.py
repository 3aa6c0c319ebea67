"""Quality rules over pre-computed feature columns.

Split of labor (SURVEY.md §2.9): token-level stats arrive from the fused
Arrow stage (functions/pytext.py explains why); everything HERE is a native
Column expression — threshold compares, substring probes, URL/host and
timestamp rules — all inside whole-stage codegen. Each rule returns
(metric, hit); registry order mirrors the reference's fixed detector list
(detect_pitfalls_main.py:281-311) since rule order is part of output parity.

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

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import thresholds as TH


def url_host(url: Column) -> Column:
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def boilerplate_hit(text: Column, lowered: bool = False) -> Column:
    """`lowered=True` means `text` is ALREADY lowercased (a named
    column): without it, Catalyst inlines `lower(text)` into every
    phrase's probe, lowercasing the full text |PHRASES| times per row —
    measured seconds per million docs in the verdict stage.

    `contains` is a byte search, where `instr` steps through characters
    to return a position; a valid UTF-8 phrase can only match valid UTF-8
    text at a character boundary, so both give the same answer (16,000
    docs on 4 cores: the probes took 0.216 s with instr, 0.036 s this
    way, with identical hits)."""
    low = text if lowered else F.lower(text)
    hit = F.lit(False)
    for p in TH.BOILERPLATE_PHRASES:
        hit = hit | low.contains(p)
    return hit


def rule_metrics(c: dict[str, Column]) -> dict[str, tuple[Column, Column]]:
    """rule_code -> (metric, hit). `c` maps column name -> Column for:
    url, warc_ts, extracted_text, lang_pred, log_ppl, n_pii_*, and the
    pytext stats (n_words, sym_ratio, stop_frac, mean_word_len,
    dup_ngram_frac, bullet_frac, ellipsis_frac).
    """
    nw = c["n_words"]
    # prefer a caller-materialized lowered-text column (verdicts.py names
    # one) so the lowercase pass runs once per row, not once per phrase
    if "__lowtext" in c:
        boiler = boilerplate_hit(c["__lowtext"], lowered=True)
    else:
        boiler = boilerplate_hit(c["extracted_text"])
    return {
        "R001_doc_length": (
            nw.cast("double"), (nw < TH.MIN_WORDS) | (nw > TH.MAX_WORDS)
        ),
        "R002_symbol_ratio": (c["sym_ratio"], c["sym_ratio"] > TH.MAX_SYMBOL_RATIO),
        "R003_stopword_fraction": (
            c["stop_frac"], c["stop_frac"] < TH.MIN_STOPWORD_FRAC
        ),
        "R004_mean_word_length": (
            c["mean_word_len"],
            (c["mean_word_len"] < TH.MIN_MEAN_WORD_LEN)
            | (c["mean_word_len"] > TH.MAX_MEAN_WORD_LEN),
        ),
        "R005_dup_ngram_fraction": (
            c["dup_ngram_frac"], c["dup_ngram_frac"] > TH.MAX_DUP_NGRAM_FRAC
        ),
        "R006_boilerplate_phrase": (
            F.when(boiler, 1.0).otherwise(0.0), boiler
        ),
        "R007_bullet_ratio": (
            c["bullet_frac"], c["bullet_frac"] > TH.MAX_BULLET_LINE_FRAC
        ),
        "R008_ellipsis_ratio": (
            c["ellipsis_frac"], c["ellipsis_frac"] > TH.MAX_ELLIPSIS_LINE_FRAC
        ),
        "R009_langid": (F.lit(0.0), ~c["lang_pred"].isin(*TH.KEEP_LANGS)),
        "R010_perplexity": (c["log_ppl"], c["log_ppl"] > TH.MAX_LOG_PPL),
        "R011_pii_email": (c["n_pii_email"].cast("double"), c["n_pii_email"] > 0),
        "R012_pii_phone": (c["n_pii_phone"].cast("double"), c["n_pii_phone"] > 0),
        "R013_pii_id": (c["n_pii_id"].cast("double"), c["n_pii_id"] > 0),
        "R014_host_blocklist": (
            F.lit(0.0), url_host(c["url"]).isin(*TH.HOST_BLOCKLIST)
        ),
        "R015_freshness": (
            F.lit(0.0), c["warc_ts"] < F.lit(TH.FRESHNESS_CUTOFF).cast("timestamp")
        ),
    }
