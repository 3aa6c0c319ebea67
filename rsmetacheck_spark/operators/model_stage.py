"""Fused Python model stage: extract + langid + perplexity + PII scrub +
token-level text stats in ONE mapInPandas pass.

Why fused: every Python stage pays an Arrow JVM->Python->JVM round trip for
the full text column. Doing all the Python-side work in a single pass
transfers each document's bytes across the boundary once, then hands back
narrow derived columns. Token stats ride along because they need the
tokenization anyway (functions/pytext.py explains why they are not
interpreted-HOF Column trees). Models are lazy per-executor singletons
(SURVEY.md §4 "Per-executor model residency"). Per-row error isolation
mirrors detect_pitfalls_main.py:356-358: a failing row yields null scores +
an `model_error` string instead of killing the task.

Scale: embarrassingly parallel, zero shuffle; it runs at whatever
partitioning its input has (for a file scan, size-bounded by
spark.sql.files.maxPartitionBytes) — plans/pipeline.py never repartitions
the input in front of it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.pytext import STATS_FIELDS, text_stats, tokenize
from .extract import extract_text
from .langid import get_model as get_langid
from .perplexity import get_model as get_ppl
from .scrub import scrub_text

MODEL_COLS = (
    "extracted_text string, lang_pred string, lang_top2 array<string>, "
    "log_ppl double, "
    "scrubbed_text string, n_pii_email int, n_pii_phone int, n_pii_id int, "
    + ", ".join(f"{name} {typ}" for name, typ in STATS_FIELDS)
    + ", model_error string"
)

_ZERO_STATS = {name: (0 if typ == "int" else 0.0) for name, typ in STATS_FIELDS}


def _process_batch(pdf: pd.DataFrame, src_col: str = "html") -> pd.DataFrame:
    langid = get_langid()
    ppl = get_ppl()
    n = len(pdf)
    out: dict[str, list] = {
        "extracted_text": [""] * n,
        "lang_pred": [""] * n,
        "lang_top2": [[] for _ in range(n)],
        "log_ppl": [0.0] * n,
        "scrubbed_text": [""] * n,
        "n_pii_email": [0] * n,
        "n_pii_phone": [0] * n,
        "n_pii_id": [0] * n,
        "model_error": [None] * n,
    }
    for name, _typ in STATS_FIELDS:
        out[name] = [_ZERO_STATS[name]] * n
    for i, raw in enumerate(pdf[src_col].tolist()):
        try:
            if src_col == "html":
                text = extract_text(raw) if raw is not None else ""
            else:  # pre-extracted text input (--skip-extract analog)
                text = raw if raw is not None else ""
            out["extracted_text"][i] = text
            toks = tokenize(text)  # once: shared by ppl + stats
            top2 = langid.predict_top2(text)
            out["lang_pred"][i] = top2[0]
            out["lang_top2"][i] = top2
            out["log_ppl"][i] = ppl.log_ppl(text, toks)
            scrubbed, counts = scrub_text(text)
            out["scrubbed_text"][i] = scrubbed
            out["n_pii_email"][i] = counts.get("pii_email", 0)
            out["n_pii_phone"][i] = counts.get("pii_phone", 0)
            out["n_pii_id"][i] = counts.get("pii_id", 0)
            for name, val in text_stats(text, toks).items():
                out[name][i] = val
            # SPARSE text contract (applied last, so error rows keep the
            # full value): extracted_text is emitted ONLY where the scrub
            # changed it (any PII count > 0 — a zero-cost signal); null
            # means "identical to scrubbed_text". This halves the text
            # bytes crossing the Arrow boundary, the downstream shuffle,
            # and the sink; consumers restore it with
            # coalesce(extracted_text, scrubbed_text)
            # (plans.pipeline.decode_from_sink).
            # any-replacement test over ALL pattern names, not the three
            # stock ones: a custom --threshold PII_PATTERNS override must
            # not trick the sparse contract into nulling text the scrub
            # actually changed
            if not any(counts.values()):
                out["extracted_text"][i] = None
        except Exception as exc:  # error isolation per row, never fail the task
            out["model_error"][i] = f"{type(exc).__name__}: {exc}"
    for k, v in out.items():
        pdf[k] = v
    return pdf


def apply_model_stage(df: DataFrame, text_input: bool = False) -> DataFrame:
    """Append model + stats columns. The payload column (`html`, or
    `text` when `text_input` — the reference's --skip-somef analog:
    extraction already happened upstream, everything else still runs) is
    consumed inside the stage and NOT re-emitted: keeping it would triple
    the text-sized bytes crossing the Arrow boundary and the downstream
    shuffle (payload + extracted + scrubbed), and memory bandwidth is the
    measured limiter of multi-core scaling for this stage."""
    src_col = "text" if text_input else "html"
    keep_cols = [f for f in df.schema.fields if f.name != src_col]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_cols)
    out_schema = schema + ", " + MODEL_COLS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _process_batch(pdf, src_col).drop(columns=[src_col])

    return df.mapInPandas(run, schema=out_schema)
