"""Fused Python model stage: extract + langid + perplexity + PII scrub +
token-level text stats in ONE mapInPandas pass.

Why fused: every Python stage pays an Arrow JVM->Python->JVM round trip for
the full text column. Doing all the Python-side work in a single pass
transfers each document's bytes across the boundary once, then hands back
narrow derived columns. Token stats ride along because they need the
tokenization anyway (functions/pytext.py explains why they are not
interpreted-HOF Column trees). Models are lazy per-executor singletons
(SURVEY.md §4 "Per-executor model residency").

The Arrow batch is worked in passes of _ROWS rows, each step over the
whole pass: extraction, tokenization, the scrub and the stats as a Python
loop over the documents, langid and perplexity as table-driven NumPy
kernels over all of them at once (their dense trigram and token-pair
tables replace per-row dict lookups and logs).
Per-row error isolation mirrors detect_pitfalls_main.py:356-358: if a step
raises on the batch, it runs again row by row, and only a row that raises
gets a `model_error` string and default scores instead of killing the task.

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
# rows per pass of the steps below: an Arrow batch holds up to
# maxRecordsPerBatch (50k) rows, and a pass keeps every row's token list
# (~30 KB a page) and the kernels' gather arrays (~12 KB a page) alive.
# At 64 a worker's peak RSS stays within ~3 MB of the per-row loop's, and
# the kernels' fixed NumPy cost is well under 1 us a row.
_ROWS = 64


def _per_batch(kernel, args: list, errors: list) -> list:
    """`kernel(list) -> list` over args[i] of every row without an error
    yet, as one batch; the results, by row (None where no result). If the
    batch raises, it runs again row by row, and only the rows that raise
    get an error (the first step to fail names it)."""
    rows = [i for i, e in enumerate(errors) if e is None]
    res: list = [None] * len(args)
    try:
        for i, r in zip(rows, kernel([args[i] for i in rows]), strict=True):
            res[i] = r
    except Exception:
        for i in rows:
            try:
                res[i] = kernel([args[i]])[0]
            except Exception as exc:  # error isolation per row, never fail the task
                errors[i] = f"{type(exc).__name__}: {exc}"
    return res


def _text(raw, src_col: str) -> str:
    if raw is None:
        return ""
    # pre-extracted text input is the --skip-extract analog
    return extract_text(raw) if src_col == "html" else raw


def _process_batch(pdf: pd.DataFrame, src_col: str = "html") -> pd.DataFrame:
    raws = pdf[src_col].tolist()
    cols = _process_rows(raws[:_ROWS], src_col)
    for lo in range(_ROWS, len(raws), _ROWS):
        for k, v in _process_rows(raws[lo : lo + _ROWS], src_col).items():
            cols[k] += v
    for k, v in cols.items():
        pdf[k] = v
    return pdf


def _process_rows(raws: list, src_col: str) -> dict[str, list]:
    langid = get_langid()
    ppl = get_ppl()
    n = len(raws)
    errors: list[str | None] = [None] * n
    texts = _per_batch(lambda rs: [_text(r, src_col) for r in rs], raws, errors)
    toks = _per_batch(lambda ts: list(map(tokenize, ts)), texts, errors)  # once: ppl + stats
    top2 = _per_batch(langid.top2_batch, texts, errors)
    log_ppl = _per_batch(ppl.log_ppl_batch, toks, errors)
    scrubs = _per_batch(lambda ts: list(map(scrub_text, ts)), texts, errors)
    stats = _per_batch(
        lambda a: [text_stats(t, k) for t, k in a], list(zip(texts, toks)), errors
    )
    out: dict[str, list] = {
        "extracted_text": [""] * n,
        "lang_pred": [""] * n,
        "lang_top2": [[] for _ in range(n)],
        "log_ppl": [0.0] * n,
        "scrubbed_text": [""] * n,
        "n_pii_email": [0] * n,
        "n_pii_phone": [0] * n,
        "n_pii_id": [0] * n,
        "model_error": errors,
    }
    for name, _typ in STATS_FIELDS:
        out[name] = [_ZERO_STATS[name]] * n
    for i in range(n):
        if errors[i] is not None:
            # a failing row keeps its full text if extraction succeeded,
            # and every other column's default
            out["extracted_text"][i] = texts[i] or ""
            continue
        scrubbed, counts = scrubs[i]
        out["lang_pred"][i] = top2[i][0]
        out["lang_top2"][i] = top2[i]
        out["log_ppl"][i] = log_ppl[i]
        out["scrubbed_text"][i] = scrubbed
        out["n_pii_email"][i] = counts.get("pii_email", 0)
        out["n_pii_phone"][i] = counts.get("pii_phone", 0)
        out["n_pii_id"][i] = counts.get("pii_id", 0)
        for name, val in stats[i].items():
            out[name][i] = val
        # SPARSE text contract: extracted_text is emitted ONLY where the
        # scrub changed it (any PII count > 0 — a zero-cost signal); null
        # means "identical to scrubbed_text". This halves the text
        # bytes crossing the Arrow boundary, the downstream shuffle,
        # and the sink; consumers restore it with
        # coalesce(extracted_text, scrubbed_text)
        # (plans.pipeline.decode_from_sink).
        # any-replacement test over ALL pattern names, not the three
        # stock ones: a custom --threshold PII_PATTERNS override must
        # not trick the sparse contract into nulling text the scrub
        # actually changed
        out["extracted_text"][i] = texts[i] if any(counts.values()) else None
    return out


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
