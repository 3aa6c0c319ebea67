"""Pure-Python per-document text statistics, shared by the fused Arrow
model stage AND the pandas oracle (one formula module — the reference's
divergent-duplicate lesson, SURVEY.md §7 risk list).

Why Python and not Column HOFs for these: Spark higher-order functions
(filter/transform/aggregate lambdas) are interpreted per array element —
the slow path. A fused Arrow pass already holds the text in Python; token
stats cost ~100µs/doc here vs ~ms/doc as interpreted HOF trees. The
codegen-friendly rules (substring/regex/threshold compares) stay native in
operators/rules.py.
"""

from __future__ import annotations

import re

from .. import thresholds as TH

_TOK_FIND_RE = re.compile(r"[a-z0-9]+")
_STOPSET = frozenset(TH.STOPWORD_UNION)

STATS_FIELDS = (
    ("n_words", "int"),
    ("n_tokens", "int"),
    ("sym_ratio", "double"),
    ("stop_frac", "double"),
    ("mean_word_len", "double"),
    ("dup_ngram_frac", "double"),
    ("bullet_frac", "double"),
    ("ellipsis_frac", "double"),
)


_SYM_RE = re.compile("[" + re.escape(TH.SYMBOL_CHARS) + "]")


def tokenize(text: str) -> list[str]:
    """THE canonical tokenization, shared by the stats here, the
    perplexity model (operators/perplexity) and the oracle.

    findall of the token class is PROVABLY the same list as splitting on
    the complement and trimming boundary empties (interior empties cannot
    occur with a + quantifier), and measured ~1.5x faster — this runs
    once per document in the fused model stage."""
    return _TOK_FIND_RE.findall(text.lower())


def text_stats(text: str, toks: list[str] | None = None) -> dict:
    nw = len(text.split())
    if toks is None:
        toks = tokenize(text)
    ntok = len(toks)
    sym = len(_SYM_RE.findall(text))  # one pass, == sum of per-char counts
    n_stop = sum(map(_STOPSET.__contains__, toks))  # C-loop; same count
    # alnum char count == total length of canonical tokens (no extra regex)
    alnum = sum(map(len, toks))
    n = TH.DUP_NGRAM_N
    n_ng = max(ntok - n + 1, 0)
    if n_ng:
        distinct = len(set(zip(*(toks[i:] for i in range(n)))))
        dup_frac = round(1.0 - distinct / n_ng, 6)
    else:
        dup_frac = 0.0
    lns = text.split("\n")
    n_lines = max(len(lns), 1)
    return {
        "n_words": nw,
        "n_tokens": ntok,
        "sym_ratio": round(sym / max(nw, 1), 6),
        "stop_frac": round(n_stop / max(ntok, 1), 6),
        "mean_word_len": round(alnum / max(ntok, 1), 6),
        "dup_ngram_frac": dup_frac,
        "bullet_frac": round(
            sum(1 for l in lns if l.lstrip().startswith(("-", "*", "•"))) / n_lines, 6
        ),
        "ellipsis_frac": round(
            sum(1 for l in lns if l.rstrip().endswith(("...", "…"))) / n_lines, 6
        ),
    }
