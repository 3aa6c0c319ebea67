"""Compiled-regex PII scrub pass (P014/P018 shape: pattern match ->
structured evidence; json_ld_utils.py:447-493 shape for the detail map).

Regexes compile ONCE per worker at module import — fixing the reference's
per-call recompiles (p002.py:55-57). The scrub is a pure function shared
verbatim by the pipeline's mapInPandas stage and the pandas oracle, so
`scrubbed_text` is byte-identical by construction.
"""

from __future__ import annotations

import re

from .. import thresholds as TH

COMPILED = tuple(
    (name, re.compile(pattern), repl) for name, pattern, repl in TH.PII_PATTERNS
)

# prescreen: every STOCK PII pattern needs '@' or a 3-digit run somewhere;
# most documents have neither, so two cheap scans skip the three subn
# passes. `"@" in text` is a C substring scan, about twice as fast as one
# regex alternation over both; `\d` keeps its Unicode-digit meaning. The
# shortcut is sound only for the default patterns — a runtime override
# (--threshold PII_PATTERNS=...) disables it.
_D3 = re.compile(r"\d\d\d")
_PRESCREEN_OK = "PII_PATTERNS" not in TH.OVERRIDDEN

_ZERO = {name: 0 for name, _p, _r in TH.PII_PATTERNS}


def scrub_text(text: str) -> tuple[str, dict[str, int]]:
    if _PRESCREEN_OK and not ("@" in text or _D3.search(text)):
        return text, dict(_ZERO)
    counts: dict[str, int] = {}
    for name, rx, repl in COMPILED:
        text, n = rx.subn(repl, text)
        counts[name] = n
    return text, counts
