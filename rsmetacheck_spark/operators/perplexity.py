"""KenLM-style token-bigram language model for perplexity scoring.

Interpolated bigram/unigram/uniform LM over the canonical tokenization
(functions/pytext.tokenize), trained deterministically from a fixed-seed synthetic clean corpus at first
use. Lazy per-executor singleton; scored inside the fused mapInPandas stage
(vectorized Arrow batches, never per-row Python at the Spark API surface).
"""

from __future__ import annotations

import math

from ..functions.pytext import tokenize

_MAX_TOKENS = 200
_L_BI, _L_UNI, _L_UNIF = 0.7, 0.25, 0.05


class PerplexityModel:
    def __init__(self) -> None:
        import numpy as np

        from .. import thresholds as TH
        from ..synth import _prose

        rng = np.random.RandomState(123)
        uni: dict[str, int] = {}
        bi: dict[tuple[str, str], int] = {}
        for lang in TH.KEEP_LANGS:
            for _ in range(60):
                toks = tokenize(_prose(rng, lang, 400))
                for t in toks:
                    uni[t] = uni.get(t, 0) + 1
                for a, b in zip(toks, toks[1:]):
                    bi[(a, b)] = bi.get((a, b), 0) + 1
        self.uni = uni
        self.bi = bi
        self.total = sum(uni.values())
        self.vsize = len(uni) + 1

    def log_ppl(self, text: str, toks: list[str] | None = None) -> float:
        toks = (tokenize(text) if toks is None else toks)[:_MAX_TOKENS]
        if len(toks) < 2:
            return 0.0
        uni, bi, total, vsize = self.uni, self.bi, self.total, self.vsize
        nll = 0.0
        for a, b in zip(toks, toks[1:]):
            ca = uni.get(a, 0)
            p_bi = bi.get((a, b), 0) / ca if ca else 0.0
            p_uni = uni.get(b, 0) / total
            p = _L_BI * p_bi + _L_UNI * p_uni + _L_UNIF / vsize
            nll -= math.log(p)
        return round(nll / (len(toks) - 1), 6)


_MODEL: PerplexityModel | None = None


def get_model() -> PerplexityModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = PerplexityModel()
    return _MODEL
