"""KenLM-style token-bigram language model for perplexity scoring.

Interpolated bigram/unigram/uniform LM over the canonical tokenization
(functions/pytext.tokenize), trained deterministically from a fixed-seed synthetic clean corpus at first
use. Lazy per-executor singleton, scored inside the fused mapInPandas stage
a whole Arrow batch at a time, with no per-pair Python: training ends in
one dense table of `-log p` over every (previous, next) token-id pair, so
a batch maps each document's tokens to ids (one C-level dict lookup per
token) and gathers all its pairs' values with one NumPy index. One
document is a batch of one (`log_ppl`): the same code and arithmetic.
"""

from __future__ import annotations

import math
from itertools import repeat

import numpy as np

from ..functions.pytext import tokenize

_MAX_TOKENS = 200
_L_BI, _L_UNI, _L_UNIF = 0.7, 0.25, 0.05
_ID_DTYPE = np.dtype("<u4")


def _id_bytes(i: int) -> bytes:
    return np.array(i, _ID_DTYPE).tobytes()


class PerplexityModel:
    def __init__(self) -> None:
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
        self._build_table()

    def _build_table(self) -> None:
        """`self.nlp[a, b]` = -log p(b | a) for token ids a, b. Ids follow
        the vocabulary; id V stands for every unknown token (count 0: no
        bigram, no unigram mass) and id V+1 pads a short document, its
        row and column 0.0 so padding adds nothing to a sum.

        p is the interpolation 0.7·p_bi + 0.25·p_uni + 0.05/vsize, evaluated
        elementwise in that order (count/count divisions of exact integers,
        so each term rounds as the scalar formula's does), and the log is
        `math.log` per entry, not np.log, whose last bit can differ."""
        vocab = list(self.uni)
        V = len(vocab)
        ids = {t: i for i, t in enumerate(vocab)}
        cnt = np.array([self.uni[t] for t in vocab] + [0], dtype=np.float64)
        # p is a view of the table, filled in place (the log row by row)
        # so that the build holds no second copy of it
        self.nlp = np.zeros((V + 2, V + 2))
        p = self.nlp[: V + 1, : V + 1]
        for (a, b), c in self.bi.items():
            p[ids[a], ids[b]] = c
        np.divide(p, cnt[:, None], out=p, where=cnt[:, None] > 0)
        p *= _L_BI
        p += _L_UNI * (cnt / self.total)
        p += _L_UNIF / self.vsize
        for row in p:
            row[:] = [-math.log(x) for x in row.tolist()]
        self._id_bytes = {t: _id_bytes(i) for t, i in ids.items()}
        self._unk_bytes, self._pad_bytes = _id_bytes(V), _id_bytes(V + 1)

    def nll_batch(self, docs: list[list[str]]) -> list[float]:
        """Unrounded negative log-likelihood of each document's first
        _MAX_TOKENS tokens: the sum of -log p over its adjacent pairs,
        added in token order (0.0 for fewer than two tokens). Its arrays
        grow with the batch: callers bound the batch size."""
        docs = [d[:_MAX_TOKENS] for d in docs]
        width = max(map(len, docs), default=0)
        if width < 2:
            return [0.0] * len(docs)
        # each token becomes its 4-byte id, each document is padded to one
        # width, and the joined bytes are read as an (n, width) id array
        get, unk, pad = self._id_bytes.get, self._unk_bytes, self._pad_bytes
        ids = np.frombuffer(
            b"".join(
                b"".join(map(get, d, repeat(unk))) + pad * (width - len(d))
                for d in docs
            ),
            _ID_DTYPE,
        ).reshape(len(docs), width)
        vals = self.nlp[ids[:, :-1], ids[:, 1:]]
        # cumsum along the pair axis adds each row strictly left to right
        # (out[j] = out[j-1] + x[j]), whatever the batch size; a reduce
        # (np.sum) may add pairwise and differ in the last bit
        return np.cumsum(vals, axis=1, out=vals)[:, -1].tolist()

    def log_ppl_batch(self, docs: list[list[str]]) -> list[float]:
        """Per-token log-perplexity of each tokenized document, rounded to
        6 places (Python's round, correctly rounded)."""
        return [
            round(nll / (min(len(d), _MAX_TOKENS) - 1), 6) if len(d) >= 2 else 0.0
            for nll, d in zip(self.nll_batch(docs), docs)
        ]

    def log_ppl(self, text: str, toks: list[str] | None = None) -> float:
        return self.log_ppl_batch([tokenize(text) if toks is None else toks])[0]


_MODEL: PerplexityModel | None = None


def get_model() -> PerplexityModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = PerplexityModel()
    return _MODEL
