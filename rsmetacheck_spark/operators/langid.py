"""fastText-style character-trigram language identifier.

A linear char-n-gram scorer with per-language trigram log-probabilities,
trained deterministically at first use from the synth vocabulary (no
external data). The trained model is one dense table, a row of
per-language scores for each trigram over the normalized alphabet, so a
batch of texts is scored by coding each normalized head as integers and
gathering rows — no per-trigram dict lookup. Runs as a lazily-initialized
per-executor singleton, a batch at a time, inside the fused mapInPandas
stage — the architectural slot of the reference's
effectful per-row detectors (p008.py:84-168: per-row scoring with per-rule
thresholds), minus the network.
"""

from __future__ import annotations

import math
import re

import numpy as np

from .. import thresholds as TH

_NORM_RE = re.compile(r"[^a-z ]+")
_PREFIX_CHARS = 300  # score only the head — plenty for page-level langid
_ALPHA = 0.1
# A normalized text holds only [a-z ]; coded ' ' -> 0, 'a'..'z' -> 1..26,
# and _PAD -> 27 for the padding that evens out a batch's lengths. A
# trigram's code is base-28 over its characters.
_PAD = "#"
_CHAR_CODE = bytes.maketrans(
    b" abcdefghijklmnopqrstuvwxyz" + _PAD.encode(), bytes(range(28))
)
_N_GRAMS = 28**3


def _normalize(text: str) -> str:
    return " " + _NORM_RE.sub(" ", text.lower()) + " "


class LangIdModel:
    def __init__(self) -> None:
        from ..synth import CONTENT_WORDS, zz_corpus

        corpora = {
            lang: " ".join((TH.STOPWORDS[lang] + CONTENT_WORDS[lang]) * 3)
            for lang in TH.KEEP_LANGS
        }
        corpora["zz"] = " ".join(zz_corpus())
        self.langs = list(corpora)
        tables: list[dict[str, float]] = []
        fallback: list[float] = []
        for lang in self.langs:
            s = _normalize(corpora[lang])
            counts: dict[str, int] = {}
            for i in range(len(s) - 2):
                g = s[i : i + 3]
                counts[g] = counts.get(g, 0) + 1
            total = sum(counts.values())
            vocab = len(counts) + 1
            denom = total + _ALPHA * vocab
            tables.append(
                {g: math.log((c + _ALPHA) / denom) for g, c in counts.items()}
            )
            fallback.append(math.log(_ALPHA / denom))
        # one dense row of per-language scores for every trigram code:
        # fallback where a language never saw the trigram, and all zeros
        # for a trigram that holds padding, so padding adds nothing
        self.table = np.tile(np.array(fallback), (_N_GRAMS, 1))
        code = np.arange(_N_GRAMS)
        padded = (code // 784 == 27) | (code // 28 % 28 == 27) | (code % 28 == 27)
        self.table[padded] = 0.0
        for j, t in enumerate(tables):
            for g, v in t.items():
                c = g.encode("ascii").translate(_CHAR_CODE)
                self.table[c[0] * 784 + c[1] * 28 + c[2], j] = v

    def scores_batch(self, texts: list[str]) -> list[list[float]]:
        """Per-language score of each text's normalized head: the sum of
        its trigrams' log-probabilities, added in text order. Its arrays
        grow with the batch (~12 KB a text): callers bound the batch
        size."""
        norm = [_normalize(t[:_PREFIX_CHARS]) for t in texts]
        width = max(map(len, norm), default=0)
        if width < 3:
            return [[0.0] * len(self.langs) for _ in texts]
        # pad every text to one width, code it as an (n, width) array, and
        # code the trigram starting at each offset
        c = np.frombuffer(
            "".join(s.ljust(width, _PAD) for s in norm).encode("ascii")
            .translate(_CHAR_CODE), np.uint8,
        ).reshape(len(norm), width).astype(np.intp)
        vals = self.table[c[:, :-2] * 784 + c[:, 1:-1] * 28 + c[:, 2:]]
        # cumsum along the trigram axis adds each (text, language) cell
        # strictly left to right, for any batch size; builtin sum() is
        # compensated from Python 3.12 and a NumPy reduce may add pairwise
        return np.cumsum(vals, axis=1, out=vals)[:, -1].tolist()

    def scores(self, text: str) -> list[float]:
        return self.scores_batch([text])[0]

    def top2_batch(self, texts: list[str]) -> list[list[str]]:
        """predict_top2 of each text."""
        langs = self.langs
        return [
            [langs[j] for j in sorted(range(len(s)), key=lambda j: (-s[j], j))[:2]]
            for s in self.scores_batch(texts)
        ]

    def predict(self, text: str) -> str:
        return self.predict_top2(text)[0]

    def predict_top2(self, text: str) -> list[str]:
        """Best and runner-up languages, ordered — the multi-valued
        per-document language list (the reference's repos carry several
        target languages, detect_pitfalls_main.py:320-323; per-language
        metrics count a hit once per listed language, 346-351)."""
        return self.top2_batch([text])[0]


_MODEL: LangIdModel | None = None


def get_model() -> LangIdModel:
    global _MODEL
    if _MODEL is None:
        _MODEL = LangIdModel()
    return _MODEL
