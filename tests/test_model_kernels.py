"""The table-driven model kernels against the scalar formulas they
replace, bit for bit, and the fused stage's per-row error isolation.

The references below are the per-document formulas the dense tables were
built from: dict lookups per trigram or token pair, `math.log` per pair,
and sums added strictly left to right. The kernels must give the same
unrounded floats for one document and for a batch, on adversarial text."""

from __future__ import annotations

import math
import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.functions import pytext
from rsmetacheck_spark.functions.pytext import tokenize
from rsmetacheck_spark.operators import langid, model_stage, perplexity, scrub
from rsmetacheck_spark.operators.extract import extract_text

# ---------------------------------------------------------------------------
# reference formulas
# ---------------------------------------------------------------------------


def _ref_normalize(text: str) -> str:
    return " " + re.sub(r"[^a-z ]+", " ", text.lower()) + " "


def _ref_langid(langs: list[str]) -> tuple[dict, tuple]:
    """Per-trigram score vectors and the fallback vector, trained as
    langid.LangIdModel trains them, for `langs` (its KEEP_LANGS + zz)."""
    corpora = {
        lang: " ".join((TH.STOPWORDS[lang] + synth.CONTENT_WORDS[lang]) * 3)
        for lang in langs if lang != "zz"
    }
    corpora["zz"] = " ".join(synth.zz_corpus())
    tables, fallback = [], []
    for lang in langs:
        s = _ref_normalize(corpora[lang])
        counts: dict[str, int] = {}
        for i in range(len(s) - 2):
            counts[s[i : i + 3]] = counts.get(s[i : i + 3], 0) + 1
        denom = sum(counts.values()) + 0.1 * (len(counts) + 1)
        tables.append({g: math.log((c + 0.1) / denom) for g, c in counts.items()})
        fallback.append(math.log(0.1 / denom))
    fused = {
        g: tuple(t.get(g, fallback[j]) for j, t in enumerate(tables))
        for g in set().union(*tables)
    }
    return fused, tuple(fallback)


def _ref_scores(ref: tuple[dict, tuple], text: str) -> list[float]:
    fused, fb = ref
    s = _ref_normalize(text[:300])
    acc = [0.0] * len(fb)
    for i in range(len(s) - 2):
        for j, v in enumerate(fused.get(s[i : i + 3], fb)):
            acc[j] += v
    return acc


def _ref_top2(langs: list[str], scores: list[float]) -> list[str]:
    order = sorted(range(len(scores)), key=lambda j: (-scores[j], j))
    return [langs[j] for j in order[:2]]


def _ref_nll(m: perplexity.PerplexityModel, toks: list[str]) -> float:
    toks = toks[:200]
    nll = 0.0
    for a, b in zip(toks, toks[1:]):
        ca = m.uni.get(a, 0)
        p_bi = m.bi.get((a, b), 0) / ca if ca else 0.0
        p_uni = m.uni.get(b, 0) / m.total
        p = 0.7 * p_bi + 0.25 * p_uni + 0.05 / m.vsize
        nll -= math.log(p)
    return nll


def _ref_log_ppl(m: perplexity.PerplexityModel, toks: list[str]) -> float:
    toks = toks[:200]
    if len(toks) < 2:
        return 0.0
    return round(_ref_nll(m, toks) / (len(toks) - 1), 6)


def _assert_kernels_exact(lm, pm, ref, texts: list[str]) -> None:
    toks = [tokenize(t) for t in texts]
    want_scores = [_ref_scores(ref, t) for t in texts]
    assert lm.scores_batch(texts) == want_scores
    assert [lm.scores(t) for t in texts] == want_scores
    want_top2 = [_ref_top2(lm.langs, s) for s in want_scores]
    assert lm.top2_batch(texts) == want_top2
    assert [lm.predict_top2(t) for t in texts] == want_top2
    want_nll = [_ref_nll(pm, k) for k in toks]
    assert pm.nll_batch(toks) == want_nll
    assert [pm.nll_batch([k])[0] for k in toks] == want_nll
    want_ppl = [_ref_log_ppl(pm, k) for k in toks]
    assert pm.log_ppl_batch(toks) == want_ppl
    assert [pm.log_ppl(t) for t in texts] == want_ppl


# ---------------------------------------------------------------------------
# adversarial text
# ---------------------------------------------------------------------------

ADVERSARIAL = [
    "", " ", "\t\n  \r", "a", "ab", "x y", "İ", "K", "ß", "é",
    "İstanbul Kelvin STRASSE straße ǅ ﬁ Ⅻ",
    "ñö à combining ́̂̃ marks",
    "١٢٣ ४५६ ¹²³ unicode digits",
    "İ" * 300,  # lowercases to twice its length before the prefix cut
    " ".join(["the"] * 250),  # more than 200 tokens
    "qzxj vvkk unknownword " * 40,
    "日本語 中文 emoji 🎉 only",
]
VOCAB = sorted(
    {w for ws in TH.STOPWORDS.values() for w in ws}
    | {w for ws in synth.CONTENT_WORDS.values() for w in ws}
)
WORD = st.one_of(
    st.sampled_from(VOCAB), st.sampled_from(["qzx", "Ünknown", "42", "İ", "K"])
)
PROSE = st.lists(WORD, max_size=260).map(" ".join)
TEXT = st.one_of(
    st.sampled_from(ADVERSARIAL),
    st.text(max_size=400),
    PROSE,
    st.tuples(PROSE, st.text(max_size=30), PROSE).map("".join),
)


@pytest.fixture(scope="module")
def models():
    lm, pm = langid.get_model(), perplexity.get_model()
    return lm, pm, _ref_langid(lm.langs)


@given(st.lists(TEXT, min_size=1, max_size=8))
@settings(max_examples=150, deadline=None)
def test_kernels_equal_scalar_formulas(models, texts):
    _assert_kernels_exact(*models, texts)


def test_kernels_exact_on_pages(models):
    texts = [extract_text(h) for h in synth.gen_pages(300, seed=121)["html"]]
    _assert_kernels_exact(*models, texts + ADVERSARIAL)


def test_stage_output_independent_of_pass_size(monkeypatch):
    """The fused stage runs its steps _ROWS rows at a time; cutting a
    batch into passes, some ending on a short or empty page, changes no
    output."""
    pages = pd.DataFrame({"html": [synth.render_html(t) for t in ADVERSARIAL]
                          + list(synth.gen_pages(20, seed=4)["html"]) + [None]})
    want = model_stage._process_batch(pages.copy())
    monkeypatch.setattr(model_stage, "_ROWS", 3)
    got = model_stage._process_batch(pages.copy())
    assert got.to_dict("records") == want.to_dict("records")
    assert len(got) == len(pages) and got["model_error"].isna().all()


def test_kernels_exact_with_two_languages(monkeypatch):
    monkeypatch.setattr(TH, "KEEP_LANGS", ("en", "fr"))
    lm, pm = langid.LangIdModel(), perplexity.PerplexityModel()
    assert lm.langs == ["en", "fr", "zz"]
    texts = [extract_text(h) for h in synth.gen_pages(60, seed=9)["html"]]
    _assert_kernels_exact(lm, pm, _ref_langid(lm.langs), texts + ADVERSARIAL)


@given(st.text(alphabet=st.sampled_from("@a1٢३ \n-."), max_size=12) | st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_scrub_prescreen_is_the_regex_predicate(text):
    old = re.compile(r"[@]|\d\d\d").search(text) is not None
    assert ("@" in text or scrub._D3.search(text) is not None) == old


# ---------------------------------------------------------------------------
# per-row error isolation in the fused stage
# ---------------------------------------------------------------------------

_MARK = "poisonpill"


def _poisoned(fn, batch: bool):
    """fn, raising when its input (the batch, or the one row) holds the
    marked row."""

    def marked(x) -> bool:
        return (_MARK.encode() if isinstance(x, bytes) else _MARK) in x

    def wrapped(*args):
        if any(map(marked, args[-1] if batch else args[:1])):
            raise ValueError("poisoned")
        return fn(*args)

    return wrapped


@pytest.mark.parametrize("owner,name,batch", [
    (model_stage, "extract_text", False),
    (langid.LangIdModel, "top2_batch", True),
    (perplexity.PerplexityModel, "log_ppl_batch", True),
    (model_stage, "scrub_text", False),
    (model_stage, "text_stats", False),
])
def test_failing_row_alone_gets_model_error(monkeypatch, owner, name, batch):
    texts = [extract_text(h) for h in synth.gen_pages(9, seed=5)["html"]]
    texts[4] = f"{texts[4]} {_MARK} contact a@b.co"
    pages = pd.DataFrame({"html": [synth.render_html(t) for t in texts]})
    want = model_stage._process_batch(pages.copy())
    assert want["model_error"].isna().all()
    monkeypatch.setattr(owner, name, _poisoned(getattr(owner, name), batch))
    got = model_stage._process_batch(pages.copy())

    rows = [r for r in range(len(texts)) if r != 4]
    assert got.loc[rows].to_dict("records") == want.loc[rows].to_dict("records")
    bad = got.loc[4].to_dict()
    assert bad.pop("model_error") == "ValueError: poisoned"
    assert bad.pop("html") == pages.loc[4, "html"]
    extracted = "" if name == "extract_text" else texts[4]
    defaults = {
        "extracted_text": extracted, "lang_pred": "", "lang_top2": [],
        "log_ppl": 0.0, "scrubbed_text": "",
        "n_pii_email": 0, "n_pii_phone": 0, "n_pii_id": 0,
        **{f: (0 if typ == "int" else 0.0) for f, typ in pytext.STATS_FIELDS},
    }
    assert bad == defaults
