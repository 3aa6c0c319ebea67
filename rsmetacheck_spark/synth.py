"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generation is a pure function of (seed, n_docs): every row is derived from
its own `RandomState(seed * 1_000_003 + i)` so subsets/scales agree and the
oracle can be regenerated at will. No external data, no network — mirroring
how the reference's tests mock all I/O (test_p015.py:34-49).

`html` is the utf-8 encoding of a fixed template wrapping `text`; the
extract stage (operators/extract.py) must invert it byte-identically.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from . import thresholds as TH

# ---------------------------------------------------------------------------
# Vocabulary — content words per language (stopwords come from thresholds)
# ---------------------------------------------------------------------------

CONTENT_WORDS = {
    "en": (
        "system data result value model table research water house market power "
        "energy number report method process science history nature question "
        "answer change course family friend garden window street music light "
        "mountain river forest winter summer morning evening student teacher "
        "doctor engine bridge signal memory letter paper stone metal glass "
        "plant animal bird fish cloud storm field grain bread fruit"
    ).split(),
    "de": (
        "haus wasser strasse berg fluss wald winter sommer morgen abend schule "
        "lehrer arzt maschine bruecke signal speicher brief papier stein metall "
        "glas pflanze tier vogel fisch wolke sturm feld korn brot frucht stadt "
        "land markt kraft energie zahl bericht verfahren wissenschaft geschichte "
        "natur frage antwort familie freund garten fenster musik licht"
    ).split(),
    "fr": (
        "maison eau rue montagne riviere foret hiver ete matin soir ecole "
        "professeur medecin machine pont signal memoire lettre papier pierre "
        "metal verre plante animal oiseau poisson nuage tempete champ grain "
        "pain fruit ville pays marche force energie nombre rapport methode "
        "science histoire nature question reponse famille ami jardin fenetre "
        "musique lumiere"
    ).split(),
    "es": (
        "casa agua calle montana rio bosque invierno verano manana tarde escuela "
        "maestro medico maquina puente senal memoria carta papel piedra metal "
        "vidrio planta animal pajaro pez nube tormenta campo grano pan fruta "
        "ciudad pais mercado fuerza energia numero informe metodo ciencia "
        "historia naturaleza pregunta respuesta familia amigo jardin ventana "
        "musica luz"
    ).split(),
}

_ZZ_CONS = list("bcdfghjklmnpqrstvwxz")
_ZZ_VOW = list("aeiouy")

# Document classes and shares (FIXTURES.md §1)
CLASSES = (
    ("clean", 0.50),
    ("length", 0.10),
    ("symbol", 0.08),
    ("repetitive", 0.08),
    ("lowstop", 0.06),
    ("boilerplate", 0.06),
    ("nonlang", 0.06),
    ("pii", 0.06),
)
_CUM = np.cumsum([s for _, s in CLASSES])

HOSTS = (
    ["big-portal.example", "mega-news.example", "hub-site.example"]  # hot hosts
    + [f"site{i:02d}.example" for i in range(44)]
    + list(TH.HOST_BLOCKLIST)
)
# Zipf-skewed host weights: 3 hot hosts hold ~30% of rows.
_HW = np.array([0.12, 0.10, 0.08] + [0.64 / 44] * 44 + [0.02, 0.02, 0.02])
_HW = _HW / _HW.sum()

_TS_LO = pd.Timestamp("2024-01-01").value // 10**9
_TS_HI = pd.Timestamp("2026-01-01").value // 10**9


def _zz_word(rng: np.random.RandomState) -> str:
    n = rng.randint(2, 5)
    return "".join(
        _ZZ_CONS[rng.randint(len(_ZZ_CONS))] + _ZZ_VOW[rng.randint(len(_ZZ_VOW))]
        for _ in range(n)
    )


def zz_corpus() -> list[str]:
    """Fixed gibberish corpus used to train the langid model's zz class."""
    rng = np.random.RandomState(7)
    return [_zz_word(rng) for _ in range(4000)]


# share of stopwords in generated prose
STOP_FRAC = 0.4


def _sentence(rng: np.random.RandomState, lang: str) -> str:
    n = rng.randint(5, 16)
    sw, cw = TH.STOPWORDS[lang], CONTENT_WORDS[lang]
    words = [
        sw[rng.randint(len(sw))] if rng.rand() < STOP_FRAC else cw[rng.randint(len(cw))]
        for _ in range(n)
    ]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _prose(rng: np.random.RandomState, lang: str, n_words: int) -> str:
    paras, words_done, sents = [], 0, []
    while words_done < n_words:
        s = _sentence(rng, lang)
        sents.append(s)
        words_done += len(s.split())
        if len(sents) >= rng.randint(3, 7):
            paras.append(" ".join(sents))
            sents = []
    if sents:
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _pick_lang(rng: np.random.RandomState) -> str:
    r = rng.rand()
    return "en" if r < 0.7 else ("de" if r < 0.8 else ("fr" if r < 0.9 else "es"))


def _gen_text(rng: np.random.RandomState, cls: str) -> tuple[str, str]:
    """Returns (text, lang)."""
    lang = _pick_lang(rng)
    if cls == "clean":
        return _prose(rng, lang, rng.randint(100, 800)), lang
    if cls == "length":
        if rng.rand() < 0.8:
            return _prose(rng, lang, rng.randint(5, 40)), lang
        return _prose(rng, lang, rng.randint(5200, 6500)), lang
    if cls == "symbol":
        base = _prose(rng, lang, rng.randint(100, 300)).split()
        syms = ["#", "…", "{}", "[]", "<>", "|", "\\", "^", "~~"]
        out = []
        for w in base:
            out.append(w)
            if rng.rand() < 0.35:
                out.append(syms[rng.randint(len(syms))])
        return " ".join(out), lang
    if cls == "repetitive":
        phrase = _sentence(rng, lang)[:-1]
        reps = rng.randint(20, 60)
        return " ".join([phrase] * reps) + ".", lang
    if cls == "lowstop":
        cw = CONTENT_WORDS[lang]
        n = rng.randint(100, 400)
        words = [cw[rng.randint(len(cw))] for _ in range(n)]
        return " ".join(words), lang
    if cls == "boilerplate":
        body = _prose(rng, lang, rng.randint(100, 400))
        phrase = TH.BOILERPLATE_PHRASES[rng.randint(len(TH.BOILERPLATE_PHRASES))]
        paras = body.split("\n\n")
        paras.insert(rng.randint(len(paras) + 1), phrase.capitalize() + ".")
        return "\n\n".join(paras), lang
    if cls == "nonlang":
        n = rng.randint(100, 300)
        words = [_zz_word(rng) for _ in range(n)]
        sents, i = [], 0
        while i < n:
            k = rng.randint(5, 14)
            sents.append(" ".join(words[i : i + k]).capitalize() + ".")
            i += k
        return " ".join(sents), "zz"
    if cls == "pii":
        body = _prose(rng, lang, rng.randint(100, 400))
        bits = []
        for _ in range(rng.randint(1, 4)):
            kind = rng.randint(3)
            if kind == 0:
                bits.append(
                    f"user{rng.randint(1000)}@mail{rng.randint(90)}.example.com"
                )
            elif kind == 1:
                bits.append(
                    f"{rng.randint(200,999)}-{rng.randint(200,999)}-{rng.randint(1000,9999)}"
                )
            else:
                bits.append(
                    f"{rng.randint(100,999)}-{rng.randint(10,99)}-{rng.randint(1000,9999)}"
                )
        paras = body.split("\n\n")
        for b in bits:
            j = rng.randint(len(paras))
            paras[j] = paras[j] + " Contact " + b + " now."
        return "\n\n".join(paras), lang
    raise ValueError(cls)


# ---------------------------------------------------------------------------
# HTML template (escape/unescape are exact inverses; extract.py inverts this)
# ---------------------------------------------------------------------------

def html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_html(text: str) -> bytes:
    paras = text.split("\n\n")
    title = html_escape(" ".join(text.split()[:5]))
    body = "".join(f"<p>{html_escape(p)}</p>" for p in paras)
    return (
        f"<html><head><title>{title}</title></head><body>{body}</body></html>"
    ).encode("utf-8")


def gen_row(seed: int, i: int) -> dict:
    rng = np.random.RandomState((seed * 1_000_003 + i) % (2**31 - 1))
    r = rng.rand()
    cls = CLASSES[int(np.searchsorted(_CUM, r, side="right"))][0]
    text, lang = _gen_text(rng, cls)
    host = HOSTS[int(rng.choice(len(HOSTS), p=_HW))]
    url = f"https://{host}/p/{seed}/{i:08d}"
    ts = pd.Timestamp(int(_TS_LO + rng.rand() * (_TS_HI - _TS_LO)), unit="s")
    return {
        "url": url,
        "warc_ts": ts,
        "html": render_html(text),
        "text": text,
        "lang": lang,
        "_class": cls,  # debug column, dropped from the pipeline input
    }


def gen_pages(n_docs: int, seed: int = 42, with_class: bool = False) -> pd.DataFrame:
    rows = [gen_row(seed, i) for i in range(n_docs)]
    df = pd.DataFrame(rows)
    if not with_class:
        df = df.drop(columns=["_class"])
    return df


def spark_pages_parquet(spark, n_docs: int, seed: int = 42) -> str:
    """Distributed generation of the same deterministic rows (gen_row is a
    pure function of (seed, i), so Spark-parallel == pandas-serial). Cached
    as parquet under the repo's `.cache/`; returns the path."""
    import pandas as _pd

    cache_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"pages_n{n_docs}_s{seed}_spark.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def gen(batches):
        for pdf in batches:
            rows = [gen_row(seed, int(i)) for i in pdf["id"]]
            out = _pd.DataFrame(rows).drop(columns=["_class"])
            yield out

    (
        spark.range(0, n_docs, 1, 64)
        .mapInPandas(gen, "url string, warc_ts timestamp, html binary, text string, lang string")
        .write.mode("overwrite").parquet(path)
    )
    return path
