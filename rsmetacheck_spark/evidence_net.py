"""Network-validation rule family (SURVEY §2.3 P008/P011/P015) over the
evidence model — the reference's three URL checkers with three DIFFERENT
accessibility definitions:

  P008 softwareRequirement URL check   p008.py:25-81
       accessible iff status in 2xx ∪ {301}; requirement values that are
       not themselves URLs go through URL-extraction-from-text
       (p008.py:58-81) and EVERY extracted URL must be accessible.
  P011 issue-tracker URL dead          p011.py:5-29
       accessible iff status < 400 (HEAD-request semantics).
  P015 contIntegration 404             p015.py:17-88
       accessible iff status in 2xx ∪ {301, 302} (300 and 303 excluded:
       `200 <= s < 300 or 300 < s < 303`).

The HTTP fetch itself is effectful and unmockable at the SQL layer, so —
exactly like the reference's own tests (test_p015.py mocks requests.get
with fixed status codes) — the status code is SYNTHESIZED deterministically
from the URL string (md5-derived residue over a 7-code palette spanning
every threshold boundary: 200, 204, 301, 302, 303, 404, 500). Both engines
derive the same codes, so the DuckDB oracle cross-checks the THRESHOLD
LOGIC, which is the parity-critical part (SURVEY flags the three
definitions explicitly). Invalid-format URLs (no scheme/netloc) are
inaccessible in every rule, mirroring the reference's error path.

Unlike ev01-ev08 (one shared Dia template rendered for both engines), the
Spark side here is an INDEPENDENT implementation in the DataFrame Column
API — `extract_urls` / `url_is_valid` below (P008's text-extraction
path) — while the oracle is hand-written DuckDB SQL. Agreement between
the two is therefore a genuine two-implementation check, not a template
rendered twice.

At scale this family is still a zero-shuffle per-row array expression: a
real deployment swaps `_status_col` for a join against a crawled
url->status table (or an async-fetch mapInPandas stage with a per-executor
connection pool — the operators/perplexity.py batched-effect slot), leaving
every threshold below unchanged.
"""

from __future__ import annotations

import os
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .evidence import SPARK, Dia, _q


def url_is_valid(u: Column) -> Column:
    """urlparse-style scheme+netloc format check (p008.py:8-22,
    p015.py:7-14): ANY scheme is accepted (ftp:// is format-valid in the
    reference), the netloc must be non-empty."""
    return u.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/\s]+")


def extract_urls(text: Column) -> Column:
    """URL extraction from free text (p008.py:58-81), reference-exact:
    TWO separate findall passes (https?:// then www.) whose matches may
    OVERLAP — 'https://www.X' yields BOTH 'https://www.X' and 'www.X',
    the latter always format-invalid, so P008 always fires on such text.
    A single alternation would miss the bare-www duplicate. Then strip
    exactly ONE trailing [,;.!?)] character (re.sub with an anchored
    single-char class replaces one match)."""
    return F.transform(
        F.concat(
            F.regexp_extract_all(text, F.lit(r"(?i)(https?://[^\s<>\"']+)"), 1),
            F.regexp_extract_all(text, F.lit(r"(?i)(www\.[^\s<>\"']+)"), 1),
        ),
        lambda u: F.regexp_replace(u, r"[,;.!?)]$", ""),
    )


# Status palette: spans every boundary the three rules disagree on.
# 200/204: all ok.  301: all ok.  302: ok for P011+P015, NOT P008.
# 303: ok for P011 only.  404/500: all bad.
ST_CODES = (200, 204, 301, 302, 303, 404, 500)

# p008.py:103-104 — substring-matched against the lowercased source.
META_SOURCES = (
    "codemeta.json", "description", "composer.json", "package.json",
    "pom.xml", "pyproject.toml", "requirements.txt", "setup.py",
)


# ---------------------------------------------------------------------------
# Deterministic synthesis of the `net` evidence column (shared Dia template
# — the INPUT must be identical in both engines; the DETECTORS are the two
# independent implementations).
# ---------------------------------------------------------------------------


def net_expr(d: Dia) -> str:
    did = "doc_id"
    s = d.s

    it_url = (
        f"(CASE {did} % 5"
        f" WHEN 0 THEN 'https://github.com/org' || {s(f'{did} % 50')} || '/repo/issues'"
        f" WHEN 1 THEN 'https://gitlab.com/grp' || {s(f'{did} % 9')} || '/proj/-/issues'"
        f" WHEN 2 THEN 'not a url'"
        f" WHEN 3 THEN 'https://tracker.example.org/p/' || {s(did)}"
        f" ELSE 'www.example.org/issues/' || {s(f'{did} % 7')} END)"
    )
    ci_url = (
        f"(CASE {did} % 4"
        f" WHEN 0 THEN 'https://github.com/org' || {s(f'{did} % 50')} || '/repo/actions'"
        f" WHEN 1 THEN 'https://ci.example.net/job/' || {s(f'{did} % 13')}"
        f" WHEN 2 THEN 'https://app.travis-ci.com/gh/org' || {s(f'{did} % 50')}"
        f" ELSE 'invalid ci link' END)"
    )
    req_v = (
        f"(CASE {did} % 7"
        f" WHEN 0 THEN 'https://pypi.example.org/project/pkg' || {s(f'{did} % 30')} || '/'"
        f" WHEN 1 THEN 'requires numpy>=1.0 see https://numpy.example.org/doc'"
        f" || {s(f'{did} % 9')} || ' for details'"
        f" WHEN 2 THEN 'plain requirement text no urls here'"
        f" WHEN 3 THEN 'see www.tools.example.net/setup' || {s(f'{did} % 11')} || ', then install'"
        f" WHEN 4 THEN 'https://files.example.com/whl/' || {s(did)} || '.whl'"
        # overlap case: the two findall passes BOTH match — the bare
        # 'www.' duplicate is format-invalid, so P008 must always fire
        f" WHEN 5 THEN 'home at https://www.pkg.example.org/r' || {s(f'{did} % 5')} || ' ok'"
        f" ELSE 'docs at https://docs.example.io/a' || {s(f'{did} % 7')} || '. end' END)"
    )

    cp = _q("code_parser")
    base = d.arr(
        # decoys — wrong source/technique; a filter bug makes them fire loudly
        d.struct(_q("README.md"), _q("regular_expression"), _q("issue_tracker"),
                 _q("not a url")),
        d.struct(_q(".travis.yml"), _q("file_exploration"),
                 _q("continuous_integration"), _q("www.broken.example/ci")),
        d.struct(_q("requirements.txt"), _q("somef_heuristics"), _q("requirement"),
                 _q("see www.broken.example/req now")),
        # the real requirement entry (metadata source + code_parser)
        d.struct(_q("setup.py"), cp, _q("requirement"), req_v),
    )

    def cond_arr(cond: str, *entries: str) -> str:
        return f"(CASE WHEN {cond} THEN {d.arr(*entries)} ELSE {d.empty_ev()} END)"

    return d.concat_arr(
        base,
        cond_arr(f"{did} % 2 = 0",
                 d.struct(_q("codemeta.json"), cp, _q("issue_tracker"), it_url)),
        cond_arr(f"{did} % 3 <> 1",
                 d.struct(_q("codemeta.json"), cp, _q("continuous_integration"), ci_url)),
    )


# ---------------------------------------------------------------------------
# Spark implementation (DataFrame Column API)
# ---------------------------------------------------------------------------


def status_of(url: Column) -> Column:
    """Deterministic mock status: md5(url)'s first 32 bits pick from the
    palette. The real-deployment swap point (see module docstring)."""
    h = F.conv(F.substring(F.md5(url), 1, 8), 16, 10).cast("bigint")
    return F.element_at(
        F.array(*[F.lit(c) for c in ST_CODES]), (h % len(ST_CODES) + 1).cast("int")
    )


def ok_p008(status: Column) -> Column:
    """p008.py:47: (200 <= s < 300) or s == 301."""
    return ((status >= 200) & (status < 300)) | (status == 301)


def ok_p011(status: Column) -> Column:
    """p011.py:22: s < 400."""
    return status < 400


def ok_p015(status: Column) -> Column:
    """p015.py:40: 200 <= s < 300 or 300 < s < 303."""
    return ((status >= 200) & (status < 300)) | (status == 301) | (status == 302)


def _url_ok(url: Column, ok_fn) -> Column:
    """Format check first (invalid format = error path = inaccessible in
    every rule), then the rule's own threshold on the mocked status."""
    return url_is_valid(url) & ok_fn(status_of(url))


def network_flag_cols() -> dict[str, Column]:
    """The three rule flags as Columns over a `net` evidence-array column
    (shared by ev10 and the 29-rule ev09 summary)."""

    def from_codemeta(k: str) -> Column:
        # p011.py:56 / p015.py:76: "codemeta.json" in source or
        # (technique == code_parser and "codemeta" in source.lower())
        return F.filter(
            "net",
            lambda e: (e.k == k) & (
                e.src.contains("codemeta.json")
                | ((e.tech == "code_parser") & F.lower(e.src).contains("codemeta"))
            ),
        )

    it = from_codemeta("issue_tracker")
    ci = from_codemeta("continuous_integration")
    reqs = F.filter(
        "net",
        lambda e: (e.k == "requirement") & (e.tech == "code_parser")
        & reduce(or_, [F.lower(e.src).contains(m) for m in META_SOURCES]),
    )

    # P008 per-entry: a URL-shaped value is checked directly; anything else
    # goes through extract_urls and EVERY extracted URL must pass.
    def req_entry_bad(e: Column) -> Column:
        urls = extract_urls(e.v)
        return (
            F.when(url_is_valid(e.v), ~ok_p008(status_of(e.v)))
            .otherwise(
                (F.size(urls) > 0)
                & F.exists(urls, lambda u: ~_url_ok(u, ok_p008))
            )
        )

    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return {
        "p008": flag(F.exists(reqs, req_entry_bad)),
        "p011": flag(F.exists(it, lambda e: ~_url_ok(e.v, ok_p011))),
        "p015": flag(F.exists(ci, lambda e: ~_url_ok(e.v, ok_p015))),
    }


def with_net(docs: DataFrame) -> DataFrame:
    """Append the synthesized `net` evidence array to a docs DataFrame."""
    from .evidence import SPARK as _SPARK

    return docs.withColumn("net", F.expr(net_expr(_SPARK)))


def ev10_network_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    net = with_net(docs.select("doc_id"))

    def from_codemeta(k: str) -> Column:
        return F.filter(
            "net",
            lambda e: (e.k == k) & (
                e.src.contains("codemeta.json")
                | ((e.tech == "code_parser") & F.lower(e.src).contains("codemeta"))
            ),
        )

    it = from_codemeta("issue_tracker")
    ci = from_codemeta("continuous_integration")
    reqs = F.filter(
        "net",
        lambda e: (e.k == "requirement") & (e.tech == "code_parser")
        & reduce(or_, [F.lower(e.src).contains(m) for m in META_SOURCES]),
    )
    first_it = F.try_element_at(it, F.lit(1)).getField("v")
    first_ci = F.try_element_at(ci, F.lit(1)).getField("v")
    st_or_null = lambda u: F.when(  # noqa: E731  — reference reports
        url_is_valid(u), status_of(u)  # status_code=None on format errors
    ).cast("int")
    flags = network_flag_cols()
    return net.select(
        "doc_id",
        flags["p008"].alias("p008"),
        flags["p011"].alias("p011"),
        flags["p015"].alias("p015"),
        st_or_null(first_it).alias("it_status"),
        st_or_null(first_ci).alias("ci_status"),
        F.aggregate(
            reqs,
            F.lit(0),
            lambda acc, e: acc + F.when(
                url_is_valid(e.v), F.lit(1)
            ).otherwise(F.size(extract_urls(e.v))),
        ).cast("int").alias("n_req_urls"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle (independent hand-written SQL)
# ---------------------------------------------------------------------------

_DUCK_HEX32 = (
    "CAST(list_sum(list_transform(generate_series(1, 8), j ->"
    " CAST(strpos('0123456789abcdef', substring(md5({u}), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)"
    " << ((8 - CAST(j AS INTEGER)) * 4))) AS BIGINT)"
)

_DUCK_VALID = "regexp_matches({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/\\s]+')"

# Two separate passes, matching p008.py:65-73's overlapping findall calls
# (text with 'https://www.X' yields BOTH the https URL and a bare 'www.X').
_DUCK_EXTRACT = (
    "list_transform(list_concat("
    "regexp_extract_all({v}, '(?i)(https?://[^\\s<>\"'']+)', 1),"
    "regexp_extract_all({v}, '(?i)(www\\.[^\\s<>\"'']+)', 1)),"
    " u -> regexp_replace(u, '[,;.!?)]$', ''))"
)


def _duck_status(u: str) -> str:
    codes = ", ".join(str(c) for c in ST_CODES)
    return f"([{codes}])[CAST(1 + {_DUCK_HEX32.format(u=u)} % {len(ST_CODES)} AS INTEGER)]"


def _duck_thr(u: str, rule: str) -> str:
    """The rule's status threshold alone (format validity checked separately)."""
    st = _duck_status(u)
    return {
        "p008": f"(({st} >= 200 AND {st} < 300) OR {st} = 301)",
        "p011": f"({st} < 400)",
        "p015": f"(({st} >= 200 AND {st} < 300) OR {st} = 301 OR {st} = 302)",
    }[rule]


def _duck_ok(u: str, rule: str) -> str:
    return f"({_DUCK_VALID.format(u=u)} AND {_duck_thr(u, rule)})"


_DUCK_META_OR = " OR ".join(
    f"contains(lower(e.src), '{m}')" for m in META_SOURCES
)
_DUCK_CODEMETA = (
    "contains(e.src, 'codemeta.json')"
    " OR (e.tech = 'code_parser' AND contains(lower(e.src), 'codemeta'))"
)


def duck_flag_exprs() -> dict[str, str]:
    """Per-row p008/p011/p015 0/1 expressions over a `net` column
    (shared by the ev10 oracle and the 29-rule ev09 summary oracle)."""
    req_bad = (
        f"CASE WHEN {_DUCK_VALID.format(u='e.v')}"
        f" THEN NOT {_duck_thr('e.v', 'p008')}"
        f" ELSE len({_DUCK_EXTRACT.format(v='e.v')}) > 0 AND"
        f" len(list_filter({_DUCK_EXTRACT.format(v='e.v')},"
        f" u -> NOT {_duck_ok('u', 'p008')})) > 0 END"
    )
    return {
        "p008": (
            "CASE WHEN len(list_filter(list_filter(net,"
            f" e -> e.k = 'requirement' AND e.tech = 'code_parser' AND ({_DUCK_META_OR})),"
            f" e -> {req_bad})) > 0 THEN 1 ELSE 0 END"
        ),
        "p011": (
            f"CASE WHEN len(list_filter(net, e -> e.k = 'issue_tracker'"
            f" AND ({_DUCK_CODEMETA})"
            f" AND NOT {_duck_ok('e.v', 'p011')})) > 0 THEN 1 ELSE 0 END"
        ),
        "p015": (
            f"CASE WHEN len(list_filter(net, e -> e.k = 'continuous_integration'"
            f" AND ({_DUCK_CODEMETA})"
            f" AND NOT {_duck_ok('e.v', 'p015')})) > 0 THEN 1 ELSE 0 END"
        ),
    }


def _sql_ev10() -> str:
    from .evidence import DUCK

    meta_or = _DUCK_META_OR
    flags = duck_flag_exprs()
    st_or_null = lambda u: (  # noqa: E731
        f"CAST(CASE WHEN {_DUCK_VALID.format(u=u)} THEN {_duck_status(u)} END AS INTEGER)"
    )
    first_it = ("(list_filter(net, e -> e.k = 'issue_tracker' AND ("
                + _DUCK_CODEMETA + ")))[1].v")
    first_ci = ("(list_filter(net, e -> e.k = 'continuous_integration' AND ("
                + _DUCK_CODEMETA + ")))[1].v")
    return f"""
WITH nets AS (SELECT doc_id, {net_expr(DUCK)} AS net FROM documents)
SELECT doc_id,
  {flags['p008']} AS p008,
  {flags['p011']} AS p011,
  {flags['p015']} AS p015,
  {st_or_null(first_it)} AS it_status,
  {st_or_null(first_ci)} AS ci_status,
  CAST(list_sum(list_concat([0], list_transform(list_filter(net,
         e -> e.k = 'requirement' AND e.tech = 'code_parser' AND ({meta_or})),
         e -> CASE WHEN {_DUCK_VALID.format(u='e.v')} THEN 1
                   ELSE len({_DUCK_EXTRACT.format(v='e.v')}) END))) AS INTEGER) AS n_req_urls
FROM nets
"""


def registry() -> dict:
    return {"ev10_network_rules": (ev10_network_rules, _sql_ev10())}
