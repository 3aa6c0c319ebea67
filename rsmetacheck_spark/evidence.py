"""Evidence-document data model + the cross-evidence detector family.

The reference's core computational shape (SURVEY §1.1/§1.4) is a document
of category -> list-of-evidence-entries, where detectors correlate evidence
rows WITHIN one document: filter by source/technique, take the first match,
normalize, and compare across entries. In Spark that shape is an
`array<struct>` column and the detectors are native array expressions
(`filter`/`exists`/`transform`/`try_element_at`) — zero shuffle, fully
whole-stage-codegen, executed per row at scan speed. This module builds
that model and implements an analog for every remaining SURVEY §2.3
detector shape as an oracle-checked query.

Evidence synthesis: the `ev` column is DERIVED DETERMINISTICALLY from
doc_id by the same SQL in both engines (Spark + the DuckDB oracle), so the
driver's correctness gate cross-checks the detectors themselves, not a
data-generation side channel. Each rule's hit set is a known residue class
(e.g. P001 fires iff doc_id % 7 == 0), which makes per-rule expectations
testable in pytest too.

Struct fields: src (metadata file / origin), tech (extraction technique),
k (category key), v (value string), ver (optional version string).

Reference shapes covered here (file:line cites are to /root/reference):
  P001 version mismatch           p001.py:5-94    -> ev01
  P003 multi-author separators    p003.py:6-29    -> ev03
  P005 archive-URL alternation    p005.py:4-29    -> ev06
  P006 license-is-local-path      p006.py:4-37    -> ev07
  P007 exists() boolean algebra   p007.py:4-49    -> ev06
  P009 homepage-is-repo           p009.py:1-60    -> ev06
  P010 copyright-only license     p010.py:29-102  -> ev07
  P012 version-from-URL compare   p012.py:5-138   -> ev01
  P013 license-lacks-version      p013.py:28-66   -> ev07
  P014 bare DOI                   p014.py:5-28    -> ev05
  P016 repo-URL normalize+compare p016.py:4-79    -> ev02
  P017 codemeta-vs-manifests      p017.py:59-93   -> ev01
  P018 raw SWHID                  p018.py:5-24    -> ev05
  P019 author-count inconsistency p019.py:26-144  -> ev03
  W001 unversioned requirements   w001.py:33-119  -> ev08
  W002 date-delta multi-format    w002.py:58-145  -> ev04
  W003 dual-license cond. count   w003.py:24-62   -> ev07
  W004 null-version filter        w004.py:3-49    -> ev08
  W005 multi-req split            w005.py:6-99    -> ev08
  W006 two-exists id validity     w006.py:5-154   -> ev05
  W007 empty identifier           w007.py:4-35    -> ev05
  W008 bracket-list author        w008.py:41-53   -> ev03
  W009 value-is-URL               w009.py:5-26    -> ev06
  W010 git-remote shorthand       w010.py:5-27    -> ev02
  P002 placeholder regexes        p002.py:30-59   -> ev07
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# Dialect helpers: the same logical expression rendered for Spark SQL and
# for DuckDB SQL. Lambda syntax (e -> ...) and struct field access (e.v)
# are identical in both; everything else goes through these helpers.
# ---------------------------------------------------------------------------


class Dia:
    def __init__(self, duck: bool):
        self.duck = duck

    # regex literal: Spark SQL string literals treat backslash as escape,
    # DuckDB does not
    def _rx(self, pattern: str) -> str:
        return pattern if self.duck else pattern.replace("\\", "\\\\")

    def rlike(self, s: str, pattern: str) -> str:
        if self.duck:
            return f"regexp_matches({s}, '{self._rx(pattern)}')"
        return f"({s} rlike '{self._rx(pattern)}')"

    def rextract(self, s: str, pattern: str) -> str:
        """First capture group of pattern in s."""
        return f"regexp_extract({s}, '{self._rx(pattern)}', 1)"

    def rreplace(self, s: str, pattern: str, repl: str) -> str:
        # backreference syntax: Java $1 vs RE2 \1
        r = repl.replace("$G1", "\\1" if self.duck else "$1")
        return f"regexp_replace({s}, '{self._rx(pattern)}', '{r}')"

    def filter(self, arr: str, lam: str) -> str:
        fn = "list_filter" if self.duck else "filter"
        return f"{fn}({arr}, {lam})"

    def transform(self, arr: str, lam: str) -> str:
        fn = "list_transform" if self.duck else "transform"
        return f"{fn}({arr}, {lam})"

    def exists(self, arr: str, lam: str) -> str:
        if self.duck:
            return f"(len(list_filter({arr}, {lam})) > 0)"
        return f"exists({arr}, {lam})"

    def first(self, arr: str) -> str:
        """First element or NULL (F4 first-match-wins, p004.py:78)."""
        if self.duck:
            return f"({arr})[1]"
        return f"try_element_at({arr}, 1)"

    def size(self, arr: str) -> str:
        return f"len({arr})" if self.duck else f"size({arr})"

    def distinct(self, arr: str) -> str:
        fn = "list_distinct" if self.duck else "array_distinct"
        return f"{fn}({arr})"

    def amin(self, arr: str) -> str:
        return f"list_min({arr})" if self.duck else f"array_min({arr})"

    def amax(self, arr: str) -> str:
        return f"list_max({arr})" if self.duck else f"array_max({arr})"

    def split_plain(self, s: str, sep: str) -> str:
        if self.duck:
            return f"string_split({s}, '{sep}')"
        return f"split({s}, '{sep}')"

    def split_rx(self, s: str, pattern: str) -> str:
        if self.duck:
            return f"regexp_split_to_array({s}, '{self._rx(pattern)}')"
        return f"split({s}, '{self._rx(pattern)}')"

    def s(self, x: str) -> str:
        t = "VARCHAR" if self.duck else "string"
        return f"CAST({x} AS {t})"

    def struct(self, src: str, tech: str, k: str, v: str, ver: str = "NULL") -> str:
        if self.duck:
            ver_t = f"{ver}::VARCHAR" if ver == "NULL" else ver
            return f"{{'src': {src}, 'tech': {tech}, 'k': {k}, 'v': {v}, 'ver': {ver_t}}}"
        ver_t = f"CAST({ver} AS string)" if ver == "NULL" else ver
        return f"named_struct('src', {src}, 'tech', {tech}, 'k', {k}, 'v', {v}, 'ver', {ver_t})"

    def arr(self, *items: str) -> str:
        body = ", ".join(items)
        return f"[{body}]" if self.duck else f"array({body})"

    def empty_ev(self) -> str:
        if self.duck:
            return "[]::STRUCT(src VARCHAR, tech VARCHAR, k VARCHAR, v VARCHAR, ver VARCHAR)[]"
        return ("CAST(array() AS array<struct<"
                "src:string,tech:string,k:string,v:string,ver:string>>)")

    def concat_arr(self, *arrs: str) -> str:
        if self.duck:
            return "(" + " || ".join(arrs) + ")"
        return "concat(" + ", ".join(arrs) + ")"

    def join_str(self, arr: str, sep: str) -> str:
        if self.duck:
            return f"array_to_string({arr}, '{sep}')"
        return f"array_join({arr}, '{sep}')"

    def seq(self, lo: str, hi: str) -> str:
        fn = "generate_series" if self.duck else "sequence"
        return f"{fn}({lo}, {hi})"

    def ts_parse(self, s: str) -> str:
        """Multi-format timestamp parse (W002's 5-format coalesce shape,
        w002.py:58-92): plain, ISO-T, then date-prefix fallback."""
        if self.duck:
            return (
                f"coalesce(try_strptime({s}, '%Y-%m-%d %H:%M:%S'),"
                f" try_strptime({s}, '%Y-%m-%dT%H:%M:%S'),"
                f" try_strptime(regexp_extract({s}, '^([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})', 1), '%Y-%m-%d'))"
            )
        return (
            f"coalesce(try_to_timestamp({s}, 'yyyy-MM-dd HH:mm:ss'),"
            f" try_to_timestamp({s}, \"yyyy-MM-dd'T'HH:mm:ss\"),"
            f" try_to_timestamp(regexp_extract({s}, '^([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})', 1), 'yyyy-MM-dd'))"
        )

    def date_diff_days(self, start_ts: str, end_ts: str) -> str:
        if self.duck:
            return f"date_diff('day', CAST({start_ts} AS DATE), CAST({end_ts} AS DATE))"
        return f"datediff(CAST({end_ts} AS DATE), CAST({start_ts} AS DATE))"

    def md5(self, s: str) -> str:
        return f"md5({s})"

    def flag(self, cond: str) -> str:
        return f"(CASE WHEN {cond} THEN 1 ELSE 0 END)"

    def nl(self) -> str:
        """A newline character literal."""
        return "chr(10)" if self.duck else "'\\n'"

    def split_nl(self, s: str) -> str:
        if self.duck:
            return f"string_split({s}, chr(10))"
        return f"split({s}, '\\n')"

    def startswith(self, s: str, prefix: str) -> str:
        fn = "starts_with" if self.duck else "startswith"
        return f"{fn}({s}, '{prefix}')"

    def endswith(self, s: str, suffix: str) -> str:
        fn = "ends_with" if self.duck else "endswith"
        return f"{fn}({s}, '{suffix}')"

    def contains(self, s: str, sub: str) -> str:
        return f"contains({s}, '{sub}')"

    def idiv(self, num: str, den: str) -> str:
        """Exact integer division rendered identically in both engines.

        Spark's `100.0 * x / y` is DECIMAL (SQL decimal literal) while
        DuckDB's is DOUBLE — the driver's value hash sees different types
        even when every value is numerically equal. Integer scaling avoids
        the whole class (same trick as q23-q25's *_micro scores)."""
        op = "//" if self.duck else "div"
        return f"CAST(({num}) {op} ({den}) AS BIGINT)"


SPARK = Dia(duck=False)
DUCK = Dia(duck=True)


# ---------------------------------------------------------------------------
# Deterministic evidence synthesis from doc_id (identical in both engines)
# ---------------------------------------------------------------------------


def _q(x: str) -> str:
    return f"'{x}'"


def ev_expr(d: Dia) -> str:
    """The array<struct> evidence column, derived from doc_id."""
    did = "doc_id"
    s = d.s

    maj = s(f"{did} % 5")
    mnr = s(f"{did} % 3")
    # release minor shifts when doc_id % 7 == 0 -> P001 mismatch set
    rel_mnr = f"(CASE WHEN {did} % 7 = 0 THEN {s(f'({did} % 3 + 1) % 3')} ELSE {mnr} END)"
    # download-URL minor shifts off the RELEASE minor when % 13 -> P012 set
    dl_mnr = (
        f"(CASE WHEN {did} % 13 = 0 THEN"
        f" {s(f'((CASE WHEN {did} % 7 = 0 THEN ({did} % 3 + 1) % 3 ELSE {did} % 3 END) + 1) % 3')}"
        f" ELSE {rel_mnr} END)"
    )
    cm_ver = f"'v' || {maj} || '.' || {mnr}"
    pkg_ver = f"'v' || {maj} || '.' || {mnr} || (CASE WHEN {did} % 11 = 0 THEN '.1' ELSE '' END)"
    rel_ver = f"{maj} || '.' || {rel_mnr}"

    api_url = f"'https://github.com/org' || {s(f'{did} % 50')} || '/repo' || {s(f'{did} % 20')}"
    # codemeta repo number drifts when % 17 -> P016 true-mismatch set
    rnum = s(f"(CASE WHEN {did} % 17 = 0 THEN ({did} + 1) % 20 ELSE {did} % 20 END)")
    cm_url = (
        f"(CASE {did} % 3"
        f" WHEN 0 THEN 'https://GitHub.com/ORG' || {s(f'{did} % 50')} || '/Repo' || {rnum} || '.git'"
        f" WHEN 1 THEN 'git@github.com:org' || {s(f'{did} % 50')} || '/repo' || {rnum}"
        f" ELSE 'https://github.com/org' || {s(f'{did} % 50')} || '/repo' || {rnum} || '/' END)"
    )

    day = f"({did} % 25 + 4)"
    day_cm = f"({day} - (CASE WHEN {did} % 9 = 0 THEN 3 ELSE 0 END))"
    gh_date = f"'2024-03-' || lpad({s(day)}, 2, '0') || ' 10:00:00'"
    cm_date = (
        f"(CASE WHEN {did} % 2 = 0"
        f" THEN '2024-03-' || lpad({s(day_cm)}, 2, '0') || 'T08:00:00'"
        f" ELSE '2024-03-' || lpad({s(day_cm)}, 2, '0') || ' 08:00:00' END)"
    )

    def author_list(n: str, sep: str) -> str:
        names = d.transform(d.seq("1", n), f"i -> 'author' || {s('i')}")
        return d.join_str(names, sep)

    n_gh = f"(1 + {did} % 3)"
    n_cm = f"(CASE WHEN {did} % 19 = 0 THEN 1 + ({did} + 1) % 3 ELSE 1 + {did} % 3 END)"
    authors_gh = author_list(n_gh, ",")
    # %21 docs use ' and ' as separator (P003 separator-pattern shape)
    authors_cm = (
        f"(CASE WHEN {did} % 21 = 0 THEN {author_list(n_cm, ' and ')}"
        f" ELSE {author_list(n_cm, ',')} END)"
    )

    swh_hex = f"substring({d.md5(s(did))} || {d.md5(s(did))}, 1, 40)"
    cm_id = (
        f"(CASE {did} % 6"
        f" WHEN 0 THEN 'doi:10.5281/zx.' || {s(did)}"
        f" WHEN 1 THEN 'swh:1:rev:' || {swh_hex}"
        f" WHEN 2 THEN ' '"
        f" WHEN 3 THEN 'https://doi.org/10.5281/zx.' || {s(did)}"
        f" WHEN 4 THEN 'my software tool'"
        f" ELSE '10.5281/zx.' || {s(did)} END)"
    )

    dl_url = f"'https://github.com/org/repo/archive/v' || {maj} || '.' || {dl_mnr} || '.tar.gz'"

    homepage = (
        f"(CASE {did} % 4"
        f" WHEN 0 THEN 'https://github.com/org' || {s(f'{did} % 50')} || '/repo' || {s(f'{did} % 20')}"
        f" WHEN 1 THEN 'https://proj' || {s(f'{did} % 9')} || '.github.io/docs'"
        f" WHEN 2 THEN 'https://example.com/about'"
        f" ELSE 'https://gitlab.com/grp' || {s(f'{did} % 9')} || '/proj' END)"
    )
    dev_status = (
        f"(CASE {did} % 5"
        f" WHEN 0 THEN 'active'"
        f" WHEN 1 THEN 'https://www.repostatus.org/#active'"
        f" WHEN 2 THEN 'www.example.com/status'"
        f" WHEN 3 THEN 'inactive'"
        f" ELSE 'see docs.example.org/page' END)"
    )
    # 12 residue classes spanning every P013 branch (p013.py:28-66): the
    # six version-pattern families, the dead mixed-case Apache family, the
    # 0BSD / LICENSEREF- skips, and versioned/unversioned pairs.
    lic_name = (
        f"(CASE {did} % 12"
        f" WHEN 0 THEN 'GPL' WHEN 1 THEN 'GPL-3.0' WHEN 2 THEN 'Apache License'"
        f" WHEN 3 THEN 'Apache-2.0' WHEN 4 THEN 'MIT' WHEN 5 THEN 'CC-BY'"
        f" WHEN 6 THEN 'LGPL' WHEN 7 THEN 'AGPL-3.0' WHEN 8 THEN 'BSD 3-Clause'"
        f" WHEN 9 THEN '0BSD' WHEN 10 THEN 'LicenseRef-MIT-style'"
        f" ELSE 'BSD' END)"
    )
    lic_path = (
        f"(CASE {did} % 5"
        f" WHEN 0 THEN './LICENSE.md' WHEN 1 THEN 'docs/license.txt'"
        f" WHEN 2 THEN 'https://opensource.org/licenses/MIT'"
        f" WHEN 3 THEN 'LICENSE' ELSE 'COPYING.rst' END)"
    )
    # 10 residue classes spanning P002's 13 placeholder patterns
    # (p002.py:38-51) and P010's branchy copyright-only check
    # (p010.py:29-102): YEAR:/HOLDER: exact-format branch, (c)-year branch,
    # the <=10-line bound (an 11-line copyright doc must NOT fire), and
    # comment-line handling.
    nl = d.nl()
    long_cr = " || ".join(
        ["'copyright 2020 holder x'"]
        + [f"{nl} || 'body line {i}'" for i in range(1, 11)]
    )
    lic_text = (
        f"(CASE {did} % 10"
        f" WHEN 0 THEN 'dual licensed under the MIT license or the Apache License 2.0'"
        f" WHEN 1 THEN 'YEAR: 2017' || {nl} || 'COPYRIGHT HOLDER: Adam H. Sparks'"
        f" WHEN 2 THEN '<owner> keeps every right reserved here'"
        f" WHEN 3 THEN 'copyright <year> <copyright holders> permission is granted'"
        f" WHEN 4 THEN 'copyright (c) 2024 example authors'"
        f" WHEN 5 THEN 'use [fullname] and [year] as placeholders'"
        f" WHEN 6 THEN {long_cr}"
        f" WHEN 7 THEN 'this project is licensed under the apache license'"
        f" WHEN 8 THEN '# notice' || {nl} || 'copyright (c) 2021 someone'"
        f" ELSE 'permission is hereby granted, free of charge, to any person'"
        f" END)"
    )
    given_name = (
        f"(CASE WHEN {did} % 8 = 0"
        f" THEN '[ann' || {s(did)} || ', bob' || {s(did)} || ']'"
        f" ELSE 'ann' || {s(did)} END)"
    )
    py_ver = f"(CASE WHEN {did} % 2 = 0 THEN '3.' || {mnr} ELSE NULL END)"
    # W005 branch coverage (w005.py:29-43): double-space split, the
    # \s+(?=[A-Z]) fallback, a trailing-space one-part case (detected but
    # length 1 -> no fire), and a lowercase case the fallback must ignore
    req3 = (
        f"(CASE {did} % 10"
        f" WHEN 0 THEN 'reqa  reqb'"
        f" WHEN 5 THEN 'numpy Pandas'"
        f" WHEN 7 THEN 'single  '"
        f" WHEN 8 THEN 'alpha beta'"
        f" ELSE 'req3' END)"
    )
    # P004 full classifier coverage (p004.py:7-45): raw.githubusercontent,
    # github wiki vs blob/README, readthedocs, generic-TLD with and
    # without a file-ish suffix
    readme_v = (
        f"(CASE {did} % 6"
        f" WHEN 0 THEN 'https://raw.githubusercontent.com/org/repo/main/README.md'"
        f" WHEN 1 THEN 'https://github.com/org' || {s(f'{did} % 50')} || '/repo/wiki'"
        f" WHEN 2 THEN 'https://github.com/org/repo/blob/main/README.md'"
        f" WHEN 3 THEN 'https://proj' || {s(f'{did} % 9')} || '.readthedocs.io/en/latest'"
        f" WHEN 4 THEN 'https://example.net/about'"
        f" ELSE 'https://example.org/readme.html' END)"
    )

    ref_pub = (
        f"(CASE {did} % 8"
        f" WHEN 0 THEN 'https://zenodo.org/record/' || {s(did)}"
        f" WHEN 1 THEN 'https://doi.org/10.5281/zenodo.' || {s(did)}"
        f" WHEN 2 THEN 'https://github.com/org/repo/releases/tag/v1.' || {s(f'{did} % 10')}"
        f" WHEN 3 THEN 'https://sourceforge.net/projects/p' || {s(did)}"
        f" WHEN 4 THEN 'https://archive.org/details/x' || {s(did)}"
        f" WHEN 5 THEN 'https://codeocean.com/capsule/' || {s(did)}"
        f" WHEN 6 THEN 'https://osf.io/abc' || {s(f'{did} % 10')}"
        f" ELSE 'https://journals.example.org/article/' || {s(did)} END)"
    )

    cp, gha, fe = _q("code_parser"), _q("GitHub_API"), _q("file_exploration")
    cmj, pkg, ghs = _q("codemeta.json"), _q("package.json"), _q("github_api")
    base = d.arr(
        d.struct(cmj, cp, _q("version"), cm_ver),
        d.struct(pkg, cp, _q("version"), pkg_ver),
        d.struct(_q("github_releases"), gha, _q("release"), rel_ver),
        d.struct(ghs, gha, _q("code_repository"), api_url),
        d.struct(cmj, cp, _q("code_repository"), cm_url),
        d.struct(ghs, gha, _q("date_updated"), gh_date),
        d.struct(cmj, cp, _q("date_modified"), cm_date),
        d.struct(ghs, gha, _q("authors"), authors_gh),
        d.struct(cmj, cp, _q("authors"), authors_cm),
        d.struct(cmj, cp, _q("identifier"), cm_id),
        d.struct(ghs, gha, _q("download_url"), dl_url),
        d.struct(ghs, gha, _q("homepage"), homepage),
        d.struct(cmj, cp, _q("development_status"), dev_status),
        d.struct(cmj, cp, _q("readme_url"), readme_v),
        d.struct(_q("LICENSE"), fe, _q("license"), lic_name),
        d.struct(cmj, cp, _q("license"), _q("MIT")),
        d.struct(cmj, cp, _q("license_path"), lic_path),
        d.struct(_q("LICENSE"), fe, _q("license_text"), lic_text),
        d.struct(cmj, cp, _q("given_name"), given_name),
        d.struct(cmj, cp, _q("prog_lang"), _q("python"), py_ver),
        d.struct(cmj, cp, _q("prog_lang"), _q("java"), "'17'"),
        d.struct(_q("requirements.txt"), cp, _q("requirement"), _q("req1"),
                 f"(CASE WHEN ({did} + 1) % 2 = 0 THEN '1.0' ELSE NULL END)"),
        d.struct(_q("requirements.txt"), cp, _q("requirement"), _q("req2"),
                 f"(CASE WHEN {did} % 4 < 2 THEN '2.1' ELSE NULL END)"),
        d.struct(_q("requirements.txt"), cp, _q("requirement"), req3,
                 f"(CASE WHEN {did} % 5 > 0 THEN '0.9' ELSE NULL END)"),
    )

    def cond_arr(cond: str, *entries: str) -> str:
        return f"(CASE WHEN {cond} THEN {d.arr(*entries)} ELSE {d.empty_ev()} END)"

    cca = _q("CITATION.cff")
    return d.concat_arr(
        base,
        cond_arr(f"{did} % 2 = 0",
                 d.struct(cmj, cp, _q("reference_publication"), ref_pub)),
        cond_arr(f"{did} % 3 > 0", d.struct(cca, fe, _q("citation"), _q("present"))),
        cond_arr(f"{did} % 5 = 0",
                 d.struct(cca, fe, _q("reference_publication"), _q("cff-ref"))),
        cond_arr(f"{did} % 4 = 0",
                 d.struct(_q("zenodo.json"), cp, _q("identifier"),
                          f"'https://doi.org/10.5281/zen.' || {s(did)}")),
        cond_arr(f"{did} % 14 = 0", d.struct(cmj, cp, _q("license"), _q("Apache-2.0"))),
    )


# ---------------------------------------------------------------------------
# Detector flag expressions over the `ev` column (shared across queries)
# ---------------------------------------------------------------------------


def _vstrip(d: Dia, x: str) -> str:
    return d.rreplace(f"trim({x})", "^[vV]", "")


def flags_versions(d: Dia) -> dict[str, str]:
    """P001 / P017 / P012: cross-evidence version comparison family."""
    cm = d.first(d.filter("ev", "e -> e.src = 'codemeta.json' AND e.k = 'version'")) + ".v"
    rel = d.first(d.filter("ev", "e -> e.k = 'release'")) + ".v"
    others = d.transform(
        d.filter("ev", "e -> e.k = 'version' AND e.src <> 'codemeta.json'"), "e -> e.v"
    )
    dl = d.first(d.filter("ev", "e -> e.k = 'download_url'")) + ".v"
    url_ver = d.rextract(dl, "archive/v([0-9]+\\.[0-9]+)")
    return {
        "cm_ver": cm,
        "rel_ver": rel,
        "url_ver": url_ver,
        "p001": d.flag(f"{_vstrip(d, cm)} <> {_vstrip(d, rel)}"),
        "p017": d.flag(d.exists(others, f"o -> trim(o) <> trim({cm})")),
        "p012": d.flag(f"{url_ver} <> {_vstrip(d, rel)}"),
    }


def _norm_url(d: Dia, u: str) -> str:
    """P016's normalization chain (p016.py:4-21): lowercase, rewrite
    git@host:path -> https://host/path, strip trailing / and .git."""
    x = f"lower(trim({u}))"
    x = d.rreplace(x, "^git@([a-z0-9.-]+):", "https://$G1/")
    x = d.rreplace(x, "/$", "")
    x = d.rreplace(x, "\\.git$", "")
    return x


def flags_repo_urls(d: Dia) -> dict[str, str]:
    """P016 / W010: repo-URL normalization + within-row compare."""
    api = d.first(
        d.filter("ev", "e -> e.tech = 'GitHub_API' AND e.k = 'code_repository'")
    ) + ".v"
    cms = d.transform(
        d.filter("ev", "e -> e.src = 'codemeta.json' AND e.k = 'code_repository'"),
        "e -> e.v",
    )
    shorthand = "^[a-z0-9._-]+@[a-z0-9.-]+:[A-Za-z0-9._/-]+$"
    return {
        "api_norm": _norm_url(d, api),
        "p016": d.flag(d.exists(cms, f"u -> {_norm_url(d, 'u')} <> {_norm_url(d, api)}")),
        "w010": d.flag(d.exists(
            cms, f"u -> u NOT LIKE 'http%' AND {d.rlike('u', shorthand)}"
        )),
    }


def flags_authors(d: Dia) -> dict[str, str]:
    """P019 / P003 / W008: author-count and author-format family."""
    entries = d.filter("ev", "e -> e.k = 'authors'")
    counts = d.transform(entries, f"e -> {d.size(d.split_plain('e.v', ','))}")
    g = d.first(d.filter("ev", "e -> e.k = 'given_name'")) + ".v"
    bracket = d.rextract(g, "\\[([^\\]]+)\\]")
    return {
        "min_authors": d.amin(counts),
        "max_authors": d.amax(counts),
        "p019": d.flag(f"{d.size(d.distinct(counts))} > 1"),
        "p003": d.flag(d.exists(entries, f"e -> {d.rlike('e.v', '(,| and | & |;)')}")),
        "w008": d.flag(
            f"coalesce({bracket}, '') <> ''"
            f" AND {d.size(d.split_plain(bracket, ','))} > 1"
        ),
    }


def flags_dates(d: Dia) -> dict[str, str]:
    """W002: multi-format date parse + day-delta threshold."""
    gh = d.first(d.filter("ev", "e -> e.k = 'date_updated'")) + ".v"
    cm = d.first(d.filter("ev", "e -> e.k = 'date_modified'")) + ".v"
    gh_ts, cm_ts = d.ts_parse(gh), d.ts_parse(cm)
    delta = d.date_diff_days(cm_ts, gh_ts)
    return {
        "delta_days": f"CAST({delta} AS int)",
        "w002": d.flag(f"{gh_ts} > {cm_ts} AND {delta} > 1"),
    }


def flags_identifiers(d: Dia) -> dict[str, str]:
    """P014 / P018 / W006 / W007: identifier validity family."""
    cmid = d.first(
        d.filter("ev", "e -> e.src = 'codemeta.json' AND e.k = 'identifier'")
    ) + ".v"
    doi = "^(doi:)?10\\.[0-9]+/"
    swh = "^swh:1:[a-z]+:[a-f0-9]{40}$"

    def valid(x: str) -> str:
        return f"({d.rlike(x, '^https?://')} OR {d.rlike(x, doi)})"

    other_valid = d.exists(
        d.filter("ev", "e -> e.k = 'identifier' AND e.src <> 'codemeta.json'"),
        f"e -> {valid('e.v')}",
    )
    # software-info DOI-URL promotion (json_ld_utils.py:6-50): a bare or
    # doi:-prefixed DOI becomes its https://doi.org/ URL
    bare_rx = d.rlike(cmid, "^10\\.[0-9]+/")
    pref_rx = d.rlike(cmid, "^doi:10\\.[0-9]+/")
    promoted = (
        f"(CASE WHEN {bare_rx}"
        f" THEN 'https://doi.org/' || {cmid}"
        f" WHEN {pref_rx}"
        f" THEN 'https://doi.org/' || substring({cmid}, 5)"
        f" ELSE {cmid} END)"
    )
    return {
        "promoted_id": promoted,
        "p014": d.flag(
            f"{d.rlike(cmid, doi)} AND {cmid} NOT LIKE 'https://doi.org/%'"
        ),
        "p018": d.flag(d.rlike(cmid, swh)),
        "w007": d.flag(f"trim({cmid}) = ''"),
        "w006": d.flag(f"NOT {valid(cmid)} AND {other_valid}"),
    }


def flags_url_classes(d: Dia) -> dict[str, str]:
    """P007 exists-algebra, P005 archive classifier, P009 homepage-is-repo,
    W009 value-is-URL."""
    b1 = d.exists("ev", "e -> e.src = 'codemeta.json' AND e.k = 'reference_publication'")
    b2 = d.exists("ev", "e -> e.src = 'CITATION.cff'")
    b3 = d.exists("ev", "e -> e.src = 'CITATION.cff' AND e.k = 'reference_publication'")
    rp = d.first(d.filter(
        "ev", "e -> e.src = 'codemeta.json' AND e.k = 'reference_publication'"
    )) + ".v"
    archive = ("(zenodo\\.org|figshare|github\\.com/.+/releases|sourceforge\\.net"
               "|archive\\.org|codeocean\\.com|osf\\.io|doi\\.org/10\\.5281)")
    hp = d.first(d.filter("ev", "e -> e.k = 'homepage'")) + ".v"
    ds = d.first(d.filter("ev", "e -> e.k = 'development_status'")) + ".v"
    # --- P004 full classifier chain (p004.py:7-45) over the codemeta
    # readme_url: raw.githubusercontent -> not-homepage; github/gitlab ->
    # homepage unless readme/blob; doc-site indicators; generic-TLD minus
    # file-ish suffixes.
    rm = d.first(d.filter(
        "ev", "e -> e.src = 'codemeta.json' AND e.k = 'readme_url'"
    )) + ".v"
    ul = f"lower({rm})"
    indicators = " OR ".join(
        d.contains(ul, i)
        for i in (".readthedocs.io", ".github.io", "wiki", "docs.",
                  "documentation")
    )
    generic = " OR ".join(d.contains(ul, t) for t in (".org", ".com", ".net"))
    exts = " OR ".join(
        d.contains(ul, x) for x in (".md", ".txt", ".rst", ".html", "readme")
    )
    p004 = (
        f"NOT {d.contains(ul, 'raw.githubusercontent.com')} AND"
        f" (CASE WHEN {d.contains(ul, 'github.com')} OR {d.contains(ul, 'gitlab.com')}"
        f" THEN NOT ({d.contains(ul, 'readme')} OR {d.contains(ul, 'blob/')})"
        f" ELSE ({indicators}) OR (({generic}) AND NOT ({exts})) END)"
    )
    return {
        "p007": d.flag(f"{b1} AND {b2} AND NOT {b3}"),
        "p004": d.flag(p004),
        "p005": d.flag(d.rlike(f"coalesce({rp}, '')", archive)),
        "p009": d.flag(d.rlike(hp, "^https://(github|gitlab)\\.com/[^/]+/[^/]+/?$")),
        "w009": d.flag(
            d.rlike(ds, "^https?://") + " OR " + d.rlike(ds, "^www\\.")
            + " OR " + d.rlike(ds, "\\.(org|com|net)/")
        ),
    }


# P002's full 13-pattern placeholder alternation (p002.py:38-51), applied
# to the lowercased text like the reference
_P002_RX = (
    "(<program>|<year>|<name of author>|<name>|<copyright holders?>|<owner>"
    "|<author>|\\[year\\]|\\[fullname\\]|\\[name\\]|\\[copyright holder\\]"
    "|<yyyy>|<name of copyright owner>)"
)
# P010's pattern sets (p010.py:43-66)
_P010_CR = (
    "(year\\s*:\\s*\\d{4}|copyright\\s+holder\\s*:\\s*[a-zA-Z]"
    "|author\\s*:\\s*[a-zA-Z]|copyright\\s*©?\\s*\\d{4}|\\(c\\)\\s*\\d{4})"
)
_P010_LT = (
    "(permission\\s+is\\s+hereby\\s+granted"
    "|subject\\s+to\\s+the\\s+following\\s+conditions"
    "|redistribution\\s+and\\s+use|without\\s+restriction"
    "|without\\s+warranty|liability|terms\\s+and\\s+conditions"
    "|licensed\\s+under|mit\\s+license|apache\\s+license"
    "|gnu\\s+general\\s+public\\s+license|bsd\\s+license|creative\\s+commons)"
)
# P013's six family/version pattern pairs (p013.py:28-37). The reference
# searches rf"\b{name}\b" against the UPPERCASED value WITHOUT ignorecase,
# so the mixed-case "Apache" family can never match — replicated verbatim.
# Every version pattern keeps the reference's leading \b (p013.py:29-34):
# without it, 'LGPL-2.1 GPL' would match GPL-2.1 INSIDE 'LGPL-2.1' and
# wrongly suppress the standalone-unversioned-GPL flag.
_P013_FAMS = (
    ("GPL", "\\bGPL[-\\s]?\\d+(\\.\\d+)?"),
    ("LGPL", "\\bLGPL[-\\s]?\\d+(\\.\\d+)?"),
    ("AGPL", "\\bAGPL[-\\s]?\\d+(\\.\\d+)?"),
    ("Apache", "\\bApache[-\\s]?\\d+(\\.\\d+)?"),
    ("CC", "\\bCC[- ]BY[-\\s]?\\d+(\\.\\d+)?"),
    ("BSD", "\\bBSD[-\\s]\\d+[-\\s]Clause"),
)


def flags_licenses(d: Dia) -> dict[str, str]:
    """P006 local-path when-chain, P013 six-family version check with
    0BSD/LICENSEREF- skips, W003 conditional count, P002 full placeholder
    set, P010's branchy copyright-only check incl. the line-count bound."""
    lpath = d.first(d.filter("ev", "e -> e.k = 'license_path'")) + ".v"
    lname = d.first(d.filter(
        "ev", "e -> e.k = 'license' AND e.src = 'LICENSE'"
    )) + ".v"
    ltext = d.first(d.filter("ev", "e -> e.k = 'license_text'")) + ".v"
    n_cm_lic = d.size(d.filter(
        "ev", "e -> e.k = 'license' AND e.src = 'codemeta.json'"
    ))
    suffix_rx = d.rlike(lpath, "\\.(md|txt|rst)$")
    p006 = (
        f"NOT {d.rlike(lpath, '^https?://')} AND ("
        f"{lpath} LIKE './%' OR {lpath} LIKE '../%'"
        f" OR {lpath} LIKE '%/%'"
        f" OR {lpath} IN ('LICENSE', 'COPYING', 'LICENSE.txt')"
        f" OR {suffix_rx})"
    )
    # --- P013 (p013.py:44-66) ---
    u = f"upper({lname})"
    fams = " OR ".join(
        "({hit} AND NOT {ver})".format(
            hit=d.rlike(u, "\\b" + name + "\\b"),
            ver=d.rlike(u, "(?i)" + vp),
        )
        for name, vp in _P013_FAMS
    )
    p013 = (
        f"NOT {d.contains(lname, '0BSD')}"
        f" AND NOT {d.contains(f'upper({lname})', 'LICENSEREF-')}"
        f" AND ({fams})"
    )
    # --- P010 (p010.py:29-102) ---
    cl = f"lower(trim({ltext}))"
    lines = d.filter(
        d.transform(d.split_nl(f"trim({ltext})"), "x -> trim(x)"),
        "x -> x <> ''",
    )
    nl_count = d.size(lines)
    has_cr = d.rlike(cl, _P010_CR)
    has_lt = d.rlike(cl, _P010_LT)
    year_f = d.rlike(cl, "year\\s*:\\s*\\d{4}")
    holder_f = d.rlike(cl, "copyright\\s+holder\\s*:")
    meaningful = d.size(d.filter(
        lines,
        f"x -> NOT {d.rlike('lower(x)', _P010_CR)}"
        f" AND NOT {d.startswith('x', '#')} AND NOT {d.startswith('x', '//')}"
        " AND NOT x IN ('-', '=', '*')",
    ))
    p010 = (
        f"{ltext} <> '' AND NOT {has_lt} AND ("
        f"({has_cr} AND {nl_count} <= 10)"
        f" OR ({year_f} AND {holder_f})"
        f" OR ({nl_count} <= 5 AND {meaningful} <= 1 AND {has_cr}))"
    )
    return {
        "p006": d.flag(p006),
        "p013": d.flag(p013),
        "w003": d.flag(
            f"{d.rlike(ltext, '(dual licensed|licensed under .+ or )')}"
            f" AND {n_cm_lic} <= 1"
        ),
        "p002": d.flag(d.rlike(cl, _P002_RX)),
        "p010": d.flag(p010),
    }


def flags_unversioned(d: Dia) -> dict[str, str]:
    """W001 ratio, W004 null-version transform, W005 multi-req split."""
    reqs = d.filter("ev", "e -> e.k = 'requirement'")
    unv = d.size(d.filter(reqs, "e -> e.ver IS NULL"))
    # coalesce: DuckDB's array_to_string of an empty list is NULL, Spark's
    # array_join is '' — pin the empty case to ''
    w004_names = "coalesce(" + d.join_str(
        d.transform(
            d.filter("ev", "e -> e.k = 'prog_lang' AND e.ver IS NULL"), "e -> e.v"
        ),
        ",",
    ) + ", '')"
    return {
        "n_unversioned": unv,
        # basis points (1/100 of a percent), exact integer in both engines
        # — Spark's `round(100.0*x/y, 2)` is DECIMAL vs DuckDB's DOUBLE and
        # fails the driver's typed value hash despite equal values.
        "unv_bp": d.idiv(f"10000 * {unv}", d.size(reqs)),
        "w001": d.flag(f"{unv} >= 1"),
        "w004_names": w004_names,
        "w005": d.flag(d.exists(reqs, f"e -> {_w005_multi(d, 'trim(e.v)')}")),
    }


def _w005_multi(d: Dia, t: str) -> str:
    """w005.py:29-43's exact split cascade: if a run of >=2 spaces exists
    and yields any non-empty part, the verdict is parts>1; OTHERWISE fall
    back to splitting before capitalized words (guarded by the reference's
    `\\s+[A-Z][A-Za-z]` search).

    RE2 (DuckDB) has no lookahead, so the `\\s+(?=[A-Z])` split is
    emulated identically in both engines by marking each boundary with an
    ASCII RS (0x1e) and splitting on it."""
    cnt1 = d.size(d.filter(
        d.transform(d.split_rx(t, "\\s{2,}"), "p -> trim(p)"), "p -> p <> ''"
    ))
    marked = d.rreplace(t, "\\s+([A-Z])", "\x1e$G1")
    cnt2 = d.size(d.filter(
        d.transform(d.split_plain(marked, "\x1e"), "p -> trim(p)"),
        "p -> p <> ''",
    ))
    return (
        f"(CASE WHEN {d.rlike(t, chr(92) + 's{2,}')} AND {cnt1} > 0"
        f" THEN {cnt1} > 1"
        f" ELSE {d.rlike(t, chr(92) + 's+[A-Z][A-Za-z]')} AND {cnt2} > 1 END)"
    )


# ---------------------------------------------------------------------------
# Query builders: Spark impl + DuckDB oracle from the same flag dicts
# ---------------------------------------------------------------------------

_FAMILIES: dict[str, Callable[[Dia], dict[str, str]]] = {
    "ev01_version_rules": flags_versions,
    "ev02_repo_url_rules": flags_repo_urls,
    "ev03_author_rules": flags_authors,
    "ev04_date_rules": flags_dates,
    "ev05_identifier_rules": flags_identifiers,
    "ev06_url_class_rules": flags_url_classes,
    "ev07_license_rules": flags_licenses,
    "ev08_version_presence_rules": flags_unversioned,
}


def _spark_ev_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.selectExpr("doc_id", f"{ev_expr(SPARK)} AS ev")


def _make_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        flags = _FAMILIES[name](SPARK)
        return _spark_ev_df(spark, sf_dir).selectExpr(
            "doc_id", *[f"{expr} AS {alias}" for alias, expr in flags.items()]
        )

    q.__name__ = name
    q.__doc__ = _FAMILIES[name].__doc__
    return q


def _make_sql(name: str) -> str:
    flags = _FAMILIES[name](DUCK)
    cols = ", ".join(f"{expr} AS {alias}" for alias, expr in flags.items())
    return (
        f"WITH evd AS (SELECT doc_id, {ev_expr(DUCK)} AS ev FROM documents)\n"
        f"SELECT doc_id, {cols} FROM evd"
    )


# The A1/A2 aggregate over the evidence model (per-rule hit count + pct),
# unioning every detector family in one pass — the evidence-model analog of
# detect_pitfalls_main.py:385-394.
_EV_RULE_FLAGS = (
    ("ev01_version_rules", ("p001", "p012", "p017")),
    ("ev02_repo_url_rules", ("p016", "w010")),
    ("ev03_author_rules", ("p003", "p019", "w008")),
    ("ev04_date_rules", ("w002",)),
    ("ev05_identifier_rules", ("p014", "p018", "w006", "w007")),
    ("ev06_url_class_rules", ("p004", "p005", "p007", "p009", "w009")),
    ("ev07_license_rules", ("p002", "p006", "p010", "p013", "w003")),
    ("ev08_version_presence_rules", ("w001", "w004", "w005")),
)


def _all_rule_exprs(d: Dia) -> dict[str, str]:
    out: dict[str, str] = {}
    for fam_name, rules in _EV_RULE_FLAGS:
        flags = _FAMILIES[fam_name](d)
        for r in rules:
            if r == "w004":
                out[r] = d.flag(f"{flags['w004_names']} <> ''")
            else:
                out[r] = flags[r]
    return out


def ev09_rule_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule hit counts + percentage over the evidence model (A1/A2
    shape, detect_pitfalls_main.py:385-394): all 29 detectors — the 26
    cross-evidence families plus the three network rules — evaluated in
    ONE scan, aggregated with map-side combine, unpivoted to
    (rule, hits, pct)."""
    from pyspark.sql import functions as F

    from .evidence_net import network_flag_cols, with_net

    exprs = _all_rule_exprs(SPARK)
    net_flags = network_flag_cols()
    # ev09 is the one evidence query that aggregates (shuffles anyway), so
    # unlike the zero-Exchange ev01-ev08 detectors it can afford one
    # repartition — without it the full 29-detector regex evaluation runs
    # at the scan's file-split parallelism (ONE task on a single-row-group
    # parquet file; ~15 s at sf1.0). At real scale the scan has thousands
    # of splits and the repartition is a cheap row-count-preserving hash
    # exchange of (doc_id, text) before the heavy projection.
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ev_base = docs.repartition(par, "doc_id").selectExpr(
        "doc_id", f"{ev_expr(SPARK)} AS ev"
    )
    ev = with_net(ev_base).select(
        *[F.expr(e).alias(r) for r, e in exprs.items()],
        *[c.alias(r) for r, c in net_flags.items()],
    )
    rules = list(exprs) + list(net_flags)
    agg = ev.agg(
        F.count("*").alias("total"),
        *[F.sum(r).alias(f"h_{r}") for r in rules],
    )
    pairs = F.array(*[
        F.struct(F.lit(r).alias("rule"), F.col(f"h_{r}").alias("hits"))
        for r in rules
    ])
    return agg.select(F.explode(pairs).alias("e"), "total").select(
        F.col("e.rule").alias("rule"),
        F.col("e.hits").alias("hits"),
        F.round(100.0 * F.col("e.hits") / F.col("total"), 2).alias("pct"),
    )


def _sql_ev09() -> str:
    from .evidence_net import duck_flag_exprs, net_expr

    exprs = _all_rule_exprs(DUCK)
    net_exprs = duck_flag_exprs()
    cols = ", ".join(f"SUM({e}) AS h_{r}" for r, e in exprs.items())
    net_cols = ", ".join(f"SUM({e}) AS h_{r}" for r, e in net_exprs.items())
    unions = "\nUNION ALL ".join(
        f"SELECT '{r}' AS rule, CAST(h_{r} AS BIGINT) AS hits,"
        f" ROUND(100.0 * h_{r} / total, 2) AS pct FROM a, b"
        for r in list(exprs) + list(net_exprs)
    )
    return (
        f"WITH evd AS (SELECT doc_id, {ev_expr(DUCK)} AS ev FROM documents),\n"
        f"nets AS (SELECT doc_id, {net_expr(DUCK)} AS net FROM documents),\n"
        f"a AS (SELECT COUNT(*) AS total, {cols} FROM evd),\n"
        f"b AS (SELECT {net_cols} FROM nets)\n{unions}"
    )


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]]:
    reg = {name: (_make_query(name), _make_sql(name)) for name in _FAMILIES}
    reg["ev09_rule_summary"] = (ev09_rule_summary, _sql_ev09())
    return reg
