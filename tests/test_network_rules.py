"""Network-rule family (P008/P011/P015, evidence_net.py): per-threshold
boundary cases mirroring the reference's mocked-requests style
(test_p015.py parametrizes status codes against expected accessibility),
plus an independent Python reimplementation of the synthesized URLs +
statuses cross-checking the Spark output end-to-end."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsmetacheck_spark.evidence_net import (
    ST_CODES,
    ev10_network_rules,
    extract_urls,
    ok_p008,
    ok_p011,
    ok_p015,
    url_is_valid,
)

# Expected accessibility per status, straight from the reference:
# p008.py:47 (2xx or 301), p011.py:22 (< 400), p015.py:40 (2xx, 301, 302).
THRESHOLDS = [
    # status, p008_ok, p011_ok, p015_ok
    (200, True, True, True),
    (204, True, True, True),
    (299, True, True, True),
    (300, False, True, False),
    (301, True, True, True),
    (302, False, True, True),
    (303, False, True, False),
    (399, False, True, False),
    (400, False, False, False),
    (404, False, False, False),
    (500, False, False, False),
]


def test_threshold_definitions_differ(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"st": [t[0] for t in THRESHOLDS]})
    ).select(
        "st",
        ok_p008(F.col("st")).alias("ok8"),
        ok_p011(F.col("st")).alias("ok11"),
        ok_p015(F.col("st")).alias("ok15"),
    )
    got = {r.st: (r.ok8, r.ok11, r.ok15) for r in df.collect()}
    for st, e8, e11, e15 in THRESHOLDS:
        assert got[st] == (e8, e11, e15), f"status {st}"


def test_url_format_validation(spark):
    # mirrors TestIsValidUrlFormat in the reference's test_p015.py
    cases = [
        ("https://github.com/user/repo", True),
        ("http://example.com", True),
        ("ftp://files.example.com", True),  # any scheme is format-valid
        ("not-a-url", False),
        ("", False),
        ("github.com", False),
        ("://invalid", False),
        ("https://", False),
        ("www.example.org/x", False),  # no scheme -> error path
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in cases], "u string"
    ).select("u", url_is_valid(F.col("u")).alias("ok"))
    got = {r.u: r.ok for r in df.collect()}
    for u, expected in cases:
        assert got[u] == expected, u


def test_extract_urls_reference_exact(spark):
    # p008.py:58-81: finds https?:// and www. URLs, strips ONE trailing
    # [,;.!?)] character, case-insensitive.
    df = spark.createDataFrame(
        [
            (
                "see https://a.example/x, docs at WWW.B.example/y. "
                "also (https://c.example/z)) end",
            ),
            # the two findall passes OVERLAP: https://www.X yields both
            ("home at https://www.pkg.example.org/r2 ok",),
        ],
        "t string",
    ).select(extract_urls(F.col("t")).alias("urls"))
    rows = df.collect()
    assert rows[0].urls == [
        # reference order: ALL https matches first, then all www matches
        "https://a.example/x",
        "https://c.example/z)",  # one strip only, like re.sub anchored class
        "WWW.B.example/y",
    ]
    assert rows[1].urls == [
        "https://www.pkg.example.org/r2",
        "www.pkg.example.org/r2",  # bare-www duplicate, always format-invalid
    ]


def _py_status(url: str) -> int:
    h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
    return ST_CODES[h % len(ST_CODES)]


def _py_expected(doc_id: int) -> tuple[int, int, int]:
    """Independent reimplementation of the synthesized entries + rules."""
    ok8 = lambda s: 200 <= s < 300 or s == 301  # noqa: E731
    ok11 = lambda s: s < 400  # noqa: E731
    ok15 = lambda s: 200 <= s < 300 or 300 < s < 303  # noqa: E731

    # p011: codemeta issue_tracker present iff doc_id % 2 == 0
    p011 = 0
    if doc_id % 2 == 0:
        m = doc_id % 5
        if m == 0:
            u = f"https://github.com/org{doc_id % 50}/repo/issues"
        elif m == 1:
            u = f"https://gitlab.com/grp{doc_id % 9}/proj/-/issues"
        elif m == 2:
            u = None  # 'not a url' -> invalid format -> fires
        elif m == 3:
            u = f"https://tracker.example.org/p/{doc_id}"
        else:
            u = None  # www. -> no scheme -> fires
        p011 = 1 if u is None or not ok11(_py_status(u)) else 0

    # p015: codemeta continuous_integration present iff doc_id % 3 != 1
    p015 = 0
    if doc_id % 3 != 1:
        m = doc_id % 4
        if m == 0:
            u = f"https://github.com/org{doc_id % 50}/repo/actions"
        elif m == 1:
            u = f"https://ci.example.net/job/{doc_id % 13}"
        elif m == 2:
            u = f"https://app.travis-ci.com/gh/org{doc_id % 50}"
        else:
            u = None  # 'invalid ci link'
        p015 = 1 if u is None or not ok15(_py_status(u)) else 0

    # p008: setup.py requirement entry, always present
    m = doc_id % 7
    if m == 0:
        p008 = 0 if ok8(_py_status(f"https://pypi.example.org/project/pkg{doc_id % 30}/")) else 1
    elif m == 1:
        p008 = 0 if ok8(_py_status(f"https://numpy.example.org/doc{doc_id % 9}")) else 1
    elif m == 2:
        p008 = 0  # no URLs in the text
    elif m == 3:
        p008 = 1  # www. URL -> invalid format -> always inaccessible
    elif m == 4:
        p008 = 0 if ok8(_py_status(f"https://files.example.com/whl/{doc_id}.whl")) else 1
    elif m == 5:
        # https://www. overlap: the bare-www duplicate from the second
        # findall pass is format-invalid, so p008 fires regardless of the
        # https URL's status (p008.py:65-73 overlapping passes)
        p008 = 1
    else:
        p008 = 0 if ok8(_py_status(f"https://docs.example.io/a{doc_id % 7}")) else 1
    return p008, p011, p015


@pytest.fixture(scope="module")
def net_flags(spark):
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        pytest.skip("testdata missing")
    return {
        r.doc_id: r for r in ev10_network_rules(spark, sf).collect()
    }


def test_ev10_matches_independent_python(net_flags):
    for doc_id, row in net_flags.items():
        assert (row.p008, row.p011, row.p015) == _py_expected(doc_id), doc_id


def test_ev10_decoys_do_not_fire(net_flags):
    # Odd doc_ids have NO codemeta issue_tracker entry; the README decoy
    # ('not a url') would fire p011 on every row if the source/technique
    # filter leaked.
    odd = [r for d, r in net_flags.items() if d % 2 == 1]
    assert odd and all(r.p011 == 0 for r in odd)
    # doc_id % 7 == 2 docs have a URL-free requirement text; the
    # somef_heuristics decoy ('www.broken.example/req') would fire p008.
    no_url = [r for d, r in net_flags.items() if d % 7 == 2]
    assert no_url and all(r.p008 == 0 for r in no_url)


def test_ev10_statuses_span_palette(net_flags):
    seen = {r.it_status for r in net_flags.values()} | {
        r.ci_status for r in net_flags.values()
    }
    assert set(ST_CODES) <= {s for s in seen if s is not None}
