"""Independent Python-reference checks for the round-5 operators.

The DuckDB oracle proves Spark and DuckDB AGREE; these tests recompute
dd09/q35/q36/km01 semantics a THIRD way (plain Python over the raw
parquet) so a misunderstanding shared by both SQL formulations can't
hide."""

import hashlib

import duckdb
import pytest

from rsmetacheck_spark.queries import (
    _BLOOM_K, _BLOOM_M, _KM_K, _KM_SCALE, _QBIN_W, _bloom_width,
    dd09_bloom_prefilter, km01_kmeans_iteration,
    q35_salted_source_stats, q36_binned_quantiles,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs():
    return duckdb.sql(
        "SELECT doc_id, source, text, lang, n_chars"
        f" FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


@pytest.fixture(scope="module")
def vecs():
    return duckdb.sql(
        "SELECT vec_id, embedding"
        f" FROM read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()


def _bloom_positions(text: str) -> set[int]:
    h = hashlib.md5(text.lower().strip().encode()).hexdigest()
    w = _bloom_width()  # probe width follows _BLOOM_M, like the product code
    return {
        int(h[j * w:(j + 1) * w], 16) % _BLOOM_M for j in range(_BLOOM_K)
    }


def test_dd09_matches_bloom_reference(spark, docs):
    bits: set[int] = set()
    existing_md5 = set()
    for doc_id, _s, text, _l, _n in docs:
        if doc_id % 2 == 0:
            bits |= _bloom_positions(text)
            existing_md5.add(
                hashlib.md5(text.lower().strip().encode()).hexdigest()
            )
    expect = {}
    for doc_id, _s, text, _l, _n in docs:
        if doc_id % 2 == 1:
            hit = _bloom_positions(text) <= bits
            actual = (
                hashlib.md5(text.lower().strip().encode()).hexdigest()
                in existing_md5
            )
            expect[doc_id] = (hit, actual, hit and not actual)
    got = {
        r.doc_id: (r.bloom_hit, r.actual, r.is_fp)
        for r in dd09_bloom_prefilter(spark, SF).collect()
    }
    assert got == expect


def test_dd09_no_false_negatives(spark):
    # the defining Bloom guarantee: a true member ALWAYS hits
    rows = dd09_bloom_prefilter(spark, SF).collect()
    assert all(r.bloom_hit for r in rows if r.actual)
    # and the audit column is exactly hit-minus-member
    assert all(r.is_fp == (r.bloom_hit and not r.actual) for r in rows)


def test_q35_matches_plain_reference(spark, docs):
    expect: dict = {}
    for _d, source, _t, lang, n_chars in docs:
        n, s, m, langs = expect.get(source, (0, 0, 0, set()))
        # NULL lang is not a language — COUNT(DISTINCT lang) semantics,
        # same as the operator and its oracle
        new_langs = langs | ({lang} if lang is not None else set())
        expect[source] = (n + 1, s + n_chars, max(m, n_chars), new_langs)
    got = {
        r.source: (r.n_docs, r.sum_chars, r.max_chars, r.n_langs)
        for r in q35_salted_source_stats(spark, SF).collect()
    }
    assert got == {
        src: (n, s, m, len(langs)) for src, (n, s, m, langs) in expect.items()
    }


def test_q36_quantiles_bracket_exact(spark, docs):
    # the binned estimate must bracket the exact order statistic within
    # one bin width, and never under-shoot it
    import math

    by_src: dict = {}
    for _d, source, _t, _l, n_chars in docs:
        by_src.setdefault(source, []).append(n_chars)
    got = {r.source: r for r in q36_binned_quantiles(spark, SF).collect()}
    assert set(got) == set(by_src)
    for src, vals in by_src.items():
        vals.sort()
        for col, q in (("p50_ub", 0.5), ("p90_ub", 0.9), ("p99_ub", 0.99)):
            exact = vals[math.ceil(q * len(vals)) - 1]
            est = getattr(got[src], col)
            assert exact <= est < exact + _QBIN_W, (src, col, exact, est)
        assert got[src].n_docs == len(vals)


def _quantize(vec) -> list[int]:
    import math

    return [int(math.floor(float(x) * _KM_SCALE + 0.5)) for x in vec]


def test_km01_matches_lloyd_reference(spark, vecs):
    seeds = [_quantize(v) for _id, v in vecs[:_KM_K]]
    agg: dict = {}
    for _id, v in vecs:
        qv = _quantize(v)
        dists = [
            sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in seeds
        ]
        cid = dists.index(min(dists))  # first-min = lowest cid on ties
        n, sums = agg.get(cid, (0, [0] * len(qv)))
        agg[cid] = (n + 1, [s + x for s, x in zip(sums, qv)])
    expect = {
        (cid, dim + 1): (n, sums[dim])
        for cid, (n, sums) in agg.items()
        for dim in range(len(sums))
    }
    got = {
        (r.cluster_id, r.dim): (r.n_members, r.sum_q)
        for r in km01_kmeans_iteration(spark, SF).collect()
    }
    assert got == expect


def test_km01_partition_invariance(spark):
    # the one-shuffle plan must be partitioning-independent: rerun with
    # the scan forced into many tiny splits and the shuffle fan-out
    # changed, and require bit-identical results
    base = {
        (r.cluster_id, r.dim): (r.n_members, r.sum_q)
        for r in km01_kmeans_iteration(spark, SF).collect()
    }
    saved = {
        "spark.sql.files.maxPartitionBytes": spark.conf.get(
            "spark.sql.files.maxPartitionBytes"),
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"),
    }
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        repartitioned = {
            (r.cluster_id, r.dim): (r.n_members, r.sum_q)
            for r in km01_kmeans_iteration(spark, SF).collect()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert repartitioned == base
    total = sum(n for (cid, dim), (n, _s) in base.items() if dim == 1)
    n_vecs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchone()[0]
    assert total == n_vecs  # every vector assigned exactly once
    assert len({cid for cid, _ in base}) <= _KM_K


def test_dc01_matches_linear_counting_reference(spark, docs):
    from rsmetacheck_spark.queries import _LC_M, dc01_distinct_sketch

    expect: dict = {}
    for _d, source, text, _l, _n in docs:
        h = hashlib.md5(text.lower().strip().encode()).hexdigest()
        bucket = int(h[:8], 16) % _LC_M
        rows, buckets, md5s = expect.get(source, (0, set(), set()))
        expect[source] = (rows + 1, buckets | {bucket}, md5s | {h})
    got = {
        r.source: (r.n_rows, r.n_used, r.n_distinct)
        for r in dc01_distinct_sketch(spark, SF).collect()
    }
    assert got == {
        s: (rows, len(buckets), len(md5s))
        for s, (rows, buckets, md5s) in expect.items()
    }
    # the linear-counting estimate the sketch exists for: within 15% of
    # the exact audit at this (m, n) — derived downstream per docstring
    import math

    for s, (rows, buckets, md5s) in expect.items():
        empty = _LC_M - len(buckets)
        assert empty > 0
        est = _LC_M * math.log(_LC_M / empty)
        assert abs(est - len(md5s)) <= max(0.15 * len(md5s), 3.0), (
            s, est, len(md5s))


def test_q37_matches_bigram_reference(spark, docs):
    import re as _re

    from rsmetacheck_spark.queries import q37_bigram_coverage

    def toks(text):
        return [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]

    counts: dict = {}
    for doc_id, _s, text, _l, _n in docs:
        t = toks(text)
        if doc_id % 2 == 0 and len(t) >= 2:
            for a, b in zip(t, t[1:]):
                counts[f"{a} {b}"] = counts.get(f"{a} {b}", 0) + 1
    expect = {}
    for doc_id, _s, text, _l, _n in docs:
        t = toks(text)
        if doc_id % 2 == 1 and len(t) >= 2:
            bgs = [f"{a} {b}" for a, b in zip(t, t[1:])]
            unseen = sum(1 for bg in bgs if bg not in counts)
            mass = sum(counts.get(bg, 0) for bg in bgs)
            expect[doc_id] = (
                len(bgs), unseen, mass, unseen * 1_000_000 // len(bgs),
            )
    top = sorted(
        expect.items(), key=lambda kv: (-kv[1][3], kv[0])
    )[:50]
    got = [
        (r.doc_id, (r.n_bigrams, r.n_unseen, r.train_mass, r.oov_micro))
        for r in q37_bigram_coverage(spark, SF).collect()
    ]
    assert got == top


def test_sim07_matches_pq_reference(spark, vecs):
    from rsmetacheck_spark.queries import (
        _PQ_KC, _PQ_SUB, sim07_pq_adc_topk,
    )

    qz = {vid: _quantize(v) for vid, v in vecs}
    dim = len(next(iter(qz.values())))
    sd = dim // _PQ_SUB
    seeds = [qz[vid] for vid, _v in vecs[:_PQ_KC]]
    book = [
        [c[s * sd:(s + 1) * sd] for c in seeds] for s in range(_PQ_SUB)
    ]

    def sub_dist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def encode(qv):
        out = []
        for s in range(_PQ_SUB):
            sub = qv[s * sd:(s + 1) * sd]
            ds = [sub_dist(sub, book[s][c]) for c in range(_PQ_KC)]
            out.append(ds.index(min(ds)))  # first-min = lowest code
        return out

    q_id = vecs[0][0]  # query = smallest vec_id, like the operator
    q = qz[q_id]
    adc = [
        [sub_dist(q[s * sd:(s + 1) * sd], book[s][c]) for c in range(_PQ_KC)]
        for s in range(_PQ_SUB)
    ]
    scored = []
    for vid, _v in vecs:
        if vid == q_id:
            continue
        code = encode(qz[vid])
        scored.append((
            vid, "-".join(map(str, code)),
            sum(adc[s][code[s]] for s in range(_PQ_SUB)),
        ))
    scored.sort(key=lambda t: (t[2], t[0]))
    expect = scored[:10]
    got = [
        (r.vec_id, r.code_str, r.approx_dist)
        for r in sim07_pq_adc_topk(spark, SF).collect()
    ]
    assert got == expect
    # quality floor: PQ top-10 vs the EXACT fixed-point top-10. With an
    # UNTRAINED codebook (16 arbitrary seed vectors) on unclustered
    # synthetic embeddings at 64x compression, measured overlap is 4/10
    # at sf0.001 — the point of this registry row is the exact
    # cross-engine encode/ADC plumbing; production trains the codebook
    # (sampled per-subspace k-means, the km01 loop) and rescores the
    # shortlist exactly. Floor guards against total collapse only.
    exact = sorted(
        ((vid, sub_dist(qz[vid], q)) for vid, _v in vecs if vid != q_id),
        key=lambda t: (t[1], t[0]),
    )[:10]
    overlap = {v for v, _ in exact} & {v for v, _c, _d in expect}
    assert len(overlap) >= 3, (sorted(overlap), exact, expect)


def test_sim07_fewer_vectors_than_codebook_matches_oracle(spark, tmp_path):
    """Fewer than KC (16) embeddings: the codebook is as many seeds as
    there are vectors (the oracle's `LIMIT KC`), and no vectors give an
    empty result — not an IndexError."""
    import pyarrow.parquet as pq

    from rsmetacheck_spark.queries import _sql_sim07, sim07_pq_adc_topk
    from tools.check_oracle import norm_rows

    full = pq.read_table(f"{SF}/embeddings.parquet").sort_by("vec_id")
    for n in (0, 1, 5):
        sf = tmp_path / f"n{n}"
        sf.mkdir()
        pq.write_table(full.slice(0, n), sf / "embeddings.parquet")
        got = sim07_pq_adc_topk(spark, str(sf))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        rel = con.sql(_sql_sim07())
        want = norm_rows([d[0] for d in rel.description], rel.fetchall())
        assert norm_rows(got.columns, [tuple(r) for r in got.collect()]) == want, n
        assert len(want[1]) == max(n - 1, 0)


def _toks(text: str) -> list[str]:
    import re

    return [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]


def test_dd11_matches_keep_first_reference(spark, docs):
    from rsmetacheck_spark.queries import _LINE_W, dd11_line_dedup

    w = _LINE_W
    seen: set[str] = set()
    expect = {}
    for doc_id, _s, text, _l, _n in sorted(docs):  # doc_id order = keep order
        t = _toks(text)
        if not t:
            continue
        n_lines = n_kept = kept_tokens = 0
        kept_chunks = []
        for li in range(0, (len(t) - 1) // w + 1):
            chunk = " ".join(t[li * w:li * w + w])
            h = hashlib.md5(chunk.encode()).hexdigest()
            n_lines += 1
            if h not in seen:
                seen.add(h)
                n_kept += 1
                kept_tokens += min(w, len(t) - li * w)
                kept_chunks.append(chunk)
        expect[doc_id] = (
            len(t), n_lines, n_kept, kept_tokens,
            hashlib.md5(" ".join(kept_chunks).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_tokens, r.n_lines, r.n_kept, r.kept_tokens, r.kept_md5)
        for r in dd11_line_dedup(spark, SF).collect()
    }
    assert got == expect


def test_dd11_conservation(spark):
    # every distinct chunk hash survives exactly once corpus-wide:
    # sum(n_kept) == number of distinct chunk hashes
    from rsmetacheck_spark.queries import _LINE_W, dd11_line_dedup

    rows = dd11_line_dedup(spark, SF).collect()
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    w = _LINE_W
    distinct = set()
    for _d, text in docs:
        t = _toks(text)
        for li in range(0, (len(t) - 1) // w + 1) if t else []:
            distinct.add(" ".join(t[li * w:li * w + w]))
    assert sum(r.n_kept for r in rows) == len(distinct)
    assert all(r.n_kept <= r.n_lines for r in rows)


def test_hh01_matches_cms_reference(spark, docs):
    from collections import Counter

    from rsmetacheck_spark.queries import (
        _CMS_D, _CMS_W, hh01_cms_heavy_hitters,
    )

    cnt: Counter = Counter()
    for _d, _s, text, _l, _n in docs:
        t = _toks(text)
        for a, b in zip(t, t[1:]):
            cnt[f"{a} {b}"] += 1

    def positions(bg: str) -> list[int]:
        h = hashlib.md5(bg.encode()).hexdigest()
        return [int(h[r * 4:r * 4 + 4], 16) % _CMS_W for r in range(_CMS_D)]

    buckets = [[0] * _CMS_W for _ in range(_CMS_D)]
    for bg, c in cnt.items():
        for r, p in enumerate(positions(bg)):
            buckets[r][p] += c
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    expect = {
        bg: (c, min(buckets[r][p] for r, p in enumerate(positions(bg))))
        for bg, c in top
    }
    got = {
        r.bg: (r.exact_cnt, r.cms_est)
        for r in hh01_cms_heavy_hitters(spark, SF).collect()
    }
    assert got == expect
    # sketch guarantee: never underestimates
    assert all(est >= c for c, est in got.values())


def test_st05_constants_sync_with_hh01():
    # the streaming CMS row re-declares the sketch geometry to stay
    # self-contained; it must track queries.py's hh01
    from rsmetacheck_spark import queries as Q
    from rsmetacheck_spark.streaming import oracle_rows as O

    assert O._ST_CMS_D == Q._CMS_D
    assert O._ST_CMS_W == Q._CMS_W


def test_st05_state_bounded_and_matches_batch_sketch(spark):
    # the streaming sketch's whole point: its row count (= state size)
    # is capped at D*W no matter the input, and the completed stream
    # equals the batch bucket table hh01 computes internally
    from rsmetacheck_spark import queries as Q
    from rsmetacheck_spark.streaming.oracle_rows import st05_stream_cms

    rows = st05_stream_cms(spark, SF).collect()
    assert len(rows) <= Q._CMS_D * Q._CMS_W
    got = {(r.r, r.pos): r.bsum for r in rows}

    batch = duckdb.sql(
        "SELECT * FROM read_parquet"
        f"('{SF}/documents.parquet')"
    ).df()
    con = duckdb.connect()
    con.register("documents", batch)
    # reuse the batch oracle's bucket CTE by querying hh01's SQL melt
    from rsmetacheck_spark.streaming.oracle_rows import _sql_st05

    expect = {
        (r, p): b for r, p, b in con.execute(_sql_st05()).fetchall()
    }
    assert got == expect


def test_dd12_weighted_jaccard_math(spark, docs):
    # recompute J_w from raw token multisets for every returned pair
    # (the candidate stage itself is covered by dd02's oracle row)
    from collections import Counter

    from rsmetacheck_spark.queries import dd12_weighted_jaccard

    txt = {doc_id: text for doc_id, _s, text, _l, _n in docs}
    rows = dd12_weighted_jaccard(spark, SF).collect()
    assert rows, "candidate set should produce at least one pair"
    for r in rows:
        ca, cb = Counter(_toks(txt[r.id_a])), Counter(_toks(txt[r.id_b]))
        inter = sum(min(ca[t], cb[t]) for t in ca.keys() & cb.keys())
        tot_a, tot_b = sum(ca.values()), sum(cb.values())
        assert (r.inter_w, r.tot_a, r.tot_b) == (inter, tot_a, tot_b)
        assert r.wj_micro == inter * 1000000 // (tot_a + tot_b - inter)
        assert r.wj_micro >= 500000
