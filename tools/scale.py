"""Scale tool: replicate a small sf directory into a large one, run the
stress sections over it, profile the pages pipeline's core scaling, and
time registry queries over any sf directory.

    python tools/scale.py build --out DIR [--copies 10]
    python tools/scale.py stress SECTION ... [--copies 200]
        [--li-copies 20] [--ev-copies 30]
    python tools/scale.py profile [spin|idle] [--docs 200000]
        [--cpus 4 16] [--arrow 10000 50000]
    python tools/scale.py time [--sf-dir DIR] [--queries Q ...] [--reps 1]
        [--noop] [--explain-tag TAG]

`build` and `stress` read their source tables from --sf-dir; every
subcommand that starts one Spark session takes --cpus (main.py's
default). Results print as one JSON object per line. Sections, shapes
and checks are the data tables below: BENCH/BASELINE.md cites the runs
by section name.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Python's str.split() separators, so a Spark split matches it exactly
_WS = "".join(f"\\\\u{c:04x}" for c in range(0x10000) if chr(c).isspace())

# A shape maps each table it writes to (key columns shifted by
# copy * span, {column: SQL over the `copy` index}), or to None for a
# table copied verbatim (a dimension whose keys grow copies x hotter).
# Replacements apply in order, so a later one sees an earlier result.
SHAPES: dict[str, dict] = {
    # a 'copyN ' prefix: every doc heads a `copies`-member near-dup cluster
    "near_dup_docs": {"documents": (("doc_id",), {
        "text": "concat('copy', copy, ' ', text)",
        # the prefix adds 5 + len(str(copy)) chars, keeping n_chars = length(text)
        "n_chars": "n_chars + 5 + length(CAST(copy AS STRING))",
    })},
    # a per-copy 'k{i}' suffix on every token: copies share no shingle, so
    # near-dup pairs grow linearly with copies (a constant dup rate)
    "disjoint_docs": {"documents": (("doc_id",), {
        "text": "CASE WHEN copy = 0 THEN text ELSE array_join(transform(filter("
                f"split(text, '[{_WS}]+'), w -> w != ''), w -> concat(w, 'k', copy)),"
                " ' ') END",
        "n_chars": "CASE WHEN copy = 0 THEN n_chars ELSE CAST(length(text) AS BIGINT) END",
    })},
    # vectors offset by copy * 0.001: distinct, but every copy's nearest
    # neighbours are its own siblings
    "offset_embeddings": {"embeddings": (("vec_id",), {
        "embedding": "transform(embedding, x -> CAST(x + copy * 0.001 AS float))",
    })},
    # a per-copy dimension permutation and sign flip: within-copy dot
    # products are kept exactly, cross-copy cosines are near random
    "rotated_embeddings": {"embeddings": (("vec_id",), {
        "embedding": lambda base, copies: _rotation_sql(base, copies),
    })},
    # lineitem and orders under one orderkey shift: the fact-fact join
    # stays intact while every customer, supplier and part key gets hotter
    "hot_dim_keys": {
        "lineitem": (("l_orderkey",), {}),
        "orders": (("o_orderkey",), {}),
        **dict.fromkeys(("part", "supplier", "nation", "region", "customer")),
    },
    # every relational key shifted: the copies are disjoint databases
    "disjoint_keys": {
        "customer": (("c_custkey",), {}),
        "supplier": (("s_suppkey",), {}),
        "part": (("p_partkey",), {}),
        "orders": (("o_orderkey", "o_custkey"), {}),
        "lineitem": (("l_orderkey", "l_partkey", "l_suppkey"), {}),
        **dict.fromkeys(("nation", "region")),
    },
    # event and user ids shifted: each copy is a new cohort of users with
    # the original per-user streams
    "user_cohorts": {"events": (("event_id", "user_id"), {})},
}

# a foreign key shifts by its referenced key's span (max + 1)
_REFS = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}

# `build`'s replica: copies as independent as the tables allow, so pair
# and join fan-outs grow linearly with copies
BUILD_SHAPES = ("disjoint_docs", "rotated_embeddings", "disjoint_keys", "user_cohorts")


def _rotation_sql(base, copies: int) -> str:
    import numpy as np

    dim = base.selectExpr("max(size(embedding))").first()[0]
    perms, signs = [list(range(dim))], [[1] * dim]
    for i in range(1, copies):
        rng = np.random.default_rng(1000 + i)
        perms.append(rng.permutation(dim).tolist())
        signs.append([int(s) for s in rng.choice([-1.0, 1.0], size=dim)])

    def lit(rows: list) -> str:
        return "array(" + ", ".join(
            "array(" + ", ".join(map(str, r)) + ")" for r in rows) + ")"

    at = "CAST(copy AS INT) + 1"
    return (f"transform(element_at({lit(perms)}, {at}),"
            f" (p, j) -> CAST(embedding[p] * element_at({lit(signs)}, {at})[j] AS float))")


def _path(sf: str, table: str) -> str:
    return os.path.join(sf, f"{table}.parquet")


def replicate(spark, src: str, table: str, copies: int, keys, exprs):
    """`table` x copies: each key column shifted by copy * span, each
    column in `exprs` replaced, the rest verbatim, column order kept."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(_path(src, table))
    df = base.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
    for k in keys:
        ref_table, ref_key = _REFS.get(k, (table, k))
        span = spark.read.parquet(_path(src, ref_table)).agg(F.max(ref_key)).first()[0] + 1
        df = df.withColumn(k, F.col("copy") * span + F.col(k))
    for c, e in exprs.items():
        df = df.withColumn(c, F.expr(e if isinstance(e, str) else e(base, copies)))
    return df.drop("copy")


def build(spark, src: str, out: str, copies: dict[str, int]) -> None:
    """Write every table of each shape (name -> copy count) under `out`."""
    os.makedirs(out, exist_ok=True)
    for shape, n in copies.items():
        for table, spec in SHAPES[shape].items():
            t0 = time.time()
            dst, source = _path(out, table), _path(src, table)
            if spec is None:
                (shutil.copytree if os.path.isdir(source) else shutil.copy)(source, dst)
            else:
                (replicate(spark, src, table, n, *spec).repartition(32)
                 .write.mode("overwrite").parquet(dst))
            rows = spark.read.parquet(dst).count()
            _emit({"table": table, "shape": shape, "copies": 1 if spec is None else n,
                   "rows": rows, "sec": round(time.time() - t0, 1)})


# ---------------------------------------------------------------------------
# checks: each returns a dict of counts; `diff` must be 0


def _diff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _docs(spark, sf: str):
    return spark.read.parquet(_path(sf, "documents"))


def _naive_q39(spark, sf: str):
    """One window per source: the bottom-k the salted two-phase splits."""
    from pyspark.sql import Window, functions as F
    from rsmetacheck_spark import queries as Q

    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        _docs(spark, sf).selectExpr("source", "doc_id", "md5(CAST(doc_id AS STRING)) AS h")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= Q._BK_K)
        .selectExpr("source", "CAST(rk AS INT) AS rk", "doc_id", "h")
    )


def _naive_q43(spark, sf: str):
    """One global ROW_NUMBER: the rank the binned two-phase splits."""
    from pyspark.sql import Window, functions as F

    return _docs(spark, sf).select("doc_id", "n_chars").withColumn(
        "rnk", F.row_number().over(Window.orderBy("n_chars", "doc_id")).cast("long"))


def _naive_q45(spark, sf: str):
    """The plain join the salted sort-merge join splits per hot source."""
    from pyspark.sql import Window, functions as F
    from rsmetacheck_spark import queries as Q

    d = _docs(spark, sf)
    dim = (
        d.groupBy("source").agg(F.sum("n_chars").alias("tot"))
        .withColumn("src_rank", F.row_number().over(
            Window.orderBy(F.desc("tot"), F.asc("source"))).cast("long"))
        .select("source", "src_rank")
    )
    return (d.join(dim, "source").filter(F.col("doc_id") % Q._SJ_SAMPLE == 0)
            .select("doc_id", "source", "src_rank"))


def _naive_q54(spark, sf: str):
    """One window per source: the host cap the salted two-phase splits."""
    from pyspark.sql import Window, functions as F
    from rsmetacheck_spark import queries as Q
    from rsmetacheck_spark import thresholds as TH

    s = Q._doc_feats(spark, sf).selectExpr(
        "source", "doc_id",
        f"CAST((CASE WHEN n_tokens BETWEEN {Q.DOC_MIN_TOKENS} AND {Q.DOC_MAX_TOKENS} THEN 400 ELSE 0 END)"
        f" + (CASE WHEN stop_frac >= {Q.DOC_MIN_STOP_FRAC} THEN 300 ELSE 0 END)"
        f" + (CASE WHEN mean_word_len BETWEEN {TH.MIN_MEAN_WORD_LEN} AND {TH.MAX_MEAN_WORD_LEN} THEN 200 ELSE 0 END)"
        f" + (CASE WHEN lang IN {Q.DOC_KEEP_LANGS!r} THEN 100 ELSE 0 END) AS INT) AS score_milli",
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_milli"), F.asc("doc_id"))
    return (
        s.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= Q._HC_K)
        .selectExpr("source", "CAST(rk AS INT) AS rk", "doc_id", "score_milli")
    )


def salted_vs_naive(name: str, naive):
    """The scale-shaped plan of `name` against its naive formulation:
    the sf0.01 oracle proves the semantics, this proves the salted or
    binned decomposition stays exact when the hot groups are large."""

    def check(spark, sf: str) -> dict:
        from rsmetacheck_spark.queries import REGISTRY

        scaled = REGISTRY[name][0](spark, sf)
        return {"rows": scaled.count(), "diff": _diff(scaled, naive(spark, sf))}

    return check


def bloom(m: int):
    """dd09 at `m` filter bits. At the test-scale 8192 the filter
    saturates (every probe bit set), the demonstration that m must scale
    with n; at 2^24 the FP rate should approach (1 - e^(-kn/m))^k."""

    def check(spark, sf: str) -> dict:
        from pyspark.sql import functions as F
        from rsmetacheck_spark import queries as Q

        orig, Q._BLOOM_M = Q._BLOOM_M, m
        try:
            agg = Q.dd09_bloom_prefilter(spark, sf).agg(
                F.count("*").alias("n"),
                F.sum(F.col("bloom_hit").cast("long")).alias("hits"),
                F.sum(F.col("is_fp").cast("long")).alias("fps"),
                F.sum(F.col("actual").cast("long")).alias("members"),
            ).first()
        finally:
            Q._BLOOM_M = orig
        # n for the analytic rate = DISTINCT keys inserted (the existing
        # side has exact-duplicate groups)
        n_keys = (_docs(spark, sf).filter("doc_id % 2 = 0")
                  .selectExpr("md5(lower(trim(text))) AS h").distinct().count())
        return {
            "m": m, **agg.asDict(),
            "fp_rate": f"{agg['fps'] / max(agg['n'] - agg['members'], 1):.2e}",
            "analytic": f"{(1 - math.exp(-Q._BLOOM_K * n_keys / m)) ** Q._BLOOM_K:.2e}",
        }

    return check


def q38_bins(spark, sf: str) -> dict:
    """q38's bin count: groups grow in number, never in size, so the
    grouped-map stage should scale with group count."""
    from rsmetacheck_spark.queries import REGISTRY

    return {"bins": REGISTRY["q38_binpack_bfd"][0](spark, sf).filter("bin_id >= 0")
            .selectExpr("source", "shard", "bin_id").distinct().count()}


def _minlabel(pairs, checkpoint, max_rounds: int = 60):
    """The round-3 min-label propagation: rounds = component diameter."""
    from pyspark.sql import functions as F

    edges = checkpoint(
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(pairs.selectExpr("id_b AS src", "id_a AS dst")), "ml_edges")
    labels = edges.selectExpr("src AS doc_id").distinct().selectExpr("doc_id", "doc_id AS rep")
    for rnd in range(max_rounds):
        prop = (edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id")).agg(F.min("rep").alias("nbr_rep")))
        new = checkpoint(labels.join(prop, "doc_id", "left").selectExpr(
            "doc_id", "least(rep, coalesce(nbr_rep, rep)) AS rep"), f"ml_{rnd}")
        changed = (new.alias("n").join(labels.alias("o"), "doc_id")
                   .filter(F.col("n.rep") != F.col("o.rep")).count())
        labels = new
        if changed == 0:
            return labels.selectExpr("doc_id", "rep AS group_rep"), rnd + 1
    raise RuntimeError("minlabel did not converge")


def cc_star_vs_minlabel(spark, sf: str) -> dict:
    """Label ONE dd02 pair graph with large-star/small-star and with the
    min-label loop; the label sets must be identical."""
    from rsmetacheck_spark.operators.cc import largestar_components
    from rsmetacheck_spark.queries import REGISTRY, _checkpoint

    out: dict = {}
    t0 = time.time()
    pairs = _checkpoint(REGISTRY["dd02_minhash_lsh_pairs"][0](spark, sf)
                        .select("id_a", "id_b"), "pairs")
    out["pairs"], out["dd02_sec"] = pairs.count(), round(time.time() - t0, 1)
    stats: dict = {}
    t0 = time.time()
    star = _checkpoint(largestar_components(pairs, _checkpoint, stats_out=stats), "star")
    out["star"] = {"labels": star.count(), "rounds": stats.get("rounds"),
                   "sec": round(time.time() - t0, 1)}
    t0 = time.time()
    ml, rounds = _minlabel(pairs, _checkpoint)
    ml = _checkpoint(ml, "ml")
    out["minlabel"] = {"labels": ml.count(), "rounds": rounds,
                       "sec": round(time.time() - t0, 1)}
    out["diff"] = _diff(star, ml)
    return out


CHECKS = {
    "q39": salted_vs_naive("q39_bottomk_sample", _naive_q39),
    "q43": salted_vs_naive("q43_global_rank", _naive_q43),
    "q45": salted_vs_naive("q45_salted_join", _naive_q45),
    "q54": salted_vs_naive("q54_host_quality_cap", _naive_q54),
    "dd09@8192": bloom(8192),
    "dd09@2^24": bloom(1 << 24),
    "q38_bins": q38_bins,
    "cc": cc_star_vs_minlabel,
}

# section -> (shapes, registry names timed in order, checks)
SECTIONS: dict[str, tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]] = {
    "r5": (("near_dup_docs", "offset_embeddings"), (
        "q35_salted_source_stats", "q36_binned_quantiles", "km01_kmeans_iteration",
        "dc01_distinct_sketch", "q37_bigram_coverage", "sim07_pq_adc_topk",
    ), ("dd09@8192", "dd09@2^24")),
    "r5b": (("near_dup_docs",), (
        "q40_sentence_stats", "q41_bpe_merge_pairs", "q44_stopword_df",
    ), ("q39", "q43", "q45")),
    "r5c": (("near_dup_docs", "hot_dim_keys"), (
        "q51_bpe_apply_merge", "q55_unigram_surprisal", "q56_bigram_surprisal",
        "mm04_patch_grid", "q52_mincost_supplier", "q53_excess_shippers",
    ), ("q54",)),
    "r5d": (("near_dup_docs", "user_cohorts", "hot_dim_keys"), (
        "q61_gopher_repetition", "q63_bpe_train3", "dd16_source_overlap",
        "dd17_source_containment", "q67_packing_efficiency", "q69_epoch_plan",
        "q72_rule_ablation", "dd18_canonical_dedup", "q62_event_transitions",
        "q58_order_count_distribution", "q59_waiting_suppliers", "q64_top_suppliers",
        "q65_nation_volume", "q66_part_supplier_counts", "q68_disjunctive_revenue",
        "q70_priority_semi", "q71_local_supplier_volume",
    ), ()),
    "q38": (("near_dup_docs",), ("q38_binpack_bfd",), ("q38_bins",)),
    "cc": (("near_dup_docs",), (), ("cc",)),
}


def _emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def time_queries(spark, sf: str, names, reps: int = 1, noop: bool = False,
                 explain_tag: str | None = None) -> None:
    """bench.py's method: `REGISTRY[name][0](spark, sf).count()` per rep,
    optionally a noop-sink write (every column computed, not only what
    count() needs) and the formatted plan in plans/<tag>/<name>.txt."""
    from rsmetacheck_spark.queries import REGISTRY

    for name in names:
        fn = REGISTRY[name][0]
        rec: dict = {"count_sec": []}
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            rec["rows"] = fn(spark, sf).count()
            rec["count_sec"].append(round(time.time() - t0, 2))
        if noop:
            spark.sparkContext.setJobDescription(f"{name} noop")
            t0 = time.time()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            rec["noop_sec"] = round(time.time() - t0, 2)
        if explain_tag:
            os.makedirs(os.path.join("plans", explain_tag), exist_ok=True)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            with open(os.path.join("plans", explain_tag, f"{name}.txt"), "w") as fh:
                fh.write(fn(spark, sf)._jdf.queryExecution().explainString(mode))
        spark.sparkContext.setJobDescription(None)
        _emit({name: rec})


def run_check(spark, sf: str, name: str) -> None:
    t0 = time.time()
    rec = CHECKS[name](spark, sf)
    _emit({name: {**rec, "sec": round(time.time() - t0, 1)}})
    if rec.get("diff", 0):
        raise SystemExit(f"{name}: the two formulations differ by {rec['diff']} rows")


def _session(args, app: str):
    from rsmetacheck_spark.session import get_spark

    spark = get_spark(app, cores=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_build(args) -> None:
    spark = _session(args, "scale_build")
    build(spark, args.sf_dir, args.out, dict.fromkeys(BUILD_SHAPES, args.copies))
    spark.stop()


def cmd_stress(args) -> None:
    copies_of = {"hot_dim_keys": args.li_copies, "user_cohorts": args.ev_copies}
    shapes = {s: copies_of.get(s, args.copies) for sec in args.sections for s in SECTIONS[sec][0]}
    spark = _session(args, "scale_stress")
    with tempfile.TemporaryDirectory(prefix="scale_") as sf:
        build(spark, args.sf_dir, sf, shapes)
        for sec in args.sections:
            _, names, checks = SECTIONS[sec]
            time_queries(spark, sf, names)
            for c in checks:
                run_check(spark, sf, c)
        spark.stop()


def cmd_time(args) -> None:
    from rsmetacheck_spark.queries import REGISTRY

    spark = _session(args, "scale_time")
    time_queries(spark, args.sf_dir, sorted(args.queries or REGISTRY), args.reps,
                 args.noop, args.explain_tag)
    spark.stop()


def profile_cell(cpus: int, n_docs: int, arrow_batch: int) -> dict:
    """Best of 2 reps, after a full-size untimed warmup, of the scan and
    model stage into a noop sink and of the full materialize()."""
    from rsmetacheck_spark import synth
    from rsmetacheck_spark.plans.pipeline import materialize, verdict_plan
    from rsmetacheck_spark.session import get_spark

    spark = get_spark(f"profile{cpus}", cores=cpus)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(synth.spark_pages_parquet(spark, n_docs, seed=42)).repartition(cpus)

    def full() -> None:
        out_dir = tempfile.mkdtemp(prefix="profile_")
        try:
            materialize(spark, pages, out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    full()
    out = {"scan_model": math.inf, "full": math.inf}
    for _ in range(2):
        t0 = time.time()
        verdict_plan(pages).write.format("noop").mode("overwrite").save()
        out["scan_model"] = min(out["scan_model"], round(time.time() - t0, 2))
        t0 = time.time()
        full()
        out["full"] = min(out["full"], round(time.time() - t0, 2))
    out["residual"] = round(out["full"] - out["scan_model"], 2)
    spark.stop()
    return out


def cmd_profile(args) -> None:
    """Each cell is a fresh JVM pinned to the first `cpus` host cores;
    under `spin` every other core runs a busy loop, so small and large
    configurations both see a fully busy machine (no idle-core turbo or
    bandwidth advantage for the small one)."""
    cell = os.environ.get("_SCALE_PROFILE_CELL")
    if cell:
        cpus, arrow = map(int, cell.split(":"))
        print("@@" + json.dumps(profile_cell(cpus, args.docs, arrow)))
        return
    host = sorted(os.sched_getaffinity(0))
    if max(args.cpus) > len(host):
        raise SystemExit(f"--cpus {max(args.cpus)} exceeds the {len(host)} usable cores")
    pin = shutil.which("taskset")
    if args.load == "spin" and not pin:
        raise SystemExit("spin load needs taskset to pin the cell and the spinners")
    cells: dict[str, dict] = {}
    for arrow in args.arrow:
        for c in args.cpus:
            spin_cores = host[c:] if args.load == "spin" else []
            spinners = [
                subprocess.Popen([pin, "-c", str(core), sys.executable, "-c", "while True: pass"],
                                 stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
                for core in spin_cores
            ]
            try:
                cmd = [sys.executable, os.path.abspath(__file__), "profile", "--docs", str(args.docs)]
                if pin:
                    cmd = [pin, "-c", ",".join(map(str, host[:c]))] + cmd
                env = dict(os.environ, _SCALE_PROFILE_CELL=f"{c}:{arrow}")
                p = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3600)
            finally:
                for sp in spinners:
                    sp.kill()
                    sp.wait()
            line = next((ln for ln in p.stdout.splitlines() if ln.startswith("@@")), None)
            if line is None:
                raise RuntimeError(f"cell cpus={c} arrow={arrow}: {p.stderr[-1500:]}")
            cells[f"arrow{arrow}_cpus{c}"] = json.loads(line[2:])
            print(f"# arrow={arrow} cpus={c}: {cells[f'arrow{arrow}_cpus{c}']}", file=sys.stderr)
    # efficiency lo -> hi cores = speedup / core ratio
    lo, hi = min(args.cpus), max(args.cpus)
    eff = {
        f"arrow{arrow}_{phase}_{lo}to{hi}": round(
            cells[f"arrow{arrow}_cpus{lo}"][phase] / (hi / lo * cells[f"arrow{arrow}_cpus{hi}"][phase]), 3)
        for arrow in args.arrow for phase in ("scan_model", "full")
    }
    _emit({"docs": args.docs, "load": args.load, "cells": cells, "efficiency": eff})


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    def spark_args(p, sf_help: str) -> None:
        p.add_argument("--sf-dir", default=SF_DIR, help=sf_help)
        p.add_argument("--cpus", type=int, default=CPUS)

    b = sub.add_parser("build", help=f"replicate every table into --out as {', '.join(BUILD_SHAPES)}")
    b.add_argument("--out", required=True)
    b.add_argument("--copies", type=int, default=10)
    spark_args(b, "source tables")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("stress", help="build a temporary replica, run sections over it")
    s.add_argument("sections", nargs="+", choices=list(SECTIONS))
    s.add_argument("--copies", type=int, default=200, help="documents and embeddings")
    s.add_argument("--li-copies", type=int, default=20, help="lineitem and orders")
    s.add_argument("--ev-copies", type=int, default=30, help="events")
    spark_args(s, "source tables")
    s.set_defaults(fn=cmd_stress)

    p = sub.add_parser("profile", help="pinned-child scaling sweep of the pages pipeline")
    p.add_argument("load", nargs="?", choices=("spin", "idle"), default="spin",
                   help="spin: every core outside the cell runs a busy loop")
    p.add_argument("--docs", type=int, default=200_000)
    p.add_argument("--cpus", type=int, nargs="+", default=[4, 16])
    p.add_argument("--arrow", type=int, nargs="+", default=[10_000, 50_000],
                   help="spark.sql.execution.arrow.maxRecordsPerBatch values")
    p.set_defaults(fn=cmd_profile)

    t = sub.add_parser("time", help="time registry queries over an sf directory")
    t.add_argument("--queries", nargs="*", default=None, help="default: every registry entry")
    t.add_argument("--reps", type=int, default=1)
    t.add_argument("--noop", action="store_true", help="also time a noop-sink write")
    t.add_argument("--explain-tag", default=None,
                   help="write explain('formatted') to plans/<tag>/<query>.txt")
    spark_args(t, "tables to query")
    t.set_defaults(fn=cmd_time)
    return ap


def main(argv=None) -> None:
    args = parser().parse_args(argv)
    # Python workers import the package too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    args.fn(args)


if __name__ == "__main__":
    main()
