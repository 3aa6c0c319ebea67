"""Salted two-phase host aggregation: result must equal an unsalted
single-phase groupBy (salting is a physical strategy, not a semantic)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rsmetacheck_spark import synth
from rsmetacheck_spark.operators.metrics import host_metrics_table
from rsmetacheck_spark.plans.pipeline import materialize


def test_salted_equals_unsalted(spark, tmp_path):
    pages = spark.createDataFrame(synth.gen_pages(300, seed=11))
    po = materialize(spark, pages, str(tmp_path)).pages_out.cache()
    got = {
        r.host: (r.n_docs, r.n_kept, r.keep_pct)
        for r in host_metrics_table(po).collect()
    }
    want = {
        r.host: (r.n_docs, r.n_kept, round(100.0 * r.n_kept / r.n_docs, 2))
        for r in (
            po.groupBy(F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"))
            .agg(F.count("*").alias("n_docs"), F.sum(F.col("keep").cast("long")).alias("n_kept"))
            .collect()
        )
    }
    assert got == want and len(got) > 10
    # hot hosts really are hot (the skew the salting exists for)
    top3 = sorted((v[0] for v in got.values()), reverse=True)[:3]
    assert sum(top3) > 0.2 * 300
    po.unpersist()
