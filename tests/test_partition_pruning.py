"""Partition-pruning contract for the table layer: a partitioned
write_table read back with an equality filter must (1) put the
partition-column predicate in the scan's PartitionFilters, (2) list
ONLY the matching partition's files, and (3) push data-column
predicates to PushedFilters — the scan-side behaviors that make a
lang=en read of a 100 TB lang-partitioned corpus touch 1/|langs| of
the data instead of filtering after a full scan. Catalyst routes each
predicate to the right side; the caller need not know which kind of
column it filters."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from rsmetacheck_spark.sources.tables import write_table


@pytest.fixture(scope="module")
def curated(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = os.path.join(tempfile.mkdtemp(prefix="curated_"), "docs")
    snap = write_table(docs, path, partition_by=("lang",))
    return path, snap, docs


def _scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_filter_reaches_the_scan(spark, curated):
    path, _, _ = curated
    df = spark.read.parquet(path).filter("lang = 'en'")
    plan = _scan_plan(df)
    assert "PartitionFilters" in plan, plan[:2000]
    # the predicate must be IN PartitionFilters (scan-time pruning),
    # not a post-scan Filter over all partitions
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "lang" in pf and "en" in pf, pf


def test_pruned_read_never_opens_other_partitions(spark, curated):
    """Behavioral proof of pruning: a corrupt data file planted in a
    NON-matching partition breaks a full scan but not a pruned one —
    the pruned read never opens that directory's files. (inputFiles()
    can't show this: it lists the relation's full file set before
    planning applies PartitionFilters.)"""
    path, _, docs = curated
    zh_dir = os.path.join(path, "lang=zh")
    junk = os.path.join(zh_dir, "part-99999-junk.c000.snappy.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"this is not a parquet file")
    try:
        df = spark.read.parquet(path).filter("lang = 'en'")
        assert df.count() == docs.filter("lang = 'en'").count()
        with pytest.raises(Exception):
            spark.read.parquet(path).count()  # unpruned scan opens the junk
    finally:
        os.remove(junk)


def test_data_column_predicate_is_pushed(spark, curated):
    path, _, _ = curated
    df = spark.read.parquet(path).filter("source = 'src3'")
    plan = _scan_plan(df)
    assert "PushedFilters" in plan, plan[:2000]
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "source" in pushed, pushed


def test_manifest_records_partitioning(curated):
    path, snap, _ = curated
    with open(os.path.join(path, "_manifest.json")) as fh:
        m = json.load(fh)
    assert m["snapshot"] == snap
    assert m["partition_by"] == ["lang"]


def test_pipeline_bucket_sink_prunes(spark):
    """The pipeline's hash-bucket sink must prune on bucket equality —
    the property streaming/incremental.py's resume path relies on (a
    resumed bucket re-reads ONE bucket, not the table)."""
    import tempfile as tf

    from rsmetacheck_spark import synth
    from rsmetacheck_spark.plans.pipeline import materialize

    pages = spark.createDataFrame(synth.gen_pages(60, seed=11)).select(
        "url", "warc_ts", "html"
    )
    out = tf.mkdtemp(prefix="prune_pipe_")
    materialize(spark, pages, out)
    one = spark.read.parquet(os.path.join(out, "pages_out")).filter("bucket = 3")
    plan = _scan_plan(one)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf and "3" in pf, pf
    full = spark.read.parquet(os.path.join(out, "pages_out"))
    assert one.count() == full.filter("bucket = 3").count()
