"""Kill/resume test (SURVEY §5 item 4): kill after k bucket-groups, rerun,
assert the final table is identical to an uninterrupted run."""

from __future__ import annotations

import pytest

from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.plans.pipeline import read_sink, verdict_plan
from rsmetacheck_spark.streaming.incremental import load_done, resume_materialize


def _snapshot(df):
    rows = df.select("url", "keep", "lang_pred", "scrubbed_text", "bucket").collect()
    return sorted((r.url, r.keep, r.lang_pred, r.scrubbed_text, r.bucket) for r in rows)


def test_kill_and_resume_identical(spark, tmp_path):
    pages = spark.createDataFrame(synth.gen_pages(300, seed=9))
    schema = verdict_plan(pages).schema

    ref_dir = str(tmp_path / "ref")
    done = resume_materialize(spark, pages, ref_dir)
    assert done == set(range(TH.N_BUCKETS))
    want = _snapshot(read_sink(spark, ref_dir, schema))
    assert len(want) == 300

    # interrupted run: crash after 2 groups of 8 buckets
    out_dir = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        resume_materialize(spark, pages, out_dir, fail_after_groups=2)
    partial = load_done(out_dir)
    assert len(partial) == 16  # 2 groups checkpointed

    # resume: only remaining buckets are processed
    done2 = resume_materialize(spark, pages, out_dir)
    assert done2 == set(range(TH.N_BUCKETS))
    got = _snapshot(read_sink(spark, out_dir, schema))
    assert got == want

    # idempotence: a third call is a no-op and output is unchanged
    done3 = resume_materialize(spark, pages, out_dir)
    assert done3 == done2
    assert _snapshot(read_sink(spark, out_dir, schema)) == want
