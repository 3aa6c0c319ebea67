"""The verdict plan as SQL text: what building it costs the driver, that
every threshold literal reaches the verdicts exactly, and that nothing
but the bucket exchange shuffles the sink write."""

from __future__ import annotations

import math
import re
import threading

import pandas as pd
import pytest

from rsmetacheck_spark import synth
from rsmetacheck_spark import thresholds as TH
from rsmetacheck_spark.operators.langid import get_model as get_langid
from rsmetacheck_spark.operators.perplexity import get_model as get_ppl
from rsmetacheck_spark.operators.sqltext import number
from rsmetacheck_spark.oracle import oracle_labels
from rsmetacheck_spark.plans import pipeline
from rsmetacheck_spark.plans.pipeline import materialize, verdict_plan


def _pages_parquet(spark, path: str, n: int, seed: int) -> str:
    spark.createDataFrame(synth.gen_pages(n, seed=seed)).write.parquet(path)
    return path


def test_verdict_plan_build_round_trips(spark, tmp_path, monkeypatch):
    """Every generated column is one SQL text, so building the plan costs
    the driver a bounded number of py4j round trips, not one per Column
    node (rules built as Column trees cost about 1,500)."""
    path = _pages_parquet(spark, str(tmp_path / "pages"), 20, seed=3)
    verdict_plan(spark.read.parquet(path))  # warm: first-use lookups
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    builder = threading.current_thread()

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends deletes of earlier, unrelated
        # objects whenever Python collects them: not this build's cost
        if threading.current_thread() is builder:
            calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    verdict_plan(spark.read.parquet(path))
    monkeypatch.undo()
    assert 0 < len(calls) < 160, len(calls)


@pytest.mark.parametrize("x", [
    0, 50, -3, 2**40, 0.1, 7.0, -7.5, 1e-05, 1e300, 6.300000000000001,
    math.inf, -math.inf, math.nan, "inf", "0.25",
])
def test_number_literal_parses_back_exactly(spark, x):
    df = spark.sql(f"SELECT {number(x)} AS v")
    got, kind = df.first().v, df.schema["v"].dataType.typeName()
    if isinstance(x, int):
        assert got == x and kind in ("integer", "long")
    else:
        assert kind == "double"
        assert got == float(x) or (math.isnan(got) and math.isnan(float(x)))


def test_threshold_overrides_reach_verdicts(spark):
    """One override of every literal kind (float, int, a string tuple for
    an IN list, strings holding a quote and a backslash for IN and
    `contains`, a timestamp) reaches each rule exactly: per-rule hits and
    keep equal the oracle's under the same overrides."""
    # langid/perplexity read KEEP_LANGS when their models are built, in
    # worker processes that never see an in-process override; build the
    # driver's models first so the oracle scores with the same ones
    get_langid()
    get_ppl()
    odd_host = "it's\\odd.example"
    odd_phrase = "o'brien \\n said"
    pages = synth.gen_pages(120, seed=11)
    planted_host = pages.index % 7 == 0
    pages.loc[planted_host, "url"] = [
        f"https://{odd_host}/x/{i}" for i in pages.index[planted_host]
    ]
    planted_phrase = pages.index % 5 == 1
    pages.loc[planted_phrase, "text"] = (
        pages.loc[planted_phrase, "text"] + " " + odd_phrase.upper()
    )
    pages["html"] = [synth.render_html(t) for t in pages["text"]]
    pages = pages[["url", "warc_ts", "html"]]

    # a cut-off equal to one document's score: only an exact literal
    # keeps that document on the `<=` side
    ppl = float(oracle_labels(pages)["log_ppl"].sort_values().iloc[60])
    cutoff = pages["warc_ts"].sort_values().iloc[40]
    overrides = {
        "MAX_LOG_PPL": ppl,
        "MIN_WORDS": 80,
        "KEEP_LANGS": ("en", "de"),
        "HOST_BLOCKLIST": (*TH.HOST_BLOCKLIST, odd_host),
        "BOILERPLATE_PHRASES": (*TH.BOILERPLATE_PHRASES, odd_phrase),
        "FRESHNESS_CUTOFF": str(cutoff),
    }
    saved = {
        name: getattr(TH, name)
        for name in (*overrides, "OVERRIDDEN", "RULE_SEVERITY", "STOPWORD_UNION")
    }
    TH.apply_overrides(overrides)
    try:
        rows = verdict_plan(spark.createDataFrame(pages)).select(
            "url", "keep", "findings").collect()
        want = oracle_labels(pages).set_index("url")
    finally:
        for name, value in saved.items():
            setattr(TH, name, value)
    got = pd.DataFrame(
        [{"url": r.url, "keep": r.keep, **{f.rule: f.hit for f in r.findings}}
         for r in rows]
    ).set_index("url").loc[want.index]
    assert (got["keep"] == want["keep"]).all()
    for rule, _sev in TH.RULES:
        assert (got[rule] == want[f"hit_{rule}"]).all(), rule
    # each override decided something
    assert got["R014_host_blocklist"].sum() >= planted_host.sum()
    assert got["R006_boilerplate_phrase"].sum() >= planted_phrase.sum()
    assert 0 < got["R010_perplexity"].sum() < len(got)
    assert got.loc[want["log_ppl"] == ppl, "R010_perplexity"].eq(False).all()
    assert got["R009_langid"].sum() > (~want["lang_pred"].isin(saved["KEEP_LANGS"])).sum()
    assert got["R015_freshness"].sum() == 40


def test_materialize_sink_write_has_one_shuffle(spark, tmp_path, monkeypatch):
    """A scan split finer than the cores (a small maxPartitionBytes, the
    regime of any large input) reaches the model stage as it is: the sink
    write's only exchange is the bucket exchange."""
    path = _pages_parquet(spark, str(tmp_path / "pages"), 300, seed=9)
    written = {}

    def capture(df, out, **kwargs):
        written[out] = df
        return write_table(df, out, **kwargs)

    write_table = pipeline.write_table
    monkeypatch.setattr(pipeline, "write_table", capture)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        pages = spark.read.parquet(path)
        assert pages.rdd.getNumPartitions() > 2 * spark.sparkContext.defaultParallelism
        materialize(spark, pages, str(tmp_path / "out"))
    finally:
        spark.conf.set(key, old)
    sink = written[str(tmp_path / "out" / "pages_out")]
    plan = sink._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^,)]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0][0] == "hashpartitioning" and exchanges[0][1].startswith("bucket")
