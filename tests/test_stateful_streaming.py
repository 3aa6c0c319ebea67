"""Stateful streaming sessionization == batch sessionization.

The stream is the sf0.001 events table split into 5 time-ordered files fed
one per micro-batch, so per-user state genuinely carries across batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsmetacheck_spark.queries import q05_sessionize
from rsmetacheck_spark.streaming.stateful import _update, sessionize_stateful

SF_DIR = "/root/testdata/sf0.001"


def test_stateful_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    src = str(tmp_path / "ordered")
    # 5 contiguous time slices -> 5 files; rows within and across batches
    # arrive in event-time order per user
    (
        batch.withColumn(
            "slice",
            F.ntile(5).over(__import__("pyspark").sql.Window.orderBy("ts", "event_id")),
        )
        .repartitionByRange(5, "slice")
        .sortWithinPartitions("ts", "event_id")
        .drop("slice")
        .write.mode("overwrite").parquet(src)
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts", "event_id")
    )
    q = (
        sessionize_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # last emission per user = final running totals
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }  # memory sink in update mode appends; later rows overwrite via dict
    # rebuild keeping the LAST row per user (emission order == batch order)
    rows = spark.sql("SELECT * FROM sess_out").collect()
    got = {}
    for r in rows:
        prev = got.get(r.user_id, (0, 0))
        if r.n_events >= prev[1]:
            got[r.user_id] = (r.n_sessions, r.n_events)

    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q05_sessionize(spark, SF_DIR).collect()
    }
    assert got == want and len(want) >= 10


class _NewState:
    """A GroupState stand-in for a user seen for the first time."""

    exists = False

    def update(self, value):
        self.value = value


def test_update_rejects_null_ts():
    """A NaT ts would cast to INT64_MIN and count as a session of its own;
    the update raises instead, naming the user."""
    events = pd.DataFrame({
        "user_id": [7, 7],
        "ts": pd.to_datetime(["2025-01-01 00:00:00", None]),
        "event_id": [1, 2],
    })
    state = _NewState()
    with pytest.raises(ValueError, match="user 7"):
        list(_update((7,), iter([events]), state))
    assert not hasattr(state, "value")
