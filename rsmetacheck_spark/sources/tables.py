"""Table layer: parquet plus a `_manifest.json` snapshot stamp.

`write_table` always writes parquet and stamps the manifest; there is no
Iceberg path (no catalog jar in this runtime). The pipeline codes against
`write_table` only, so an Iceberg-backed writer could replace it without
changing the pipeline API (SURVEY §7 risk list).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame, path: str, mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> str:
    """Write + stamp a manifest (snapshot id = wall-clock ns); returns it."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    snapshot = f"snap-{time.time_ns()}"
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump({"snapshot": snapshot, "partition_by": list(partition_by)}, fh)
    return snapshot


def write_bucketed(
    df: DataFrame, table: str, path: str, key: str,
    buckets: int = 8, sort: bool = True,
) -> None:
    """Bucketed write: rows co-locate by hash(key) into a fixed bucket
    count, so a join or aggregation keyed on `key` between tables with
    the SAME bucketing needs NO Exchange — the shuffle was paid once at
    write time and amortizes over every subsequent query. This is the
    100 TB pattern for fact-fact joins that recur (near-dup pair
    verification against a signature table, incremental-dedup probes
    against a band index): bucket both sides at ingest, join shuffle-
    free forever after. sortBy(key) additionally pre-sorts within each
    bucket so sort-merge joins skip their sort. Requires saveAsTable
    (bucketing metadata lives in the catalog, not the parquet files);
    the explicit path keeps data placement under caller control.
    tests/test_bucketed_join.py asserts the zero-Exchange plan."""
    w = (
        df.write.format("parquet").mode("overwrite")
        .option("path", path).bucketBy(buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json")) as fh:
        return json.load(fh)
