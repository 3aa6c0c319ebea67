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
