"""Guard: the CLI's output tables and summary file stay byte-identical.

One fixed seeded 300-page input with a fixed ``--snapshot`` goes through
``main.main`` twice: a plain run and a ``--resume`` run into a fresh
directory. For every table (``pages_out``, ``metrics``, ``lineage``,
``host_metrics``, ``reports``) the manifest next to this file holds a
sha256 of its sorted rows and of the Spark schema stored in its parquet
files (nullability included); for ``analysis_results.json`` a sha256 of
the text. Regenerate it (only for a declared change of the outputs) with
``python tests/test_cli_golden.py``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cli_golden_manifest.json")
TABLES = ("pages_out", "metrics", "lineage", "host_metrics", "reports")
PATHS = {"plain": (), "resume": ("--resume",)}
SEED, N_DOCS, SNAPSHOT = 29, 300, "golden-snapshot"
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _table_digest(spark, path: str) -> dict:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    # the schema Spark wrote, as stored in every data file's footer
    schemas = sorted({pq.read_schema(f).metadata[_SPARK_SCHEMA_KEY].decode() for f in files})
    rows = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in spark.read.parquet(path).collect()
    )
    return {"schema": _sha("\n".join(schemas)), "rows": _sha("\n".join(rows)),
            "n_rows": len(rows)}


def _digests(spark, pages: str, path: str) -> dict:
    import main as cli_main

    out = tempfile.mkdtemp(prefix=f"golden_{path}_")
    cli_main.main(["--input", pages, "--output", out, "--cpus", "8",
                   "--snapshot", SNAPSHOT, *PATHS[path]])
    got = {t: _table_digest(spark, os.path.join(out, t)) for t in TABLES}
    with open(os.path.join(out, "analysis_results.json"), encoding="utf-8") as fh:
        got["analysis_results.json"] = _sha(fh.read())
    return got


def _pages(spark) -> str:
    from rsmetacheck_spark import synth

    return synth.spark_pages_parquet(spark, N_DOCS, seed=SEED)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_cli_outputs_match_golden(spark, path):
    with open(MANIFEST, encoding="utf-8") as fh:
        want = json.load(fh)[path]
    got = _digests(spark, _pages(spark), path)
    changed = [name for name in want if got[name] != want[name]]
    assert not changed, f"{path} run changed: {changed}"


if __name__ == "__main__":
    from rsmetacheck_spark.session import get_spark

    spark = get_spark("golden", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    pages = _pages(spark)
    manifest = {path: _digests(spark, pages, path) for path in sorted(PATHS)}
    with open(MANIFEST, "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
