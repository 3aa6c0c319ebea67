"""The somef JSON ingest (`somef_parity.entries_from_content`): a
malformed document or a non-object root is skipped, and the run survives
with the valid files' entries (the reference's per-file
try/except-continue, detect_pitfalls_main.py:316-318). Needs no
reference data."""

from __future__ import annotations

import json

from rsmetacheck_spark.somef_parity import entries_from_content


def test_malformed_and_non_object_json_are_skipped(spark):
    good = {
        "somef_provenance": {"somef_version": "0.9.4"},
        "description": [{
            "result": {"value": "A tool.", "type": "String"},
            "technique": "GitHub_API",
            "source": "https://github.com/o/r",
        }],
        "version": [{"result": {"value": "v1.2", "type": "String"}}],
    }
    raw = spark.createDataFrame(
        [
            ("good.json", json.dumps(good)),
            ("broken.json", '{"description": [ this is not json'),
            ("array.json", json.dumps([{"description": []}])),
        ],
        "file string, value string",
    )
    rows = entries_from_content(raw).collect()
    assert {r.file for r in rows} == {"good.json"}
    assert sorted((r.cat, r.idx) for r in rows) == [("description", 0), ("version", 0)]
    desc = next(r for r in rows if r.cat == "description")
    assert desc.v == "A tool." and desc.tech == "GitHub_API"
