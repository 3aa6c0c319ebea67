"""Guard: every ``oracle_sql()`` text and the REGISTRY key order stay fixed.

The DuckDB cross-check compares each query against its ``oracle_sql()``
text, and the driver samples queries in REGISTRY order, so refactors of
``queries.py`` must leave both byte-identical. The manifest next to this
file holds the key order and a sha256 of each text; it needs no Spark
session. Regenerate it (only for a declared semantic change) with
``python tests/test_oracle_text_guard.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rsmetacheck_spark.queries import REGISTRY  # noqa: E402

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_text_manifest.json")


def _current() -> dict:
    return {
        "order": list(REGISTRY),
        "sha256": {
            name: hashlib.sha256(sql.encode("utf-8")).hexdigest()
            for name, (_fn, sql) in REGISTRY.items()
            if sql is not None
        },
    }


def _manifest() -> dict:
    with open(MANIFEST, encoding="utf-8") as f:
        return json.load(f)


def test_registry_order_unchanged():
    assert _current()["order"] == _manifest()["order"]


def test_oracle_texts_unchanged():
    want = _manifest()["sha256"]
    got = _current()["sha256"]
    assert len(want) == 130
    assert sorted(got) == sorted(want)
    changed = [name for name in want if got[name] != want[name]]
    assert not changed, f"oracle_sql() text changed: {changed}"


if __name__ == "__main__":
    with open(MANIFEST, "w", encoding="utf-8") as f:
        json.dump(_current(), f, indent=1, sort_keys=True)
        f.write("\n")
