"""Checkpointed, resumable execution (SURVEY §2.9: "resumability =
idempotent partition-level writes + anti-join against already-written urls
(or Iceberg MERGE/overwrite-by-partition)"). The north_rule has no
streaming operators; resume is snapshot-style batch.

Unit of work = the deterministic url-hash `bucket` (thresholds.N_BUCKETS).
Completed buckets are recorded in `_checkpoint.json`; `resume_materialize`
recomputes ONLY missing buckets and never rewrites a completed one, so a
killed run restarted with the same arguments converges to the identical
output (kill/resume test: tests/test_resume.py).

Scale notes: the bucket predicate is applied BEFORE the model stage, so a
resume run pays Python cost only for unprocessed rows; each group goes
through the plain run's bucket writer (plans/pipeline.write_buckets), which
replaces only that group's bucket directories (dynamic partition
overwrite), so a retried group is idempotent. The caller then runs the
plain run's tail, plans/pipeline.finish, over the completed table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import thresholds as TH
from ..plans.pipeline import bucket_sql, verdict_plan, write_buckets

_CKPT = "_checkpoint.json"


def _ckpt_path(out_dir: str) -> str:
    return os.path.join(out_dir, _CKPT)


def load_done(out_dir: str) -> set[int]:
    try:
        with open(_ckpt_path(out_dir)) as fh:
            return set(json.load(fh)["buckets"])
    except (OSError, ValueError, KeyError):
        return set()


def _mark_done(out_dir: str, buckets: set[int]) -> None:
    tmp = _ckpt_path(out_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"buckets": sorted(buckets)}, fh)
    os.replace(tmp, _ckpt_path(out_dir))  # atomic: crash leaves old state


def resume_materialize(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    group_size: int = 8,
    fail_after_groups: int | None = None,
    text_input: bool = False,
) -> set[int]:
    """Process pages bucket-group by bucket-group, checkpointing after each
    group. `fail_after_groups` injects a crash (for the kill/resume test).
    `text_input` mirrors pipeline.materialize (pre-extracted input —
    a resumed --skip-extract run must not re-select html). Returns the
    set of completed buckets."""
    os.makedirs(out_dir, exist_ok=True)
    pages_path = os.path.join(out_dir, "pages_out")
    done = load_done(out_dir)
    todo = [b for b in range(TH.N_BUCKETS) if b not in done]
    if not todo:
        return done

    groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(f"injected failure before group {gi}")
        # bucket is a pure function of url: filter before the expensive stage
        part = pages.filter(f"{bucket_sql()} IN ({', '.join(map(str, group))})")
        write_buckets(verdict_plan(part, text_input=text_input), pages_path, group)
        done.update(group)
        _mark_done(out_dir, done)
    return done
