"""Canonical SparkSession builder (local-mode test/bench configuration).

On a real cluster the same settings apply minus master/driver-memory; AQE +
size-bounded scan partitions are the north_rule-mandated knobs (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "rsmetacheck_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder
    # threshold overrides (main.py --threshold) must reach executor-side
    # module imports on a real cluster; local-mode workers inherit the
    # driver env already (thresholds._apply_env_overrides)
    overrides = os.environ.get("RSMC_THRESHOLD_OVERRIDES")
    if overrides:
        builder = builder.config(
            "spark.executorEnv.RSMC_THRESHOLD_OVERRIDES", overrides
        )
        # getOrCreate silently drops config when a session already exists,
        # and already-launched local workers captured the JVM env at its
        # start — EXECUTOR-consumed overrides would NOT reach them. Fail
        # loudly for those rather than run a silent-default hybrid;
        # driver-plan scalars (MIN_WORDS, ...) are unaffected and pass.
        import json

        from . import thresholds as TH

        exec_names = set(json.loads(overrides)) & set(TH.EXECUTOR_CONSUMED)
        active = SparkSession.getActiveSession()
        if exec_names and active is not None and active.conf.get(
            "spark.executorEnv.RSMC_THRESHOLD_OVERRIDES", None
        ) != overrides:
            raise RuntimeError(
                f"executor-consumed threshold override(s) "
                f"{sorted(exec_names)} were set after a SparkSession was "
                "already running — worker processes would keep the "
                "defaults. Stop the session (or launch a fresh process) "
                "before applying these overrides."
            )
    return (
        builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate duplicates the whole findings-array
        # expression tree into a filter below the explode; on our 15-struct
        # verdict array the optimizer then spins for minutes re-transforming
        # it (observed via jstack: TreeNode.transformDownWithPruning hot).
        # The filter it would infer (size(findings)>0) is useless for a
        # constant-width array, so exclude the rule.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Iso-load profiling (tools/scale.py profile, BENCH/BASELINE.md):
        # at the 10k default the per-batch Python round-trip is the
        # dominant non-scaling cost when every core is busy (the cluster
        # regime) — 4->16-core iso-load efficiency 0.55 full / 0.76
        # scan+model; at 50k it's 0.78 / 0.88. Unloaded runs are
        # insensitive (<5%). ~3 KB rows (synthetic pages average 2.8 KB
        # of html) -> ~150 MB Arrow buffers per task at 50k; drop this if
        # executor memory is under ~2 GB/core.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # Parallelism FLOOR on file scans, derived from the core count
        # (never a constant): multi-row-group files (e.g. lineitem) split
        # to at least this many byte-range tasks instead of
        # size/maxPartitionBytes, so TPC-H-shaped scans use the whole
        # machine at bench scale. At production scale scans have far more
        # splits than cores and the floor is a no-op. (Single-row-group
        # files still yield one non-empty task — those paths carry their
        # own explicit repartitions, see queries._docs_par.)
        .config("spark.sql.files.minPartitionNum", str(cores * 2))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
