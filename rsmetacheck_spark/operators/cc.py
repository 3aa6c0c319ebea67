"""Connected components via alternating large-star/small-star.

The dedup-group former (dd06) and any other pair-graph consumer need
connected components at 100 TB scale, where plain min-label propagation
is wrong-shaped: its round count equals the component DIAMETER, so one
pathological million-member duplicate chain means a million join rounds.
Large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) contracts the edge set toward stars — every node
edged directly to its component minimum — in a number of rounds that
grows with log(n) regardless of diameter. Each half-round is one
groupBy-min plus one equi-join; no driver-side graph state ever exists.

Semantics of one round over the canonical edge set (directed (a, b) with
b < a, distinct):

  large-star  every node u connects each LARGER neighbor v to
              m = min(N(u) ∪ {u})            — emit (v, m)
  small-star  every node u connects each SMALLER neighbor and itself to
              m = min(N<(u) ∪ {u})           — emit (v, m) and (u, m)

Both preserve connectivity; the fixed point is the star set
{(v, min_C) : v ∈ C, v ≠ min_C}. Convergence is ONE driver action per
round — (count, bit_xor(xxhash64)) over the distinct edge set — and each
round's edges are checkpointed to scratch parquet so lineage stays one
round deep (plan shape identical every round).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CheckpointFn = Callable[[DataFrame, str], DataFrame]


def largestar_components(
    pairs: DataFrame,
    checkpoint: CheckpointFn,
    max_rounds: int = 50,
    stats_out: dict | None = None,
) -> DataFrame:
    """Pair graph -> component labels.

    pairs: DataFrame with columns (id_a, id_b), id_a < id_b per row.
    checkpoint: (df, tag) -> materialized df (scratch-parquet round barrier).
        It must write `df` on every call, never serve a cached table: each
        write also collects that edge set's convergence stats.
    stats_out: optional dict, receives {"rounds": n} for tests/benchmarks.

    Returns DataFrame[doc_id, group_rep] with group_rep = min reachable id,
    covering every node that appears in `pairs`.
    """
    from pyspark.sql import Observation

    def _observed_ckpt(e: DataFrame, tag: str) -> tuple[DataFrame, tuple]:
        """Checkpoint the edge set AND collect its convergence stats in
        the SAME write job via Observation — the stats used to be a
        separate action re-scanning the fresh checkpoint, i.e. one extra
        Spark job per round of a driver loop whose cost at bench scale
        is almost entirely per-job overhead. bit_xor(xxhash64):
        order-independent, overflow-free, exact over a DISTINCT edge set
        (no duplicate self-cancellation). A checkpoint fn that served a
        cached table would skip the write and leave obs.get blocking
        forever, hence the contract above."""
        obs = Observation(tag)
        out = checkpoint(
            e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("a", "b")).alias("h"),
            ),
            tag,
        )
        return out, (obs.get["n"], obs.get["h"])

    edges, prev = _observed_ckpt(
        pairs.selectExpr("id_b AS a", "id_a AS b").distinct(), "cc_edges"
    )
    rounds = 0
    from pyspark.sql import Window

    for _round in range(max_rounds):
        # One LINEAR pipeline per round — a single Spark job. The
        # groupBy-min + equi-join formulation of each half-round
        # consumed its input twice (aggregate side + probe side), which
        # forced a mid-round checkpoint of `large` and made every round
        # two write jobs + one stats job; at bench scale the loop cost
        # was almost pure per-job overhead. A min window over the same
        # partition key computes the identical m per group in one pass
        # (same shuffle bytes, no join), and the small-star's two
        # emissions ((b, m) when b<>m, plus (a, m)) come out of one
        # explode so nothing is consumed twice. Duplicate emissions are
        # absorbed by the final distinct exactly as before.
        #
        # large-star: u connects every LARGER neighbor to m = min(N(u)∪{u})
        sym = edges.selectExpr("a AS u", "b AS v").unionByName(
            edges.selectExpr("b AS u", "a AS v")
        )
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
            )
            .filter("v > u")
            .selectExpr("v AS a", "m AS b").filter("a <> b")
        )
        # small-star: u connects every SMALLER neighbor and itself to
        # m = min(N<(u) ∪ {u}); input is already (a, b) with b < a.
        small = (
            large.withColumn("m", F.min("b").over(Window.partitionBy("a")))
            .selectExpr(
                "explode(CASE WHEN b <> m"
                " THEN array(struct(b AS s, m AS t), struct(a AS s, m AS t))"
                " ELSE array(struct(a AS s, m AS t)) END) AS e"
            )
            .selectExpr("e.s AS a", "e.t AS b")
            .filter("a <> b")
        )
        edges, cur = _observed_ckpt(small.distinct(), f"cc_star_{_round}")
        rounds += 1
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover — log-round convergence makes 50 unreachable
        raise RuntimeError("largestar_components did not converge")
    if stats_out is not None:
        stats_out["rounds"] = rounds
    # fixed point = stars: every edge is (node, component_min)
    return (
        edges.selectExpr("a AS doc_id", "b AS group_rep")
        .unionByName(edges.selectExpr("b AS doc_id", "b AS group_rep"))
        .distinct()
    )
