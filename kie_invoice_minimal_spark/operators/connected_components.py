"""Iterative connected components over salted self-joins — SURVEY.md A9.

The reference labels connected pixel blobs with one OpenCV call per image
(``craft_utils.py:77-79``).  Lifted to corpus scale (cross-conversation
alias resolution) nothing in Catalyst expresses the iteration, so this is
the engine's one genuinely custom distributed algorithm: alternating
**large-star / small-star** rounds (Kiveris et al., "Connected Components
in MapReduce and Beyond") that converge to rooted stars in O(log n) rounds.

  large-star: per node u, m = min(u ∪ N(u)); re-hang every neighbor v > u
              onto m:  emit (v, m)
  small-star: orient edges to (hi, lo); per node u, m = min(u ∪ N<(u));
              emit (x, m) for x in N<(u) ∪ {u}, x != m

Implementation notes (the scale story):
- the per-node min is ONE hash aggregate: min is combinable, so Spark's
  partial (map-side) aggregation pre-combines each map partition's rows
  per key before the exchange — a hot hub (an alias appearing in millions
  of conversations) ships at most one row per map partition to its
  reducer, the same funneling bound the r1-r8 two-level salted version
  bought with an extra shuffle per star per round (r9; explicit salting
  stays reserved for non-combinable aggregations);
- each round ends in localCheckpoint() to truncate lineage (an iterative
  loop otherwise grows an unbounded plan tree);
- convergence = edge-set fingerprint (count + xor-ish hash sum) unchanged;
  the fingerprint rides the round's checkpoint job as an Observation
  (r5: one action per round, previously checkpoint + a separate agg);
- the shrinking edge list is re-coalesced by AQE each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import observation_get

MAX_ROUNDS = 25


def _min_neighbor(edges: DataFrame, include_self: bool) -> DataFrame:
    """min(v) per u — ONE hash aggregate (r9).

    The r1-r8 version ran a two-level salted aggregation
    (groupBy(u, salt).min -> groupBy(u).min) to protect hot hubs.  For a
    COMBINABLE aggregate like min that second level is redundant: Spark's
    partial (map-side) aggregation already pre-combines every map
    partition's rows per key before the exchange, so a hub with millions
    of in-edges ships at most one row PER MAP PARTITION to its reducer —
    exactly the funneling bound the explicit salt provided, without the
    extra shuffle (guide §2.3 "aggregate before you shuffle").  The salt
    remains the right tool for non-combinable aggregations (collect_list
    and friends); dropping it here removes one exchange per star per
    round — 2 per CC round."""
    lvl1 = edges.groupBy("u").agg(F.min("v").alias("min_nbr"))
    if include_self:
        lvl1 = lvl1.withColumn("m", F.least("u", "min_nbr")).drop("min_nbr")
    else:
        lvl1 = lvl1.withColumnRenamed("min_nbr", "m")
    return lvl1


def _large_star(edges: DataFrame) -> DataFrame:
    """Symmetrize; per u re-hang strictly-larger neighbors onto m.

    The output .distinct() stays (r9 measured wash locally, kept for
    scale): it dedupes band-collision duplicates before _small_star AND
    its exchange is the one materialization all three small-star
    consumers reuse — without it the re-hang join re-executes per
    consumer."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = _min_neighbor(sym, include_self=True)
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (hi -> lo); per u hang N<(u) ∪ {u} onto the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = _min_neighbor(oriented, include_self=False)  # v < u always, so min over N< suffices
    withm = oriented.join(mins, "u")
    hang_nbrs = withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    # no inner distinct on hang_self (r9): the union's trailing distinct
    # already dedupes — the inner one only added a shuffle per round
    hang_self = withm.select("u", F.col("m").alias("v"))
    return hang_nbrs.union(hang_self).filter(F.col("u") != F.col("v")).distinct()


def _fingerprint_obs() -> "Observation":
    """Convergence fingerprint (edge count + order-free hash sum) attached
    as an Observation so it rides the round's checkpoint job itself — one
    job per round instead of checkpoint + separate fingerprint collect
    (localCheckpoint fires the query-execution listener in pyspark 4.x,
    so the observation resolves when the materialization finishes)."""
    from pyspark.sql import Observation

    return Observation()


def _fp_cols() -> list[F.Column]:
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)), F.lit(0)
        ).alias("h"),
    ]


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Edge list (u:long, v:long) -> assignments (node:long, component:long),
    component = min node id of the component.  Covers every node appearing
    in the edge list; singletons (no edges) are their own component by
    definition and need no row here.

    If ``stats`` is passed, it is filled with counter metrics
    (rounds, final_edges, input_edges, nodes) — the per-stage counters the
    north rule asks the pipeline to report.
    """
    spark = edges.sparkSession
    # one pre-loop job (r9): the input edge count rides the initial
    # checkpoint as an Observation — previously the emptiness probe
    # (isEmpty) and the nodes materialization were two additional eager
    # jobs before the first round
    obs0 = _fingerprint_obs()
    cur = (
        edges.select(F.col("u").cast("long"), F.col("v").cast("long"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_input = int(observation_get(obs0)["n"])
    if n_input == 0:
        return spark.createDataFrame([], "node long, component long")
    # lazy over the initial checkpoint — rebuilt inside the final job's
    # roots anti-join instead of paying its own materialization
    nodes = (
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
    )

    if stats is not None:
        stats["input_edges"] = n_input
        stats["nodes"] = nodes.count()

    prev_fp = None
    rounds = 0
    for _ in range(MAX_ROUNDS):
        # one checkpoint per round: the intra-round lineage (one star op) is
        # shallow; checkpointing after each star doubled materialization
        # cost.  The convergence fingerprint rides the SAME job as an
        # Observation (r5): one action per round, not two.
        obs = _fingerprint_obs()
        cur = _small_star(_large_star(cur)).observe(obs, *_fp_cols()).localCheckpoint()
        rounds += 1
        got = observation_get(obs)
        fp = (int(got["n"]), int(got["h"]))
        if fp == prev_fp:
            break
        prev_fp = fp
    if stats is not None:
        stats["rounds"] = rounds
        stats["final_edges"] = prev_fp[0] if prev_fp else 0

    # converged: edges form stars (node -> root).  A node may briefly list
    # several candidate roots; take the min, then close one level (root of
    # my root) to be safe, then add roots mapping to themselves.
    assign = cur.groupBy("u").agg(F.min("v").alias("component"))
    assign = (
        assign.alias("a")
        .join(
            assign.select(
                F.col("u").alias("component"), F.col("component").alias("root2")
            ).alias("b"),
            "component",
            "left",
        )
        .select(
            F.col("a.u").alias("node"),
            F.coalesce("root2", "component").alias("component"),
        )
    )
    roots = nodes.join(assign, nodes.node == assign.node, "left_anti").select(
        F.col("node"), F.col("node").alias("component")
    )
    return assign.union(roots)
