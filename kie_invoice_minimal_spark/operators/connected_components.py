"""Connected components of an edge list — SURVEY.md A9.

The reference labels connected pixel blobs with one in-memory call per
image (``craft_utils.py:77-79``).  Lifted to corpus scale (cross-conversation
alias resolution, dup clusters, event pairs) the same labelling runs here.

Contract: ``connected_components(edges)`` takes ``(u, v)`` integer columns
and returns ``(node long, component long)``.  Edges with a null endpoint
and self-loops are dropped and duplicates collapse.  Every endpoint of the
remaining edges gets exactly one row, whose ``component`` is the minimum
node id of its component (ids are compared as signed longs, so the
negative ``xxhash64`` ids the callers use are fine).  Nodes without an
edge get no row; empty input gives an empty frame.

Two paths, chosen by the edge count the pre-loop job already observes:

- **driver** (``n <= SMALL_GRAPH_EDGES``): the checkpointed edges are read
  once with ``toArrow()`` and labelled by ``components_of`` in numpy, then
  handed back through ``createDataFrame``; the gate is
  ``session.checkpoint_or_fetch``, shared with entity linking.  Every graph
  the registry and the pipelines build today is far below the gate, and on
  such graphs the star loop below costs jobs, not data (26 jobs inside the
  Spark path of ``link_entities`` on the test brand fixture, against 8
  here).  The gate bounds driver memory, not
  time: on one box the driver path stays the faster one at every measured
  size (SCALE.md), while its working set grows with the graph (about 130
  bytes per edge in the driver's Python process, toArrow table included).
- **distributed** (above the gate): alternating large-star / small-star
  rounds (Kiveris et al., "Connected Components in MapReduce and Beyond")
  that converge to rooted stars in O(log n) rounds.

  large-star: per node u, m = min(u ∪ N(u)); re-hang every neighbor v > u
              onto m:  emit (v, m)
  small-star: orient edges to (hi, lo); per node u, m = min(u ∪ N<(u));
              emit (x, m) for x in N<(u) ∪ {u}, x != m

  The per-node min is one hash aggregate: min is combinable, so partial
  (map-side) aggregation ships a hot hub at most one row per map partition.
  Each round ends in ``localCheckpoint()`` to cut lineage, and the round's
  convergence fingerprint (edge count + order-free hash sum) rides that
  checkpoint job as an Observation, so a round is one action.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import checkpoint_or_fetch, observation_get

MAX_ROUNDS = 25
# edge count up to which components are labelled on the driver: the
# largest power of two whose measured driver working set (~130 B/edge,
# SCALE.md) stays under 1 GiB, Spark's default spark.driver.maxResultSize
SMALL_GRAPH_EDGES = 1 << 22


def components_of(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component) for the undirected edges ``u[i] – v[i]`` (int64).

    ``nodes`` holds every endpoint once, ascending; ``component[i]`` is the
    minimum id in ``nodes[i]``'s component.  Ids are compacted to their
    rank by ``np.unique``, so rank order is id order.  Each round hooks
    every edge-crossing root onto the smaller root across the edge (a
    scatter-min, so roots only ever move to smaller ranks and no cycle can
    form), then pointer-jumps ``label = label[label]`` until every node
    points at its root; edges whose ends already share a root drop out.
    """
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    label = np.arange(len(nodes))
    while True:
        la, lb = label[a], label[b]
        cross = la != lb
        if not cross.any():
            return nodes, nodes[label]
        a, b, la, lb = a[cross], b[cross], la[cross], lb[cross]
        np.minimum.at(label, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt


def _driver_components(spark, t, stats: dict | None) -> DataFrame:
    """Label the fetched edge table ``t`` on the driver."""
    import pyarrow as pa

    nodes, comp = components_of(
        t.column("u").to_numpy(), t.column("v").to_numpy()
    )
    if stats is not None:
        stats["nodes"] = len(nodes)
        stats["rounds"] = 0
        # the converged star's edges: one per non-root node
        stats["final_edges"] = int(np.count_nonzero(nodes != comp))
    return spark.createDataFrame(
        pa.table({"node": nodes, "component": comp})
    )


def _min_neighbor(edges: DataFrame, include_self: bool) -> DataFrame:
    """min(v) per u as ONE hash aggregate.  min is combinable, so Spark's
    partial aggregation pre-combines each map partition's rows per key
    before the exchange: a hub with millions of in-edges ships at most one
    row per map partition to its reducer, without an explicit salt."""
    lvl1 = edges.groupBy("u").agg(F.min("v").alias("min_nbr"))
    if include_self:
        lvl1 = lvl1.withColumn("m", F.least("u", "min_nbr")).drop("min_nbr")
    else:
        lvl1 = lvl1.withColumnRenamed("min_nbr", "m")
    return lvl1


def _large_star(edges: DataFrame) -> DataFrame:
    """Symmetrize; per u re-hang strictly-larger neighbors onto m.

    The output ``distinct()`` dedupes duplicate edges before _small_star,
    and its exchange is the one materialization all three small-star
    consumers reuse; without it the re-hang join re-executes per consumer."""
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
    # the union's trailing distinct also dedupes hang_self
    hang_self = withm.select("u", F.col("m").alias("v"))
    return hang_nbrs.union(hang_self).filter(F.col("u") != F.col("v")).distinct()


def _fp_cols() -> list[F.Column]:
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)), F.lit(0)
        ).alias("h"),
    ]


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Edge list (u, v) -> assignments (node:long, component:long); see the
    module docstring for the contract and the two paths.

    If ``stats`` is passed, it is filled with counter metrics:
    ``input_edges`` (filtered, deduped), ``nodes``, ``rounds`` (0 on the
    driver path) and ``final_edges`` (edges of the converged star).
    """
    # one pre-loop job: the input edge count rides the initial checkpoint
    # as an Observation; below the gate the edges are read once to the driver
    cur, n_input, local = checkpoint_or_fetch(
        edges.select(F.col("u").cast("long"), F.col("v").cast("long"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        SMALL_GRAPH_EDGES,
    )
    if stats is not None:
        stats["input_edges"] = n_input
    if local is not None:
        return _driver_components(edges.sparkSession, local, stats)
    # lazy over the initial checkpoint — rebuilt inside the final job's
    # roots anti-join instead of paying its own materialization
    nodes = (
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
    )

    if stats is not None:
        stats["nodes"] = nodes.count()

    prev_fp = None
    rounds = 0
    for _ in range(MAX_ROUNDS):
        # one checkpoint per round: the intra-round lineage (one star op) is
        # shallow; checkpointing after each star doubled materialization
        # cost.  The convergence fingerprint rides the same job.
        obs = Observation()
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
