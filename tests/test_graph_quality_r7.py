"""Round-7 graph-quality pins (r6 verdict items 7 and 8).

- A PLANTED two-cluster fixture where the lift threshold PROVABLY
  separates the clusters from a global hub — so future cap/lift changes
  cannot silently merge communities without a red test.
- The sf0.1 community-structure expectation (the r6 pin covered sf0.01
  only).
- The real-NER slot rehearsal: a fuzz detector emitting 10k
  open-vocabulary surfaces in ONE conversation, run through the FULL
  graph family — the end-to-end bounded-plan demonstration the
  per-conversation cap was built for.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.graph_analytics import (
    COMENTION_CAP,
    LPA_PRUNE_PPM,
    comention_edges,
    kcore_peel,
    khop_counts,
    label_propagation,
    lifted_edges,
    pagerank,
)


def _two_cluster_mentions(spark):
    """Two 4-cliques (A*, B*) plus a global hub H whose every edge has
    lift < 1 — the statistical-independence prune must sever H while
    keeping both cliques intact.

    Arithmetic (exact, so the pin is a proof, not a tuning): 30 convs
    total; A-convs c0..c9 each hold A1..A4 (H joins c0..c4), B-convs
    d0..d9 each hold B1..B4 (H joins d0..d4), e0..e9 hold only H.
    lift(Ai,Aj) = 10·30/(10·10) = 3  (kept, ≥ 1);
    lift(Ai,H)  =  5·30/(10·20) = 0.75  (pruned, < 1)."""
    rows = []
    for j in range(10):
        for s in ("A1", "A2", "A3", "A4"):
            rows.append((f"c{j}", s, "NAME"))
        if j < 5:
            rows.append((f"c{j}", "H", "NAME"))
    for j in range(10):
        for s in ("B1", "B2", "B3", "B4"):
            rows.append((f"d{j}", s, "NAME"))
        if j < 5:
            rows.append((f"d{j}", "H", "NAME"))
    for j in range(10):
        rows.append((f"e{j}", "H", "NAME"))
    return spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )


def test_lift_threshold_provably_separates_planted_clusters(spark):
    m = _two_cluster_mentions(spark)
    le = {(r.src, r.dst): r.lift_ppm for r in lifted_edges(m).collect()}
    # exact planted lifts (integer ppm)
    assert le[("A1", "A2")] == 3_000_000
    assert le[("A1", "H")] == 750_000
    pruned = {k for k, v in le.items() if v < LPA_PRUNE_PPM}
    kept = {k for k, v in le.items() if v >= LPA_PRUNE_PPM}
    assert all("H" in k for k in pruned)  # ONLY hub edges pruned
    assert all("H" not in k for k in kept)

    lbl = {
        r.node: r.label
        for r in label_propagation(
            lifted_edges(m).filter(F.col("lift_ppm") >= LPA_PRUNE_PPM)
        ).collect()
    }
    # two communities, collapsed to the lexicographic min of each clique
    assert {lbl[s] for s in ("A1", "A2", "A3", "A4")} == {"A1"}
    assert {lbl[s] for s in ("B1", "B2", "B3", "B4")} == {"B1"}
    # coverage contract (r6 ADVICE item 4): the fully-pruned hub is ABSENT
    assert "H" not in lbl


def test_unpruned_hub_would_merge_the_clusters(spark):
    """The negative control that makes the pin meaningful: WITHOUT the
    lift prune the hub bridges both cliques and 2-round LPA leaks labels
    across — communities stop being separable."""
    m = _two_cluster_mentions(spark)
    lbl = {r.node: r.label for r in label_propagation(comention_edges(m)).collect()}
    labels_a = {lbl[s] for s in ("A1", "A2", "A3", "A4")}
    labels_b = {lbl[s] for s in ("B1", "B2", "B3", "B4")}
    # the hub is now a node, and the two cliques no longer resolve to two
    # clean disjoint single-label communities
    assert "H" in lbl
    assert not (
        labels_a == {"A1"} and labels_b == {"B1"} and "H" not in lbl
    )


# measured on the final r7 tree (40 lift-covered nodes at sf0.1): eleven
# communities.  The MULTISET is the pin — a cap/lift change that merges
# or shatters communities at the larger fixture fails here with the
# drifted sizes in the assertion message.
SF01_COMMUNITY_SIZES = [11, 8, 5, 4, 3, 2, 2, 2, 1, 1, 1]


def test_sf01_community_structure_pinned(spark):
    """sf0.1 expectation (r6 pinned sf0.01 = 7 communities of sizes
    22/5/4/4/3/1/1; sf0.1 measures 11 of SF01_COMMUNITY_SIZES): pinned
    so future cap/lift changes cannot silently reshape communities at
    the larger fixture."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        kg_communities,
    )

    rows = kg_communities(spark, "/root/testdata/sf0.1").collect()
    sizes = {}
    for r in rows:
        sizes[r.community] = sizes.get(r.community, 0) + 1
    assert sorted(sizes.values(), reverse=True) == SF01_COMMUNITY_SIZES, (
        sorted(sizes.values(), reverse=True)
    )


def test_ner_slot_rehearsal_full_graph_family_bounded(spark):
    """r6 verdict item 8: an open-vocabulary detector (the real-NER slot)
    can emit ~10k DISTINCT surfaces in one conversation.  Run that fuzz
    output through the FULL graph family — not just capped_conv_surfaces
    unit tests — and assert every stage stays bounded and completes.
    This exercises the SKEW path of the refunded cap (max_d > cap) end
    to end."""
    hot = [("hot", f"ent_{i:05d}", "NAME") for i in range(10_000)]
    # give the first CAP surfaces a second mention so the keeper set is
    # deterministic, plus a few normal conversations for structure
    hot += [("hot", f"ent_{i:05d}", "NAME") for i in range(COMENTION_CAP)]
    normal = [
        (f"n{j}", s, "BRAND")
        for j in range(6)
        for s in (f"X{j}", f"Y{j}", "SHARED")
    ]
    m = spark.createDataFrame(
        hot + normal, "conv_id string, surface string, mention_type string"
    )

    e = comention_edges(m)
    edges = e.collect()
    # the hot conversation contributes AT MOST cap·(cap−1) directed edges
    hot_edges = [
        r for r in edges if r.src.startswith("ent_") or r.dst.startswith("ent_")
    ]
    assert len(hot_edges) <= COMENTION_CAP * (COMENTION_CAP - 1)
    # and exactly the top-cap keepers appear as nodes
    hot_nodes = {r.src for r in hot_edges}
    assert hot_nodes == {f"ent_{i:05d}" for i in range(COMENTION_CAP)}

    e0 = e.localCheckpoint()
    # PageRank over the capped graph: every node ranked, no overflow
    pr = pagerank(e0).collect()
    assert len(pr) == len({r.src for r in edges})
    # neighborhood features bounded by the adjacency caps
    kh = khop_counts(e0).collect()
    assert max(r.n_1hop for r in kh) <= COMENTION_CAP + 20
    # k-core peel completes with monotone non-increasing counts
    peels = sorted(kcore_peel(e0).collect(), key=lambda r: r.peel)
    ns = [r.n_nodes for r in peels]
    assert ns == sorted(ns, reverse=True)
    # lift + LPA over the same mentions completes and covers ≤ node set
    lbl = label_propagation(
        lifted_edges(m).filter(F.col("lift_ppm") >= LPA_PRUNE_PPM)
    ).collect()
    assert len(lbl) <= len({r.src for r in edges})
