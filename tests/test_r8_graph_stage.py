"""Graph-stage hoisting: ONE capped-surface materialization + ONE fan-out
probe serve the whole plain-graph family via the capped_surfaces + edges
snapshots of kg_pipeline, instead of 13 eager localCheckpoint+probe jobs
per suite run."""

from __future__ import annotations

import os

from kie_invoice_minimal_spark.operators import graph_analytics as GA

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_family_build_runs_exactly_one_probe(spark, tmp_path):
    """Build + materialize the ENTIRE family from one snapshot root: the
    cap probe (an eager scalar job in capped_conv_surfaces) must run
    exactly once — during the snapshot build — and a resumed family run
    must run zero probes (the snapshot parquet IS the post-cap table)."""
    root = str(tmp_path / "gstage")
    before = dict(GA.CAP_PATH_STATS)
    fam = GA.graph_family_staged(spark, SF, root)
    assert len(fam) == 13
    for name, df in fam.items():
        assert df.count() >= 0, name  # materialize every member
    after = dict(GA.CAP_PATH_STATS)
    assert after["probes"] == before["probes"] + 1

    # resume: snapshots exist, nothing re-probes
    fam2 = GA.graph_family_staged(spark, SF, root)
    for df in fam2.values():
        df.count()
    assert dict(GA.CAP_PATH_STATS)["probes"] == after["probes"]
    # the upstream stages run inline: only the two graph snapshots are written
    assert not os.path.exists(os.path.join(root, "transcripts"))
    assert not os.path.exists(os.path.join(root, "mentions"))


def test_cold_family_pays_one_probe_each(spark):
    """The contrast side of the collapse claim: every COLD entry runs its
    own probe (13 per full suite; here three entries -> three probes)."""
    before = dict(GA.CAP_PATH_STATS)
    GA.kg_entity_pagerank(spark, SF).count()
    GA.kg_degree_distribution(spark, SF).count()
    GA.kg_edge_lift(spark, SF).count()
    assert dict(GA.CAP_PATH_STATS)["probes"] == before["probes"] + 3


def test_staged_family_values_equal_cold(spark, tmp_path):
    """staged == cold for every family member (same oracle semantics; the
    driver gate certifies the pagerank pair, this pins the other eleven,
    including the three r8 training-feed samplers)."""
    root = str(tmp_path / "gstage_eq")
    fam = GA.graph_family_staged(spark, SF, root)
    cold = {
        "kg_neighbor_sample": GA.kg_neighbor_sample,
        "kg_negative_sample": GA.kg_negative_sample,
        "kg_random_walks": GA.kg_random_walks,
        "kg_entity_pagerank": GA.kg_entity_pagerank,
        "kg_triangle_counts": GA.kg_triangle_counts,
        "kg_khop_counts": GA.kg_khop_counts,
        "kg_khop_kmv": GA.kg_khop_kmv,
        "kg_common_neighbors": GA.kg_common_neighbors,
        "kg_export_neighbors": GA.kg_export_neighbors,
        "kg_degree_distribution": GA.kg_degree_distribution,
        "kg_kcore": GA.kg_kcore,
        "kg_edge_lift": GA.kg_edge_lift,
        "kg_communities": GA.kg_communities,
    }
    assert set(fam) == set(cold)
    for name, fn in cold.items():
        assert _rows(fam[name]) == _rows(fn(spark, SF)), name


def test_pagerank_staged_and_derive_equal_cold(spark, tmp_path):
    golden = _rows(GA.kg_entity_pagerank(spark, SF))
    r1 = str(tmp_path / "gpr")
    assert _rows(GA.kg_entity_pagerank_staged(spark, SF, r1)) == golden
    # a second call resumes from the existing root — same values, zero probes
    before = dict(GA.CAP_PATH_STATS)
    assert _rows(GA.kg_entity_pagerank_staged(spark, SF, r1)) == golden
    assert dict(GA.CAP_PATH_STATS)["probes"] == before["probes"]
