"""Entity linking: blocking recall, scorer precision, CC correctness,
end-to-end alias-cluster recovery vs the planted ALIAS_GROUPS truth."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.functions.rules import ALIAS_GROUPS
from kie_invoice_minimal_spark.operators import blocking
from kie_invoice_minimal_spark.operators.blocking import normalize_surface
from kie_invoice_minimal_spark.operators.gcn_scorer import accepted_edges, score_candidates
from kie_invoice_minimal_spark.operators.mention_detect import detect_mentions_arrow
from kie_invoice_minimal_spark.plans.entity_linking import alias_triples, link_entities
from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts


def test_normalize_surface(spark):
    df = spark.createDataFrame(
        [("Hảo-Hảo",), ("Kinh-Đô",), ("Nestlé",), ("VINAMILK",), ("ace-cook",)],
        "s string",
    ).select(normalize_surface(F.col("s")).alias("n"))
    assert [r.n for r in df.collect()] == [
        "haohao", "kinhdo", "nestle", "vinamilk", "acecook",
    ]


def test_cc_simple_graph(spark, cc_both_paths):
    # components: {1,2,3,4}, {10,11}, {20} appears only via self-ref edge drop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "u long, v long"
    )
    for path, got in cc_both_paths(edges).items():
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}, path


def test_cc_chain_and_star(spark, cc_both_paths):
    # long chain exercises multi-round convergence; star exercises hub skew
    chain = [(i, i + 1) for i in range(100, 140)]
    star = [(500, x) for x in range(501, 560)]
    edges = spark.createDataFrame(chain + star, "u long, v long")
    for path, got in cc_both_paths(edges).items():
        assign = dict(got)
        assert all(assign[i] == 100 for i in range(100, 141)), path
        assert all(assign[x] == 500 for x in [500, *range(501, 560)]), path


def _pairs(mentions):
    return blocking.candidate_pairs_from_surfaces(mentions.select("surface").distinct())


@pytest.fixture(scope="module")
def brand_mentions(spark):
    t = synth_transcripts(spark, 3000)
    return detect_mentions_arrow(t).filter(F.col("mention_type") == "BRAND").persist()


def test_blocking_recall(spark, brand_mentions):
    """Every true alias pair (same group) that co-occurs must be a candidate."""
    pairs = {
        (r.surface_a, r.surface_b)
        for r in _pairs(brand_mentions).collect()
    }
    present = {r.surface for r in brand_mentions.select("surface").distinct().collect()}
    for grp in ALIAS_GROUPS:
        members = sorted(s for s in grp if s in present)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                assert (min(a, b), max(a, b)) in pairs, (a, b)


def test_scorer_separates(spark, brand_mentions):
    """Accepted edges connect only same-group surfaces (precision == 1)."""
    truth = {}
    for gi, grp in enumerate(ALIAS_GROUPS):
        for s in grp:
            truth[s] = gi
    edges = accepted_edges(score_candidates(_pairs(brand_mentions)))
    for r in edges.collect():
        assert truth[r.surface_a] == truth[r.surface_b], (
            r.surface_a, r.surface_b, r.score,
        )


def test_end_to_end_alias_clusters(spark, brand_mentions, both_paths):
    """link_entities recovers exactly the planted partition (restricted to
    surfaces that occur in the corpus), on both paths."""
    for path in both_paths():
        emap = link_entities(brand_mentions).collect()
        got: dict[str, int] = {r.surface: r.entity_id for r in emap}
        present = set(got)
        # same group -> same entity; different group -> different entity
        for gi, grp in enumerate(ALIAS_GROUPS):
            members = [s for s in grp if s in present]
            ids = {got[m] for m in members}
            assert len(ids) == 1, (path, grp, ids)
        rep = {}
        for gi, grp in enumerate(ALIAS_GROUPS):
            members = [s for s in grp if s in present]
            if members:
                rep[gi] = got[members[0]]
        assert len(set(rep.values())) == len(rep), path  # groups stay distinct
        # canonical surface is stable and within-group
        canon = {r.surface: r.canonical_surface for r in emap}
        for gi, grp in enumerate(ALIAS_GROUPS):
            members = [s for s in grp if s in present]
            cs = {canon[m] for m in members}
            assert len(cs) == 1 and cs.pop() in grp, path


def test_alias_triples(spark, brand_mentions, both_paths):
    for path in both_paths():
        emap = link_entities(brand_mentions)
        rows = alias_triples(emap).collect()
        assert all(r.pred == "HAS_ALIAS" for r in rows), path
        assert all(r.subj != r.obj for r in rows), path
        assert len(rows) > 0, path


def test_block_size_cap(spark, brand_mentions, monkeypatch):
    """Oversized blocks are dropped, not exploded (the spill-avoidance /
    hot-block policy): with a tiny cap, candidate volume shrinks."""
    full = _pairs(brand_mentions).count()
    monkeypatch.setattr(blocking, "MAX_BLOCK_SIZE", 2)
    capped = _pairs(brand_mentions).count()
    assert capped < full
    assert capped >= 0


def test_cc_random_graph_vs_union_find(spark, cc_both_paths):
    """Randomized CC vs a pure-Python union-find oracle."""
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]

    parent = list(range(400))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for u, v in edges:
        union(u, v)
    touched = {x for e in edges if e[0] != e[1] for x in e}
    # canonical min-id per component, restricted to nodes with real edges
    want = {}
    for x in sorted(touched):
        r = find(x)
        want.setdefault(r, x)
    want_assign = {x: want[find(x)] for x in touched}

    df = spark.createDataFrame(edges, "u long, v long")
    for path, got in cc_both_paths(df).items():
        assert dict(got) == want_assign, path


def test_linking_at_cardinality(spark, cardinality_mentions, both_paths):
    """Linking quality holds at non-toy cardinality: 3k surfaces / 1k alias
    groups of random names — near-total group recovery, near-zero merges."""
    from collections import defaultdict

    m, truth = cardinality_mentions
    for path in both_paths():
        emap = {r.surface: r.entity_id for r in link_entities(m).collect()}
        by_group, ent_groups = defaultdict(set), defaultdict(set)
        for s, gid in truth.items():
            by_group[gid].add(emap[s])
            ent_groups[emap[s]].add(gid)
        split = sum(1 for v in by_group.values() if len(v) > 1)
        merged = sum(1 for v in ent_groups.values() if len(v) > 1)
        assert split <= 50, (path, split)   # <= 5% LSH miss tolerance
        assert merged <= 10, (path, merged)  # <= 1% false-merge tolerance


def test_linking_partitioning_invariance(spark, brand_mentions, both_paths):
    """The entity map must not depend on how the input happens to be
    partitioned (shuffle order, group arrival order)."""
    for path in both_paths():
        a = {
            (r.surface, r.canonical_surface)
            for r in link_entities(brand_mentions.repartition(3)).collect()
        }
        b = {
            (r.surface, r.canonical_surface)
            for r in link_entities(brand_mentions.repartition(17)).collect()
        }
        assert a == b and len(a) > 0, path


def test_cc_hub_stress_midsize(spark, cc_both_paths):
    """Skew stress at test scale: 50k edges with a 20k-spoke hub plus 100
    chains — both paths must produce exact components (the committed-test
    version of the 1.9M-edge distributed measurement in SCALE.md)."""
    hub = [(1, x) for x in range(2, 20_002)]
    chains = [
        (100_000 + c * 100 + i, 100_000 + c * 100 + i + 1)
        for c in range(100)
        for i in range(30)
    ]
    edges = spark.createDataFrame(hub + chains, "u long, v long")
    for path, got in cc_both_paths(edges).items():
        assign = dict(got)
        assert len(assign) == 20_001 + 100 * 31, path
        assert all(assign[x] == 1 for x in range(1, 20_002)), path
        for c in range(100):
            base = 100_000 + c * 100
            assert all(assign[base + i] == base for i in range(31)), path


def test_cc_gate_boundary(spark, monkeypatch):
    """The driver path takes graphs of up to SMALL_GRAPH_EDGES filtered,
    deduped edges; one edge more runs the star loop.  Self-loops, null
    endpoints and duplicates do not count toward the gate."""
    from kie_invoice_minimal_spark.operators import connected_components as cc

    k = 4
    monkeypatch.setattr(cc, "SMALL_GRAPH_EDGES", k)
    at_k = [(1, 2), (2, 3), (-5, 3), (7, 8)]
    noise = [(9, 9), (None, 1), (1, None), (1, 2), (2, 3)]
    want = {(1, -5), (2, -5), (3, -5), (-5, -5), (7, 7), (8, 7)}
    for rows, n_edges, want_rows in (
        (at_k + noise, k, want),
        (at_k + noise + [(8, 20)], k + 1, want | {(20, 7)}),
    ):
        stats: dict = {}
        edges = spark.createDataFrame(rows, "u long, v long")
        got = {(r.node, r.component) for r in cc.connected_components(edges, stats).collect()}
        assert got == want_rows, n_edges
        assert stats["input_edges"] == n_edges
        if n_edges == k:
            assert stats["rounds"] == 0
        else:
            assert stats["rounds"] >= 1


def test_link_entities_job_count(spark, brand_mentions):
    """link_entities on the brand fixture runs at most 4 Spark jobs (job
    group around the call, listener bus drained): the distinct-surface
    checkpoint with its AQE stage job, the toArrow read, and one more while
    the persisted fixture is first computed; blocking, scoring and
    components then run on the driver.  The Spark path runs 11 here."""
    sc = spark.sparkContext
    sc.setJobGroup("el-call", "link_entities")
    try:
        emap = link_entities(brand_mentions)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert emap.count() > 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup("el-call"))
    assert 0 < len(jobs) <= 4, len(jobs)


def _emap(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_link_entities_paths_agree(spark, brand_mentions, cardinality_mentions, both_paths):
    """Both paths give the same entity map, row for row, on the brand
    fixture, the sf0.01 BRAND mentions and the 3k set plus a null surface;
    a null surface keeps its row (None, xxhash64(null) = 42, None)."""
    from kie_invoice_minimal_spark.sources.transcripts import transcripts_from_documents

    sf = detect_mentions_arrow(transcripts_from_documents(spark, "/root/testdata/sf0.01"))
    card, _truth = cardinality_mentions
    null_row = spark.createDataFrame(
        [("cz", 0, 0, 0, 0, None, "BRAND")], card.schema
    )
    for name, m in (
        ("brand", brand_mentions),
        ("sf0.01", sf),
        ("3k+null", card.unionByName(null_row)),
    ):
        got = {path: _emap(link_entities(m)) for path in both_paths()}
        assert got["driver"] == got["distributed"], name
        assert len(got["driver"]) > 0, name
        if name == "3k+null":
            assert (None, 42, None) in got["driver"]


def test_link_entities_gate_boundary(spark, monkeypatch):
    """k distinct surfaces with SMALL_SURFACES = k take the driver path,
    k + 1 take the Spark path; both give the same map."""
    import kie_invoice_minimal_spark.plans.entity_linking as el

    calls = []
    local = el.local_entity_map

    def spy(t):
        calls.append(t.num_rows)
        return local(t)

    monkeypatch.setattr(el, "local_entity_map", spy)
    surfaces = ["Vinamilk", "VINAMILK", "Vina-milk", "Kinh Đô", "kinhdo", "Acecook"]
    k = len(surfaces) - 1
    monkeypatch.setattr(el, "SMALL_SURFACES", k)
    schema = "surface string, mention_type string"
    maps = []
    for n in (k, k + 1):
        m = spark.createDataFrame([(s, "BRAND") for s in surfaces[:n]] * 2, schema)
        calls.clear()
        maps.append(_emap(el.link_entities(m)))
        assert calls == ([n] if n == k else []), n
    # the k + 1 map computed on the driver as well agrees with the Spark one
    monkeypatch.setattr(el, "SMALL_SURFACES", k + 1)
    m = spark.createDataFrame([(s, "BRAND") for s in surfaces], schema)
    assert _emap(el.link_entities(m)) == maps[1]
    assert {r[0]: r[2] for r in maps[1]}["VINAMILK"] == "VINAMILK"
