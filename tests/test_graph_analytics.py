"""Entity co-mention PageRank + incremental dedup (new round-4 operators)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.dedup import (
    INCR_MOD,
    INCR_REM,
    dd_incremental,
)
from kie_invoice_minimal_spark.operators.graph_analytics import (
    PR_ITERS,
    PR_SCALE,
    kg_entity_pagerank,
    pagerank,
)

SF = "/root/testdata/sf0.01"


def _star_edges(spark, w=1):
    """hub 'a' connected to b..e, plus one peripheral b-c edge; symmetric,
    every edge of weight ``w``."""
    rows = [("a", x, w) for x in "bcde"] + [(x, "a", w) for x in "bcde"]
    rows += [("b", "c", w), ("c", "b", w)]
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_pagerank_ranks_the_hub_first(spark):
    pr = {r.surface: (r.pagerank_q, r.rank) for r in pagerank(_star_edges(spark)).collect()}
    assert pr["a"][1] == 1, pr
    assert pr["a"][0] > pr["b"][0] > pr["d"][0]  # hub > 2-deg > 1-deg
    # symmetric leaves tie in score; ranks stay distinct (broken by surface)
    assert pr["d"][0] == pr["e"][0] and pr["d"][1] != pr["e"][1]


def test_pagerank_mass_conserved_within_truncation(spark):
    """Integer PageRank only loses mass to DIV truncation: total score must
    sit within ITERS * (edges + nodes) score-units of N * SCALE."""
    df = pagerank(_star_edges(spark))
    total = df.agg(F.sum("pagerank_q")).collect()[0][0]
    n_nodes, n_edges = 5, 10
    slack = PR_ITERS * (n_edges + n_nodes) * 100
    assert abs(total - n_nodes * PR_SCALE) <= slack, total


def test_pagerank_deterministic_across_runs(spark):
    a = sorted(tuple(r) for r in kg_entity_pagerank(spark, SF).collect())
    b = sorted(tuple(r) for r in kg_entity_pagerank(spark, SF).collect())
    assert a == b and len(a) > 0


def test_pagerank_empty_edges(spark):
    empty = spark.createDataFrame([], "src string, dst string, w long")
    assert pagerank(empty).count() == 0


def test_pagerank_two_phase_rank_is_contiguous(spark):
    """The r6 two-phase ranking (range partition + local row_number +
    offset join) must reproduce the exact total-order rank: a permutation
    of 1..N aligned with (score DESC, surface ASC)."""
    out = pagerank(_star_edges(spark)).collect()
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1)), ranks
    by_order = sorted(out, key=lambda r: (-r.pagerank_q, r.surface))
    assert [r.rank for r in by_order] == list(range(1, len(out) + 1))


def test_comention_hot_conversation_is_capped(spark):
    """r5 verdict item 3: one hot conversation planting 10k distinct
    surfaces (an agent loop spamming entity lists) must NOT emit ~10^8
    pair rows — edge generation is bounded by cap·(cap−1) per
    conversation, and the capped selection keeps the top surfaces by
    mention count (ties by name)."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        COMENTION_CAP,
        capped_conv_surfaces,
        comention_edges,
    )

    rows = [("hot", f"E{i:05d}", "NAME") for i in range(10_000)]
    # the first CAP surfaces get a second mention -> they are the keepers
    rows += [("hot", f"E{i:05d}", "NAME") for i in range(COMENTION_CAP)]
    m = spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )
    kept = capped_conv_surfaces(m).collect()
    assert len(kept) == COMENTION_CAP
    assert {r.surface for r in kept} == {f"E{i:05d}" for i in range(COMENTION_CAP)}
    n_edges = comention_edges(m).count()
    assert n_edges == COMENTION_CAP * (COMENTION_CAP - 1), n_edges


def test_comention_exact_below_cap(spark):
    """Conversations with ≤ cap distinct surfaces are untouched by the cap
    (the fixture regime): edges equal the uncapped pairing."""
    rows = [(f"c{j}", f"S{i}", "BRAND") for j in range(5) for i in range(4)]
    m = spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )
    from kie_invoice_minimal_spark.operators.graph_analytics import comention_edges

    got = {(r.src, r.dst, r.w) for r in comention_edges(m).collect()}
    want = {(f"S{a}", f"S{b}", 5) for a in range(4) for b in range(4) if a != b}
    assert got == want


def test_incremental_dedup_invariants(spark):
    out = dd_incremental(spark, SF)
    rows = out.collect()
    assert rows
    # every output row is an incoming-batch doc
    assert all(r.doc_id % INCR_MOD == INCR_REM for r in rows)
    # matched_corpus_doc, when present, is a corpus doc with the same fp
    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    )
    fp_of = {r.doc_id: r.h for r in d}
    corpus_by_fp = {}
    for r in d:
        if r.doc_id % INCR_MOD != INCR_REM:
            corpus_by_fp.setdefault(r.h, []).append(r.doc_id)
    for r in rows:
        expect = min(corpus_by_fp.get(fp_of[r.doc_id], [None] * 1) or [None])
        assert r.matched_corpus_doc == (
            min(corpus_by_fp[fp_of[r.doc_id]]) if fp_of[r.doc_id] in corpus_by_fp else None
        ), r
    # is_batch_dup count == batch size - distinct fps in batch
    batch_fps = [fp_of[r.doc_id] for r in rows]
    n_dups = sum(1 for r in rows if r.is_batch_dup)
    assert n_dups == len(batch_fps) - len(set(batch_fps))


def test_triangle_counts_on_known_graphs(spark):
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        kg_triangle_counts,
    )
    import itertools

    # independent brute-force over the sf0.001 co-mention graph
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        comention_edges,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    e = comention_edges(
        detect_mentions_arrow(transcripts_from_documents(spark, sf))
    ).collect()
    adj = {}
    for r in e:
        adj.setdefault(r.src, set()).add(r.dst)
    expect = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expect[n] += 1
    got = {r.surface: r.n_triangles for r in kg_triangle_counts(spark, sf).collect()}
    assert got == expect
    assert sum(got.values()) > 0  # non-vacuous


def test_triangle_closure_uses_degree_order_not_name_order(spark):
    """Regression pin for the wedge-closure direction: a triangle whose
    closing edge is oriented AGAINST name order (degree order differs)
    must still be counted.  Graph: z-a-m triangle plus extra edges pumping
    deg(a) so orientation is by degree rank, with closure m<->z oriented
    z->m by name... exercised through the same pairing code path via a
    synthetic mentions frame."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        comention_edges,
    )
    from pyspark.sql import functions as F

    # conv1 co-mentions {a, m, z} (one triangle); conv2..4 pump deg(m)
    rows = [("c1", s) for s in ("a", "m", "z")]
    rows += [("c2", "m"), ("c2", "q1"), ("c3", "m"), ("c3", "q2"),
             ("c4", "m"), ("c4", "q3")]
    mentions = spark.createDataFrame(
        [(c, 0, 0, s, "BRAND") for c, s in rows],
        "conv_id string, turn_idx int, pos int, surface string, mention_type string",
    )
    e = comention_edges(mentions)
    # reuse the operator internals by running the registered query shape
    # over a temp view is overkill; instead count triangles directly on e
    # with the same code path:
    from kie_invoice_minimal_spark.operators import graph_analytics as GA

    und = e.filter(F.col("src") < F.col("dst")).select("src", "dst")
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    d1 = deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc"))
    d2 = deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst"))
    lt = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    oriented = und.join(d1, "src").join(d2, "dst").select(
        F.when(lt, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lt, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )
    o1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    o2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    tri = (
        o1.join(o2, "u")
        .filter(F.col("v") != F.col("w"))
        .join(
            oriented.select(F.col("a").alias("v"), F.col("b").alias("w")),
            ["v", "w"],
        )
    )
    # deg: a=2, z=2, m=5 -> wedge apex is a or z (lowest rank), closure
    # a/z -> m by degree even though 'm' < 'z' by name
    assert tri.count() == 1


def test_funnel_stage_ordering_invariants(spark):
    from kie_invoice_minimal_spark.operators.relational_ext import (
        ev_funnel_stages,
    )

    rows = ev_funnel_stages(spark, SF).collect()
    assert rows
    stages = {1: 0, 2: 0, 3: 0}
    for r in rows:
        assert r.t_view is not None
        if r.t_click is not None:
            assert r.t_click > r.t_view
        if r.t_purchase is not None:
            assert r.t_click is not None and r.t_purchase > r.t_click
        expect_stage = 1 + (r.t_click is not None) + (r.t_purchase is not None)
        assert r.stage == expect_stage
        stages[r.stage] += 1
    # funnel is non-degenerate on the fixture: every stage reached by some
    # user, and monotone non-increasing reach
    reach1 = stages[1] + stages[2] + stages[3]
    reach2 = stages[2] + stages[3]
    assert reach1 >= reach2 >= stages[3] > 0


def test_khop_counts_vs_bruteforce(spark):
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        comention_edges,
        kg_khop_counts,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    e = comention_edges(
        detect_mentions_arrow(transcripts_from_documents(spark, sf))
    ).collect()
    adj = {}
    for r in e:
        adj.setdefault(r.src, set()).add(r.dst)
    expect = {}
    for u, nbrs in adj.items():
        two = set()
        for v in nbrs:
            two |= adj.get(v, set())
        two -= nbrs | {u}
        expect[u] = (len(nbrs), len(two))
    got = {
        r.surface: (r.n_1hop, r.n_2hop)
        for r in kg_khop_counts(spark, sf).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values())  # non-vacuous 2-hop


def test_khop_cap_bounds_hub_expansion(spark):
    """The r4 scale hazard, cured and stress-pinned: a 50k-spoke hub's
    UNCAPPED 2-hop self-join would materialize 50k^2 = 2.5e9 wedge rows
    through the hub; with capped_adjacency the intermediate is bounded by
    |capped_edges| * KHOP_CAP and the query completes in seconds.  The
    capped results follow the documented deterministic top-(w DESC, dst)
    semantics."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        KHOP_CAP,
        capped_adjacency,
        khop_counts,
    )

    n = 50_000
    spokes = [f"s{i:05d}" for i in range(1, n + 1)]
    rows = [("hub", s, 1) for s in spokes] + [(s, "hub", 1) for s in spokes]
    e = spark.createDataFrame(rows, "src string, dst string, w long")

    ecap = capped_adjacency(e)
    # hub adjacency truncated to exactly KHOP_CAP; spokes keep their 1 edge
    # -> the wedge join input is n + CAP rows, not n^2
    assert ecap.filter(F.col("src") == "hub").count() == KHOP_CAP
    assert ecap.count() == n + KHOP_CAP
    # deterministic selection: equal weights tie-break by dst ASC
    kept = {
        r.dst for r in ecap.filter(F.col("src") == "hub").collect()
    }
    assert kept == set(spokes[:KHOP_CAP])

    got = {r.surface: (r.n_1hop, r.n_2hop) for r in khop_counts(e).collect()}
    assert got["hub"] == (n, 0)  # spokes' capped lists all lead back to hub
    # a spoke inside the hub's kept set sees the other CAP-1 kept spokes;
    # one outside sees all CAP of them; n_1hop stays EXACT (uncapped)
    assert got[spokes[0]] == (1, KHOP_CAP - 1)
    assert got[spokes[-1]] == (1, KHOP_CAP)


def test_khop_capped_semantics_match_python_model(spark):
    """khop_counts(cap=2) equals a Python recompute of the documented
    capped semantics on a graph whose degrees EXCEED the cap: both hops
    walk each node's top-cap neighbors by (w DESC, dst ASC); the
    distance-1 exclusion uses the FULL edge set."""
    from kie_invoice_minimal_spark.operators.graph_analytics import khop_counts

    rows = [
        # a's true adjacency: c (w=5), b (w=3), d (w=1) -> cap-2 keeps c, b
        ("a", "c", 5), ("a", "b", 3), ("a", "d", 1),
        ("b", "a", 3), ("b", "d", 2), ("b", "e", 2),  # tie 2/2 -> d, e kept
        ("c", "a", 5), ("c", "e", 4),
        ("d", "a", 1), ("d", "b", 2),
        ("e", "b", 2), ("e", "c", 4),
    ]
    e = spark.createDataFrame(rows, "src string, dst string, w long")
    cap = 2
    full, w_of = {}, {}
    for s, d, w in rows:
        full.setdefault(s, set()).add(d)
        w_of[(s, d)] = w
    capped = {
        s: {
            d
            for d in sorted(nbrs, key=lambda d: (-w_of[(s, d)], d))[:cap]
        }
        for s, nbrs in full.items()
    }
    expect = {}
    for u in full:
        two = set()
        for v in capped[u]:
            two |= capped.get(v, set())
        two -= full[u] | {u}
        expect[u] = (len(full[u]), len(two))
    got = {
        r.surface: (r.n_1hop, r.n_2hop) for r in khop_counts(e, cap).collect()
    }
    assert got == expect
    # non-vacuous: the cap actually dropped an edge somewhere
    assert any(len(capped[s]) < len(full[s]) for s in full)


def test_khop_kmv_accuracy_vs_exact(spark):
    """The KMV 2-hop reach estimate: EXACT for balls below k, within the
    sketch's deterministic error band above it (k=16 -> rel sigma ~27%;
    the fixture draw is fixed, so the observed ratios are stable)."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        KHOP_KMV_K,
        comention_edges,
        kg_khop_kmv,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    e = comention_edges(
        detect_mentions_arrow(transcripts_from_documents(spark, sf))
    ).collect()
    adj = {}
    for r in e:
        adj.setdefault(r.src, set()).add(r.dst)
    exact = {}
    for u, nbrs in adj.items():
        ball = {u} | nbrs
        for v in nbrs:
            ball |= adj.get(v, set())
        exact[u] = len(ball)
    got = {r.surface: (r.n_1hop, r.reach2_est) for r in kg_khop_kmv(spark, sf).collect()}
    assert set(got) == set(exact)
    estimator_used = 0
    for u, (n1, est) in got.items():
        assert n1 == len(adj[u])
        if exact[u] < KHOP_KMV_K:
            assert est == exact[u], (u, est, exact[u])
        else:
            estimator_used += 1
            assert 0.45 * exact[u] <= est <= 2.2 * exact[u], (u, est, exact[u])
    assert estimator_used > 0  # the estimator branch is actually exercised


def test_khop_kmv_hub_linear(spark):
    """A 50k-spoke hub costs O(edges*k) sketch rows, not deg^2 wedges: the
    sketch completes fast and the hub's 2-ball estimate (true size n+1)
    lands inside the KMV error band."""
    from kie_invoice_minimal_spark.operators.graph_analytics import khop_kmv

    n = 50_000
    spokes = [f"s{i:05d}" for i in range(1, n + 1)]
    rows = [("hub", s) for s in spokes] + [(s, "hub") for s in spokes]
    e = spark.createDataFrame(rows, "src string, dst string").withColumn(
        "w", F.lit(1).cast("long")
    )
    got = {r.surface: (r.n_1hop, r.reach2_est) for r in khop_kmv(e).collect()}
    assert got["hub"][0] == n
    true_ball = n + 1
    assert 0.45 * true_ball <= got["hub"][1] <= 2.2 * true_ball, got["hub"]
    # every spoke's 2-ball is the whole star too ({s, hub} U N(hub))
    s_est = got[spokes[0]][1]
    assert 0.45 * true_ball <= s_est <= 2.2 * true_ball, s_est


def test_common_neighbors_match_python_model(spark):
    """Exact common-neighbor counts + quantized Jaccard below the cap,
    against a brute-force Python recompute on the sf0.001 entity graph."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        CN_Q,
        KHOP_CAP,
        comention_edges,
        kg_common_neighbors,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    e = comention_edges(
        detect_mentions_arrow(transcripts_from_documents(spark, sf))
    ).collect()
    adj = {}
    for r in e:
        adj.setdefault(r.src, set()).add(r.dst)
    assert max(len(v) for v in adj.values()) <= KHOP_CAP  # cap not binding
    expect = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            co = len(adj[a] & adj[b])
            if co >= 2:
                jq = co * CN_Q // (len(adj[a]) + len(adj[b]) - co)
                expect[(a, b)] = (co, jq)
    got = {
        (r.surface_a, r.surface_b): (r.n_common, r.jaccard_q)
        for r in kg_common_neighbors(spark, sf).collect()
    }
    assert got == expect
    assert got  # non-vacuous


def test_common_neighbors_cap_bounds_hub(spark):
    """Above the cap the pair generation walks only each node's top-cap
    neighbors: two 50k-spoke hubs sharing their spokes yield C(cap,2)
    spoke-pairs (through each hub's kept top-cap list) plus the hub pair
    (through the spokes, whose degree-2 lists are uncapped) — not the
    2×C(50k,2) wedge explosion of the uncapped join."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        CN_Q,
        common_neighbors,
    )

    n = 50_000
    spokes = [f"s{i:05d}" for i in range(1, n + 1)]
    rows = []
    for h in ("hub1", "hub2"):
        rows += [(h, s, 1) for s in spokes] + [(s, h, 1) for s in spokes]
    e = spark.createDataFrame(rows, "src string, dst string, w long")
    cap = 8
    got = {
        (r.surface_a, r.surface_b): (r.n_common, r.jaccard_q)
        for r in common_neighbors(e, cap).collect()
    }
    kept = spokes[:cap]  # equal weights -> dst-ASC tie-break keeps these
    expect_pairs = {(a, b) for i, a in enumerate(kept) for b in kept[i + 1 :]}
    expect_pairs.add(("hub1", "hub2"))
    assert set(got) == expect_pairs and len(got) == cap * (cap - 1) // 2 + 1
    # hub pair: all n spokes shared (spoke lists are below the cap);
    # jaccard = n/(n+n-n) = 1.0 exactly
    assert got[("hub1", "hub2")] == (n, CN_Q)
    # kept spoke pairs: both hubs shared, deg 2 each -> jaccard 1.0
    assert got[(kept[0], kept[1])] == (2, CN_Q)


def test_retention_cohort_invariants(spark):
    from pyspark.sql import functions as F

    from kie_invoice_minimal_spark.operators.relational_ext import (
        ev_retention_cohorts,
    )

    rows = ev_retention_cohorts(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r.week_offset >= 0
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.n_users
    # offset 0 exists for every cohort (the first-event week itself) and is
    # the cohort maximum (retention can never exceed the cohort size)
    for cw, offs in by_cohort.items():
        assert 0 in offs, (cw, offs)
        assert offs[0] == max(offs.values()), (cw, offs)
    # offset-0 totals = number of distinct users
    n_users = (
        spark.read.parquet(f"{SF}/events.parquet")
        .agg(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert sum(offs[0] for offs in by_cohort.values()) == n_users


def test_canonical_pagerank_merges_alias_mass(spark):
    """Canonicalization must shrink the node set (aliases merge) and every
    BRAND node in the canonical ranking must be a canonical surface."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        kg_canonical_pagerank,
        kg_entity_pagerank,
    )

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    raw = {r.surface for r in kg_entity_pagerank(spark, sf).collect()}
    canon_rows = kg_canonical_pagerank(spark, sf).collect()
    canon = {r.surface for r in canon_rows}
    assert len(canon) < len(raw)
    emap = {
        r.surface: r.canonical_surface
        for r in em.queries()["el_entity_map"](spark, sf).collect()
    }
    merged_away = {s for s, c in emap.items() if s != c}
    assert not (canon & merged_away)  # no non-canonical variant survives
    assert {c for c in emap.values() if c in raw} <= canon | (raw - set(emap))


def test_entity_timeline_matches_python_reference(spark):
    """Observation windows vs a direct Python recompute over the joined
    mention/turn-ts stream (integer microseconds, distinct conv counts)."""
    from collections import defaultdict

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        kg_entity_timeline,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    t = transcripts_from_documents(spark, sf)
    ts_of = {
        (r.conv_id, r.turn_idx): int(r.ts.timestamp() * 1_000_000)
        for r in t.select("conv_id", "turn_idx", "ts").collect()
    }
    agg = defaultdict(lambda: [None, None, 0, set()])
    for r in detect_mentions_arrow(t).collect():
        key = (r.surface, r.mention_type)
        us = ts_of[(r.conv_id, r.turn_idx)]
        a = agg[key]
        a[0] = us if a[0] is None else min(a[0], us)
        a[1] = us if a[1] is None else max(a[1], us)
        a[2] += 1
        a[3].add(r.conv_id)
    expect = {
        k: (v[0], v[1], v[2], len(v[3])) for k, v in agg.items()
    }
    got = {
        (r.surface, r.pred): (r.first_ts_us, r.last_ts_us, r.n_mentions, r.n_convs)
        for r in kg_entity_timeline(spark, sf).collect()
    }
    assert got == expect and got


def test_predicate_stats_invariants(spark):
    """Internal consistency + cross-check against the mention stream:
    totals add up, shares are exact ppm, the top surface is the true
    (count DESC, surface ASC) argmax."""
    from collections import Counter, defaultdict

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        PS_Q,
        kg_predicate_stats,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    mrows = detect_mentions_arrow(transcripts_from_documents(spark, sf)).collect()
    cnt = Counter((r.mention_type, r.surface) for r in mrows)
    convs = defaultdict(set)
    for r in mrows:
        convs[r.mention_type].add(r.conv_id)
    got = {r.pred: r for r in kg_predicate_stats(spark, sf).collect()}
    preds = {p for p, _s in cnt}
    assert set(got) == preds
    for p in preds:
        sub = {s: c for (pp, s), c in cnt.items() if pp == p}
        r = got[p]
        assert r.n_mentions == sum(sub.values())
        assert r.n_surfaces == len(sub)
        assert r.n_convs == len(convs[p])
        top = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.top_surface == top[0]
        assert r.top_share_ppm == top[1] * PS_Q // r.n_mentions


# --- int64 overflow fails loudly (ANSI) + capped-surface routing --------------------


def test_pagerank_overflow_raises(spark):
    """score·w past int64 must fail the job, never wrap into wrong ranks:
    with w = 10^7 the hub's contribution score·w exceeds 2^63 (scores are
    ~10^12 SCALE units)."""
    import pytest
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        pagerank(_star_edges(spark, w=10**7)).collect()


def test_label_propagation_overflow_raises(spark):
    """A label's weight sum past int64 must fail the job: a doubled
    (a, b, 2^62) edge sums to 2^63 (a wrapped sw would flip the argmax).
    Each round's scores feed one aggregate, so one stage fails and the
    error reaches Python as pyspark's ArithmeticException."""
    import pytest
    from pyspark.errors import ArithmeticException

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        label_propagation,
    )

    big = 1 << 62
    e = spark.createDataFrame(
        [("a", "b", big), ("a", "b", big), ("b", "a", big), ("b", "a", big)],
        "src string, dst string, w long",
    )
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        label_propagation(e).collect()


def test_exact_integer_operators_require_ansi(spark):
    """With ANSI off an overflow would wrap silently, so each operator
    that leaves overflow to the engine refuses to plan — before any job
    runs (the check is its first statement)."""
    import pytest

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        label_propagation,
        pagerank_scores,
    )
    from kie_invoice_minimal_spark.operators.multimodal import framed_frame_fps

    docs = spark.createDataFrame([("d", "text")], "doc_id string, text string")
    calls = (
        lambda: pagerank_scores(_star_edges(spark)),
        lambda: label_propagation(_star_edges(spark)),
        lambda: framed_frame_fps(docs),
    )
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for call in calls:
            with pytest.raises(RuntimeError, match=key):
                call()
    finally:
        spark.conf.set(key, old)


def test_capped_surfaces_common_path_has_no_windows(spark):
    """r6 verdict item 3 (the cap-cost refund): when every conversation is
    under the cap — true at every fixture SF — the two top-N windows must
    be GONE from the plan (the scalar pre-agg bypasses them), not merely
    cheap."""
    import io
    from contextlib import redirect_stdout

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        capped_conv_surfaces,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    m = detect_mentions_arrow(
        transcripts_from_documents(spark, "/root/testdata/sf0.001")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        capped_conv_surfaces(m).explain("formatted")
    assert "Window" not in buf.getvalue()


def test_capped_surfaces_skew_path_still_windows_and_binds(spark):
    """Above the cap the skew path (the top-N window) must still
    engage: same planted hot conversation as the r6 cap test, checked
    against the refunded implementation."""
    from kie_invoice_minimal_spark.operators.graph_analytics import (
        capped_conv_surfaces,
    )

    cap = 3
    rows = [("hot", f"E{i:03d}", "NAME") for i in range(50)]
    rows += [("hot", f"E{i:03d}", "NAME") for i in range(cap)]  # keepers
    rows += [("cold", "X", "NAME"), ("cold", "Y", "NAME")]
    m = spark.createDataFrame(
        rows, "conv_id string, surface string, mention_type string"
    )
    kept = capped_conv_surfaces(m, cap=cap).collect()
    by_conv = {}
    for r in kept:
        by_conv.setdefault(r.conv_id, set()).add(r.surface)
    assert by_conv["hot"] == {f"E{i:03d}" for i in range(cap)}
    assert by_conv["cold"] == {"X", "Y"}  # under-cap conv untouched


def test_conv_fanout_matches_python_model(spark):
    """kg_conv_fanout (r7): the log2-binned per-conversation fan-out
    histogram must equal a pure-Python recount, and n_over_cap must be 0
    at fixture SF (the under-cap regime the refund's scalar guard sees)."""
    from collections import Counter

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        COMENTION_CAP,
        PR_TYPES,
        kg_conv_fanout,
    )
    from kie_invoice_minimal_spark.operators.mention_detect import (
        detect_mentions_arrow,
    )
    from kie_invoice_minimal_spark.sources.transcripts import (
        transcripts_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    m = detect_mentions_arrow(transcripts_from_documents(spark, sf)).collect()
    per_conv = {}
    for r in m:
        if r.mention_type in PR_TYPES:
            per_conv.setdefault(r.conv_id, set()).add(r.surface)
    ds = Counter(len(v).bit_length() - 1 for v in per_conv.values())
    got = {r.bucket: r for r in kg_conv_fanout(spark, sf).collect()}
    assert set(got) == set(ds)
    for b, row in got.items():
        vals = [len(v) for v in per_conv.values() if len(v).bit_length() - 1 == b]
        assert row.n_convs == len(vals)
        assert row.min_d == min(vals) and row.max_d == max(vals)
        assert row.n_over_cap == sum(1 for v in vals if v > COMENTION_CAP)
    assert sum(r.n_over_cap for r in got.values()) == 0  # fixture under cap
