"""Docs must not drift from the registry (r2 verdict item 6: BASELINE.md
said 70/70 after ta_vocab_topk made it 71).  Counts in README/BASELINE and
the PLANS.md table row count are checked against len(queries())."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402


def _read(name: str) -> str:
    with open(os.path.join(REPO, name)) as f:
        return f.read()


def test_baseline_md_count_matches_registry():
    n = len(entrymod.queries())
    assert f"{n}/{n} queries OK" in _read("BASELINE.md")


def test_readme_count_matches_registry():
    n = len(entrymod.queries())
    assert f"{n} `queries()` entries" in _read("README.md")


def test_plans_table_covers_every_registered_query():
    names = set(entrymod.queries())
    rows = {
        m.group(1)
        for m in re.finditer(r"^\| (\w+) \| \d+ \|", _read("PLANS.md"), re.M)
    }
    missing = names - rows
    assert not missing, f"PLANS.md table missing: {sorted(missing)}"


def test_oracle_registry_is_consistent():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    # every oracle refers to a registered query, and (since approx_stats'
    # r4 KMV rewrite) every registered query has an oracle
    assert set(os_) <= set(qs)
    assert set(qs) - set(os_) == set()


def test_certification_window_holds_round8_critical_entries():
    """The driver snapshots exactly the first 50 queries() entries, so
    every round-8 changed/new operator and the r05-stale rotation tranche
    MUST sit inside positions 0-49 (see the queries() docstring).  This
    pins the ordering mechanically so a refactor cannot silently push a
    needs-certification entry past the cutoff."""
    names = list(entrymod.queries())
    first50 = set(names[:50])
    critical = {
        # changed in round 8: per-conversation over-cap routing re-plans
        # every comention-graph consumer
        "kg_entity_pagerank", "kg_canonical_pagerank",
        "kg_canonical_pagerank_staged", "kg_canonical_pagerank_derive",
        "kg_triangle_counts", "kg_khop_counts", "kg_khop_kmv",
        "kg_common_neighbors", "kg_export_neighbors",
        "kg_degree_distribution", "kg_edge_lift", "kg_kcore",
        "kg_communities",
        # new in round 8: the staged graph-family prefix
        "kg_entity_pagerank_staged", "kg_entity_pagerank_derive",
        # changed in round 8: single-definition frame-fp scheme
        "mm_frame_hash_dedup", "mm_frame_minhash_pairs",
        # the twenty-nine r05-stale entries (r7 verdict item 1)
        "kg_mentions_rescan", "dd_band_clusters", "cc_event_pairs",
        "e2_band_self_join", "dd_lsh_verified_dups",
        "ss_lsh_multitable_ann", "ta_pack_sequences", "dd_contamination",
        "a2a3_message_pass", "g5_turn_rank", "g5_merge_conversations",
        "g4_realign_semi_join", "setop_split_check",
        "asof_click_after_view", "stats_percentiles", "w_ntile_lag",
        "w_range_frame", "cube_doc_stats", "grouping_sets_doc_stats",
        "tpch_q1_pricing", "sessionize_events", "ta_repetition_filter",
        "ta_redact_spans", "g3_nearest_neighbor", "dd_minhash_signatures",
        "dd_minhash_lsh_pairs", "dd_ngram_jaccard", "dd_embedding_cosine",
        "dd_dup_clusters",
    }
    missing = critical - first50
    assert not missing, f"pushed past the 50-entry snapshot: {sorted(missing)}"
    # the window is exactly full: flagship 4 + 29 stale + 17 r8 entries
    assert len(critical | {"kg_triples", "kg_triples_native",
                           "kg_mentions", "kg_mentions_merged"}) == 50
