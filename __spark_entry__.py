"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction query (transcripts ->
vectorized mention detection -> (subj, pred, obj) triples) at sf0.001.
``queries()`` exposes each implemented operator from SURVEY.md §2;
``oracle_sql()`` gives its DuckDB twin (same column names, same rounding).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.functions import duckdb_oracle
from kie_invoice_minimal_spark.operators import asof_join as AJ
from kie_invoice_minimal_spark.operators import dedup as DD
from kie_invoice_minimal_spark.operators import graph_analytics as GA
from kie_invoice_minimal_spark.operators import multimodal as MM
from kie_invoice_minimal_spark.operators import relational as R
from kie_invoice_minimal_spark.operators import relational_ext as RX
from kie_invoice_minimal_spark.operators import similarity as SS
from kie_invoice_minimal_spark.operators import text_analysis as TA
from kie_invoice_minimal_spark.operators import triples as TR
from kie_invoice_minimal_spark.operators.connected_components import connected_components
from kie_invoice_minimal_spark.operators.mention_detect import (
    detect_mentions_arrow,
    merge_adjacent_mentions,
    rescan_merged_surfaces,
)
from kie_invoice_minimal_spark.plans.entity_linking import (
    alias_triples,
    canonical_triples,
    link_entities,
    staged_el_outputs,
)
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.sources.transcripts import (
    duckdb_transcripts_sql,
    transcripts_from_documents,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    t = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    return extract_triples_df(t, engine="arrow")


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_triples_df(transcripts_from_documents(spark, sf_dir), engine="arrow")


def _kg_triples_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_triples_df(transcripts_from_documents(spark, sf_dir), engine="native")


def _kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))


def _kg_mentions_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-token span mentions (reference create_merge_cells analog)."""
    return merge_adjacent_mentions(_kg_mentions(spark, sf_dir))


def _kg_mentions_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged spans with surfaces RE-READ from the turn text (the
    reference's merged-crop re-OCR path, backend_utils.py:110-113)."""
    t = transcripts_from_documents(spark, sf_dir)
    return rescan_merged_surfaces(merge_adjacent_mentions(detect_mentions_arrow(t)), t)


def _brand_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return m.filter(F.col("mention_type") == "BRAND")


def _el_entity_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_entities(_brand_mentions(spark, sf_dir)).select(
        "surface", "canonical_surface"
    )


def _el_alias_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alias_triples(link_entities(_brand_mentions(spark, sf_dir)))


def _kg_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # detector materialized once — m feeds the EL stage and the triple
    # rewrite, which run as separate jobs (see kg_canonical_pagerank)
    m = detect_mentions_arrow(
        transcripts_from_documents(spark, sf_dir)
    ).localCheckpoint()
    emap = link_entities(m.filter(F.col("mention_type") == "BRAND"))
    return canonical_triples(m, emap)


def _el_pipeline_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged EL path: one blocking→scorer→CC run snapshotted, all
    three EL outputs derived from the snapshots.  The two cheap outputs
    (entity_map projection, alias triples) go to the noop sink here, so
    the timing is the combined cost of everything the three cold queries
    produce; the returned canonical triples share kg_triples_canonical's
    oracle twin, certifying staged == cold.  The returned DataFrame is lazy
    over the snapshots, so its root lives until exit (_staged_root)."""
    outs = staged_el_outputs(spark, sf_dir, _staged_root(sf_dir))
    for k in ("el_entity_map", "el_alias_triples"):
        outs[k].write.format("noop").mode("overwrite").save()
    return outs["kg_triples_canonical"]


_STAGED_ROOTS: dict[tuple[str, str], str] = {}


def _staged_root(sf_dir: str, kind: str = "el", wipe: bool = True) -> str:
    """One private snapshot root per (kind, sf) per process, removed at
    exit.  ``wipe=True`` (the staged entries) empties it so the timing
    includes the snapshot build; ``wipe=False`` (the derive entries) keeps
    it so the pipeline resumes from the snapshots this process built."""
    key = (kind, sf_dir)
    if key not in _STAGED_ROOTS:
        _STAGED_ROOTS[key] = tempfile.mkdtemp(prefix=f"kie_staged_{kind}_")
        atexit.register(shutil.rmtree, _STAGED_ROOTS[key], ignore_errors=True)
    elif wipe:  # recreated at once, so the private path never lapses
        shutil.rmtree(_STAGED_ROOTS[key], ignore_errors=True)
        os.mkdir(_STAGED_ROOTS[key], 0o700)
    return _STAGED_ROOTS[key]


def _kg_canonical_pagerank_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GA.kg_canonical_pagerank_staged(spark, sf_dir, _staged_root(sf_dir, "pr"))


def _kg_canonical_pagerank_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The marginal cost over snapshots that already exist: the first call
    builds mentions + entity_map, later ones resume, so bench.py's min-of-k
    times what a nightly job over maintained snapshots pays."""
    return GA.kg_canonical_pagerank_staged(
        spark, sf_dir, _staged_root(sf_dir, "prd", wipe=False)
    )


def _kg_entity_pagerank_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GA.kg_entity_pagerank_staged(spark, sf_dir, _staged_root(sf_dir, "gpr"))


def _kg_entity_pagerank_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As _kg_canonical_pagerank_derive, over the capped_surfaces + edges
    snapshots (a resume runs zero cap probes; test_r8_graph_stage.py)."""
    return GA.kg_entity_pagerank_staged(
        spark, sf_dir, _staged_root(sf_dir, "gprd", wipe=False)
    )


def _cc_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = R.e2_band_self_join(spark, sf_dir)
    edges = pairs.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    return connected_components(edges).select(
        F.col("node").alias("event_id"), "component"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is load-bearing: the driver's correctness snapshot holds
    exactly the first 50 entries in dict-iteration order.  Positions 1-4
    are the flagship kg_* four (entry() parity), 5-50 the entries whose
    certification is due (the graph family, the staged PageRank pairs,
    the frame-fp entries and the oldest-certified tranche); every entry
    past 50 is certified and value-unchanged, and all 116 stay guarded by
    scripts/check_correctness.py (the local mimic of the gate, which also
    rejects non-scalar output columns).  When adding a query that needs
    certification, insert it INSIDE the first 50 and rotate a certified,
    unchanged entry past 50 (tests/test_doc_counts.py pins the window).

    Contract note — el_levenshtein_pairs is BANDED-APPROXIMATE candidate
    generation, not exhaustive edit-distance: pairs must share a hash
    band, so some true pairs are missed by design (measured recall 0.697
    vs exhaustive at sf0.01; every miss is a cross-entity coincidence
    with jaccard <= 0.25 — true alias pairs are never dropped; pinned in
    tests/test_levenshtein_recall.py).  Its DuckDB twin applies the SAME
    banding, so the parity gate checks the candidate set, not exhaustive
    recall.

    Contract note — ss_topk_bruteforce and ss_topk_docs are EXACTNESS
    BASELINES, not scale paths: both score every (query, candidate) pair
    (broadcast query set × full scan), which is the O(Q·N) ground truth
    the ANN entries' recall is measured against.  At corpus scale use the
    ANN entries (ss_lsh_multitable_ann — OR-amplified tables, recall
    0.52/1.00 pinned; ss_ivf_ann) and keep the brute-force pair for
    recall audits over sampled queries.
    """
    return {
        # 1-4: flagship KG pipeline (SURVEY.md §3; D1-D7 + R1-R4 + O1)
        "kg_triples": _kg_triples,
        "kg_triples_native": _kg_triples_native,
        "kg_mentions": _kg_mentions,
        "kg_mentions_merged": _kg_mentions_merged,
        # 5-33: the oldest-certified tranche
        "kg_mentions_rescan": _kg_mentions_rescan,
        "dd_band_clusters": DD.dd_band_clusters,
        "cc_event_pairs": _cc_event_pairs,
        "e2_band_self_join": R.e2_band_self_join,
        "dd_lsh_verified_dups": DD.dd_lsh_verified_dups,
        "ss_lsh_multitable_ann": SS.ss_lsh_multitable_ann,
        "ta_pack_sequences": TA.ta_pack_sequences,
        "dd_contamination": DD.dd_contamination,
        "a2a3_message_pass": RX.a2a3_message_pass,
        "g5_turn_rank": RX.g5_turn_rank,
        "g5_merge_conversations": RX.g5_merge_conversations,
        "g4_realign_semi_join": RX.g4_realign_semi_join,
        "setop_split_check": RX.setop_split_check,
        "asof_click_after_view": AJ.asof_click_after_view,
        "stats_percentiles": RX.stats_percentiles,
        "w_ntile_lag": RX.w_ntile_lag,
        "w_range_frame": RX.w_range_frame,
        "cube_doc_stats": RX.cube_doc_stats,
        "grouping_sets_doc_stats": RX.grouping_sets_doc_stats,
        "tpch_q1_pricing": RX.tpch_q1_pricing,
        "sessionize_events": RX.sessionize_events,
        "ta_repetition_filter": TA.ta_repetition_filter,
        "ta_redact_spans": TA.ta_redact_spans,
        "g3_nearest_neighbor": R.g3_nearest_neighbor,
        "dd_minhash_signatures": DD.dd_minhash_signatures,
        "dd_minhash_lsh_pairs": DD.dd_minhash_lsh_pairs,
        "dd_ngram_jaccard": DD.dd_ngram_jaccard,
        "dd_embedding_cosine": DD.dd_embedding_cosine,
        "dd_dup_clusters": DD.dd_dup_clusters,
        # 34-50: the comention-graph family, its staged twins and the two
        # frame-fp entries
        "kg_entity_pagerank": GA.kg_entity_pagerank,
        "kg_entity_pagerank_staged": _kg_entity_pagerank_staged,
        "kg_entity_pagerank_derive": _kg_entity_pagerank_derive,
        "kg_canonical_pagerank": GA.kg_canonical_pagerank,
        "kg_canonical_pagerank_staged": _kg_canonical_pagerank_staged,
        "kg_canonical_pagerank_derive": _kg_canonical_pagerank_derive,
        "kg_triangle_counts": GA.kg_triangle_counts,
        "kg_khop_counts": GA.kg_khop_counts,
        "kg_khop_kmv": GA.kg_khop_kmv,
        "kg_common_neighbors": GA.kg_common_neighbors,
        "kg_export_neighbors": GA.kg_export_neighbors,
        "kg_degree_distribution": GA.kg_degree_distribution,
        "kg_edge_lift": GA.kg_edge_lift,
        "kg_kcore": GA.kg_kcore,
        "kg_communities": GA.kg_communities,
        "mm_frame_hash_dedup": MM.mm_frame_hash_dedup,
        "mm_frame_minhash_pairs": MM.mm_frame_minhash_pairs,
        # 51+: certified, value-unchanged entries
        "kg_neighbor_sample": GA.kg_neighbor_sample,
        "kg_negative_sample": GA.kg_negative_sample,
        "kg_random_walks": GA.kg_random_walks,
        "kg_conv_fanout": GA.kg_conv_fanout,
        "mm_frame_sample": MM.mm_frame_sample,
        "r3_text_encode": RX.r3_text_encode,
        "e4_graph_norm": RX.e4_graph_norm,
        "a10_accuracy": RX.a10_accuracy,
        "o3_confusion_matrix": RX.o3_confusion_matrix,
        "o2_mention_output": RX.o2_mention_output,
        "p8_trim_conversations": RX.p8_trim_conversations,
        "rollup_doc_stats": RX.rollup_doc_stats,
        "s2_json_props": RX.s2_json_props,
        "s3_mapping_join": RX.s3_mapping_join,
        "ta_mixture_sample": TA.ta_mixture_sample,
        "ta_curate_corpus_v2": TA.ta_curate_corpus_v2,
        "ss_topk_docs": SS.ss_topk_docs,
        "el_entity_map": _el_entity_map,
        "ev_retention_cohorts": RX.ev_retention_cohorts,
        "stats_linear_fit": RX.stats_linear_fit,
        "dd_incremental": DD.dd_incremental,
        "ev_funnel_stages": RX.ev_funnel_stages,
        "ta_doc_vectors": TA.ta_doc_vectors,
        "approx_stats": RX.approx_stats,
        "ta_ngram_lm_score": TA.ta_ngram_lm_score,
        "el_pipeline_staged": _el_pipeline_staged,
        "ta_chunk_dedup": TA.ta_chunk_dedup,
        "kg_entity_timeline": GA.kg_entity_timeline,
        "kg_predicate_stats": GA.kg_predicate_stats,
        "ev_windowed_anomaly": RX.ev_windowed_anomaly,
        "kg_triples_canonical": _kg_triples_canonical,
        "el_alias_triples": _el_alias_triples,
        "el_levenshtein_pairs": RX.el_levenshtein_pairs,  # see contract note
        "ss_ivf_ann": SS.ss_ivf_ann,
        "ta_tfidf_topk": TA.ta_tfidf_topk,
        "mm_payload_dedup": MM.mm_payload_dedup,
        "kg_triples_incremental": TR.kg_triples_incremental,
        "ev_markov_transitions": RX.ev_markov_transitions,
        "anti_join_no_orders": RX.anti_join_no_orders,
        "outer_join_order_counts": RX.outer_join_order_counts,
        "ta_mixture_weights": TA.ta_mixture_weights,
        "g6_stratified_split": R.g6_stratified_split,
        "p4_threshold_fallback": RX.p4_threshold_fallback,
        "interval_overlap_join": RX.interval_overlap_join,
        "o3_confusion_pivot": RX.o3_confusion_pivot,
        "unpivot_readout": RX.unpivot_readout,
        "topk_orders_per_cust": RX.topk_orders_per_cust,
        "dd_exact": DD.dd_exact,
        "dd_simhash": DD.dd_simhash,
        "ss_topk_bruteforce": SS.ss_topk_bruteforce,
        "ss_lsh_buckets": SS.ss_lsh_buckets,
        "ss_lsh_ann": SS.ss_lsh_ann,
        "ta_curate_corpus": TA.ta_curate_corpus,
        "ta_vocab_topk": TA.ta_vocab_topk,
        "mm_decode_metadata": MM.mm_decode_metadata,
        "g5_ordered_concat": R.g5_ordered_concat,
        "e3_minmax_normalize": R.e3_minmax_normalize,
        "a5_group_standardize": R.a5_group_standardize,
        "a6_readout": R.a6_readout,
        "o5_label_rollup": R.o5_label_rollup,
        "a8_threshold_classify": R.a8_threshold_classify,
        "o4_error_analysis": R.o4_error_analysis,
        "ta_token_stats": TA.ta_token_stats,
        "ta_quality_score": TA.ta_quality_score,
        "ta_lang_id": TA.ta_lang_id,
        "ta_fingerprint": TA.ta_fingerprint,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples": duckdb_oracle.triples_sql(),
        "kg_triples_native": duckdb_oracle.triples_sql(),
        "kg_mentions": duckdb_oracle.mentions_sql(),
        "kg_mentions_merged": duckdb_oracle.merged_mentions_sql(),
        "kg_mentions_rescan": duckdb_oracle.merged_rescan_sql(),
        "g5_ordered_concat": R.G5_SQL,
        "e3_minmax_normalize": R.E3_SQL,
        "a5_group_standardize": R.A5_SQL,
        "a6_readout": R.A6_SQL,
        "o5_label_rollup": R.O5_SQL,
        "a8_threshold_classify": R.A8_SQL,
        "o4_error_analysis": R.O4_SQL,
        "g3_nearest_neighbor": R.G3_SQL,
        "e2_band_self_join": R.E2_SQL,
        "g6_stratified_split": R.G6_SQL,
        "el_entity_map": duckdb_oracle.entity_map_sql(),
        "el_alias_triples": duckdb_oracle.alias_triples_sql(),
        "kg_triples_canonical": duckdb_oracle.canonical_triples_sql(),
        # staged == cold: same final output, derived via snapshots
        "el_pipeline_staged": duckdb_oracle.canonical_triples_sql(),
        "kg_entity_pagerank": GA.pagerank_sql(duckdb_oracle.mentions_sql()),
        # staged == cold (graph-family snapshots): same final PageRank
        "kg_entity_pagerank_staged": GA.pagerank_sql(
            duckdb_oracle.mentions_sql()
        ),
        # derive-from-EXISTING-graph-snapshots == cold
        "kg_entity_pagerank_derive": GA.pagerank_sql(
            duckdb_oracle.mentions_sql()
        ),
        "kg_triangle_counts": GA.triangle_sql(duckdb_oracle.mentions_sql()),
        "kg_khop_counts": GA.khop_sql(duckdb_oracle.mentions_sql()),
        "kg_khop_kmv": GA.khop_kmv_sql(duckdb_oracle.mentions_sql()),
        "kg_common_neighbors": GA.common_neighbors_sql(
            duckdb_oracle.mentions_sql()
        ),
        "kg_canonical_pagerank": GA.pagerank_sql(
            duckdb_oracle.canonical_mentions_sql()
        ),
        # staged == cold: same canonical PageRank, derived via snapshots
        "kg_canonical_pagerank_staged": GA.pagerank_sql(
            duckdb_oracle.canonical_mentions_sql()
        ),
        # derive-from-EXISTING-snapshots == cold (the marginal staged path)
        "kg_canonical_pagerank_derive": GA.pagerank_sql(
            duckdb_oracle.canonical_mentions_sql()
        ),
        "mm_payload_dedup": MM.MM_PAYLOAD_DEDUP_SQL,
        "mm_frame_hash_dedup": MM.MM_FRAME_HASH_DEDUP_SQL,
        "mm_frame_minhash_pairs": MM.MM_FRAME_MINHASH_SQL,
        "kg_degree_distribution": GA.degree_distribution_sql(
            duckdb_oracle.mentions_sql()
        ),
        "kg_conv_fanout": GA.conv_fanout_sql(duckdb_oracle.mentions_sql()),
        "kg_neighbor_sample": GA.neighbor_sample_sql(
            duckdb_oracle.mentions_sql()
        ),
        "kg_negative_sample": GA.negative_sample_sql(
            duckdb_oracle.mentions_sql()
        ),
        "kg_random_walks": GA.random_walks_sql(duckdb_oracle.mentions_sql()),
        "kg_triples_incremental": TR.kg_triples_incremental_sql(
            duckdb_oracle.triples_sql()
        ),
        "kg_edge_lift": GA.edge_lift_sql(duckdb_oracle.mentions_sql()),
        "kg_kcore": GA.kcore_sql(duckdb_oracle.mentions_sql()),
        "kg_communities": GA.communities_sql(duckdb_oracle.mentions_sql()),
        "ev_markov_transitions": RX.EV_MARKOV_SQL,
        "dd_incremental": DD.DD_INCREMENTAL_SQL,
        "ev_funnel_stages": RX.EV_FUNNEL_SQL,
        "ev_retention_cohorts": RX.EV_RETENTION_SQL,
        "stats_linear_fit": RX.STATS_LINFIT_SQL,
        # scalar twin (v_str): the gate's pandas canonicalizer cannot
        # factorize list cells, so an array<bigint> output fails it
        "ta_doc_vectors": TA.doc_vectors_str_sql(),
        "ss_topk_docs": SS.topk_docs_sql(),
        "kg_export_neighbors": GA.export_neighbors_sql(
            duckdb_oracle.mentions_sql()
        ),
        "ta_ngram_lm_score": TA.TA_NGRAM_LM_SQL,
        "ta_tfidf_topk": TA.TA_TFIDF_SQL,
        "ta_chunk_dedup": TA.chunk_dedup_sql(),
        "kg_entity_timeline": GA.entity_timeline_sql(
            duckdb_oracle.mentions_sql(), duckdb_transcripts_sql()
        ),
        "kg_predicate_stats": GA.predicate_stats_sql(
            duckdb_oracle.mentions_sql()
        ),
        "ev_windowed_anomaly": RX.EV_ANOMALY_SQL,
        "cc_event_pairs": duckdb_oracle.cc_over_band_pairs_sql(R.E2_SQL),
        "ta_token_stats": TA.TA_TOKEN_STATS_SQL,
        "ta_quality_score": TA.TA_QUALITY_SQL,
        "ta_lang_id": TA.TA_LANG_ID_SQL,
        "ta_fingerprint": TA.TA_FINGERPRINT_SQL,
        "ta_curate_corpus": TA.TA_CURATE_SQL,
        "ta_vocab_topk": TA.TA_VOCAB_TOPK_SQL,
        "ta_repetition_filter": TA.TA_REPETITION_SQL,
        "ta_redact_spans": TA.ta_redact_sql(),
        "ta_pack_sequences": TA.TA_PACK_SQL,
        "ta_mixture_weights": TA.TA_MIXTURE_SQL,
        "ta_mixture_sample": TA.TA_MIXTURE_SAMPLE_SQL,
        "ta_curate_corpus_v2": TA.TA_CURATE_V2_SQL,
        "ss_lsh_multitable_ann": SS.SS_LSH_MT_ANN_SQL,
        "dd_exact": DD.DD_EXACT_SQL,
        "dd_minhash_signatures": DD.DD_MINHASH_SIG_SQL,
        "dd_minhash_lsh_pairs": DD.DD_MINHASH_LSH_SQL,
        "dd_simhash": DD.DD_SIMHASH_SQL,
        "dd_ngram_jaccard": DD.DD_NGRAM_JACCARD_SQL,
        "dd_lsh_verified_dups": DD.DD_LSH_VERIFIED_SQL,
        "dd_embedding_cosine": DD.DD_EMBEDDING_COSINE_SQL,
        "dd_dup_clusters": DD.DD_DUP_CLUSTERS_SQL,
        "dd_band_clusters": DD.DD_BAND_CLUSTERS_SQL,
        "dd_contamination": DD.DD_CONTAMINATION_SQL,
        "ss_topk_bruteforce": SS.SS_TOPK_SQL,
        "ss_lsh_buckets": SS.SS_LSH_BUCKETS_SQL,
        "ss_lsh_ann": SS.SS_LSH_ANN_SQL,
        "ss_ivf_ann": SS.SS_IVF_ANN_SQL,
        "mm_decode_metadata": MM.MM_DECODE_SQL,
        "mm_frame_sample": MM.MM_FRAME_SAMPLE_SQL,
        "r3_text_encode": RX.R3_SQL,
        "e4_graph_norm": RX.E4_SQL_TEMPLATE.format(
            mentions=duckdb_oracle.mentions_sql()
        ),
        "a2a3_message_pass": RX.A2A3_SQL,
        "a10_accuracy": RX.A10_SQL,
        "o3_confusion_matrix": RX.O3_SQL,
        "o2_mention_output": RX.o2_sql(),
        "p8_trim_conversations": RX.p8_sql(),
        "rollup_doc_stats": RX.ROLLUP_SQL,
        "s2_json_props": RX.S2_SQL,
        "s3_mapping_join": RX.S3_SQL,
        "g5_turn_rank": RX.g5_turn_rank_sql(),
        "g5_merge_conversations": RX.g5_merge_sql(),
        "g4_realign_semi_join": RX.g4_sql(),
        "setop_split_check": RX.SETOP_SQL,
        "asof_click_after_view": AJ.ASOF_SQL,
        "stats_percentiles": RX.PERCENTILES_SQL,
        "w_ntile_lag": RX.W_NTILE_SQL,
        "w_range_frame": RX.W_RANGE_FRAME_SQL,
        "cube_doc_stats": RX.CUBE_SQL,
        "grouping_sets_doc_stats": RX.GROUPING_SETS_SQL,
        "tpch_q1_pricing": RX.TPCH_Q1_SQL,
        "o3_confusion_pivot": RX.O3_PIVOT_SQL,
        "unpivot_readout": RX.UNPIVOT_SQL,
        # KMV/bottom-k order statistics over a shared md5 hash are
        # byte-identical across engines (HLL/t-digest internals are not)
        "approx_stats": RX.approx_stats_sql(),
        "sessionize_events": RX.SESSIONIZE_SQL,
        "topk_orders_per_cust": RX.TOPK_SQL,
        "el_levenshtein_pairs": RX.el_levenshtein_sql(),
        "p4_threshold_fallback": RX.P4_FALLBACK_SQL,
        "interval_overlap_join": RX.INTERVAL_OVERLAP_SQL,
        "anti_join_no_orders": RX.ANTI_JOIN_SQL,
        "outer_join_order_counts": RX.OUTER_JOIN_SQL,
    }
