"""Entity linking & canonicalization plan — SURVEY.md Stage 3+4.

mentions --(blocking: MinHash bands)--> candidate pairs
         --(GCN scorer per Arrow batch)--> accepted match edges
         --(connected components)--> surface -> entity
         --(join back)--> entity-resolved mentions + alias triples

The reference resolves "which boxes are the same field" within one page via
its GCN labels; this lifts the same machinery to "which surfaces are the
same real-world entity" across the whole corpus — the north star's
cross-conversation alias resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.blocking import candidate_pairs_from_surfaces
from ..operators.connected_components import connected_components
from ..operators.gcn_scorer import accepted_edges, score_candidates


def link_entities(mentions: DataFrame, types: tuple[str, ...] = ("BRAND",)) -> DataFrame:
    """surface -> (entity_id, canonical_surface) for the given mention types.

    entity_id is the min xxhash64(surface) in the component; the canonical
    surface is the lexicographically smallest member (deterministic; true
    alias groups collapse to identical normalized forms so any stable
    representative is correct).
    """
    m = mentions.filter(F.col("mention_type").isin(*types))
    # materialize the distinct-surface table ONCE (r9): it is the root of
    # every downstream branch (blocking signatures, the CC edge build, the
    # final surface join), and those branches execute in SEPARATE jobs
    # (the CC loop's checkpoints are job boundaries), where ReusedExchange
    # cannot help — without the cut the detector + distinct lineage
    # re-executed per job (3x per EL entry).  The table is structurally
    # tiny: distinct surface FORMS, orders of magnitude smaller than the
    # mention stream (the module docstring's "the big dedup").
    surf = m.select("surface").distinct().localCheckpoint()
    pairs = candidate_pairs_from_surfaces(surf)
    edges = accepted_edges(score_candidates(pairs))

    id_of = F.xxhash64
    cc_in = edges.select(
        id_of("surface_a").alias("u"), id_of("surface_b").alias("v")
    )
    assign = connected_components(cc_in)  # node, component

    surfaces = surf.withColumn("sid", id_of("surface"))
    linked = surfaces.join(
        assign, surfaces.sid == assign.node, "left"
    ).select(
        "surface",
        F.coalesce("component", "sid").alias("entity_id"),
    )
    # canonical surface as a window min over entity_id (r9): the previous
    # groupBy + join back shuffled linked by entity_id TWICE (once for the
    # aggregate, once for the probe side of the join) for the same
    # co-location the single window exchange provides; per-entity data in
    # one task is bounded by the entity's variant count — the same bound
    # the join's probe side already implied.  Values identical (min is
    # deterministic).
    from pyspark.sql import Window

    return linked.select(
        "surface",
        "entity_id",
        F.min("surface")
        .over(Window.partitionBy("entity_id"))
        .alias("canonical_surface"),
    )


def alias_triples(entity_map: DataFrame) -> DataFrame:
    """(subj=canonical, pred='HAS_ALIAS', obj=variant) rows — the KG's
    entity-alias edges, one per non-canonical variant."""
    return (
        entity_map.filter(F.col("surface") != F.col("canonical_surface"))
        .select(
            F.col("canonical_surface").alias("subj"),
            F.lit("HAS_ALIAS").alias("pred"),
            F.col("surface").alias("obj"),
        )
    )


def canonical_triples(mentions: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Conversation triples with entity-linked surfaces rewritten to their
    canonical form — the KG output after alias resolution (north star:
    'resolve cross-conversation aliases ... materialize triple tables').

    Non-linked mention types keep their raw surfaces.
    """
    from ..operators.triples import materialize_triples

    resolved = entity_resolved_mentions(
        mentions, entity_map.select("surface", "canonical_surface")
    ).withColumn("surface", F.coalesce("canonical_surface", "surface"))
    return materialize_triples(resolved.drop("canonical_surface"))


def staged_el_outputs(
    spark, sf_dir: str, root: str
) -> dict[str, DataFrame]:
    """All three EL outputs from ONE materialized blocking→scorer→CC run.

    The self-contained registry queries (el_entity_map, el_alias_triples,
    kg_triples_canonical) each pay a cold blocking→scorer→CC recompute from
    the scan (18–21 exchanges each).  The production path (SCALE.md §2)
    materializes the mentions and entity_map snapshots ONCE via
    CheckpointedPipeline and derives all three outputs from the snapshots:
    two are trivial projections of entity_map, the third joins the two
    snapshots.  bench.py's el_pipeline_staged entry times this combined
    path against the three cold runs (r3 verdict item 4).

    Reference analog: staged model state reuse, scripts/train_kie.py:256-308.
    """
    done = staged_snapshots(spark, sf_dir, root)
    emap, mentions = done["entity_map"], done["mentions"]
    return {
        "el_entity_map": emap.select("surface", "canonical_surface"),
        "el_alias_triples": alias_triples(emap),
        "kg_triples_canonical": canonical_triples(
            mentions.drop("mention_id"), emap
        ),
    }


def staged_snapshots(
    spark, sf_dir: str, root: str, snapshot_transcripts: bool = True
) -> dict[str, DataFrame]:
    """mentions + entity_map (and optionally transcripts) snapshots from
    ONE CheckpointedPipeline run — the shared materialization every staged
    consumer (el_pipeline_staged, kg_canonical_pagerank_staged) derives
    its outputs from.  ``snapshot_transcripts=False`` skips persisting the
    turn-level table (the largest snapshot by far) for consumers whose
    resume point is the mention stream — the mentions snapshot alone
    replays everything downstream."""
    from ..operators.mention_detect import detect_mentions_arrow, with_mention_id
    from ..sources.checkpoints import CheckpointedPipeline, Stage
    from ..sources.transcripts import transcripts_from_documents

    def s_transcripts(sp, _up):
        return transcripts_from_documents(sp, sf_dir)

    def s_mentions(sp, up):
        t = up.get("transcripts")
        if t is None:
            t = transcripts_from_documents(sp, sf_dir)
        return with_mention_id(detect_mentions_arrow(t))

    def s_entity_map(sp, up):
        return link_entities(up["mentions"])

    stages = [Stage("transcripts", s_transcripts)] if snapshot_transcripts else []
    stages += [Stage("mentions", s_mentions), Stage("entity_map", s_entity_map)]
    return CheckpointedPipeline(spark, root, stages).run()


def entity_resolved_mentions(mentions: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Mentions with entity columns attached.  The entity map is
    distinct-surface-sized — orders of magnitude smaller than the mention
    stream but not guaranteed broadcast-small at 10^12 turns, so leave the
    strategy to AQE (it broadcasts when the map fits)."""
    return mentions.join(entity_map, "surface", "left")
