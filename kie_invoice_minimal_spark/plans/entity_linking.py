"""Entity linking & canonicalization plan — SURVEY.md Stage 3+4.

mentions --(distinct surfaces)--> surface table
         --(blocking: MinHash bands)--> candidate pairs
         --(GCN scorer, whole blocks per batch)--> accepted match edges
         --(connected components)--> surface -> entity
         --(canonical minimum)--> entity map

The reference resolves "which boxes are the same field" within one page via
its GCN labels; this lifts the same machinery to "which surfaces are the
same real-world entity" across the whole corpus — the north star's
cross-conversation alias resolution.

Two paths, chosen by the distinct-surface count of the one job that
materializes the surface table (``session.checkpoint_or_fetch``, the gate
connected components uses too):

- **driver** (``n <= SMALL_SURFACES``): the surface table is read once with
  ``toArrow()``; blocking (``blocking.local_candidate_pairs``), scoring
  (``gcn_scorer.score_pairs``), components (``components_of``) and the
  canonical minimum run in numpy, and the map returns as one
  single-partition frame.  The whole call is that one job (plus AQE's
  stage job and the read: 3 jobs on the test brand fixture, where the
  Spark path runs 10); at the sizes the pipelines link, the chain is
  bound by job count, not data.
- **Spark** (above the gate): the same kernels over the checkpoint —
  ``blocking.candidate_pairs_from_surfaces`` (band keys per Arrow batch,
  the capped band self-join on scalar columns), ``score_candidates``
  (``mapInArrow`` over whole blocks, the pair features computed from the
  batch's normal forms), distributed connected components, a window
  minimum.

Both paths run one blocking kernel (``blocking.band_keys``,
``blocking.pair_features``) and give the same map (tested on every
fixture).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.blocking import candidate_pairs_from_surfaces, local_candidate_pairs
from ..operators.connected_components import components_of, connected_components
from ..operators.gcn_scorer import (
    SCORE_THS,
    accepted_edges,
    node_features,
    score_candidates,
    score_pairs,
)
from ..session import checkpoint_or_fetch

# distinct surfaces up to which linking runs on the driver, set by driver
# memory as connected components' gate is (1 GiB, Spark's default
# spark.driver.maxResultSize).  Worst case, every surface sits in 8 full
# blocks of MAX_BLOCK_SIZE = 50, so it pairs with 8 * 49 others and owns
# 8 * 49 / 2 = 196 pairs: 2^14 surfaces make 3.2M pairs, and a measured
# driver peak RSS of 569 MB (113 MB idle + ~145 B per pair); at 2^15 the
# same case peaked at 1031 MB, over the budget.
SMALL_SURFACES = 1 << 14

def local_entity_map(t: pa.Table) -> pa.Table:
    """The entity map of a (surface, sid) table of distinct surfaces, in
    numpy: the driver path of :func:`link_entities`."""
    valid = pc.is_valid(t.column("surface")).to_numpy(zero_copy_only=False)
    names = t.column("surface").filter(valid).to_pylist()
    sid = t.column("sid").to_numpy()
    ids = sid[valid]
    p = local_candidate_pairs(names)
    score = score_pairs(p.block_key, p.norm_a, p.norm_b, node_features(p.norms), *p.features)
    ok = score >= SCORE_THS
    nodes, comp = components_of(ids[p.a[ok]], ids[p.b[ok]])
    # entity_id: the component of the surface's id, else the id itself
    entity = ids.copy()
    if len(nodes):
        at = np.minimum(np.searchsorted(nodes, ids), len(nodes) - 1)
        hit = nodes[at] == ids
        entity[hit] = comp[at[hit]]
    # canonical surface: the smallest member of each entity
    by_rank = np.array(sorted(range(len(names)), key=names.__getitem__), np.int64)
    rank = np.empty_like(by_rank)
    rank[by_rank] = np.arange(len(names))
    ent, ent_of = np.unique(entity, return_inverse=True)
    first = np.full(len(ent), len(names))
    np.minimum.at(first, ent_of, rank)
    canonical = [names[i] for i in by_rank[first[ent_of]]]
    # a null surface keeps its row: (None, xxhash64(null) = 42, None)
    n_null = len(valid) - len(names)
    return pa.table(
        {
            "surface": pa.array(names + [None] * n_null, pa.string()),
            "entity_id": pa.array(np.r_[entity, sid[~valid]], pa.int64()),
            "canonical_surface": pa.array(canonical + [None] * n_null, pa.string()),
        }
    )


def link_entities(mentions: DataFrame, types: tuple[str, ...] = ("BRAND",)) -> DataFrame:
    """surface -> (entity_id, canonical_surface) for the given mention types.

    entity_id is the min xxhash64(surface) in the component; the canonical
    surface is the lexicographically smallest member (deterministic; true
    alias groups collapse to identical normalized forms so any stable
    representative is correct).
    """
    m = mentions.filter(F.col("mention_type").isin(*types))
    # the distinct-surface table is the root of every later step and tiny
    # next to the mention stream: materialize it once, with its ids
    surf, _n, local = checkpoint_or_fetch(
        m.select("surface").distinct().withColumn("sid", F.xxhash64("surface")),
        SMALL_SURFACES,
    )
    if local is not None:
        # one partition, so a snapshot of the map stays one file
        return mentions.sparkSession.createDataFrame(
            local_entity_map(local),
            "surface string, entity_id long, canonical_surface string",
        ).coalesce(1)
    pairs = candidate_pairs_from_surfaces(surf.select("surface"))
    edges = accepted_edges(score_candidates(pairs))
    assign = connected_components(  # node, component
        edges.select(
            F.xxhash64("surface_a").alias("u"), F.xxhash64("surface_b").alias("v")
        )
    )
    linked = surf.join(assign, surf.sid == assign.node, "left").select(
        "surface",
        F.coalesce("component", "sid").alias("entity_id"),
    )
    # canonical surface as a window min over entity_id: one exchange gives
    # the co-location a groupBy + join back would shuffle for twice
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
    return entity_map.filter("surface != canonical_surface").selectExpr(
        "canonical_surface AS subj", "'HAS_ALIAS' AS pred", "surface AS obj"
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

    Each cold registry query (el_entity_map, el_alias_triples,
    kg_triples_canonical) recomputes blocking→scorer→CC from the scan.
    This path snapshots transcripts, mentions and entity_map once under
    ``root`` (sources/checkpoints.kg_pipeline) and derives all three
    outputs from the snapshots: two are projections of entity_map, the
    third joins the two snapshots.  A rerun on a completed root resumes.

    Reference analog: staged model state reuse, scripts/train_kie.py:256-308.
    """
    from ..sources.checkpoints import kg_pipeline
    from ..sources.transcripts import transcripts_from_documents

    done = kg_pipeline(
        spark,
        root,
        lambda sp: transcripts_from_documents(sp, sf_dir),
        ("transcripts", "mentions", "entity_map"),
    ).run()
    emap, mentions = done["entity_map"], done["mentions"]
    return {
        "el_entity_map": emap.select("surface", "canonical_surface"),
        "el_alias_triples": alias_triples(emap),
        "kg_triples_canonical": canonical_triples(
            mentions.drop("mention_id"), emap
        ),
    }


def entity_resolved_mentions(mentions: DataFrame, entity_map: DataFrame) -> DataFrame:
    """Mentions with entity columns attached.  The entity map is
    distinct-surface-sized — orders of magnitude smaller than the mention
    stream but not guaranteed broadcast-small at 10^12 turns, so leave the
    strategy to AQE (it broadcasts when the map fits)."""
    return mentions.join(entity_map, "surface", "left")
