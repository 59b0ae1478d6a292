"""L=3 vs L=5 depth parity for the GCN scorer (r2 verdict item 8).

The reference stacks 4-5 GatedGCN layers (kie_utils.py:27, train.py:139);
the engine uses N_LAYERS=3.  Weights here are synthetic, so parity is
semantic: what matters is that the ACCEPTED EDGE SET — the only thing
downstream canonicalization consumes — is depth-invariant on the real
fixture candidate blocks.  This test runs the actual blocking output
through the batched scorer kernel at both depths (all blocks in one
call, compared block by block) and pins that invariance,
plus a score-drift ceiling so a future weight change that makes depth
matter fails loudly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.blocking import candidate_pairs_from_surfaces
from kie_invoice_minimal_spark.operators.gcn_scorer import _score_batch
from kie_invoice_minimal_spark.operators.mention_detect import detect_mentions_arrow
from kie_invoice_minimal_spark.sources.transcripts import transcripts_from_documents

SF_DIR = "/root/testdata/sf0.01"


def test_accepted_edges_depth_invariant_l3_vs_l5(spark):
    m = detect_mentions_arrow(transcripts_from_documents(spark, SF_DIR))
    brand = m.filter(F.col("mention_type") == "BRAND")
    pairs = candidate_pairs_from_surfaces(brand.select("surface").distinct()).toArrow()
    assert pairs.num_rows > 0
    batch = pairs.combine_chunks().to_batches()[0]
    s3, s5 = (
        pa.Table.from_batches([_score_batch(batch, n_layers=n)]).to_pandas()
        for n in (3, 5)
    )
    s3["block_key"] = s5["block_key"] = batch.column("block_key").to_numpy()
    max_drift = 0.0
    for (_key, b3), (_, b5) in zip(s3.groupby("block_key"), s5.groupby("block_key")):
        acc3 = set(map(tuple, b3[b3.is_match][["surface_a", "surface_b"]].to_numpy()))
        acc5 = set(map(tuple, b5[b5.is_match][["surface_a", "surface_b"]].to_numpy()))
        assert acc3 == acc5, f"depth changed accepted edges in block {_key}"
        max_drift = max(
            max_drift, float(np.abs(b3.score.to_numpy() - b5.score.to_numpy()).max())
        )
    # measured 2026-08: max |Δscore| over all fixture blocks ≈ 0.004
    assert max_drift < 0.02, f"depth drift grew: {max_drift:.4f}"
