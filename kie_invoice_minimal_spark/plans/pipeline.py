"""End-to-end KG-construction plan — the flagship query.

The Spark restatement of the reference's single-process chain
(``scripts/inference_kie.py:183-246``: detect -> recognize -> label -> emit,
one document at a time).  On the Arrow engine the turns cross into Python
once: scan -> ``repartition(conv_id)`` -> partition-local sort on conv_id ->
one ``mapInArrow`` that re-cuts the stream into whole conversations, runs the
vectorized mention detector and ' '-joins each label's surfaces in-batch.
The shuffle carries turns, not mentions.  The native engine detects in JVM
column expressions and feeds ``triples.materialize_triples``.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame

from ..operators.mention_detect import _classify_batch, detect_mentions_native
from ..operators.triples import materialize_triples, triples_by_group


def _turn_mentions(turns: pa.RecordBatch) -> pa.RecordBatch:
    """Detector output keyed for the triple join (subj = conv_id,
    pred = mention_type)."""
    m = _classify_batch(turns)
    return pa.RecordBatch.from_arrays(
        [m.column(c) for c in ("conv_id", "mention_type", "turn_idx", "pos", "surface")],
        names=["subj", "pred", "turn_idx", "pos", "surface"],
    )


def extract_triples_df(transcripts: DataFrame, engine: str = "arrow") -> DataFrame:
    """Conversation-level triples ``(subj, pred, obj, conv_id)`` from raw
    transcripts.

    engine='arrow' detects and joins in one ``mapInArrow`` over turns
    shuffled by conversation (the north rule's required surface);
    engine='native' uses the pure-JVM detector and the mention-keyed
    ``materialize_triples``.  Both run the same Arrow join kernel and give
    identical output (tested).
    """
    if engine != "arrow":
        return materialize_triples(detect_mentions_native(transcripts))
    turns = transcripts.select("conv_id", "turn_idx", "text")
    return triples_by_group(turns, "conv_id", _turn_mentions)
