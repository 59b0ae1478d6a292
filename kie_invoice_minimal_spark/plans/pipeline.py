"""End-to-end KG-construction plan — the flagship query.

The Spark restatement of the reference's single-process chain
(``scripts/inference_kie.py:183-246``: detect -> recognize -> label -> emit,
one document at a time).  On the Arrow engine the turns cross into Python
once: scan -> ``repartition(conv_id)`` -> partition-local sort on conv_id ->
one ``mapInArrow`` that re-cuts the stream into whole conversations,
labels every token (``mention_detect.classify_tokens``) and ' '-joins each
label's surfaces in-batch (``triples._join_sorted``) on integer keys; no
mentions table, span or per-mention string column is built.  The shuffle
carries turns, not mentions.  The native engine detects in JVM column
expressions and feeds ``triples.materialize_triples``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..operators.mention_detect import LABELS, classify_tokens, detect_mentions_native
from ..operators.triples import _join_sorted, int_keys, materialize_triples, triples_by_group


def _turn_triples(turns: pa.RecordBatch) -> pa.RecordBatch | None:
    """The triples of a batch of turns ``(conv_id, turn_idx, text)``
    holding whole conversations, clustered: every non-OTHER token keyed by
    (conversation run, label code, turn_idx, pos) straight from
    :func:`classify_tokens`, then :func:`_join_sorted`."""
    tok = classify_tokens(turns.column("text"))
    keep = np.flatnonzero(tok.code)
    if not len(keep):
        return None
    row = tok.text_of(keep)
    return _join_sorted(
        turns.column("conv_id"),
        row,
        tok.code[keep],
        LABELS,
        [*(k[row] for k in int_keys(turns.column("turn_idx"))), keep - tok.starts[row]],
        tok.values,
        tok.index[keep],
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
    return triples_by_group(turns, "conv_id", _turn_triples)
