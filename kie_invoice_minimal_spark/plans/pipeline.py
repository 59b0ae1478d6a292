"""End-to-end KG-construction plan — the flagship query.

transcripts -> (mapInArrow: vectorized mention detection + span typing)
-> (repartition on (subj, pred), partition-local sort, mapInArrow run join:
triple materialization), the Spark restatement of the reference's
single-process chain (``scripts/inference_kie.py:183-246``).  One
declarative lineage; Catalyst plans it (scan -> narrow maps -> one hash
exchange -> sort -> narrow map).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.mention_detect import detect_mentions_arrow, detect_mentions_native
from ..operators.triples import materialize_triples


def extract_triples_df(transcripts: DataFrame, engine: str = "arrow") -> DataFrame:
    """Conversation-level triples from raw transcripts.

    engine='arrow' uses the Arrow detector (the north rule's required
    surface); engine='native' uses the pure-JVM detector (identical
    output, tested).  Both feed the same Arrow triple join.
    """
    detect = detect_mentions_arrow if engine == "arrow" else detect_mentions_native
    mentions = detect(transcripts)
    return materialize_triples(mentions)
