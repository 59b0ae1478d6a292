"""Custom stateful streaming operator — applyInPandasWithState.

The reference's server keeps no cross-request state; the engine's streaming
mode adds the operator a transcript feed actually needs: **per-conversation
running extraction state** — as turns arrive (possibly across triggers),
maintain each conversation's running mention counts and last-seen turn, and
emit an updated summary row per conversation per trigger.

This is the ``applyInPandasWithState`` pattern: grouped by conv_id, state =
(n_turns_seen, n_mentions, max_turn_idx), batch-vectorized update (the
detector's token classifier runs on the whole group batch), timeout-free.

Scale notes: state size is O(active conversations) and each value is three
ints; group key = conv_id so the shuffle matches the batch pipeline's
partitioning.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.arrow_groups import worker_setup
from ..operators.mention_detect import classify_tokens

STATE_SCHEMA = "n_turns bigint, n_mentions bigint, max_turn bigint"
OUTPUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_mentions bigint, max_turn bigint"
)


def _update(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    worker_setup()
    n_turns, n_mentions, max_turn = (
        state.get if state.exists else (0, 0, -1)
    )
    for pdf in pdfs:
        n_turns += len(pdf)
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
            text = pa.Array.from_pandas(pdf["text"], type=pa.string())
            n_mentions += int(np.count_nonzero(classify_tokens(text).code))
    state.update((n_turns, n_mentions, max_turn))
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "n_turns": [n_turns],
            "n_mentions": [n_mentions],
            "max_turn": [max_turn],
        }
    )


def conversation_state_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming per-conversation running summaries (update mode)."""
    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_state_stream_to_memory(spark, input_dir: str, checkpoint_dir: str, name: str = "conv_state"):
    from .stream_pipeline import read_transcript_stream

    q = conversation_state_stream(read_transcript_stream(spark, input_dir))
    return (
        q.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
