"""The flagship batch kernel (``plans/pipeline._turn_triples``) and the
token classifier it shares with ``_classify_batch`` and the mention join,
checked against the pure-Python oracle: random corpora over the detector
property test's token pool, and degenerate batches (no content, one
distinct token, all tokens distinct, a single token)."""

from __future__ import annotations

import random
from collections import defaultdict

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from kie_invoice_minimal_spark.functions.rules import EMITTED_LABELS
from kie_invoice_minimal_spark.operators.arrow_groups import grouped_batches
from kie_invoice_minimal_spark.operators.mention_detect import (
    MENTION_SCHEMA,
    _classify_batch,
)
from kie_invoice_minimal_spark.operators.triples import (
    _mention_triples,
    materialize_triples,
)
from kie_invoice_minimal_spark.oracle import detect_mentions, extract_triples
from kie_invoice_minimal_spark.plans.pipeline import _turn_triples, extract_triples_df

from test_property_detector import TOKEN_POOL, TOKENS

TURNS = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())])
MENTION_COLS = ("subj", "pred", "turn_idx", "pos", "surface")


def _want(turns) -> list[tuple]:
    """Oracle triples in the kernel's output order, total over what the
    oracle leaves open: a null text has no tokens, a null turn_idx sorts
    first, and mentions equal on (turn_idx, pos) — duplicate (conv_id,
    turn_idx) rows — join in surface order."""
    by_conv = defaultdict(list)
    for conv, turn, text in turns:
        for m in detect_mentions(conv, turn, text or ""):
            by_conv[conv].append(m)
    out = []
    for conv in sorted(by_conv):
        ms = sorted(
            by_conv[conv],
            key=lambda m: (m.turn_idx is not None, m.turn_idx or 0, m.pos, m.surface),
        )
        for label in sorted(EMITTED_LABELS):
            surfaces = [m.surface for m in ms if m.mention_type == label]
            if surfaces:
                out.append((conv, label, " ".join(surfaces), conv))
    return out


def _turn_batches(turns, rows_per_batch: int) -> list[pa.RecordBatch]:
    """The turns as the flagship's map receives them: sorted on conv_id
    (stable) and cut into ``rows_per_batch``-row Arrow batches
    (``spark.sql.execution.arrow.maxRecordsPerBatch``)."""
    rows = sorted(turns, key=lambda t: t[0])
    table = pa.Table.from_pylist([dict(zip(TURNS.names, r)) for r in rows], TURNS)
    return table.to_batches(max_chunksize=rows_per_batch)


def _flagship(turns, rows_per_batch: int) -> list[tuple]:
    out = grouped_batches(iter(_turn_batches(turns, rows_per_batch)), "conv_id", _turn_triples)
    return [tuple(r.values()) for b in out for r in b.to_pylist()]


def _keyed(m: pa.RecordBatch) -> pa.RecordBatch:
    cols = ("conv_id", "mention_type", "turn_idx", "pos", "surface")
    return pa.RecordBatch.from_arrays([m.column(c) for c in cols], names=list(MENTION_COLS))


def _mention_join(turns) -> list[tuple]:
    """Classify, then join the mentions with the kernel behind
    ``materialize_triples``."""
    batches = _turn_batches(turns, max(len(turns), 1))
    out = grouped_batches(
        iter(batches), "conv_id", lambda b: _mention_triples(_keyed(_classify_batch(b)))
    )
    return [tuple(r.values()) for b in out for r in b.to_pylist()]


TURN = st.tuples(
    st.sampled_from(["c0", "c1", "c2"]),
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.lists(TOKENS, max_size=8).map(" ".join)),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(TURN, max_size=24), st.integers(1, 5))
def test_flagship_kernel_matches_oracle(turns, rows_per_batch):
    """Three conversations over at most 24 turns, so most examples repeat
    a (conv_id, turn_idx) row, hold null turn indices and null texts, and
    cut a conversation across several Arrow batches.  Where the oracle's
    order is total (no null turn_idx, no repeated row) its own
    ``extract_triples`` must agree too."""
    want = _want(turns)
    assert _flagship(turns, rows_per_batch) == want
    assert _mention_join(turns) == want
    keys = [(c, t) for c, t, _ in turns]
    if None not in (t for _, t in keys) and len(set(keys)) == len(keys):
        assert sorted(want) == sorted(extract_triples([(c, t, x or "") for c, t, x in turns]))


def test_flagship_plan_over_three_row_batches(spark):
    """The same contract through Spark: a seeded corpus whose conversations
    span many three-row Arrow batches, with repeated (conv_id, turn_idx)
    rows, null turn indices and null texts."""
    rng = random.Random(5)
    turns = [
        (
            f"c{rng.randrange(4)}",
            rng.choice([None, 0, 1, 2, 3, 4]),
            None if rng.random() < 0.1 else " ".join(rng.choice(TOKEN_POOL) for _ in range(rng.randrange(9))),
        )
        for _ in range(80)
    ]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        t = spark.createDataFrame(turns, "conv_id string, turn_idx int, text string")
        got = sorted(map(tuple, extract_triples_df(t).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == _want(turns)


DISTINCT = (
    "NSX: 1/2023 HSD: 2/12/2025 KL: 500g Masan Mì-Gói w0 w1 exp 13/2024 "
    "VinaMilk 2kg weight 7/2030 Nestlé"
)
DEGENERATE = {
    "null texts": [("c0", 0, None), ("c0", 1, None), ("c1", 0, None)],
    "empty texts": [("c0", 0, ""), ("c0", 1, ""), ("c1", 0, "")],
    "spaces only": [("c0", 0, " "), ("c0", 1, "   "), ("c1", 0, None), ("c1", 1, "")],
    "all tokens distinct": [("c0", 0, DISTINCT), ("c1", 0, "Vissan 3/2024 NSX 0oz")],
    "one token": [("c0", 0, "Masan")],
    "one date token": [("c0", 0, "1/2023")],
}


@pytest.mark.parametrize("name", DEGENERATE)
def test_degenerate_batches_match_oracle(name):
    """Batches whose tokens dictionary-encode to ``[""]``, to one value, or
    to as many values as tokens: the classifier reads first bytes from the
    dictionary's data buffer, which must hold for each."""
    turns = DEGENERATE[name]
    batch = _turn_batches(turns, len(turns))[0]
    got = [tuple(r.values()) for r in _classify_batch(batch).to_pylist()]
    want = [
        (m.conv_id, m.turn_idx, m.pos, m.span_start, m.span_end, m.surface, m.mention_type)
        for c, t, x in sorted(turns, key=lambda r: r[0])
        for m in detect_mentions(c, t, x or "")
    ]
    assert got == want
    assert _flagship(turns, len(turns)) == _want(turns)
    assert _mention_join(turns) == _want(turns)


def test_degenerate_mentions_through_materialize_triples(spark):
    """``materialize_triples`` over the detector's output for every
    degenerate batch at once (one conversation per case)."""
    turns = [
        (f"{name}/{c}", t, x) for name, rows in DEGENERATE.items() for c, t, x in rows
    ]
    batch = _turn_batches(turns, len(turns))[0]
    m = spark.createDataFrame(_classify_batch(batch).to_pylist(), MENTION_SCHEMA)
    got = sorted(map(tuple, materialize_triples(m).collect()))
    assert got == _want(turns)
