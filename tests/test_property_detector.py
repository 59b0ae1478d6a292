"""Property-based fuzzing: the vectorized detectors must agree with the
pure-Python oracle on arbitrary texts — including empty tokens (consecutive
spaces), label tokens at turn boundaries, and unicode."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from kie_invoice_minimal_spark.functions.rules import classify_token
from kie_invoice_minimal_spark.operators.mention_detect import _classify_batch
from kie_invoice_minimal_spark.oracle import detect_mentions

import pyarrow as pa

TOKEN_POOL = (
    [
        "NSX:", "nsx", "HSD:", "exp", "KL:", "weight",
        "1/2023", "2/12/2025", "13/2024", "500g", "2kg", "1.5l", "0oz",
        "VinaMilk", "vinamilk", "Nestlé", "Sữa-Tươi", "xin", "chao",
        "", " ", "g", "kg", "12/", "/2024", "1//2024", "NSX::",
        "500G", "2KG", "1.5L", "12abc", "1/2024x", "x1/2024", "١٢/2025",
    ]
)
TOKENS = st.sampled_from(TOKEN_POOL)
TEXTS = st.lists(TOKENS, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=8))
def test_batch_classifier_matches_oracle(texts):
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "text": texts,
        }
    )
    got = sorted(
        map(
            tuple,
            (
                r.values()
                for r in _classify_batch(batch)
                .select(["conv_id", "turn_idx", "pos", "span_start", "span_end", "surface", "mention_type"])
                .to_pylist()
            ),
        )
    )
    want = sorted(
        (m.conv_id, m.turn_idx, m.pos, m.span_start, m.span_end, m.surface, m.mention_type)
        for i, t in enumerate(texts)
        for m in detect_mentions(f"c{i}", i, t)
    )
    assert got == want


def test_value_patterns_are_digit_led():
    """The Arrow detector runs the date and weight regexes only on tokens
    whose first byte is an ASCII digit; that is sound only while both
    patterns start with ``^[0-9]``."""
    from kie_invoice_minimal_spark.functions import rules

    assert rules.DATE_RE_SQL.startswith("^[0-9]")
    assert rules.WEIGHT_RE_SQL.startswith("^[0-9]")


@settings(max_examples=200, deadline=None)
@given(TOKENS, st.one_of(st.none(), TOKENS))
def test_classify_token_total(tok, prev):
    """classify_token never raises and returns a known label."""
    from kie_invoice_minimal_spark.functions.rules import NODE_LABELS

    assert classify_token(tok, prev) in NODE_LABELS


@settings(max_examples=60, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=8))
def test_merge_mentions_properties(texts):
    """Fuzz the span-merge spec: merged runs are consecutive-pos same-type,
    surfaces re-split to the original token mentions, and spans nest within
    the originals' [min_start, max_end)."""
    from kie_invoice_minimal_spark.oracle import merge_mentions

    flat = [
        m
        for i, t in enumerate(texts)
        for m in detect_mentions(f"c{i}", i, t)
    ]
    merged = merge_mentions(flat)
    # splitting merged surfaces recovers the flat surface sequence per key
    flat_by_key: dict = {}
    for m in flat:
        flat_by_key.setdefault((m.conv_id, m.turn_idx, m.mention_type), []).append(m)
    rec_by_key: dict = {}
    for m in merged:
        rec_by_key.setdefault((m.conv_id, m.turn_idx, m.mention_type), []).append(m)
    assert set(flat_by_key) == set(rec_by_key)
    for key, ms in flat_by_key.items():
        ms.sort(key=lambda m: m.pos)
        rec = sorted(rec_by_key[key], key=lambda m: m.pos)
        # token surfaces in pos order are preserved through the merge
        assert [s for r in rec for s in r.surface.split(" ")] == [m.surface for m in ms]
        # merged spans cover their run exactly
        pos_of = {m.pos: m for m in ms}
        for r in rec:
            n = len(r.surface.split(" "))
            run = [pos_of[r.pos + j] for j in range(n)]  # consecutive positions exist
            assert r.span_start == run[0].span_start
            assert r.span_end == run[-1].span_end
