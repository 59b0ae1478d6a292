"""Batched mention detection + span typing — SURVEY.md §2.3/§2.4 (D1–D7, R1–R4).

The reference detects boxes with a batched CNN (``text_detector.py:77-132``),
reads them with batched seq2seq OCR (``backend_utils.py:190-211``, batch flag
``configs.py:61``), and remaps labels with keyword rules
(``train_kie.py:73-95``).  Here the "detector + recognizer + labeler" is one
vectorized pass over turn text: tokenize, compute char spans, classify each
token with the deterministic rule set in :mod:`..functions.rules`.

Two interchangeable implementations, tested for equality:

- :func:`detect_mentions_arrow` — ``arrow_groups.map_batches`` over
  :func:`_classify_batch`: pyarrow compute kernels and numpy over whole
  record batches, zero per-row Python and no pandas conversion (the north
  rule's required surface).  Its labels come from :func:`classify_tokens`,
  the one token classifier, which the Arrow flagship
  (``plans/pipeline.extract_triples_df``) and the streaming state update
  call directly.  It dictionary-encodes the tokens and runs every rule that
  reads a token alone once per distinct token: one ``index_in`` against the
  label tokens, one against the gazetteers, and the date and weight regexes
  only on the distinct tokens that start with an ASCII digit, the only ones
  either pattern can match (skipping work whose answer is already known, as
  in *Exploiting Code Generation for Efficient LIKE Pattern Matching*,
  VLDB 2023).  Per token it costs one hash probe and one gather, plus the
  previous-token rule for dates.  The model-scoring analog slot: any
  learned detector (a real NER model) would drop into this same function.
- :func:`detect_mentions_native` — pure JVM column expressions
  (posexplode + higher-order functions), whole-stage-codegen friendly; the
  fastest path when the rule set is expressible in SQL.

Both output the ``mentions`` table (FIXTURES.md §2):
  conv_id, turn_idx, pos, span_start, span_end, surface, mention_type
with OTHER tokens dropped (reference skips class OTHER at emission,
``kie_utils.py:314-340``).

Scale notes: both are narrow maps — no shuffle; output size ~= planted
mention density * corpus size.  Arrow batch size bounds UDF memory.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import rules
from .arrow_groups import map_batches

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("span_start", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("mention_type", T.StringType()),
    ]
)

MENTION_SCHEMA_DDL = (
    "conv_id string, turn_idx int, pos int, span_start int, span_end int, "
    "surface string, mention_type string"
)


# Label codes index LABELS: 0 = OTHER, then the emitted labels in string
# order, so sorting on the code sorts on the label string.
LABELS = pa.array([rules.OTHER, *sorted(rules.EMITTED_LABELS)])
_CODE = {label: i for i, label in enumerate(LABELS.to_pylist())}
_DATE = len(_CODE)  # a date whose code depends on the previous token

# Label tokens (lowercased) and gazetteer entries, each probed with one
# ``index_in``; the match index maps to a label code (index -1, no match,
# reads the trailing 0).
_LABEL_TOKENS = pa.array(
    rules.MFG_LABEL_TOKENS + rules.EXP_LABEL_TOKENS + rules.WEIGHT_LABEL_TOKENS
)
_LABEL_CODE = np.array(
    [_CODE["MFG_LABEL"]] * len(rules.MFG_LABEL_TOKENS)
    + [_CODE["EXP_LABEL"]] * len(rules.EXP_LABEL_TOKENS)
    + [_CODE["WEIGHT_LABEL"]] * len(rules.WEIGHT_LABEL_TOKENS)
    + [0]
)
_GAZETTEER = pa.array(sorted(rules.BRAND_GAZETTEER) + sorted(rules.NAME_GAZETTEER))
_GAZETTEER_CODE = np.array(
    [_CODE["BRAND"]] * len(rules.BRAND_GAZETTEER)
    + [_CODE["NAME"]] * len(rules.NAME_GAZETTEER)
    + [0]
)
# a date's code by the previous token's code: after MFG_LABEL -> MFG,
# after EXP_LABEL -> EXP, otherwise OTHER
_DATE_AFTER = np.zeros(_DATE + 1, dtype=np.int8)
_DATE_AFTER[_CODE["MFG_LABEL"]] = _CODE["MFG"]
_DATE_AFTER[_CODE["EXP_LABEL"]] = _CODE["EXP"]
# RE2 patterns (pyarrow match_substring_regex); identical text to the
# Python/SQL forms in rules.py.  Both start with ``^[0-9]``, so they run
# only on tokens whose first byte is an ASCII digit.
_DATE_PAT = rules.DATE_RE_SQL
_WEIGHT_PAT = rules.WEIGHT_RE_SQL


def _match_code(tokens: pa.Array, value_set: pa.Array, codes: np.ndarray) -> np.ndarray:
    """``codes[i]`` where a token equals ``value_set[i]``, else ``codes[-1]``."""
    idx = pc.fill_null(pc.index_in(tokens, value_set=value_set), -1)
    return codes[idx.to_numpy()]


def _digit_led(tokens: pa.StringArray) -> np.ndarray:
    """Indices of the tokens whose first byte is an ASCII digit, read from
    the offsets and data buffers of a string array made by a compute kernel
    (which always allocates the data buffer, empty or not)."""
    _, offsets, data = tokens.buffers()
    off = np.frombuffer(offsets, np.int32, len(tokens) + 1, tokens.offset * 4)
    nonempty = np.flatnonzero(off[1:] > off[:-1])
    first = np.frombuffer(data, np.uint8)[off[nonempty]]
    return nonempty[(first >= ord("0")) & (first <= ord("9"))]


def _regex_hits(tokens: pa.Array, at: np.ndarray, pattern: str) -> np.ndarray:
    """``match_substring_regex(tokens, pattern)`` evaluated only at ``at``
    and scattered back over all tokens (False elsewhere)."""
    hit = np.zeros(len(tokens), dtype=bool)
    hit[at] = pc.match_substring_regex(pc.take(tokens, at), pattern).to_numpy(
        zero_copy_only=False
    )
    return hit


def _value_codes(values: pa.StringArray) -> np.ndarray:
    """Each token's code by the rules that read the token alone, in
    priority order (label token, date, weight, gazetteer); ``_DATE`` marks
    a date, whose code the previous token decides."""
    low = pc.utf8_lower(values)
    label = _match_code(low, _LABEL_TOKENS, _LABEL_CODE)
    digit_led = _digit_led(values)
    return np.where(
        label > 0,
        label,
        np.where(
            _regex_hits(values, digit_led, _DATE_PAT),
            _DATE,
            np.where(
                _regex_hits(low, digit_led, _WEIGHT_PAT),
                _CODE["WEIGHT"],
                _match_code(values, _GAZETTEER, _GAZETTEER_CODE),
            ),
        ),
    ).astype(np.int8)


class Tokens(NamedTuple):
    """The tokens of a column of texts, in text order.  Token ``i`` is
    ``values[index[i]]``, text ``r``'s tokens start at ``starts[r]``
    (``counts[r]`` of them, at least one: an empty or null text is one
    empty token) and ``code[i]`` indexes :data:`LABELS` (0 = OTHER)."""

    values: pa.StringArray
    index: np.ndarray
    starts: np.ndarray
    counts: np.ndarray
    code: np.ndarray

    def text_of(self, tokens: np.ndarray) -> np.ndarray:
        """The text each of the token indices ``tokens`` belongs to."""
        return np.searchsorted(self.starts, tokens, side="right") - 1


def classify_tokens(texts: pa.Array) -> Tokens:
    """Split texts on single spaces and label every token by the rules of
    :mod:`..functions.rules`.  Lowering, both ``index_in`` probes and the
    regexes run once per distinct token (``dictionary_encode``); only the
    gather back and the previous-token date rule run per token."""
    # null text = no content (never the string 'None')
    sp = pc.split_pattern(pc.fill_null(texts.cast(pa.string()), ""), " ")
    counts = pc.list_value_length(sp).to_numpy().astype(np.int64)
    starts = np.cumsum(counts) - counts
    encoded = pc.dictionary_encode(pc.list_flatten(sp))
    index = encoded.indices.to_numpy()
    code = _value_codes(encoded.dictionary)[index]
    date = np.flatnonzero(code == _DATE)
    tok = Tokens(encoded.dictionary, index, starts, counts, code)
    if len(date):
        first = starts[tok.text_of(date)] == date
        code[date] = np.where(first, 0, _DATE_AFTER[code[date - 1]])
    return tok


def _classify_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Batch of turns ``(conv_id, turn_idx, text)`` -> the ``mentions``
    columns, OTHER tokens dropped: :func:`classify_tokens`, then char
    spans from the within-turn running sum of token lengths."""
    tok = classify_tokens(batch.column("text"))
    tok_len = pc.utf8_length(tok.values).to_numpy().astype(np.int64)[tok.index]
    # char spans: within-turn cumsum of (len+1) = global cumsum - segment base
    step = tok_len + 1
    c = np.cumsum(step)
    span_start = c - np.repeat(c[tok.starts] - step[tok.starts], tok.counts) - step

    keep = np.flatnonzero(tok.code)
    row = tok.text_of(keep)
    return pa.RecordBatch.from_arrays(
        [
            pc.take(batch.column("conv_id"), row),
            pc.take(batch.column("turn_idx"), row).cast(pa.int32()),
            pa.array(keep - tok.starts[row], pa.int32()),
            pa.array(span_start[keep], pa.int32()),
            pa.array((span_start + tok_len)[keep], pa.int32()),
            pc.take(tok.values, tok.index[keep]),
            pc.take(LABELS, tok.code[keep]),
        ],
        names=MENTION_SCHEMA.fieldNames(),
    )


def detect_mentions_arrow(transcripts: DataFrame) -> DataFrame:
    """Mention detection as a ``mapInArrow`` over Arrow record batches."""

    return map_batches(
        transcripts.select("conv_id", "turn_idx", "text"), _classify_batch, MENTION_SCHEMA_DDL
    )


def detect_mentions_native(
    transcripts: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Same semantics in pure JVM column expressions (no Python at all).

    posexplode(split(text)) gives (pos, token); the previous token comes
    from array indexing (no window/shuffle); char offsets via an
    O(tokens) aggregate accumulator per turn.  ``carry`` names extra input
    columns passed through unchanged (e.g. ``ts`` for streaming watermarks —
    keeping them in-plan avoids a stream-stream self-join).
    """
    mfg_l = ",".join(f"'{t}'" for t in rules.MFG_LABEL_TOKENS)
    exp_l = ",".join(f"'{t}'" for t in rules.EXP_LABEL_TOKENS)
    wt_l = ",".join(f"'{t}'" for t in rules.WEIGHT_LABEL_TOKENS)
    brands = ",".join(f"'{t}'" for t in sorted(rules.BRAND_GAZETTEER))
    names = ",".join(f"'{t}'" for t in sorted(rules.NAME_GAZETTEER))

    carry_cols = list(carry)
    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        *carry_cols,
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks"),
    ).select(
        "conv_id",
        "turn_idx",
        *carry_cols,
        # running char offsets: starts[i] = i + sum(len(toks[j]) for j<i)
        F.expr(
            """
            aggregate(
              toks,
              struct(cast(0 as int) as off, cast(array() as array<int>) as starts),
              (acc, x) -> struct(
                acc.off + length(x) + 1,
                array_append(acc.starts, acc.off)),
              acc -> acc.starts
            )
            """
        ).alias("starts"),
        "toks",
    ).select(
        "conv_id",
        "turn_idx",
        *carry_cols,
        F.posexplode(
            F.expr("zip_with(toks, starts, (t, s) -> struct(t as tok, s as start))")
        ).alias("pos", "z"),
        F.col("toks"),
    ).select(
        "conv_id",
        "turn_idx",
        *carry_cols,
        F.col("pos").cast("int").alias("pos"),
        F.col("z.start").alias("span_start"),
        (F.col("z.start") + F.length("z.tok")).cast("int").alias("span_end"),
        F.col("z.tok").alias("surface"),
        F.expr("if(pos > 0, lower(element_at(toks, pos)), '')").alias("prev_low"),
    )

    classified = toks.withColumn(
        "mention_type",
        F.expr(
            f"""
            CASE
              WHEN lower(surface) IN ({mfg_l}) THEN 'MFG_LABEL'
              WHEN lower(surface) IN ({exp_l}) THEN 'EXP_LABEL'
              WHEN lower(surface) IN ({wt_l}) THEN 'WEIGHT_LABEL'
              WHEN surface RLIKE '{rules.DATE_RE_SQL}' THEN
                CASE WHEN prev_low IN ({mfg_l}) THEN 'MFG'
                     WHEN prev_low IN ({exp_l}) THEN 'EXP'
                     ELSE 'OTHER' END
              WHEN lower(surface) RLIKE '{rules.WEIGHT_RE_SQL}' THEN 'WEIGHT'
              WHEN surface IN ({brands}) THEN 'BRAND'
              WHEN surface IN ({names}) THEN 'NAME'
              ELSE 'OTHER'
            END
            """
        ),
    )
    return classified.filter(F.col("mention_type") != rules.OTHER).select(
        "conv_id",
        "turn_idx",
        *carry_cols,
        "pos",
        F.col("span_start").cast("int").alias("span_start"),
        "span_end",
        "surface",
        "mention_type",
    )


def with_mention_id(mentions: DataFrame) -> DataFrame:
    """Stable 64-bit mention id from the natural key (JVM xxhash64) —
    the analog of the reference's box index, made global and join-stable
    (fixes the O(n^2) re-alignment of ``backend_utils.py:175-187``)."""
    return mentions.withColumn(
        "mention_id", F.xxhash64("conv_id", "turn_idx", "pos")
    )


def merge_adjacent_mentions(mentions: DataFrame) -> DataFrame:
    """Merge runs of ADJACENT same-type token mentions within a turn into one
    multi-token span — the reference's multi-box span merge
    (``backend/backend_utils.py:95-121`` ``create_merge_cells``: boxes on one
    line whose gaps are below a threshold become one cell), restated for
    pre-tokenized text where "adjacent" means consecutive token positions.

    Gaps-and-islands: island = pos - row_number() over (conv, turn, type
    ordered by pos) is constant exactly on consecutive-pos runs; one groupBy
    per island emits the merged span.  Merged surface = ' '-join in pos
    order, span = [min(span_start), max(span_end)) — single-space
    tokenization guarantees substring(text, span) == surface (tested).

    Scale: the window and groupBy both key on (conv_id, turn_idx, ...) — the
    same clustering the bucketed transcripts scan already provides, so on a
    bucket(conv_id) table this whole operator is exchange-free.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id", "turn_idx", "mention_type").orderBy("pos")
    isl = mentions.withColumn("island", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("conv_id", "turn_idx", "mention_type", "island")
        .agg(
            F.min("pos").cast("int").alias("pos"),
            F.min("span_start").cast("int").alias("span_start"),
            F.max("span_end").cast("int").alias("span_end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "surface"))),
                    lambda m: m["surface"],
                ),
                " ",
            ).alias("surface"),
            F.count("*").cast("int").alias("n_tokens"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "pos",
            "span_start",
            "span_end",
            "surface",
            "mention_type",
            "n_tokens",
        )
    )


def rescan_merged_surfaces(merged: DataFrame, transcripts: DataFrame) -> DataFrame:
    """RE-READ each merged span from the source turn text — the reference's
    merged-crop re-OCR (``backend/backend_utils.py:110-113``: after
    ``create_merge_cells`` the merged crop goes back through the recognizer,
    rather than concatenating the member-box texts).  Here "re-OCR" is
    re-extraction: surface = substring(text, span_start+1, span_end -
    span_start), taken from the turn text itself, so any divergence between
    the merged bounds and the member-join surface surfaces as a difference
    instead of being papered over (tests pin the two paths equal under
    single-space tokenization).

    Scale: the join keys on (conv_id, turn_idx) — the clustering the
    bucketed transcripts table already provides, so on a bucket(conv_id)
    table this is a zero-exchange co-located join; span extraction is pure
    column algebra."""
    t = transcripts.select("conv_id", "turn_idx", "text")
    return (
        merged.drop("surface")
        .join(t, ["conv_id", "turn_idx"])
        .select(
            "conv_id",
            "turn_idx",
            "pos",
            "span_start",
            "span_end",
            F.expr(
                "substring(text, span_start + 1, span_end - span_start)"
            ).alias("surface"),
            "mention_type",
            "n_tokens",
        )
    )
