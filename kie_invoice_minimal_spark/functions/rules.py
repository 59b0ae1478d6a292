"""Deterministic extraction semantics — the single source of truth.

The reference classifies text spans into 9 labels with a trained GatedGCN
(labels: ``configs.py:41-51``) and falls back to deterministic keyword rules
when a label is out-of-vocabulary (``scripts/train_kie.py:73-95``: weight
units kg/g/ml/l/oz -> WEIGHT; nsx/mfg -> MFG; hsd/exp -> EXP).  Its trained
weights are not distributable, so parity (the P/R >= 0.95 gate) is defined
against *these rules*, restated once here and implemented three times:

1. :mod:`..oracle` — single-process pure-Python golden extractor
   (the analog of ``scripts/inference_kie.py:process_image``).
2. :mod:`..operators.mention_detect` — the vectorized Spark detector
   (``mapInArrow`` over Arrow record batches, no per-row Python).
3. The DuckDB ``oracle_sql()`` strings in ``__spark_entry__.py``.

Tokenization: split on single spaces (reference cells are already
word-level boxes; a token is the analog of one detected box).

Token classification, in priority order (first match wins):

  1. token, lowercased, in MFG_LABEL_TOKENS            -> MFG_LABEL
  2. token, lowercased, in EXP_LABEL_TOKENS            -> EXP_LABEL
  3. token, lowercased, in WEIGHT_LABEL_TOKENS         -> WEIGHT_LABEL
  4. token matches DATE_RE and the *immediately preceding* token is an
     MFG_LABEL token                                    -> MFG
  5. token matches DATE_RE and the preceding token is an EXP_LABEL token
                                                        -> EXP
  6. token matches WEIGHT_RE (number + unit suffix kg|g|ml|l|oz)
                                                        -> WEIGHT
  7. token (exact, case-sensitive) in BRAND_GAZETTEER  -> BRAND
  8. token (exact, case-sensitive) in NAME_GAZETTEER   -> NAME
  9. otherwise                                          -> OTHER

Triple emission (ref ``kie_utils.py:314-340`` postprocess_write_info):
for each conversation (the document analog) and each non-OTHER label,
obj = ' '.join(surfaces) in stable (turn_idx, token position) order —
the reference joins cells in index order after a mean-x sort
(``backend_utils.py:104-108``); (turn_idx, pos) is that reading order
lifted to transcripts.  OTHER is never emitted.
"""

from __future__ import annotations

import re

# Label taxonomy — identical to the reference (configs.py:41-51).
NODE_LABELS = [
    "NAME",
    "BRAND",
    "MFG_LABEL",
    "MFG",
    "EXP_LABEL",
    "EXP",
    "WEIGHT_LABEL",
    "WEIGHT",
    "OTHER",
]
OTHER = "OTHER"
EMITTED_LABELS = [l for l in NODE_LABELS if l != OTHER]

# Text-encoding alphabet — identical to the reference (configs.py:54).
ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "

# Keyword vocabularies (lowercase), from the reference's remap rules
# (train_kie.py:73-95) plus the ':'-suffixed label forms that appear on
# receipts.  Membership is tested on the lowercased token.
MFG_LABEL_TOKENS = ("nsx:", "nsx", "mfg:", "mfg")
EXP_LABEL_TOKENS = ("hsd:", "hsd", "exp:", "exp")
WEIGHT_LABEL_TOKENS = ("kl:", "kl", "weight:", "weight")

# Value-token shapes.  DATE: d/yyyy or dd/mm/yyyy.  WEIGHT: number + unit
# (unit set from train_kie.py:77 — kg/g/ml/l/oz).
DATE_RE = re.compile(r"^[0-9]{1,2}(/[0-9]{1,2})?/[0-9]{4}$")
WEIGHT_RE = re.compile(r"^[0-9]+(\.[0-9]+)?(kg|g|ml|l|oz)$")

# SQL-compatible forms of the same regexes (RE2/duckdb syntax is identical
# here); kept next to the Python forms so the three implementations can't
# drift.
DATE_RE_SQL = "^[0-9]{1,2}(/[0-9]{1,2})?/[0-9]{4}$"
WEIGHT_RE_SQL = "^[0-9]+(\\.[0-9]+)?(kg|g|ml|l|oz)$"

# Gazetteers (case-sensitive exact match).  BRAND entries include planted
# alias variants of the same real-world brand; ALIAS_GROUPS records the
# ground-truth clustering that entity canonicalization must recover.
ALIAS_GROUPS: list[list[str]] = [
    ["VinaMilk", "Vina-Milk", "VINAMILK", "vinamilk"],
    ["TrungNguyen", "Trung-Nguyen", "TRUNGNGUYEN"],
    ["Hảo-Hảo", "HaoHao", "hao-hao"],
    ["Vissan", "VISSAN", "vissan"],
    ["Nestle", "NESTLE", "Nestlé"],
    ["Acecook", "ACECOOK", "ace-cook"],
    ["Masan", "MASAN"],
    ["Kinh-Đô", "KinhDo", "kinh-do"],
    ["Sabeco", "SABECO"],
    ["Habeco", "HABECO"],
]
BRAND_GAZETTEER = frozenset(b for grp in ALIAS_GROUPS for b in grp)

NAME_GAZETTEER = frozenset(
    [
        "Sữa-Tươi",
        "Mì-Gói",
        "Cà-Phê",
        "Nước-Mắm",
        "Bánh-Quy",
        "Xúc-Xích",
        "Trà-Xanh",
        "Bia-Lon",
        "Snack-Khoai",
        "Sữa-Chua",
        "Dầu-Ăn",
        "Nước-Ngọt",
        "Kẹo-Dẻo",
        "Phô-Mai",
        "Bột-Giặt",
        "Hạt-Nêm",
    ]
)

# Canonical alias map: variant surface -> canonical (first) spelling.
CANONICAL_BRAND = {v: grp[0] for grp in ALIAS_GROUPS for v in grp}


def classify_token(token: str, prev_token: str | None) -> str:
    """Classify one token given its predecessor.  Reference semantics of
    the R4 remap rules (train_kie.py:73-95) restated positionally; see the
    module docstring for the rule order.  This scalar form is for the
    oracle and for tests — Spark uses the vectorized twin in
    operators/mention_detect.py.
    """
    low = token.lower()
    if low in MFG_LABEL_TOKENS:
        return "MFG_LABEL"
    if low in EXP_LABEL_TOKENS:
        return "EXP_LABEL"
    if low in WEIGHT_LABEL_TOKENS:
        return "WEIGHT_LABEL"
    if DATE_RE.match(token):
        plow = prev_token.lower() if prev_token else ""
        if plow in MFG_LABEL_TOKENS:
            return "MFG"
        if plow in EXP_LABEL_TOKENS:
            return "EXP"
        return OTHER
    if WEIGHT_RE.match(low):
        return "WEIGHT"
    if token in BRAND_GAZETTEER:
        return "BRAND"
    if token in NAME_GAZETTEER:
        return "NAME"
    return OTHER
