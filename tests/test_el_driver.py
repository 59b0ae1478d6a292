"""The driver path of entity linking pinned against its Spark original:
the Python normaliser, the numpy MinHash bands, the candidate pairs and
their features, and the batched scorer's disjoint-union property."""

from __future__ import annotations

import random
import string

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.blocking import (
    band_keys,
    candidate_pairs_from_surfaces,
    local_candidate_pairs,
    normalize_surface,
    normalize_text,
    signatures_from_surfaces,
)
from kie_invoice_minimal_spark.operators.gcn_scorer import node_features, score_pairs
from kie_invoice_minimal_spark.operators.mention_detect import detect_mentions_arrow
from kie_invoice_minimal_spark.sources.transcripts import transcripts_from_documents

SF_DIR = "/root/testdata/sf0.01"


def _spark_norms(spark, strings: list[str]) -> dict[str, str]:
    t = pa.table({"s": pa.array(strings, pa.string())})
    out = spark.createDataFrame(t).select("s", normalize_surface(F.col("s")).alias("n"))
    got = out.toArrow()
    return dict(zip(got.column("s").to_pylist(), got.column("n").to_pylist()))


def test_normalize_text_matches_spark(spark):
    """Every non-surrogate code point alone, then random strings mixing
    ASCII, Vietnamese, case-special and random code points."""
    singles = [chr(c) for c in range(0x110000) if not 0xD800 <= c < 0xE000]
    rng = random.Random(5)
    pool = (
        string.ascii_letters + string.digits + " -_.'"
        + "ÀÁẢÃẠĂẰẮẲẴẶÂẦẤẨẪẬĐđÈÉẺẼẸÊỀẾỂỄỆÌÍỈĨỊÒÓỎÕỌÔỒỐỔỖỘƠỜỚỞỠỢÙÚỦŨỤƯỪỨỬỮỰỲÝỶỸỴ"
        + "àáảãạăằắẳẵặâầấẩẫậèéẻẽẹêềếểễệìíỉĩịòóỏõọôồốổỗộơờớởỡợùúủũụưừứửữựỳýỷỹỵ"
        + "İıΣσςẞßǅǈǋKÅ̇̀́ﬀﬁ"
    )

    def rand_str():
        return "".join(
            rng.choice(pool) if rng.random() < 0.8 else chr(rng.choice(
                [rng.randrange(0x80, 0xD800), rng.randrange(0xE000, 0x110000)]
            ))
            for _ in range(rng.randrange(0, 12))
        )

    strings = singles + [rand_str() for _ in range(20_000)]
    want = _spark_norms(spark, strings)
    assert len(want) == len(set(strings))
    bad = [(s, normalize_text(s), w) for s, w in want.items() if normalize_text(s) != w]
    assert not bad, (len(bad), bad[:5])


def test_band_keys_match_spark(spark):
    """The numpy XXH64/MinHash bands equal signatures_from_surfaces' on
    3,000 random normal forms (normalize_surface is the identity on them)."""
    rng = random.Random(11)
    alphabet = string.ascii_lowercase + string.digits
    norms = sorted({
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 20)))
        for _ in range(3000)
    })
    sig = signatures_from_surfaces(
        spark.createDataFrame([(s,) for s in norms], "surface string")
    ).orderBy("surface").toArrow()
    assert sig.column("surface").to_pylist() == norms
    want = np.stack(
        [sig.column(f"band_{b}").to_numpy() for b in range(band_keys([]).shape[1])], axis=1
    )
    assert np.array_equal(band_keys(norms), want)


def _pairs_rows(surfaces):
    p = local_candidate_pairs(surfaces)
    return sorted(
        (
            surfaces[a], surfaces[b], p.norms[na], p.norms[nb], int(k),
            float(j), float(e), float(x), float(r),
        )
        for a, b, na, nb, k, j, e, x, r in zip(
            p.a, p.b, p.norm_a, p.norm_b, p.block_key,
            p.jaccard, p.norm_eq, p.prefix_eq, p.len_ratio,
        )
    )


def test_local_pairs_match_spark(spark, cardinality_mentions):
    """local_candidate_pairs equals candidate_pairs_from_surfaces row for
    row (pairs, normal forms, block key, all four features) on the sf0.01
    BRAND surfaces and on the 3k set."""
    sf = detect_mentions_arrow(transcripts_from_documents(spark, SF_DIR)).filter(
        F.col("mention_type") == "BRAND"
    )
    card, _truth = cardinality_mentions
    for name, m in (("sf0.01", sf), ("3k", card)):
        surf = m.select("surface").distinct().filter(F.col("surface").isNotNull())
        surfaces = [r.surface for r in surf.collect()]
        want = sorted(tuple(r) for r in candidate_pairs_from_surfaces(surf).collect())
        got = _pairs_rows(surfaces)
        assert len(want) > 0, name
        assert got == want, name


def test_score_pairs_blocks_are_independent(cardinality_mentions):
    """Scoring all blocks as one disjoint union equals scoring each block
    alone (node normalization per block, no message crosses a block), and
    the input order does not matter."""
    m, _truth = cardinality_mentions
    surfaces = [r.surface for r in m.select("surface").distinct().collect()]
    p = local_candidate_pairs(surfaces)
    feats = node_features(pa.array(p.norms, pa.string()))
    cols = (p.jaccard, p.norm_eq, p.prefix_eq, p.len_ratio)
    whole = score_pairs(p.block_key, p.norm_a, p.norm_b, feats, *cols)
    shuffled = np.random.default_rng(3).permutation(len(whole))
    again = score_pairs(
        p.block_key[shuffled], p.norm_a[shuffled], p.norm_b[shuffled], feats,
        *(c[shuffled] for c in cols),
    )
    np.testing.assert_allclose(again, whole[shuffled], rtol=0, atol=1e-12)
    for key in np.unique(p.block_key)[:300]:
        i = np.flatnonzero(p.block_key == key)
        alone = score_pairs(p.block_key[i], p.norm_a[i], p.norm_b[i], feats, *(c[i] for c in cols))
        np.testing.assert_allclose(alone, whole[i], rtol=0, atol=1e-12)
