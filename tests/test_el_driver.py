"""The blocking kernel and the two entity-linking paths pinned: the Python
normaliser and the numpy XXH64 against Spark's built-ins, the pair
features against a Python model, the candidate pairs and scores of the
driver path against the Spark path, and the batched scorer's
disjoint-union property."""

from __future__ import annotations

import random
import string

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators.blocking import (
    SHINGLE_K,
    candidate_pairs_from_surfaces,
    local_candidate_pairs,
    normalize_surface,
    normalize_text,
    pair_features,
    xxh64_gram,
    xxh64_long,
)
from kie_invoice_minimal_spark.operators.gcn_scorer import (
    node_features,
    score_candidates,
    score_pairs,
)
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


def test_xxh64_matches_spark(spark):
    """The numpy XXH64 equals Spark's ``xxhash64`` on both shapes blocking
    hashes, which keeps every band key equal to Spark's: random 3-byte
    ASCII grams, and chains of one and two longs (negative and extreme
    values included)."""
    rng = np.random.default_rng(17)
    codes = rng.integers(0, 128, size=(5000, 3))
    grams = ["".join(map(chr, c)) for c in codes]
    edge = [-(1 << 63), (1 << 63) - 1, -1, 0, 1, (1 << 31) - 1, -(1 << 31)]
    longs = np.r_[edge, rng.integers(-(1 << 63), (1 << 63) - 1, size=5000, dtype=np.int64)]
    other = np.r_[edge[::-1], rng.integers(-(1 << 20), 1 << 20, size=5000)].astype(np.int64)
    got = (
        spark.createDataFrame(pa.table({"g": pa.array(grams, pa.string())}))
        .select(F.xxhash64("g").alias("h"))
        .toArrow()
    )
    packed = codes[:, 0] << 16 | codes[:, 1] << 8 | codes[:, 2]
    assert np.array_equal(xxh64_gram(packed), got.column("h").to_numpy())
    got = (
        spark.createDataFrame(pa.table({"x": longs, "y": other}))
        .select(F.xxhash64("x").alias("one"), F.xxhash64("x", "y").alias("two"))
        .toArrow()
    )
    one = xxh64_long(longs, np.full(len(longs), 42, np.int64))
    assert np.array_equal(one, got.column("one").to_numpy())
    assert np.array_equal(xxh64_long(other, one), got.column("two").to_numpy())


def test_pair_features_match_python_model():
    """pair_features equals set algebra over the padded 3-grams on random
    normal forms, pairs of a form with itself and of empty forms included."""
    rng = random.Random(23)
    forms = sorted({
        "".join(rng.choice("abc12") for _ in range(rng.randrange(0, 9)))
        for _ in range(400)
    })
    na = np.array([rng.randrange(len(forms)) for _ in range(3000)] + [0, 1])
    nb = np.array([rng.randrange(len(forms)) for _ in range(3000)] + [0, 1])
    got = pair_features(pa.array(forms, pa.string()), na, nb)

    def grams(s):
        p = f"^^{s}$$"
        return {p[i : i + SHINGLE_K] for i in range(len(p) - SHINGLE_K + 1)}

    for i, (x, y) in enumerate((forms[a], forms[b]) for a, b in zip(na, nb)):
        gx, gy = grams(x), grams(y)
        want = (
            len(gx & gy) / len(gx | gy),
            float(x == y),
            float(x[:2] == y[:2]),
            min(len(x), len(y)) / max(len(x), len(y), 1.0),
        )
        assert tuple(f[i] for f in got) == want, (x, y)


def _driver_rows(surfaces):
    """(pairs, scores) of the driver path, as rows of the Spark path's."""
    p = local_candidate_pairs(surfaces)
    norm = p.norms.to_pylist()
    score = score_pairs(p.block_key, p.norm_a, p.norm_b, node_features(p.norms), *p.features)
    pairs = [
        (surfaces[a], surfaces[b], norm[na], norm[nb], int(k))
        for a, b, na, nb, k in zip(p.a, p.b, p.norm_a, p.norm_b, p.block_key)
    ]
    scores = {(s[0], s[1]): float(x) for s, x in zip(pairs, score)}
    return sorted(pairs), scores


def test_local_pairs_match_spark(spark, cardinality_mentions):
    """The driver path's candidate pairs equal candidate_pairs_from_surfaces'
    row for row (surfaces, normal forms, block key), and its scores equal
    score_candidates' on those pairs, on the sf0.01 BRAND surfaces and on
    the 3k set."""
    sf = detect_mentions_arrow(transcripts_from_documents(spark, SF_DIR)).filter(
        F.col("mention_type") == "BRAND"
    )
    card, _truth = cardinality_mentions
    for name, m in (("sf0.01", sf), ("3k", card)):
        surf = m.select("surface").distinct().filter(F.col("surface").isNotNull())
        surfaces = [r.surface for r in surf.collect()]
        pairs = candidate_pairs_from_surfaces(surf).localCheckpoint()
        want = sorted(tuple(r) for r in pairs.collect())
        got, scores = _driver_rows(surfaces)
        assert len(want) > 0, name
        assert got == want, name
        scored = score_candidates(pairs).collect()
        assert len(scored) == len(want), name
        for r in scored:
            assert abs(r.score - scores[(r.surface_a, r.surface_b)]) < 1e-12, (name, r)
            assert r.is_match == (scores[(r.surface_a, r.surface_b)] >= 0.5), (name, r)


def test_score_pairs_blocks_are_independent(cardinality_mentions):
    """Scoring all blocks as one disjoint union equals scoring each block
    alone (node normalization per block, no message crosses a block), and
    the input order does not matter."""
    m, _truth = cardinality_mentions
    surfaces = [r.surface for r in m.select("surface").distinct().collect()]
    p = local_candidate_pairs(surfaces)
    feats = node_features(p.norms)
    cols = p.features
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
