"""Candidate generation via MinHash / ngram blocking — SURVEY.md §2.6 (E2 at scale).

The reference prunes the O(n^2) edge space per page with a spatial band
(|Δy| <= 3·line_height, ``kie_utils.py:133-137``).  Across a 10^12-turn
corpus the analog is *blocking*: only surfaces that share a MinHash band
bucket become candidate pairs.  The Spark plans are JVM-side column algebra —
shingles via higher-order functions, MinHash via min(xxhash64(shingle, seed)),
band keys via hashing the signature slice — no Python.  Below
``link_entities``' surface gate the same pairs and features are computed on
the driver by a numpy twin (:func:`local_candidate_pairs`), pinned against
the Spark plans in the tests.

Pipeline:
  mentions --(distinct surface)--> surface table   (the big dedup: linking
      operates on distinct surface forms, orders of magnitude smaller than
      the mention stream)
  surface --(normalize, shingle, minhash)--> signatures
  signatures --(explode bands)--> (band_key, surface)
  self-join on band_key (block-size capped) --> candidate pairs

Scale notes: the only shuffles are the distinct() and the band-key join.
Hot bands (stop-word-like surfaces) are capped at MAX_BLOCK_SIZE — a capped
block is dropped with a counter, not exploded (the north rule's "block-size
caps, overflow -> sub-salt"); AQE skew-join splits the rest.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from typing import NamedTuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 8 bands x 2 rows: candidate recall at Jaccard 0.65 is ~0.99 (4 bands x 3
# rows missed ~27% of true near-pairs at that similarity — measured on the
# 15k-surface stress run)
N_HASHES = 16  # minhash signature length
N_BANDS = 8  # bands of r = N_HASHES / N_BANDS rows
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3
MAX_BLOCK_SIZE = 50  # candidate blocks larger than this are dropped (counted)
_P = (1 << 31) - 1  # MinHash modulus: products stay below 2^37


def _mh_coef(i: int) -> tuple[int, int]:
    """(a, b) of the i-th affine MinHash transform (a*h + b) mod _P."""
    return 2 * i + 3, (7919 * (i + 1)) % _P


# diacritic fold of normalize_surface (explicit Vietnamese maps)
_FOLD_SRC = "àáảãạăằắẳẵặâầấẩẫậèéẻẽẹêềếểễệìíỉĩịòóỏõọôồốổỗộơờớởỡợùúủũụưừứửữựỳýỷỹỵđ"
_FOLD_DST = "aaaaaaaaaaaaaaaaaeeeeeeeeeeeiiiiiooooooooooooooooouuuuuuuuuuuyyyyyd"
_FOLD = str.maketrans(_FOLD_SRC, _FOLD_DST)
_NON_ALNUM = re.compile("[^a-z0-9]")


def normalize_surface(col):
    """lower + strip diacritics + drop non-alphanumeric.

    Diacritic stripping uses explicit Vietnamese char maps (translate) so it
    stays JVM-side; the DuckDB twin is strip_accents(lower(..)).
    """
    return F.regexp_replace(
        F.translate(F.lower(col), _FOLD_SRC, _FOLD_DST), "[^a-z0-9]", ""
    )


def normalize_text(s: str) -> str:
    """:func:`normalize_surface` of one non-null string, in Python (the
    driver path; pinned against Spark over every code point)."""
    return _NON_ALNUM.sub("", s.lower().translate(_FOLD))


def _padded(col):
    """Boundary-padded normalized form so shingles see word edges."""
    return F.concat(F.lit("^^"), col, F.lit("$$"))


def shingles(col):
    """Character k-grams of the padded normalized surface (distinct)."""
    p = _padded(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(p) - F.lit(SHINGLE_K - 1)),
            lambda i: p.substr(i, F.lit(SHINGLE_K)),
        )
    )


def signatures_from_surfaces(surf: DataFrame) -> DataFrame:
    """Normalized form, shingle set and MinHash bands of an ALREADY-DISTINCT
    ``surface`` table: surface, norm, grams (array<string>),
    band_0..band_{N_BANDS-1}.  Callers materialize the distinct-surface set
    once, so the upstream mention lineage is not re-executed per job."""
    surf = (
        surf.withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("grams", shingles(F.col("norm")))
    )
    # minhash_i = min over grams of the i-th affine transform of ONE base
    # hash per gram (h_i = (a_i*h + b_i) mod P) — one hash pass, K cheap
    # arithmetic passes.  P = 2^31-1 keeps products overflow-safe.
    # NB: single-arg lambdas only — a two-arg lambda makes transform() bind
    # the array index to the second parameter.
    surf = surf.withColumn(
        "hb", F.transform("grams", lambda g: F.pmod(F.xxhash64(g), F.lit(_P)))
    )

    def _mh(i: int):
        a, b = _mh_coef(i)
        return lambda h: (h * a + b) % _P

    sig_cols = [
        F.array_min(F.transform("hb", _mh(i))).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    surf = surf.select("surface", "norm", "grams", *sig_cols)
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh_{j}") for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]
        ).alias(f"band_{b}")
        for b in range(N_BANDS)
    ]
    return surf.select("surface", "norm", "grams", *band_cols)


def candidate_pairs(
    mentions: DataFrame,
    surface_col: str = "surface",
    max_block_size: int = MAX_BLOCK_SIZE,
) -> DataFrame:
    """Unordered candidate surface pairs sharing >= 1 MinHash band.

    Returns: surface_a, surface_b, norm_a, norm_b, grams_a, grams_b,
    block_key.  Pairs are deduped across bands (a pair sharing 3 bands
    appears once, keyed by its smallest band).
    """
    return candidate_pairs_from_surfaces(
        mentions.select(F.col(surface_col).alias("surface")).distinct(),
        max_block_size=max_block_size,
    )


def candidate_pairs_from_surfaces(
    surf: DataFrame, max_block_size: int = MAX_BLOCK_SIZE
) -> DataFrame:
    """candidate_pairs over an ALREADY-DISTINCT surface table (r9) — see
    signatures_from_surfaces for why callers pass one in."""
    # The signature table is the root of a diamond (bands, block-size
    # counts, both self-join sides) but needs NO explicit materialization:
    # every branch shares the distinct()'s exchange, which Spark reuses
    # (ReusedExchange).  Measured A/B at sf0.1: an eager localCheckpoint
    # here was ~1s SLOWER per query (extra job) than letting the reuse
    # happen — don't re-add it.
    sig = signatures_from_surfaces(surf)
    bands = sig.select(
        "surface",
        "norm",
        "grams",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_no"), F.col(f"band_{b}").alias("bkey")) for b in range(N_BANDS)])
        ).alias("bd"),
    ).select(
        "surface", "norm", "grams", "bd.band_no", F.col("bd.bkey").alias("block_key")
    )
    # block-size cap: count per block, drop oversized blocks (counted
    # upstream).  Plain join — the sizes table is O(distinct blocks), far too
    # big to broadcast at corpus scale; AQE picks broadcast when it fits.
    sizes = bands.groupBy("band_no", "block_key").agg(F.count("*").alias("block_n"))
    bands = bands.join(
        sizes.filter(F.col("block_n") <= max_block_size),
        ["band_no", "block_key"],
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .select(
            F.col("a.surface").alias("surface_a"),
            F.col("b.surface").alias("surface_b"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
            F.col("a.grams").alias("grams_a"),
            F.col("b.grams").alias("grams_b"),
            F.col("a.block_key").alias("block_key"),
        )
    )
    # dedupe pairs that co-occur in several bands: keep min block_key
    deduped = pairs.groupBy("surface_a", "surface_b").agg(
        F.first("norm_a").alias("norm_a"),
        F.first("norm_b").alias("norm_b"),
        F.first("grams_a").alias("grams_a"),
        F.first("grams_b").alias("grams_b"),
        F.min("block_key").alias("block_key"),
    )
    # pair features computed JVM-side so the scorer UDF gets ready columns
    # (no set algebra in Python): 3-gram Jaccard, normalized equality,
    # 2-char-prefix match, length ratio.
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = (F.size("grams_a") + F.size("grams_b")).cast("double") - inter
    la = F.length("norm_a").cast("double")
    lb = F.length("norm_b").cast("double")
    return deduped.select(
        "surface_a",
        "surface_b",
        "norm_a",
        "norm_b",
        "block_key",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        (F.col("norm_a") == F.col("norm_b")).cast("double").alias("norm_eq"),
        (F.substring("norm_a", 1, 2) == F.substring("norm_b", 1, 2))
        .cast("double")
        .alias("prefix_eq"),
        (F.least(la, lb) / F.greatest(F.greatest(la, lb), F.lit(1.0))).alias(
            "len_ratio"
        ),
    )


# --- driver twin: the same pairs and features in numpy ---------------------------
#
# Below link_entities' surface gate the distinct surfaces are on the driver,
# so blocking runs here.  Every gram of a padded normal form is 3 ASCII bytes
# and every MinHash value a long, so Spark's xxhash64 (XXH64, seed 42) is
# needed for exactly two input shapes; both are written out below in uint64
# arithmetic, which wraps as Java's long does.

_X1, _X2, _X3, _X4, _X5 = (
    np.uint64(c)
    for c in (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )
)
_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _X2
    h = (h ^ (h >> np.uint64(29))) * _X3
    return (h ^ (h >> np.uint64(32))).view(np.int64)


def xxh64_gram(code: np.ndarray) -> np.ndarray:
    """``xxhash64`` of 3-byte strings, each given as ``b0 << 16 | b1 << 8 | b2``."""
    c = code.astype(np.uint64)
    h = np.full(len(c), np.uint64(_SEED) + _X5 + np.uint64(3))
    for shift in (16, 8, 0):
        h = _rotl(h ^ ((c >> np.uint64(shift)) & np.uint64(0xFF)) * _X5, 11) * _X1
    return _fmix(h)


def xxh64_long(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``xxhash64`` of one long column with a per-row seed (a column chain
    ``xxhash64(c0, c1)`` is ``xxh64_long(c1, xxh64_long(c0, 42))``)."""
    h = seed.view(np.uint64) + _X5 + np.uint64(8)
    h = h ^ _rotl(x.view(np.uint64) * _X2, 31) * _X1
    return _fmix(_rotl(h, 27) * _X1 + _X4)


def _ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """The concatenation of ``arange(s, s + n)`` over ``zip(starts, lengths)``."""
    ends = np.cumsum(lengths)
    return np.repeat(starts - (ends - lengths), lengths) + np.arange(ends[-1] if len(ends) else 0)


def _gram_codes(norms: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """(owner, code) for every 3-gram of every padded normal form, in order,
    repeats kept: ``code`` packs the gram's 3 ASCII bytes, ``owner`` is the
    index of its form in ``norms``."""
    padded = [f"^^{s}$$".encode("ascii") for s in norms]
    lens = np.fromiter(map(len, padded), np.int64, len(padded))
    buf = np.frombuffer(b"".join(padded), np.uint8).astype(np.int64)
    n_grams = lens - (SHINGLE_K - 1)
    pos = _ranges(np.cumsum(lens) - lens, n_grams)
    code = buf[pos] << 16 | buf[pos + 1] << 8 | buf[pos + 2]
    return np.repeat(np.arange(len(norms)), n_grams), code


def band_keys(norms: Sequence[str]) -> np.ndarray:
    """``band_0 .. band_{N_BANDS-1}`` of :func:`signatures_from_surfaces`
    for normal forms (``[len(norms), N_BANDS]`` int64).  The MinHash min
    runs over the grams with repeats, which gives the same minimum as over
    the distinct set."""
    if not len(norms):
        return np.empty((0, N_BANDS), np.int64)
    owner, code = _gram_codes(norms)
    hb = np.mod(xxh64_gram(code), _P)  # floored, as pmod
    first = np.flatnonzero(np.r_[True, owner[1:] != owner[:-1]])
    mh = [
        np.minimum.reduceat((hb * a + b) % _P, first)
        for a, b in map(_mh_coef, range(N_HASHES))
    ]
    keys = np.empty((len(norms), N_BANDS), np.int64)
    for band in range(N_BANDS):
        h = np.full(len(norms), _SEED, np.int64)
        for j in range(band * ROWS_PER_BAND, (band + 1) * ROWS_PER_BAND):
            h = xxh64_long(mh[j], h)
        keys[:, band] = h
    return keys


def _jaccard(norms: Sequence[str], na: np.ndarray, nb: np.ndarray, chunk: int = 1 << 16) -> np.ndarray:
    """3-gram Jaccard of ``norms[na[i]]`` and ``norms[nb[i]]``: each gram of
    the first form is looked up in the second's by binary search over the
    sorted (form, gram) incidence; ``chunk`` pairs at a time."""
    owner, code = _gram_codes(norms)
    inc = np.unique(owner << 24 | code)  # distinct grams, form-major
    cnt = np.bincount(inc >> 24, minlength=len(norms))
    start = np.cumsum(cnt) - cnt
    inter = np.empty(len(na))
    for lo in range(0, len(na), chunk):
        a, b = na[lo : lo + chunk], nb[lo : lo + chunk]
        p = np.repeat(np.arange(len(a)), cnt[a])
        q = b[p] << 24 | inc[_ranges(start[a], cnt[a])] & 0xFFFFFF
        hit = inc[np.minimum(np.searchsorted(inc, q), len(inc) - 1)] == q
        inter[lo : lo + chunk] = np.bincount(p, weights=hit, minlength=len(a))
    union = cnt[na] + cnt[nb] - inter
    return np.where(union > 0, inter / np.maximum(union, 1), 0.0)


class SurfacePairs(NamedTuple):
    """:func:`candidate_pairs_from_surfaces` computed on the driver, one
    entry per pair: ``a``/``b`` index the surfaces passed in (surface a <
    surface b), ``norm_a``/``norm_b`` index ``norms``, the distinct normal
    forms in sorted order."""

    norms: list[str]
    a: np.ndarray
    b: np.ndarray
    norm_a: np.ndarray
    norm_b: np.ndarray
    block_key: np.ndarray
    jaccard: np.ndarray
    norm_eq: np.ndarray
    prefix_eq: np.ndarray
    len_ratio: np.ndarray


def local_candidate_pairs(
    surfaces: Sequence[str], max_block_size: int = MAX_BLOCK_SIZE
) -> SurfacePairs:
    """The pairs and features of :func:`candidate_pairs_from_surfaces` for
    distinct non-null ``surfaces``, in numpy: the same band keys, the same
    block-size cap and band self-join, the dedupe that keeps each pair's
    minimum block key, the same four features."""
    n = len(surfaces)
    by_rank = np.array(sorted(range(n), key=surfaces.__getitem__), np.int64)
    forms = np.array([normalize_text(surfaces[i]) for i in by_rank], object)
    norms, norm_of = np.unique(forms, return_inverse=True)
    norms = norms.tolist()
    # (band, key, rank) rows sorted into runs; rank order is surface order
    band = np.repeat(np.arange(N_BANDS), n)
    key = band_keys(norms)[norm_of].T.ravel()
    rank = np.tile(np.arange(n), N_BANDS)
    o = np.lexsort((rank, key, band))
    band, key, rank = band[o], key[o], rank[o]
    run = np.cumsum((band[1:] != band[:-1]) | (key[1:] != key[:-1]))
    run = np.r_[0, run] if n else run
    size = np.bincount(run)[run]
    keep = (size >= 2) & (size <= max_block_size)
    run, key, rank = run[keep], key[keep], rank[keep]
    # the self-join: members d apart in one run, d < max_block_size
    a, b, key = (
        np.concatenate(c)
        for c in zip(*(
            (rank[i], rank[i + d], key[i])
            for d in range(1, max(max_block_size, 2))
            for i in [np.flatnonzero(run[d:] == run[:-d])]
        ))
    )
    pair = a * n + b
    o = np.lexsort((key, pair))
    o = o[np.r_[True, pair[o][1:] != pair[o][:-1]]] if len(o) else o
    a, b, key = a[o], b[o], key[o]
    na, nb = norm_of[a], norm_of[b]
    lens = np.fromiter(map(len, norms), np.float64, len(norms))
    prefix = np.unique(np.array([s[:2] for s in norms], object), return_inverse=True)[1]
    la, lb = lens[na], lens[nb]
    return SurfacePairs(
        norms,
        by_rank[a],
        by_rank[b],
        na,
        nb,
        key,
        _jaccard(norms, na, nb),
        (na == nb).astype(np.float64),
        (prefix[na] == prefix[nb]).astype(np.float64),
        np.minimum(la, lb) / np.maximum(np.maximum(la, lb), 1.0),
    )
