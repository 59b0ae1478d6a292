"""Candidate generation via MinHash blocking — SURVEY.md §2.6 (E2 at scale).

The reference prunes the O(n^2) edge space per page with a spatial band
(|Δy| <= 3·line_height, ``kie_utils.py:133-137``).  Across a 10^12-turn
corpus the analog is *blocking*: only surfaces that share a MinHash band
bucket become candidate pairs.

One kernel serves both entity-linking scales.  :func:`band_keys` gives
each normal form its N_BANDS band keys, and :func:`pair_features` gives a
pair its four features (3-gram Jaccard, normalized equality, 2-char
prefix match, length ratio), both in numpy.  Below ``link_entities``'
surface gate the driver runs them over every surface
(:func:`local_candidate_pairs`).  Above it,
:func:`candidate_pairs_from_surfaces` runs :func:`band_keys` once per
Arrow batch and the band self-join in Spark on scalar columns; the scorer
computes the features per batch of whole blocks (``gcn_scorer``).

Pipeline (above the gate):
  surface --(normalize_surface, JVM)--> (surface, norm)
  (surface, norm) --(band_keys per Arrow batch)--> (surface, norm, band_no, block_key)
  block-size cap, self-join on (band_no, block_key) --> candidate pairs,
      deduped across bands keeping each pair's minimum block key

A band key is Spark's ``xxhash64`` (XXH64, seed 42) of two MinHash longs;
a MinHash is the minimum over the padded form's 3-grams of an affine
transform mod 2^31-1 of the gram's ``xxhash64``.  Both XXH64 input shapes
(3 ASCII bytes, one long) are written out in uint64 arithmetic, which
wraps as Java's long does, and are pinned against ``F.xxhash64``.

Scale notes: the only shuffles are the cap, the band-key join and the
pair dedupe.  Hot bands (stop-word-like surfaces) are capped at
MAX_BLOCK_SIZE: a capped block is dropped, not exploded; AQE's skew join
splits the rest.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .arrow_groups import map_batches

# 8 bands x 2 rows: candidate recall at Jaccard 0.65 is ~0.99 (4 bands x 3
# rows missed ~27% of true near-pairs at that similarity — measured on the
# 15k-surface stress run)
N_HASHES = 16  # minhash signature length
N_BANDS = 8  # bands of r = N_HASHES / N_BANDS rows
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3
MAX_BLOCK_SIZE = 50  # candidate blocks larger than this are dropped
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


# --- XXH64 for the two input shapes blocking hashes -----------------------------

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


def _gram_codes(norms: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(owner, code) for every 3-gram of every padded normal form, in order,
    repeats kept: ``code`` packs the gram's 3 ASCII bytes, ``owner`` is the
    index of its form in ``norms`` (non-null ASCII strings).  The grams are
    read from the padded array's offset and data buffers."""
    padded = pc.binary_join_element_wise("^^", norms, "$$", "").cast(pa.large_string())
    _, offsets, data = padded.buffers()
    ends = np.frombuffer(offsets, np.int64)[padded.offset : padded.offset + len(padded) + 1]
    buf = np.frombuffer(data, np.uint8).astype(np.int64)
    n_grams = np.diff(ends) - (SHINGLE_K - 1)
    pos = _ranges(ends[:-1], n_grams)
    code = buf[pos] << 16 | buf[pos + 1] << 8 | buf[pos + 2]
    return np.repeat(np.arange(len(norms)), n_grams), code


def band_keys(norms: pa.Array) -> np.ndarray:
    """The N_BANDS band keys of each normal form (``[len(norms), N_BANDS]``
    int64).  The MinHash min runs over the grams with repeats, which gives
    the same minimum as over the distinct set."""
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


def _jaccard(norms: pa.Array, na: np.ndarray, nb: np.ndarray, chunk: int = 1 << 16) -> np.ndarray:
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


def pair_features(norms: pa.Array, na: np.ndarray, nb: np.ndarray) -> tuple[np.ndarray, ...]:
    """The scorer's four edge features (float64, one entry per pair) of the
    pairs ``(norms[na[i]], norms[nb[i]])``, for distinct non-null ASCII
    normal forms ``norms``: 3-gram Jaccard of the padded forms, equality,
    equality of the first 2 characters, and min(len) / max(max(len), 1)."""
    na, nb = np.asarray(na, np.int64), np.asarray(nb, np.int64)
    lens = pc.utf8_length(norms).to_numpy(zero_copy_only=False).astype(np.float64)
    prefix = pc.dictionary_encode(pc.utf8_slice_codeunits(norms, 0, 2)).indices.to_numpy()
    la, lb = lens[na], lens[nb]
    return (
        _jaccard(norms, na, nb),
        (na == nb).astype(np.float64),
        (prefix[na] == prefix[nb]).astype(np.float64),
        np.minimum(la, lb) / np.maximum(np.maximum(la, lb), 1.0),
    )


def _band_rows(b: pa.RecordBatch) -> pa.RecordBatch:
    """(surface, norm, band_no, block_key) for every band of every row of a
    (surface, norm) batch, band-major; rows with a null surface, which pair
    with nothing, are dropped."""
    b = b.filter(pc.is_valid(b.column("surface")))
    n = b.num_rows
    rows = pa.array(np.tile(np.arange(n), N_BANDS))
    return pa.RecordBatch.from_arrays(
        [
            pc.take(b.column("surface"), rows),
            pc.take(b.column("norm"), rows),
            pa.array(np.repeat(np.arange(N_BANDS, dtype=np.int32), n)),
            pa.array(band_keys(b.column("norm")).T.ravel()),
        ],
        names=["surface", "norm", "band_no", "block_key"],
    )


def candidate_pairs_from_surfaces(surf: DataFrame) -> DataFrame:
    """Unordered candidate pairs of a distinct ``surface`` table that share
    at least one band: surface_a < surface_b, their normal forms norm_a and
    norm_b, and block_key, the smallest key of the bands they share.
    Callers materialize the distinct surfaces once, so the upstream mention
    lineage is not re-executed per branch."""
    bands = map_batches(
        surf.select("surface", normalize_surface(F.col("surface")).alias("norm")),
        _band_rows,
        "surface string, norm string, band_no int, block_key long",
    )
    # block-size cap: count per block, drop oversized blocks.  Plain join —
    # the sizes table is O(distinct blocks), far too big to broadcast at
    # corpus scale; AQE picks broadcast when it fits.
    sizes = bands.groupBy("band_no", "block_key").agg(F.count("*").alias("block_n"))
    bands = bands.join(
        sizes.filter(F.col("block_n") <= MAX_BLOCK_SIZE), ["band_no", "block_key"]
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_no") == F.col("b.band_no"))
        & (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.surface") < F.col("b.surface")),
    ).select(
        F.col("a.surface").alias("surface_a"),
        F.col("b.surface").alias("surface_b"),
        F.col("a.norm").alias("norm_a"),
        F.col("b.norm").alias("norm_b"),
        F.col("a.block_key").alias("block_key"),
    )
    # dedupe pairs that co-occur in several bands: keep min block_key (a
    # surface's normal form is a function of it, so first() is exact)
    return pairs.groupBy("surface_a", "surface_b").agg(
        F.first("norm_a").alias("norm_a"),
        F.first("norm_b").alias("norm_b"),
        F.min("block_key").alias("block_key"),
    )


class SurfacePairs(NamedTuple):
    """:func:`candidate_pairs_from_surfaces` computed on the driver, one
    entry per pair: ``a``/``b`` index the surfaces passed in (surface a <
    surface b), ``norm_a``/``norm_b`` index ``norms``, the distinct normal
    forms in sorted order; ``features`` are the pairs' :func:`pair_features`."""

    norms: pa.Array
    a: np.ndarray
    b: np.ndarray
    norm_a: np.ndarray
    norm_b: np.ndarray
    block_key: np.ndarray
    features: tuple[np.ndarray, ...]


def local_candidate_pairs(surfaces: Sequence[str]) -> SurfacePairs:
    """The pairs of :func:`candidate_pairs_from_surfaces` for distinct
    non-null ``surfaces``, on the driver: the same band keys, block-size
    cap and band self-join, the dedupe that keeps each pair's minimum block
    key, and the pairs' features."""
    n = len(surfaces)
    by_rank = np.array(sorted(range(n), key=surfaces.__getitem__), np.int64)
    forms = np.array([normalize_text(surfaces[i]) for i in by_rank], object)
    norms, norm_of = np.unique(forms, return_inverse=True)
    norms = pa.array(norms.tolist(), pa.string())
    # (band, key, rank) rows sorted into runs; rank order is surface order
    band = np.repeat(np.arange(N_BANDS), n)
    key = band_keys(norms)[norm_of].T.ravel()
    rank = np.tile(np.arange(n), N_BANDS)
    o = np.lexsort((rank, key, band))
    band, key, rank = band[o], key[o], rank[o]
    run = np.cumsum((band[1:] != band[:-1]) | (key[1:] != key[:-1]))
    run = np.r_[0, run] if n else run
    size = np.bincount(run)[run]
    keep = (size >= 2) & (size <= MAX_BLOCK_SIZE)
    run, key, rank = run[keep], key[keep], rank[keep]
    # the self-join: members d apart in one run, d < MAX_BLOCK_SIZE
    a, b, key = (
        np.concatenate(c)
        for c in zip(*(
            (rank[i], rank[i + d], key[i])
            for d in range(1, max(MAX_BLOCK_SIZE, 2))
            for i in [np.flatnonzero(run[d:] == run[:-d])]
        ))
    )
    pair = a * n + b
    o = np.lexsort((key, pair))
    o = o[np.r_[True, pair[o][1:] != pair[o][:-1]]] if len(o) else o
    a, b, key = a[o], b[o], key[o]
    na, nb = norm_of[a], norm_of[b]
    return SurfacePairs(norms, by_rank[a], by_rank[b], na, nb, key, pair_features(norms, na, nb))
