"""Deduplication operators over ``documents`` — exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

The corpus-dedup stages of a 100 TB training-data pipeline, each as a pure
Spark plan with a DuckDB twin.  The portable-hash convention (md5 hex ->
bigint, text_analysis.mdhash) makes even the MinHash/SimHash signatures
oracle-checkable — both engines compute identical signatures.

Scale notes:
- exact dedup: one shuffle on the content hash (never on the text itself);
- MinHash LSH: signatures are narrow maps; the only join is the band-bucket
  self-join — same shape as operators/blocking.py, block caps + AQE skew;
- n-gram Jaccard is EXACT yet sub-quadratic via prefix filtering (All-Pairs/
  PPJoin): only the first n - ceil(t*n) + 1 sorted shingle hashes are
  indexed (lossless; prefix length, size prune and verify all derive from
  the (JACCARD_NUM, JACCARD_DEN) fraction with exact integer arithmetic);
- embedding-cosine blocks on banded hyperplane LSH (n^(1+rho) trade), never
  on a fixed-cardinality attribute;
- dup clusters: connected components over verified pairs, keeper = min doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.scan import spread_scan
from .text_analysis import MDHASH_SQL, mdhash_spark

MINHASH_K = 8  # signature length
MINHASH_BANDS = 4  # bands of 2 rows
SIMHASH_BITS = 16
# Jaccard threshold as an EXACT fraction: the prefix-filter length, the
# size-ratio prune, and the verify comparison are all derived from
# (NUM, DEN) with integer arithmetic, so changing the threshold cannot
# silently decouple them (J >= t  <=>  inter * DEN >= union * NUM, exact —
# no float rounding at the boundary).
JACCARD_NUM, JACCARD_DEN = 1, 2
JACCARD_THS = JACCARD_NUM / JACCARD_DEN  # display/doc value
COSINE_THS = 0.4  # synthetic embeddings are near-orthogonal; 0.4 marks the planted near-pairs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan: the shingle→md5 passes below are the dd family's CPU
    # cost; on a single-row-group bench file they would otherwise run on
    # ONE scan task (guide §2.5 input skew; no-op on real multi-split
    # inputs)
    path = f"{sf_dir}/documents.parquet"
    return spread_scan(spark.read.parquet(path), path)


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-spread documents scan for the operators whose per-row work is a
    single md5 (dd_exact, dd_incremental): there the spread exchange costs
    more than the parallelism it buys (dd_incremental 0.25 -> 0.59 s — the
    r9 measured counter-case to _docs' spread)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- exact dedup ---------------------------------------------------------------

def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeper = min
    doc_id.  The shuffle key is the 60-bit hash, not the document text."""
    d = _docs_raw(spark, sf_dir)
    return (
        d.select("doc_id", mdhash_spark(F.col("text")).alias("text_fp"))
        .groupBy("text_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )


DD_EXACT_SQL = f"""
SELECT {MDHASH_SQL('text')} AS text_fp,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- MinHash signatures + LSH candidates ----------------------------------------

def _tok_shingles(col):
    toks = F.split(F.lower(col), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )


_TOK_SHINGLES_SQL = """
list_distinct(list_transform(
  range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
  i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
))
"""


# One md5 per shingle + K affine transforms h_i = (a_i * base + b_i) mod P.
# P = 2^31 - 1 keeps every product under 2^62: portable (DuckDB BIGINT
# overflow errors; Java long would silently wrap — neither happens).
_MH_P = (1 << 31) - 1
_MH_A = [2 * i + 3 for i in range(16)]  # odd multipliers, deterministic
_MH_B = [7919 * (i + 1) % _MH_P for i in range(16)]


def _base_hashes(sh_col: str = "sh"):
    """array<long> of (md5 % P) per shingle — the single hash pass."""
    return F.transform(sh_col, lambda g: mdhash_spark(g) % _MH_P)




def _affine_mh(i: int):
    """i-th affine MinHash transform (closure factory — NEVER a default-arg
    lambda inside transform(), see CLAUDE.md)."""
    a, b = _MH_A[i], _MH_B[i]
    return lambda h: (h * a + b) % _MH_P


def _sig_cols(hb_col: str = "hb", k: int = MINHASH_K):
    """MinHash signature columns mh_0..mh_{k-1} from a base-hash array."""
    return [
        F.array_min(F.transform(hb_col, _affine_mh(i))).alias(f"mh_{i}")
        for i in range(k)
    ]


_MH_R = MINHASH_K // MINHASH_BANDS  # rows per band


def _band_struct_array():
    """array<struct(band_no, bkey)> from the mh_i signature columns — the
    ONE definition of the band scheme; dd_minhash_lsh_pairs,
    dd_lsh_verified_dups and dd_band_clusters must all derive bit-identical
    band keys (the cross-operator subset/coarsening tests depend on it)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                mdhash_spark(
                    F.concat_ws(
                        ",",
                        *[F.col(f"mh_{j}").cast("string") for j in range(b * _MH_R, (b + 1) * _MH_R)],
                    )
                ).alias("bkey"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )


def _band_key_sql(b: int) -> str:
    """SQL twin of one band's bkey."""
    return MDHASH_SQL(
        "concat_ws(',', "
        + ", ".join(f"CAST(mh_{j} AS VARCHAR)" for j in range(b * _MH_R, (b + 1) * _MH_R))
        + ")"
    )


def _band_structs_sql() -> str:
    return ", ".join(
        f"struct_pack(band_no := {b}, bkey := {_band_key_sql(b)})"
        for b in range(MINHASH_BANDS)
    )


def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature over token 3-gram shingles (md5-portable)."""
    d = (
        _docs(spark, sf_dir)
        .withColumn("sh", _tok_shingles(F.col("text")))
        .withColumn("hb", _base_hashes())
    )
    return d.select("doc_id", *_sig_cols())


def _minhash_sig_sql() -> str:
    base = MDHASH_SQL("g")
    sig = ",\n       ".join(
        f"list_min(list_transform(hb, h -> (h * {_MH_A[i]} + {_MH_B[i]}) % {_MH_P}))"
        f" AS mh_{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH sh_t AS (SELECT doc_id, {_TOK_SHINGLES_SQL} AS sh FROM documents),
hb_t AS (SELECT doc_id, list_transform(sh, g -> {base} % {_MH_P}) AS hb FROM sh_t)
SELECT doc_id,
       {sig}
FROM hb_t
"""


DD_MINHASH_SIG_SQL = _minhash_sig_sql()


def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 MinHash band bucket.

    The signature table is repartitioned once so the band self-join's two
    sides share ONE exchange (ReusedExchange) — without it each side
    recomputes the full md5-per-shingle pass (A/B at sf0.1: ~2x)."""
    sig = dd_minhash_signatures(spark, sf_dir).repartition("doc_id")
    bands = sig.select(
        "doc_id", F.explode(_band_struct_array()).alias("bd")
    ).select("doc_id", "bd.band_no", "bd.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _minhash_lsh_sql() -> str:
    return f"""
WITH sigs AS ({DD_MINHASH_SIG_SQL.strip()}),
bands AS (
  SELECT doc_id, unnest([{_band_structs_sql()}]) AS bd FROM sigs
),
flat AS (SELECT doc_id, bd.band_no AS band_no, bd.bkey AS bkey FROM bands)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM flat a JOIN flat b
  ON a.band_no = b.band_no AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


DD_MINHASH_LSH_SQL = _minhash_lsh_sql()


# --- SimHash ---------------------------------------------------------------------

def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over tokens: per bit, sign of the sum of ±1 votes from
    each distinct token's hash bit."""
    d = _docs(spark, sf_dir).withColumn(
        "toks", F.array_distinct(F.split(F.lower(F.col("text")), " "))
    )
    th = d.withColumn(
        "hs", F.transform("toks", lambda t: mdhash_spark(t))
    )
    def _vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1)).cast("long")

    bit_cols = []
    for i in range(SIMHASH_BITS):
        votes = F.aggregate("hs", F.lit(0).cast("long"), _vote(i))
        bit_cols.append(
            F.when(votes > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return th.select("doc_id", total.alias("simhash"))


def _simhash_sql() -> str:
    tok_hash = MDHASH_SQL("t")
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH t1 AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(lower(text), ' ')),
                        t -> {tok_hash}) AS hs
  FROM documents
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM t1
"""


DD_SIMHASH_SQL = _simhash_sql()


# --- n-gram Jaccard near-dup -------------------------------------------------------

def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global token-3-gram Jaccard near-dup via prefix filtering
    (All-Pairs / PPJoin family, Bayardo et al. WWW'07): sort each doc's
    shingle-hash set, index only the first ``n - ceil(t*n) + 1`` hashes —
    any pair with J >= t MUST share a prefix element, so the candidate set
    from the prefix equi-join is lossless.  Sub-quadratic: candidates grow
    with shingle co-occurrence, never as all-pairs-within-block.  (Replaces
    the round-1 (lang, len_band) blocking that went quadratic inside hot
    blocks — and missed cross-band near-dups; this version is globally
    exact.)

    Two lossless prunes before the verify:
      - prefix filter itself (t = 0.5 -> prefix is floor(n/2) + 1 hashes);
      - size-ratio: J <= min/max, so 2*min(n_a, n_b) >= max is necessary.
    """
    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            # intersect hashed longs, not strings — same Jaccard (both engines
            # hash identically), far cheaper set ops
            F.array_sort(
                F.transform(_tok_shingles(F.col("text")), lambda g: mdhash_spark(g))
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        # one shuffle makes this node a shared exchange for all three
        # consumers (prefix index, both verify sides) — otherwise each
        # branch re-runs the md5-per-shingle scan (A/B at sf0.1: 7.7s -> 3.7s)
        .repartition("doc_id")
    )
    # prefix length for threshold t = NUM/DEN: n - ceil(t*n) + 1, all
    # integer arithmetic so the prefix, the prune and the verify stay tied
    # to the SAME threshold constants
    ceil_tn = F.floor((F.col("n_sh") * JACCARD_NUM + JACCARD_DEN - 1) / JACCARD_DEN)
    pref = d.select(
        "doc_id",
        "n_sh",
        F.explode(
            F.slice("sh", F.lit(1), F.col("n_sh") - ceil_tn + 1)
        ).alias("h"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless size-ratio prune: J <= min/max, so J >= NUM/DEN
            # requires min * DEN >= max * NUM (exact integer compare)
            & (
                F.least("a.n_sh", "b.n_sh") * JACCARD_DEN
                >= F.greatest("a.n_sh", "b.n_sh") * JACCARD_NUM
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    # threshold on the EXACT integer comparison (inter*DEN >= union*NUM) —
    # the prefix lemma guarantees candidates for exact J >= t; filtering on
    # round(j, 6) would admit pairs just UNDER t that the prefix may not
    # generate (rounding-boundary hole at ~1e6-shingle scale)
    return (
        j.filter(inter * JACCARD_DEN >= union * JACCARD_NUM)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


DD_NGRAM_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_sort(list_transform({_TOK_SHINGLES_SQL}, g -> {MDHASH_SQL('g')})) AS sh
  FROM documents
),
sized AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t),
pref AS (
  SELECT doc_id, n_sh,
         unnest(list_slice(sh, 1,
           CAST(n_sh - floor((n_sh * {JACCARD_NUM} + {JACCARD_DEN} - 1)
                             / {JACCARD_DEN}) + 1 AS BIGINT))) AS h
  FROM sized
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND least(a.n_sh, b.n_sh) * {JACCARD_DEN} >= greatest(a.n_sh, b.n_sh) * {JACCARD_NUM}
)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         AS jaccard
FROM cand c JOIN sized a ON a.doc_id = c.doc_a JOIN sized b ON b.doc_id = c.doc_b
WHERE len(list_intersect(a.sh, b.sh)) * {JACCARD_DEN}
      >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * {JACCARD_NUM}
"""


# --- embedding-cosine near-dup -------------------------------------------------------
#
# Blocking is banded random-hyperplane LSH (Charikar SimHash for angles), NOT
# the round-1 label blocking: label has ~10 distinct values forever, so its
# pair space is O(n^2/10) — quadratic at corpus scale — and on this fixture it
# found only 5 of the 59 true pairs (8% recall; planted near-dups cross
# labels).  Banded LSH gives the classic n^(1+rho) trade: per-plane agreement
# p = 1 - theta/pi, a band of r planes collides with p^r, B bands give recall
# 1-(1-p1^r)^B while random near-orthogonal pairs (p2 = 0.5) collide with
# 1-(1-p2^r)^B.  At COSINE_THS = 0.4 (p1 ~ 0.634) the chosen B=8 x r=4
# measures recall 49/59 = 0.83 with a 2.4x candidate cut on the fixture; at a
# production dup threshold (cos >= 0.9, p1 ~ 0.86, rho ~ 0.22) the same shape
# is strongly sub-quadratic — r scales with log(n) as the corpus grows.
# Hyperplanes are deterministic +-1 literals (seed 42) embedded in BOTH
# dialects, so candidates agree bit-for-bit.

import numpy as _np

DD_COS_PLANES_N = 32
DD_COS_BANDS = 8
DD_COS_R = DD_COS_PLANES_N // DD_COS_BANDS  # 4 planes per band
_DD_DIM = 64
DD_COS_PLANES: list[list[int]] = (
    (_np.random.RandomState(42).randint(0, 2, size=(DD_COS_PLANES_N, _DD_DIM)) * 2 - 1)
    .tolist()
)


def _dd_cos_band_structs():
    """Spark: array of (band_no, bkey) structs, bkey = r sign bits packed."""
    bits = []
    for plane in DD_COS_PLANES:
        coeffs = F.array(*[F.lit(float(c)) for c in plane])
        dot = F.aggregate(
            F.zip_with(F.col("v"), coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    bands = []
    for b in range(DD_COS_BANDS):
        key = F.lit(0)
        for j in range(DD_COS_R):
            key = key + bits[b * DD_COS_R + j] * (1 << j)
        bands.append(
            F.struct(F.lit(b).alias("band_no"), key.cast("int").alias("bkey"))
        )
    return F.array(*bands)


def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vectors: banded hyperplane-LSH candidate generation, then
    exact cosine verify at COSINE_THS.  Dot/norm as sequential double folds
    so both engines sum in the same order."""
    e = (
        spread_scan(
            # spread_scan (round 9): the 32-plane signature fold below is
            # ~2 s of interpreted HOF work on a one-task scan; the keyless
            # round-robin spread parallelizes it without the keyed
            # repartition("vec_id") that the round-2 A/B measured ~1.8x
            # SLOWER (that one re-planned the downstream joins; this one
            # is upstream of the band explode and vanishes on real
            # multi-split inputs)
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ),
            f"{sf_dir}/embeddings.parquet",
        )
        # norms once per row, not once per pair
        .withColumn(
            "nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x))
        )
    )
    bands = e.select(
        "vec_id", F.explode(_dd_cos_band_structs()).alias("bd")
    ).select("vec_id", "bd.band_no", "bd.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("nrm_a"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b"))
    j = cand.join(va, "vec_a").join(vb, "vec_b")
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    cos = F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6)
    return j.select("vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= COSINE_THS
    )


def _dd_cos_bands_sql() -> str:
    bit_exprs = []
    for plane in DD_COS_PLANES:
        lits = ", ".join(f"{float(c)}" for c in plane)
        bit_exprs.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(v, [{lits}]),"
            f" z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END)"
        )
    band_structs = ", ".join(
        "struct_pack(band_no := {b}, bkey := {key})".format(
            b=b,
            key=" + ".join(
                f"{bit_exprs[b * DD_COS_R + j]} * {1 << j}" for j in range(DD_COS_R)
            ),
        )
        for b in range(DD_COS_BANDS)
    )
    return band_structs


DD_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bands AS (
  SELECT vec_id, unnest([{_dd_cos_bands_sql()}]) AS bd FROM e
),
flat AS (SELECT vec_id, bd.band_no AS band_no, bd.bkey AS bkey FROM bands),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM flat a JOIN flat b
    ON a.band_no = b.band_no AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.vec_a, c.vec_b,
         round(
           list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cosine
  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {COSINE_THS}
"""


# --- the production cascade: LSH candidates -> exact Jaccard verify -----------------

def dd_lsh_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path near-dup operator: MinHash-LSH candidate generation
    (sub-quadratic) followed by exact Jaccard verification at JACCARD_THS.
    Contract: may miss pairs whose signatures never collide (P(miss) at
    J=0.5 with 4x2 bands documented in blocking.py terms) — the price of
    never materializing the quadratic pair space.

    One md5 pass total: the hashed-shingle base is repartitioned once and
    BOTH the signature derivation (hb = sh % P — identical values to
    mdhash(g) % P since sh IS mdhash(g)) and the two verify sides hang off
    that shared exchange."""
    base = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.array_sort(
                F.transform(_tok_shingles(F.col("text")), lambda g: mdhash_spark(g))
            ).alias("sh"),
        )
        .repartition("doc_id")
    )
    sigd = base.withColumn("hb", F.transform("sh", lambda h: h % _MH_P))
    sig = sigd.select("doc_id", *_sig_cols())
    bands = sig.select(
        "doc_id", F.explode(_band_struct_array()).alias("bd")
    ).select("doc_id", "bd.band_no", "bd.bkey")
    ba, bb_ = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb_,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        j.filter(inter * JACCARD_DEN >= union * JACCARD_NUM)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


DD_LSH_VERIFIED_SQL = f"""
WITH cand AS ({DD_MINHASH_LSH_SQL.strip()}),
sh_t AS (
  SELECT doc_id,
         list_sort(list_transform({_TOK_SHINGLES_SQL}, g -> {MDHASH_SQL('g')})) AS sh
  FROM documents
)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         AS jaccard
FROM cand c JOIN sh_t a ON a.doc_id = c.doc_a JOIN sh_t b ON b.doc_id = c.doc_b
WHERE len(list_intersect(a.sh, b.sh)) * {JACCARD_DEN}
      >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * {JACCARD_NUM}
"""


# --- dup clusters: the dedup end-game -------------------------------------------------

def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the verified near-dup pairs: connected
    components (the same operator the entity-canonicalization stage
    uses) over the LSH->verify edge list,
    then keeper = min doc_id per cluster.  This is what a corpus dedup
    actually ships — a per-doc (cluster_id, is_keeper) assignment — and at
    100 TB it inherits CC's distributed star loop (hub-safe min aggregates,
    per-round checkpoints).

    Output: one row per doc that appears in any dup pair; cluster_id is the
    min doc_id of the cluster (CC converges to min labels), is_keeper marks
    the retained representative.
    """
    from .connected_components import connected_components

    pairs = dd_lsh_verified_dups(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    cc = connected_components(edges)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


DD_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({DD_LSH_VERIFIED_SQL.strip()}),
sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, comp) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node
)
SELECT node AS doc_id, min(comp) AS cluster_id,
       node = min(comp) AS is_keeper
FROM reach GROUP BY node
"""


# --- bipartite band clustering: dedup clusters WITHOUT pairwise candidates ----------

_BAND_NODE_MOD = 1 << 40  # bucket-node id space (negative side)


def dd_band_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PRE-clusters with NO pairwise materialization: connected
    components over the doc <-> band-bucket BIPARTITE graph (edges = one row
    per (doc, band bucket), O(docs x bands)); docs sharing any band bucket
    land in one component transitively.

    This is the 100 TB escape hatch when even LSH candidate PAIRS are too
    many (a k-doc near-dup family yields k^2/2 pairs but only k bipartite
    edges).  Precision is lower than the verify cascade — transitive band
    connectivity, no Jaccard check — so production uses it as the recall
    stage feeding per-cluster verification; dd_lsh_verified_dups /
    dd_dup_clusters remain the precision path.

    Round-3 physical strategy: STAR COLLAPSE before CC.  Each band bucket
    is replaced by edges from its members to its MIN member (one groupBy +
    join), so connected components runs over doc-doc edges only — same
    components (buckets only relay connectivity), but the bucket nodes and
    the doc->bucket->doc hop are gone, which cuts both the CC node count
    and the graph diameter (= CC rounds = exchanges).  A/B at sf0.1, warm:
    8.5-8.6s bipartite -> 6.7-7.2s star, identical 5000-row output.
    Singleton docs (alone in every bucket) drop out of the star edge set
    and are re-added as their own cluster via a left join.

    The DuckDB oracle intentionally keeps the DIRECT bipartite reachability
    formulation (bucket nodes on the negative id side) — two independent
    formulations agreeing is a stronger check than twin plans.
    """
    from .connected_components import connected_components

    base = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.array_sort(
                F.transform(_tok_shingles(F.col("text")), lambda g: mdhash_spark(g))
            ).alias("sh"),
        )
        .repartition("doc_id")
    )
    sigd = base.withColumn("hb", F.transform("sh", lambda h: h % _MH_P))
    sig = sigd.select("doc_id", *_sig_cols())
    # bucket key = the SAME band key the pairwise LSH uses (shared
    # _band_struct_array definition) + a per-band offset, so band clusters
    # provably coarsen the verified-pair clusters
    memb = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                _band_struct_array(),
                lambda bd: bd["bkey"] + bd["band_no"] * 1_000_003,
            )
        ).alias("bnode_raw"),
    ).select(
        F.col("doc_id").alias("u"),
        F.pmod(F.col("bnode_raw"), F.lit(_BAND_NODE_MOD)).alias("bkt"),
    )
    hubs = memb.groupBy("bkt").agg(F.min("u").alias("hub"))
    star = (
        memb.join(hubs, "bkt")
        .filter(F.col("u") != F.col("hub"))
        .select("u", F.col("hub").alias("v"))
        .distinct()
    )
    cc = connected_components(star)  # node, component — multi-doc buckets only
    lab = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(cc.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    )
    # relabel deleted (r9): on the star-collapsed graph every CC node IS a
    # doc_id, and connected_components' contract is component = min member
    # id — so min(doc_id) per component equals the component itself and
    # the old groupBy + join-back relabel was an identity (it is NOT one
    # in the DuckDB twin, whose bipartite formulation can surface a
    # negative bucket node as the component min — the twin keeps its
    # relabel).  Two exchanges gone, values unchanged.
    return lab.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("doc_id") == F.col("component")).alias("is_keeper"),
    )


def _band_clusters_sql() -> str:
    band_nodes = ", ".join(
        f"({_band_key_sql(bb)} + {bb * 1_000_003})" for bb in range(MINHASH_BANDS)
    )
    return f"""
WITH RECURSIVE sigs AS ({DD_MINHASH_SIG_SQL.strip()}),
edges AS (
  SELECT doc_id AS u,
         -1 - (unnest([{band_nodes}]) % {_BAND_NODE_MOD}) AS v
  FROM sigs
),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
reach(node, comp) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node
),
assign AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
docs AS (SELECT node, component FROM assign WHERE node >= 0),
relabel AS (SELECT component, min(node) AS cluster_id FROM docs GROUP BY component)
SELECT d.node AS doc_id, r2.cluster_id AS cluster_id,
       d.node = r2.cluster_id AS is_keeper
FROM docs d JOIN relabel r2 USING (component)
"""


DD_BAND_CLUSTERS_SQL = _band_clusters_sql()


# --- decontamination: benchmark n-gram overlap ---------------------------------------

# containment threshold as an exact fraction (same discipline as JACCARD_*)
CONTAIN_NUM, CONTAIN_DEN = 1, 2  # C(d, b) = |S(d) ∩ S(b)| / |S(d)| >= 1/2
BENCH_MOD = 5  # doc_id % BENCH_MOD == 0 -> the held-out "benchmark" set (1/5 of
#   the corpus, sized so the planted near-dup families straddle the split and
#   the query discriminates; max background containment on the fixture is 0.13)


def dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set DECONTAMINATION: find corpus documents whose token-3-gram
    containment against any held-out benchmark document reaches
    CONTAIN_NUM/CONTAIN_DEN (C(d,b) = |S(d) ∩ S(b)| / |S(d)|) — the overlap
    check every pretraining pipeline runs before shipping data.

    Shape: the probe is an equi-join per shingle followed by one groupBy —
    the corpus is scanned once, never self-joined.  In production the
    benchmark side is the eval suites — small and fixed-size — and AQE's
    size-based planning broadcasts it when it fits; we deliberately do NOT
    pin an F.broadcast hint, because on THIS fixture the benchmark side is
    carved from the corpus (doc_id % BENCH_MOD) and therefore scales with
    the input: a hard hint on an input-proportional side is a guaranteed
    OOM at 100 TB (round-2 verdict, "What's wrong" #2).
    Benchmark docs themselves are excluded from the probe side.
    """
    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(_tok_shingles(F.col("text")), lambda g: mdhash_spark(g))
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        # one shuffle makes the md5-per-shingle scan a shared exchange for
        # BOTH branches (bench side + probe side) — the dd_ngram convention;
        # without it each branch recomputes the hash pass (A/B at sf0.1,
        # warm min-of-2: 5.7s -> 4.5s)
        .repartition("doc_id")
    )
    bench = d.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) == 0).select(
        F.col("doc_id").alias("bench_doc_id"), F.explode("sh").alias("h")
    )
    probe = d.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) != 0).select(
        "doc_id", "n_sh", F.explode("sh").alias("h")
    )
    inter = (
        probe.join(bench, "h")
        .groupBy("doc_id", "n_sh", "bench_doc_id")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    return (
        inter.filter(F.col("n_overlap") * CONTAIN_DEN >= F.col("n_sh") * CONTAIN_NUM)
        .select(
            "doc_id",
            "bench_doc_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_sh"), 6).alias("containment"),
        )
    )


DD_CONTAMINATION_SQL = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform({_TOK_SHINGLES_SQL}, g -> {MDHASH_SQL('g')})) AS sh
  FROM documents
),
sized AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d),
bench AS (
  SELECT doc_id AS bench_doc_id, unnest(sh) AS h FROM sized WHERE doc_id % {BENCH_MOD} = 0
),
probe AS (
  SELECT doc_id, n_sh, unnest(sh) AS h FROM sized WHERE doc_id % {BENCH_MOD} != 0
),
inter AS (
  SELECT p.doc_id, p.n_sh, b.bench_doc_id, count(*) AS n_overlap
  FROM probe p JOIN bench b USING (h)
  GROUP BY p.doc_id, p.n_sh, b.bench_doc_id
)
SELECT doc_id, bench_doc_id, n_overlap,
       round(n_overlap / n_sh, 6) AS containment
FROM inter
WHERE n_overlap * {CONTAIN_DEN} >= n_sh * {CONTAIN_NUM}
"""


# --- incremental (batch-vs-corpus) dedup ------------------------------------------

INCR_MOD, INCR_REM = 10, 7  # doc_id % 10 == 7 -> "today's arriving batch"


def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the arriving batch (deterministically
    doc_id % 10 == 7 — the stand-in for a daily ingest partition) checked
    against the already-ingested corpus WITHOUT comparing text: both sides
    reduce to the 60-bit content fp, the corpus side pre-aggregates to one
    (fp, min doc_id) row per distinct content, and the join ships only
    fingerprints.  Per incoming doc: ``matched_corpus_doc`` (min corpus
    doc sharing the fp; NULL = genuinely new content) and ``is_batch_dup``
    (an earlier doc in the SAME batch already carries the fp — the
    intra-batch dedup a daily pipeline also needs).

    Scale shape: at 100 TB the corpus side is a maintained fingerprint
    TABLE (exactly ``dd_exact``'s output), so the daily cost is
    O(batch + fp-table join) — never a corpus rescan; this query derives
    the fp table inline only because registry queries are self-contained.
    Streaming twin: streaming_exact_dedup (bounded-state variant).
    Reference analog: per-request duplicate suppression, api.py:66-84."""
    from pyspark.sql import Window

    d = _docs_raw(spark, sf_dir).select(
        "doc_id", mdhash_spark(F.col("text")).alias("text_fp")
    )
    inc = d.filter(F.pmod("doc_id", F.lit(INCR_MOD)) == INCR_REM)
    corpus_fp = (
        d.filter(F.pmod("doc_id", F.lit(INCR_MOD)) != INCR_REM)
        .groupBy("text_fp")
        .agg(F.min("doc_id").alias("matched_corpus_doc"))
    )
    w = Window.partitionBy("text_fp").orderBy("doc_id")
    return (
        inc.withColumn("rn", F.row_number().over(w))
        .join(corpus_fp, "text_fp", "left")
        .select(
            "doc_id",
            "text_fp",
            "matched_corpus_doc",
            (F.col("rn") > 1).alias("is_batch_dup"),
        )
    )


DD_INCREMENTAL_SQL = f"""
WITH d AS (
  SELECT doc_id, {MDHASH_SQL('text')} AS text_fp FROM documents
),
inc AS (
  SELECT doc_id, text_fp,
         row_number() OVER (PARTITION BY text_fp ORDER BY doc_id) AS rn
  FROM d WHERE doc_id % {INCR_MOD} = {INCR_REM}
),
corpus_fp AS (
  SELECT text_fp, min(doc_id) AS matched_corpus_doc
  FROM d WHERE doc_id % {INCR_MOD} <> {INCR_REM} GROUP BY text_fp
)
SELECT i.doc_id, i.text_fp, c.matched_corpus_doc, i.rn > 1 AS is_batch_dup
FROM inc i LEFT JOIN corpus_fp c USING (text_fp)
"""
