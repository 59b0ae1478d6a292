"""Second batch of SURVEY.md §2 operators with DuckDB twins — the rows not
covered by operators/relational.py: text encoding (R3), graph-size norm
(E4), one relational message-passing round (A2/A3 as join+agg), accuracy
metrics (A10), confusion matrix (O3), mention-level output projection (O2),
conversation crop/trim (P8), and a ROLLUP metrics table (§2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rules import ALPHABET, NODE_LABELS
from ..functions import duckdb_oracle
from ..sources.scan import spread_scan
from ..sources.transcripts import transcripts_from_documents
from .mention_detect import detect_mentions_arrow
from .graph_analytics import top_n
from .relational import ROUND_DP

# --- R3: text encoding (ref kie_utils.py:68-75, configs.py:54) ---------------
# uppercase, map each char to its 1-based alphabet index, OOV -> index of
# ' ' (63).  Emitted as a ','-joined string so the hash compare is scalar.

SPACE_IDX = ALPHABET.index(" ") + 1  # 63


def r3_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed width 50 mirrors train_kie.py:44-56; whole expression in SQL so
    # the per-char index lambda stays a single codegen'd expression
    d = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"),
        f"{sf_dir}/documents.parquet",
    )
    return d.select(
        "doc_id",
        F.expr(
            f"""
            array_join(
              transform(
                sequence(1, length(substring(text, 1, 50))),
                i -> cast(coalesce(
                       nullif(instr('{ALPHABET}', substr(upper(substring(text, 1, 50)), i, 1)), 0),
                       {SPACE_IDX}) as string)
              ), ',')
            """
        ).alias("encoded"),
    )


R3_SQL = f"""
SELECT doc_id,
       array_to_string(
         list_transform(
           range(1, length(substring(text, 1, 50)) + 1),
           i -> CAST(CASE WHEN strpos('{ALPHABET}', substring(upper(substring(text, 1, 50)), i, 1)) = 0
                     THEN {SPACE_IDX}
                     ELSE strpos('{ALPHABET}', substring(upper(substring(text, 1, 50)), i, 1)) END
                AS VARCHAR)), ',') AS encoded
FROM documents
"""


# --- E4: graph-size normalizers (ref kie_utils.py:158-164) --------------------

def e4_graph_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snorm_n = sqrt(1/n_mentions) per conversation graph."""
    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return m.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.round(F.sqrt(1.0 / F.count("*")), 6).alias("snorm_n"),
    )


E4_SQL_TEMPLATE = """
SELECT conv_id, count(*) AS n_nodes, round(sqrt(1.0 / count(*)), 6) AS snorm_n
FROM ({mentions}) GROUP BY conv_id
"""


# --- A2+A3: one message-passing round as join + aggregate ---------------------
# Per destination event: sigmoid-gated weighted mean of same-user source
# values within the 1h band — the GatedGCN reduce (gated_gcn.py:76-84)
# expressed relationally.

A2A3_BAND_US = 3_600_000_000  # 1h gate band == the time-bucket width


def a2a3_message_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per destination event: sigmoid-gated weighted mean of same-user source
    values within the 1h band (GatedGCN reduce, ref gated_gcn.py:76-84).

    Round-3 rewrite: blocked on (user_id, time_bucket) — the identical cure
    applied to e2_band_self_join (relational.py:360).  Each event explodes
    into buckets {floor(t/B), floor(t/B)+1} with B = the band width, so any
    pair with |Δt| <= B shares a bucket (lossless), and the join is a pure
    equi-join on (user_id, bucket) instead of the round-2 bare user_id join
    that materialized O(n_u²) pairs per hot user before the band filter.
    Directed edges are DISTINCT-deduped because a pair whose two events fall
    in the same base bucket collides in BOTH exploded buckets."""
    B = A2A3_BAND_US
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    bucketed = ev.select(
        "user_id", "event_id", "value", "ts_us",
        F.explode(
            F.array(F.floor(F.col("ts_us") / B), F.floor(F.col("ts_us") / B) + 1)
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(
            (F.col("a.event_id") != F.col("b.event_id"))
            & (F.abs(F.col("a.ts_us") - F.col("b.ts_us")) <= F.lit(B))
        )
        .select(
            F.col("b.event_id").alias("event_id"),
            F.col("a.event_id").alias("src_id"),
            F.col("a.value").alias("src_value"),
            F.abs(F.col("a.ts_us") - F.col("b.ts_us")).alias("adus"),
        )
        .distinct()
    )
    gate = 1.0 / (1.0 + F.exp(F.col("adus") / F.lit(float(B)) - 0.5))
    # FIXED-POINT accumulation (CLAUDE.md float-sum rule): the per-edge gate
    # terms are quantized to integers (gv in micro-units, g in nano-units)
    # BEFORE summing, so the aggregation is exact bigint arithmetic and the
    # result cannot depend on Spark's partial-agg order vs DuckDB's scan
    # order; the only float ops are per-edge (deterministic) and one final
    # division.  Quantization error <= 1e-6 on h_agg, rounded at ROUND_DP.
    gv_fx = F.round(gate * F.col("src_value") * 1e6, 0).cast("bigint")
    g_fx = F.round(gate * 1e9, 0).cast("bigint")
    return (
        edges.select("event_id", gv_fx.alias("gv_fx"), g_fx.alias("g_fx"))
        .groupBy("event_id")
        .agg(
            F.round(
                (F.sum("gv_fx") / 1e6) / (F.sum("g_fx") / 1e9 + 1e-6), ROUND_DP
            ).alias("h_agg"),
            F.count("*").cast("bigint").alias("n_in"),
        )
    )


A2A3_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
),
bucketed AS (
  SELECT user_id, event_id, value, ts_us,
         unnest([CAST(floor(ts_us / {A2A3_BAND_US}) AS BIGINT),
                 CAST(floor(ts_us / {A2A3_BAND_US}) AS BIGINT) + 1]) AS bucket
  FROM ev
),
edges AS (
  SELECT DISTINCT b.event_id AS event_id, a.event_id AS src_id,
         a.value AS src_value, abs(a.ts_us - b.ts_us) AS adus
  FROM bucketed a JOIN bucketed b
    ON a.user_id = b.user_id AND a.bucket = b.bucket
  WHERE a.event_id != b.event_id AND abs(a.ts_us - b.ts_us) <= {A2A3_BAND_US}
),
gated AS (
  SELECT event_id,
         CAST(round((1.0 / (1.0 + exp(adus / {A2A3_BAND_US}.0 - 0.5)))
                    * src_value * 1000000.0, 0) AS BIGINT) AS gv_fx,
         CAST(round((1.0 / (1.0 + exp(adus / {A2A3_BAND_US}.0 - 0.5)))
                    * 1000000000.0, 0) AS BIGINT) AS g_fx
  FROM edges
)
SELECT event_id,
       round((sum(gv_fx) / 1000000.0) / (sum(g_fx) / 1000000000.0 + 1e-6),
             {ROUND_DP}) AS h_agg,
       count(*) AS n_in
FROM gated GROUP BY event_id
"""


# --- A10: accuracy metrics (ref gated_gcn.py:492-495, train_kie.py:200-221) ----

def a10_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pred = F.when(
        (F.array_max("embedding") >= F.lit(0.5))
        & (F.array_position("embedding", F.array_max("embedding")) != F.lit(1)),
        F.array_position("embedding", F.array_max("embedding")) - 1,
    ).otherwise(F.lit(0)).cast("int")
    p = emb.select(F.col("label").alias("gold"), pred.alias("pred"))
    return p.groupBy("gold").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg((F.col("pred") == F.col("gold")).cast("double")), 6).alias("accuracy"),
    )


A10_SQL = """
WITH p AS (
  SELECT label AS gold,
         CAST(CASE WHEN list_max(embedding) >= 0.5
                    AND list_position(embedding, list_max(embedding)) != 1
               THEN list_position(embedding, list_max(embedding)) - 1
               ELSE 0 END AS INTEGER) AS pred
  FROM embeddings
)
SELECT gold, count(*) AS n,
       round(avg(CASE WHEN pred = gold THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM p GROUP BY gold
"""


# --- O3: confusion matrix (ref evaluate.py:73-87) ------------------------------

def o3_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pred = F.when(
        (F.array_max("embedding") >= F.lit(0.5))
        & (F.array_position("embedding", F.array_max("embedding")) != F.lit(1)),
        F.array_position("embedding", F.array_max("embedding")) - 1,
    ).otherwise(F.lit(0)).cast("int")
    return (
        emb.select(F.col("label").alias("gold"), pred.alias("pred"))
        .groupBy("gold", "pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


O3_SQL = """
WITH p AS (
  SELECT label AS gold,
         CAST(CASE WHEN list_max(embedding) >= 0.5
                    AND list_position(embedding, list_max(embedding)) != 1
               THEN list_position(embedding, list_max(embedding)) - 1
               ELSE 0 END AS INTEGER) AS pred
  FROM embeddings
)
SELECT gold, pred, count(*) AS n FROM p GROUP BY gold, pred
"""


# --- O2: mention-level output projection (ref inference_kie.py:140-180) --------

def o2_mention_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mention result objects: label id, span bounds — the display_json
    analog with least/greatest over the span."""
    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    label_idx = F.array_position(
        F.array(*[F.lit(l) for l in NODE_LABELS]), F.col("mention_type")
    ) - 1
    return m.select(
        "conv_id",
        "turn_idx",
        "surface",
        F.col("mention_type").alias("label"),
        label_idx.cast("int").alias("label_id"),
        F.least("span_start", "span_end").alias("x_min"),
        F.greatest("span_start", "span_end").alias("x_max"),
        F.length("surface").cast("int").alias("span_len"),
    )


def o2_sql() -> str:
    whens = " ".join(f"WHEN '{l}' THEN {i}" for i, l in enumerate(NODE_LABELS))
    return (
        duckdb_oracle._classified_tokens_cte("SELECT doc_id AS k FROM documents")
        + f"""
SELECT conv_id, turn_idx, surface, mention_type AS label,
       CAST(CASE mention_type {whens} END AS INTEGER) AS label_id,
       least(span_start, span_end) AS x_min,
       greatest(span_start, span_end) AS x_max,
       CAST(length(surface) AS INTEGER) AS span_len
FROM lab WHERE mention_type != 'OTHER'
"""
    )


# --- P8: conversation crop (ref backend_utils.py:135-143) ----------------------

def p8_trim_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim leading/trailing mention-less turns per conversation — the
    bounding-box crop of non-zero content lifted to transcripts."""
    t = transcripts_from_documents(spark, sf_dir)
    m = detect_mentions_arrow(t)
    bounds = m.groupBy("conv_id").agg(
        F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi")
    )
    return (
        t.join(bounds, "conv_id")
        .filter((F.col("turn_idx") >= F.col("lo")) & (F.col("turn_idx") <= F.col("hi")))
        .select("conv_id", "turn_idx", "text")
    )


def p8_sql() -> str:
    return (
        duckdb_oracle._classified_tokens_cte("SELECT doc_id AS k FROM documents")
        + """
, bounds AS (
  SELECT conv_id, min(turn_idx) AS lo, max(turn_idx) AS hi
  FROM lab WHERE mention_type != 'OTHER' GROUP BY conv_id
)
SELECT t.conv_id, t.turn_idx, t.text
FROM transcripts t JOIN bounds b ON t.conv_id = b.conv_id
WHERE t.turn_idx BETWEEN b.lo AND b.hi
"""
    )


# --- S2: JSON ingestion (ref prepare_data.py:10-23) -----------------------------
# events.props carries a JSON payload; parse + project fields.

def s2_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.when(F.get_json_object("props", "$.k").cast("bigint") >= 50, "high")
        .otherwise("low")
        .alias("k_band"),
    )


S2_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
"""


# --- S3: small-dimension mapping via broadcast join (ref convert_labelme.py) ----

EVENT_CATEGORY = {
    "view": "passive",
    "click": "active",
    "purchase": "conversion",
    "signup": "conversion",
    "logout": "passive",
}


def s3_mapping_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup-table projection: broadcast the tiny mapping dim (the
    reference's cate/group dict lookups as a join)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mapping = ev.sparkSession.createDataFrame(
        sorted(EVENT_CATEGORY.items()), "event_type string, category string"
    )
    return (
        ev.join(F.broadcast(mapping), "event_type", "left")
        .groupBy(F.coalesce("category", F.lit("other")).alias("category"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _s3_sql() -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in sorted(EVENT_CATEGORY.items()))
    return f"""
WITH mapping(event_type, category) AS (VALUES {rows})
SELECT coalesce(m.category, 'other') AS category, count(*) AS n
FROM events e LEFT JOIN mapping m USING (event_type)
GROUP BY 1
"""


S3_SQL = _s3_sql()


# --- G5a: explicit window ranking over turns (ref contour sort) ------------------

def g5_turn_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .turn_order import ordered_turns

    t = ordered_turns(transcripts_from_documents(spark, sf_dir))
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("turn_rank").cast("int").alias("turn_rank"),
        F.lag("role").over(w).alias("prev_role"),
    )


def g5_turn_rank_sql() -> str:
    return f"""
WITH transcripts AS ({duckdb_oracle.duckdb_transcripts_sql()})
SELECT conv_id, turn_idx,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS INTEGER)
         AS turn_rank,
       lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS prev_role
FROM transcripts
"""


# --- G5b: whole-conversation ordered merge ---------------------------------------

def g5_merge_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .turn_order import merge_conversation_text

    t = transcripts_from_documents(spark, sf_dir)
    return merge_conversation_text(t).select(
        "conv_id", "conv_text", F.col("n_turns").cast("bigint").alias("n_turns")
    )


def g5_merge_sql() -> str:
    return f"""
WITH transcripts AS ({duckdb_oracle.duckdb_transcripts_sql()})
SELECT conv_id,
       string_agg(text, ' ' ORDER BY turn_idx, ts) AS conv_text,
       count(*) AS n_turns
FROM transcripts GROUP BY conv_id
"""


# --- G4: key-carrying re-alignment (semi-join) (ref backend_utils.py:160-187) ----

def g4_realign_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only turns that produced >= 1 mention — the reference's 'keep
    matched boxes' as a left-semi join on the carried key (no O(n^2) scan)."""
    t = transcripts_from_documents(spark, sf_dir)
    m = detect_mentions_arrow(t)
    return (
        t.join(m.select("conv_id", "turn_idx").distinct(), ["conv_id", "turn_idx"], "left_semi")
        .select("conv_id", "turn_idx", "role")
    )


def g4_sql() -> str:
    return (
        duckdb_oracle._classified_tokens_cte("SELECT doc_id AS k FROM documents")
        + """
SELECT t.conv_id, t.turn_idx, t.role
FROM transcripts t
WHERE EXISTS (SELECT 1 FROM lab l
              WHERE l.conv_id = t.conv_id AND l.turn_idx = t.turn_idx
                AND l.mention_type != 'OTHER')
"""
    )


# --- set operations: split partition check (SURVEY §2.9 set ops) ----------------

def setop_split_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of the three splits reconstructs the corpus and the splits are
    pairwise disjoint — expressed with UNION/INTERSECT/EXCEPT.  One lazily
    planned DataFrame: each check is a scalar agg over the set expression
    and the four are unioned, so the caller's single action runs ONE job
    (round 1 drove four driver-side .count() actions here — the only
    queries() entry that hid actions inside the plan builder)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.pmod("doc_id", F.lit(20)).alias("m")
    )
    train = d.filter(F.col("m") < 14).select("doc_id")
    val = d.filter((F.col("m") >= 14) & (F.col("m") < 17)).select("doc_id")
    test = d.filter(F.col("m") >= 17).select("doc_id")

    def scalar(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check"), F.count("*").cast("bigint").alias("n")
        )

    return (
        scalar("union_reconstructs", train.union(val).union(test).distinct())
        .unionByName(scalar("train_val_overlap", train.intersect(val)))
        .unionByName(scalar("val_test_overlap", val.intersect(test)))
        .unionByName(
            scalar(
                "corpus_minus_splits",
                d.select("doc_id").exceptAll(train.union(val).union(test)),
            )
        )
    )


SETOP_SQL = """
WITH d AS (SELECT doc_id, doc_id % 20 AS m FROM documents),
train AS (SELECT doc_id FROM d WHERE m < 14),
val AS (SELECT doc_id FROM d WHERE m >= 14 AND m < 17),
tst AS (SELECT doc_id FROM d WHERE m >= 17)
SELECT 'union_reconstructs' AS check,
       (SELECT count(*) FROM (SELECT doc_id FROM train UNION
                              SELECT doc_id FROM val UNION
                              SELECT doc_id FROM tst)) AS n
UNION ALL
SELECT 'train_val_overlap',
       (SELECT count(*) FROM (SELECT doc_id FROM train INTERSECT SELECT doc_id FROM val))
UNION ALL
SELECT 'val_test_overlap',
       (SELECT count(*) FROM (SELECT doc_id FROM val INTERSECT SELECT doc_id FROM tst))
UNION ALL
SELECT 'corpus_minus_splits',
       (SELECT count(*) FROM (SELECT doc_id FROM d EXCEPT ALL
                              (SELECT doc_id FROM train UNION ALL
                               SELECT doc_id FROM val UNION ALL
                               SELECT doc_id FROM tst)))
"""


# --- §2.9: ROLLUP metrics table -------------------------------------------------

def rollup_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.rollup("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(lang, source)
"""


# --- percentiles (exact, interpolated) -------------------------------------------

def stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark percentile() and
    DuckDB quantile_cont share the continuous definition)."""
    li = spread_scan(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_returnflag", "l_extendedprice"
        ),
        f"{sf_dir}/lineitem.parquet",
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


# --- window analytics: ntile + lag/lead -------------------------------------------

def w_ntile_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("value"), F.col("event_id"))
    return ev.select(
        "user_id",
        "event_id",
        F.ntile(4).over(wd).cast("int").alias("value_quartile"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


W_NTILE_SQL = """
SELECT user_id, event_id,
       CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS INTEGER)
         AS value_quartile,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events
"""


# --- CUBE over two dims -------------------------------------------------------------

def cube_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.cube("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "n_docs",
        )
    )


CUBE_SQL = """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       count(*) AS n_docs
FROM documents GROUP BY CUBE(lang, source)
"""


def grouping_sets_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third multi-level-agg surface next to
    ROLLUP and CUBE: per-lang, per-source, and per-(lang, source) totals in
    one pass (no grand total — the asymmetry CUBE can't express)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.groupingSets([["lang"], ["source"], ["lang", "source"]], "lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


GROUPING_SETS_SQL = """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY GROUPING SETS ((lang), (source), (lang, source))
"""


def w_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the rolling 30-minute sum of event
    values (RANGE BETWEEN 30 min PRECEDING AND CURRENT ROW over event time).
    The physical ordering key is integer microseconds and the sum runs on
    integer cents, so both engines fold identically (float-sum order and
    fractional-epoch traps from CLAUDE.md).  Ties on ts within a user are
    legal for RANGE frames — peers aggregate together in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.sum("cents").over(w).cast("bigint").alias("roll_cents_30m"),
    )


W_RANGE_FRAME_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, event_id, ts_us,
       CAST(sum(cents) OVER (
         PARTITION BY user_id ORDER BY ts_us
         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS roll_cents_30m
FROM ev
"""


# --- TPC-H Q1-style pricing summary (exact decimal arithmetic) ---------------------

def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic groupBy-many-aggs report; money sums in exact cents so
    summation order can't move the hash."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = lambda c: F.sum(F.round(F.col(c) * 100).cast("bigint"))  # noqa: E731
    qty = F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (qty / 100.0).alias("sum_qty"),
            (cents("l_extendedprice") / 100.0).alias("sum_base_price"),
            (F.floor(qty * 100.0 / n) / 10000.0).alias("avg_qty"),
            (F.floor(cents("l_extendedprice") * 100.0 / n) / 10000.0).alias("avg_price"),
            (F.floor(cents("l_discount") * 100.0 / n) / 10000.0).alias("avg_disc"),
            n.cast("bigint").alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       floor(sum(CAST(round(l_quantity * 100) AS BIGINT)) * 100.0 / count(*)) / 10000.0 AS avg_qty,
       floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100.0 / count(*)) / 10000.0 AS avg_price,
       floor(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100.0 / count(*)) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- pivot (wide confusion matrix) ---------------------------------------------------

def o3_confusion_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pred = F.when(
        (F.array_max("embedding") >= F.lit(0.5))
        & (F.array_position("embedding", F.array_max("embedding")) != F.lit(1)),
        F.array_position("embedding", F.array_max("embedding")) - 1,
    ).otherwise(F.lit(0)).cast("int")
    p = emb.select(F.col("label").alias("gold"), pred.alias("pred"))
    out = p.groupBy("gold").pivot("pred", list(range(10))).count().na.fill(0)
    return out.select(
        "gold", *[F.col(str(i)).cast("bigint").alias(f"pred_{i}") for i in range(10)]
    )


def _pivot_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN pred = {i} THEN 1 ELSE 0 END) AS BIGINT) AS pred_{i}"
        for i in range(10)
    )
    return f"""
WITH p AS (
  SELECT label AS gold,
         CAST(CASE WHEN list_max(embedding) >= 0.5
                    AND list_position(embedding, list_max(embedding)) != 1
               THEN list_position(embedding, list_max(embedding)) - 1
               ELSE 0 END AS INTEGER) AS pred
  FROM embeddings
)
SELECT gold,
       {cols}
FROM p GROUP BY gold
"""


O3_PIVOT_SQL = _pivot_sql()


# --- unpivot (wide -> long) ------------------------------------------------------------

def unpivot_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the per-customer readout aggregates into (key, metric, value)."""
    from .relational import a6_readout

    wide = a6_readout(spark, sf_dir)
    return wide.unpivot(
        "o_custkey",
        ["sum_price", "max_price", "avg_price"],
        "metric",
        "value",
    ).select("o_custkey", "metric", F.round("value", 4).alias("value"))


def _unpivot_sql() -> str:
    from .relational import A6_SQL

    return f"""
WITH wide AS ({A6_SQL.strip()})
SELECT o_custkey, metric, round(value, 4) AS value FROM (
  SELECT o_custkey, 'sum_price' AS metric, sum_price AS value FROM wide
  UNION ALL SELECT o_custkey, 'max_price', max_price FROM wide
  UNION ALL SELECT o_custkey, 'avg_price', avg_price FROM wide
)
"""


UNPIVOT_SQL = _unpivot_sql()


# --- approximate sketches (no exact oracle by nature: rows-only check) ------------------

KMV_K = 64            # bottom-k size of the distinct sketch (rel σ ≈ 1/√(k−2) ≈ 12.7%)
SAMPLE_K = 256        # bottom-k sample size of the quantile sketch
_HASH_SPACE = 1 << 60  # mdhash range: first 15 md5 hex chars = 60 bits


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users + median value per event_type via
    DETERMINISTIC mergeable sketches that are exactly reproducible across
    engines: HLL/t-digest internals are engine-private, while these are
    pure order statistics of a shared md5 hash, so DuckDB computes
    byte-identical results and the hash gate applies:

    - ``approx_users``: KMV / bottom-k distinct sketch (Bar-Yossef et al.
      2002) — estimate ``(k−1)·2^60 DIV h_k`` from the k-th smallest
      DISTINCT 60-bit hash of user_id; exact count when a group holds
      fewer than k distinct hashes (the sf0.001 groups take this branch,
      the sf0.01+ groups the estimator branch).
    - ``approx_p50``: exact median (lower-middle order statistic, no
      interpolation arithmetic) of a deterministic bottom-k sample — the
      k rows with smallest md5(event_id) per group.

    Both sketches are mergeable (union of bottom-k sets = bottom-k of
    union), which is what makes them sketches at 100 TB and not a collect.
    Accuracy vs exact values is pinned in tests/test_approx_bounds.py.

    Scale shape: each bottom-k is one window per group (graph_analytics.
    top_n), which Spark runs as a group limit on both sides of the
    exchange, so no window sorts a whole group in a single task.

    Reference analog: metric profiling in scripts/evaluate.py:119-131.
    """
    from pyspark.sql import Window

    from .text_analysis import mdhash_spark

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    # --- KMV distinct-user sketch -------------------------------------------------
    du = ev.select(
        "event_type", mdhash_spark(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    botk = top_n(du, "event_type", ["h"], KMV_K)
    kmv = botk.groupBy("event_type").agg(
        F.count("*").alias("n_h"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("h_k"),
    )
    users = kmv.select(
        "event_type",
        F.when(F.col("n_h") < KMV_K, F.col("n_h").cast("bigint"))
        .otherwise(
            F.expr(
                f"CAST((CAST({KMV_K - 1} AS DECIMAL(38,0)) * {_HASH_SPACE})"
                " DIV h_k AS BIGINT)"
            )
        )
        .alias("approx_users"),
    )

    # --- bottom-k sampled median ---------------------------------------------------
    sm = ev.filter(F.col("value").isNotNull()).select(
        "event_type", "event_id", "value",
        mdhash_spark(F.col("event_id").cast("string")).alias("hs"),
    )
    samp = top_n(sm, "event_type", ["hs", "event_id"], SAMPLE_K)
    vw = Window.partitionBy("event_type").orderBy("value", "event_id")
    cw = Window.partitionBy("event_type")
    meds = (
        samp.withColumn("vr", F.row_number().over(vw))
        .withColumn("n_s", F.count("*").over(cw))
        .filter(F.col("vr") == F.expr("CAST((n_s + 1) DIV 2 AS INT)"))
        .select("event_type", F.col("value").alias("approx_p50"))
    )

    n_exact = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    # meds joins LEFT: a group whose `value` column is entirely NULL has no
    # median sample, and an inner join would drop the whole group from the
    # output; it keeps its row with a NULL approx_p50 instead.
    return users.join(meds, "event_type", "left").join(n_exact, "event_type")


def approx_stats_sql() -> str:
    """DuckDB twin of approx_stats — the SAME order-statistic sketches over
    the SAME 60-bit md5 hash, so values (not just rows/schema) match."""
    from .text_analysis import MDHASH_SQL

    hu = MDHASH_SQL("CAST(user_id AS VARCHAR)")
    he = MDHASH_SQL("CAST(event_id AS VARCHAR)")
    return f"""
WITH du AS (
  SELECT DISTINCT event_type, {hu} AS h FROM events
),
botk AS (
  SELECT * FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM du
  ) WHERE rn <= {KMV_K}
),
kmv AS (
  SELECT event_type, count(*) AS n_h,
         max(CASE WHEN rn = {KMV_K} THEN h END) AS h_k
  FROM botk GROUP BY event_type
),
users AS (
  SELECT event_type,
         CASE WHEN n_h < {KMV_K} THEN CAST(n_h AS BIGINT)
              ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {_HASH_SPACE}) // h_k
                        AS BIGINT) END AS approx_users
  FROM kmv
),
sm AS (
  SELECT event_type, event_id, value, {he} AS hs
  FROM events WHERE value IS NOT NULL
),
samp AS (
  SELECT * FROM (
    SELECT event_type, event_id, value, hs,
           row_number() OVER (PARTITION BY event_type ORDER BY hs, event_id) AS rn
    FROM sm
  ) WHERE rn <= {SAMPLE_K}
),
meds AS (
  SELECT event_type, value AS approx_p50
  FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS vr,
           count(*) OVER (PARTITION BY event_type) AS n_s
    FROM samp
  ) WHERE vr = (n_s + 1) // 2
),
n_exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type
)
SELECT u.event_type, u.approx_users, m.approx_p50, x.n
FROM users u LEFT JOIN meds m USING (event_type) JOIN n_exact x USING (event_type)
"""


# --- batch sessionization (lag + gap cumsum) ------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic batch sessionization: a new session starts when the gap to
    the previous event of the same user exceeds 30 min; session_id = cumsum
    of the new-session flags.  One window chain, no Python."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("ns", new_sess)
        .withColumn(
            "session_no",
            F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


SESSIONIZE_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
flags AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_no
  FROM flags
)
SELECT user_id, session_no, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM sess GROUP BY user_id, session_no
"""


# --- explicit top-K per group -----------------------------------------------------------

def topk_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rk").cast("int").alias("rk"), "o_totalprice")
    )


TOPK_SQL = """
SELECT o_custkey, o_orderkey, CAST(rk AS INTEGER) AS rk, o_totalprice FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


# --- Levenshtein near-dup over distinct linked surfaces ---------------------------------

# MinHash band blocking constants for the levenshtein query — md5-portable
# twins of operators/blocking.py's 8x2-band scheme (that module's bands use
# xxhash64, which has no DuckDB twin, so this query re-derives them from the
# shared md5 hash convention).  P = 2^31-1 keeps affine products overflow-safe
# in both engines.
_LEV_P = (1 << 31) - 1
_LEV_K = 16
_LEV_BANDS = 8
_LEV_R = _LEV_K // _LEV_BANDS


def el_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup over the distinct BRAND surfaces — the string
    metric complementing Jaccard.  Round 1 ran an unconditioned self-cross
    join over distinct surfaces (quadratic once distinct surfaces hit
    millions); candidates now come from MinHash band blocking over char
    3-grams of the normalized form (the blocking.band_keys scheme,
    re-derived md5-portable so the DuckDB twin computes identical bands),
    then the levenshtein(norm) <= 3 verify runs only on colliding pairs.
    Norm-equal aliases share every band, so true alias pairs always survive;
    band recall for edited forms follows the 8x2 MinHash curve documented in
    blocking.py.

    CONTRACT IS APPROXIMATE (round-3 ADVICE item): measured fixture recall
    vs the exhaustive round-1 formulation is 23/33 = 0.697
    (tests/test_levenshtein_recall.py, floor pinned at 0.65).  Every dropped
    pair is a cross-entity edit-distance-3 coincidence (HABECO↔HaoHao,
    MASAN↔VISSAN) whose char-3-gram Jaccard is <= 0.25 — pairs the entity
    linker must NOT merge anyway; blocking is sound (output ⊆ exhaustive,
    asserted)."""
    from .blocking import normalize_surface
    from .text_analysis import mdhash_spark

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    s = (
        m.filter(F.col("mention_type") == "BRAND")
        .select("surface")
        .distinct()
        # distance on the ASCII-normalized form: Spark counts codepoints but
        # DuckDB counts bytes, so multi-byte chars would diverge
        .withColumn("norm", normalize_surface(F.col("surface")))
    )
    padded = F.concat(F.lit("^^"), F.col("norm"), F.lit("$$"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - F.lit(2)),
            lambda i: padded.substr(i, F.lit(3)),
        )
    )
    s = s.withColumn("hb", F.transform(grams, lambda g: mdhash_spark(g) % _LEV_P))

    def _mh(i: int):
        a, b = 2 * i + 3, (7919 * (i + 1)) % _LEV_P
        return lambda h: (h * a + b) % _LEV_P

    sig = s.select(
        "surface",
        "norm",
        *[F.array_min(F.transform("hb", _mh(i))).alias(f"mh_{i}") for i in range(_LEV_K)],
    )
    bands = sig.select(
        "surface",
        "norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        mdhash_spark(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh_{j}").cast("string")
                                    for j in range(b * _LEV_R, (b + 1) * _LEV_R)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(_LEV_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("surface", "norm", "bd.band_no", "bd.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .select(
            F.col("a.surface").alias("surface_a"),
            F.col("b.surface").alias("surface_b"),
            F.col("a.norm").alias("na"),
            F.col("b.norm").alias("nb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("na", "nb").cast("int"))
        .filter(F.col("edit_dist") <= 3)
        .select("surface_a", "surface_b", "edit_dist")
    )


def el_levenshtein_sql() -> str:
    from .text_analysis import MDHASH_SQL

    norm = duckdb_oracle.NORM_SQL.format(col="surface")
    base = MDHASH_SQL("g")
    sig_cols = ",\n       ".join(
        f"list_min(list_transform(hb, h -> (h * {2 * i + 3} + {(7919 * (i + 1)) % _LEV_P}) % {_LEV_P}))"
        f" AS mh_{i}"
        for i in range(_LEV_K)
    )
    band_structs = ", ".join(
        "struct_pack(band_no := {b}, bkey := {h})".format(
            b=b,
            h=MDHASH_SQL(
                "concat_ws(',', "
                + ", ".join(f"CAST(mh_{j} AS VARCHAR)" for j in range(b * _LEV_R, (b + 1) * _LEV_R))
                + ")"
            ),
        )
        for b in range(_LEV_BANDS)
    )
    return (
        duckdb_oracle._classified_tokens_cte("SELECT doc_id AS k FROM documents")
        + f"""
, s AS (SELECT DISTINCT surface, {norm} AS norm
        FROM lab WHERE mention_type = 'BRAND')
, sh_t AS (
  SELECT surface, norm,
         list_transform(
           list_distinct(list_transform(
             range(1, length('^^' || norm || '$$') - 1),
             i -> substr('^^' || norm || '$$', CAST(i AS INTEGER), 3))),
           g -> {base} % {_LEV_P}) AS hb
  FROM s
)
, sigs AS (SELECT surface, norm, {sig_cols} FROM sh_t)
, lev_bands AS (SELECT surface, norm, unnest([{band_structs}]) AS bd FROM sigs)
, lev_flat AS (SELECT surface, norm, bd.band_no AS band_no, bd.bkey AS bkey FROM lev_bands)
, lev_cand AS (
  SELECT DISTINCT a.surface AS surface_a, b.surface AS surface_b,
         a.norm AS na, b.norm AS nb
  FROM lev_flat a JOIN lev_flat b
    ON a.band_no = b.band_no AND a.bkey = b.bkey AND a.surface < b.surface
)
SELECT surface_a, surface_b,
       CAST(levenshtein(na, nb) AS INTEGER) AS edit_dist
FROM lev_cand WHERE levenshtein(na, nb) <= 3
"""
    )


def el_levenshtein_exhaustive_sql() -> str:
    """The round-1 exhaustive formulation (all distinct-surface pairs with
    edit_dist <= 3, no blocking) — quadratic, kept ONLY as the recall oracle
    for tests/test_levenshtein_recall.py.  The registered query is the
    banded one; its contract is APPROXIMATE (candidates = MinHash band
    collisions), and the recall test quantifies exactly what the bands drop
    on the fixture."""
    norm = duckdb_oracle.NORM_SQL.format(col="surface")
    return (
        duckdb_oracle._classified_tokens_cte("SELECT doc_id AS k FROM documents")
        + f"""
, s AS (SELECT DISTINCT surface, {norm} AS norm
        FROM lab WHERE mention_type = 'BRAND')
SELECT a.surface AS surface_a, b.surface AS surface_b,
       CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS edit_dist
FROM s a JOIN s b ON a.surface < b.surface
WHERE levenshtein(a.norm, b.norm) <= 3
"""
    )


# --- P4 threshold fallback ladder (ref scripts/inference_kie.py:114-135) -----------------

# the reference retries saliency thresholding with progressively looser
# cutoffs (0.5 -> 0.3 -> 0.2 -> 0.1) until the mask is non-empty; the
# relational form is a tier column (strictest predicate each row passes) and
# a per-group windowed min — every group keeps exactly the rows of its
# strictest NON-EMPTY tier, one pass, no retry loop
FALLBACK_THRESHOLDS = (0.5, 0.3, 0.2, 0.1)


def p4_threshold_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event selection with the reference's fallback ladder: keep
    events at the strictest threshold tier that is non-empty for that user.
    SURVEY §4 'threshold fallback ladder' — coalesce over progressively
    looser predicates, computed as min(tier) over a window instead of a
    driver-side retry loop."""
    from pyspark.sql import Window
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", F.round(F.col("value") / 600.0, 6).alias("score")
    )
    tier = F.lit(None).cast("int")
    for i, t in reversed(list(enumerate(FALLBACK_THRESHOLDS))):
        tier = F.when(F.col("score") >= t, F.lit(i)).otherwise(tier)
    # the when-chain above nests so the STRICTEST matching threshold wins:
    # built loosest-first, each stricter branch overrides
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("tier", tier)
        .withColumn("min_tier", F.min("tier").over(w))
        .filter(F.col("tier") == F.col("min_tier"))
        .select("user_id", "event_id", "score", F.col("tier").cast("int").alias("tier"))
    )


def _fallback_case() -> str:
    whens = " ".join(
        f"WHEN score >= {t} THEN {i}" for i, t in enumerate(FALLBACK_THRESHOLDS)
    )
    return f"CASE {whens} END"


P4_FALLBACK_SQL = f"""
WITH s AS (SELECT user_id, event_id, round(value / 600.0, 6) AS score FROM events),
t AS (SELECT *, CAST({_fallback_case()} AS INTEGER) AS tier FROM s),
m AS (SELECT *, min(tier) OVER (PARTITION BY user_id) AS min_tier FROM t)
SELECT user_id, event_id, score, tier FROM m WHERE tier = min_tier
"""


# --- interval-overlap join ---------------------------------------------------------------

# Blocking is lossless for ANY interval length: each interval explodes into
# EVERY bucket it touches (F.sequence over its full span), so two
# overlapping intervals always share the bucket containing an overlap
# point.  The width only bounds the explode factor — ~2 buckets per
# interval when width >= the typical interval (sf0.1 max is 560 min, i.e.
# occasionally 3 buckets; correctness is unaffected, fuzz-pinned with
# values up to 700 min in test_join_rewrites_fuzz).
INTERVAL_BUCKET_US = 512 * 60 * 1_000_000


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping activity intervals per user: each event spans
    [ts, ts + value minutes]; emit overlapping same-user pairs.

    The range-join class, made scale-safe with TIME-BUCKET blocking
    (SURVEY.md §4 band-key emulation): each interval explodes into ALL the
    fixed-width time buckets it touches (lossless for any length — see the
    INTERVAL_BUCKET_US note), the join is an equi-join on
    (user_id, bucket), and cross-bucket double-counts are deduped.  A user
    with millions of events no longer produces a per-user cross product —
    pairs are bounded by co-occupancy of 8.5-hour windows.  (Round 1
    joined on user_id alone: quadratic within hot users.)"""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.round(F.col("value") * 100).cast("bigint") * 600_000)
        ).alias("e_us"),  # value (2dp) minutes -> exact integer microseconds
    )
    B = F.lit(INTERVAL_BUCKET_US)
    bucketed = ev.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(F.floor(F.col("s_us") / B), F.floor(F.col("e_us") / B))
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(
            (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s_us") <= F.col("b.e_us"))
            & (F.col("b.s_us") <= F.col("a.e_us"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (
                F.least(F.col("a.e_us"), F.col("b.e_us"))
                - F.greatest(F.col("a.s_us"), F.col("b.s_us"))
            ).cast("bigint").alias("overlap_us"),
        )
        .distinct()  # a pair sharing 2 buckets appears twice pre-dedup
    )


INTERVAL_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 600000 AS e_us
  FROM events
),
bucketed AS (
  SELECT user_id, event_id, s_us, e_us,
         unnest(range(CAST(floor(s_us / {INTERVAL_BUCKET_US}) AS BIGINT),
                      CAST(floor(e_us / {INTERVAL_BUCKET_US}) AS BIGINT) + 1))
           AS bucket
  FROM ev
)
SELECT DISTINCT a.user_id AS user_id, a.event_id AS event_a,
       b.event_id AS event_b,
       least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
FROM bucketed a JOIN bucketed b
  ON a.user_id = b.user_id AND a.bucket = b.bucket
WHERE a.event_id < b.event_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
"""


# --- explicit anti / outer joins ----------------------------------------------------------

ANTI_JOIN_CUTOFF = "2000-01-01"  # every customer has *some* order; dormancy since a cutoff discriminates


def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders since ANTI_JOIN_CUTOFF — left-anti join (the
    G4 'drop unmatched' complement).  The build side is date-restricted so
    the result is non-empty (135 rows at sf0.01) and the hash discriminates;
    an unrestricted anti-join is vacuously 0 == 0 on this fixture."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= F.lit(ANTI_JOIN_CUTOFF).cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name", "c_mktsegment")


ANTI_JOIN_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{ANTI_JOIN_CUTOFF}')
"""


def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order counts including zeros — left outer join + agg."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_mktsegment")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    return (
        c.join(o, "c_custkey", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )


OUTER_JOIN_SQL = """
SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


# --- ordered conversion funnel (view -> click -> purchase) --------------------------

def ev_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: per user, the
    first 'view', the first 'click' STRICTLY AFTER that view, and the
    first 'purchase' strictly after that click — the classic ordered-
    sequence analytic (a row must exist at stage k-1 before stage k
    counts, so raw per-type minima are NOT enough).

    Shape: three conditional-min aggregations over the same events scan,
    each keyed on user_id and map-side combined; the stage-(k) agg joins
    the stage-(k-1) result back to events on user_id (AQE broadcasts the
    per-user table when it fits).  Timestamps are integer microseconds
    end to end (TIMESTAMP_NTZ cast rule, CLAUDE.md).

    Output: one row per user reaching at least stage 1, with the three
    stage timestamps (NULL = never reached) and the stage count 1-3."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_view"))
    )
    s2 = (
        ev.join(s1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts_us") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    s3 = (
        ev.join(s2, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("stage"),
        )
    )


EV_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
),
s1 AS (
  SELECT user_id, min(ts_us) AS t_view FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts_us) AS t_click
  FROM ev e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts_us > s1.t_view
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts_us) AS t_purchase
  FROM ev e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
       CAST(1 + (s2.user_id IS NOT NULL)::INTEGER
              + (s3.user_id IS NOT NULL)::INTEGER AS INTEGER) AS stage
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


# --- weekly retention cohorts -------------------------------------------------------

WEEK_US = 7 * 24 * 3600 * 1_000_000


def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week of their
    FIRST event (the cohort), counted in every subsequent week they were
    active — the (cohort_week, week_offset, n_users) long-format matrix a
    growth dashboard pivots.  All-week arithmetic is exact integer floor
    division of epoch microseconds (no date-truncation dialect drift).

    Shape: one groupBy(user) for cohort assignment, one distinct over
    (user, week) activity pairs, an equi-join on user_id (AQE broadcasts
    the cohort table when it fits), and the final count — every agg
    map-side combined, keys are (user) then (cohort, offset)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    weeks = ev.select(
        "user_id", F.expr(f"ts_us DIV {WEEK_US}").alias("week")
    )
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = weeks.distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


EV_RETENTION_SQL = f"""
WITH weeks AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // {WEEK_US} AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id),
active AS (SELECT DISTINCT user_id, week FROM weeks)
SELECT c.cohort_week, CAST(a.week - c.cohort_week AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN cohort c USING (user_id)
GROUP BY c.cohort_week, a.week - c.cohort_week
"""


# --- per-group least-squares trend (exact-integer moment sums) ----------------------

LF_YQ = 1_000_000  # value quantum: 1e-6


def stats_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time (slope in
    value-units per second + intercept at the group's first event) — the
    drift detector a metrics pipeline runs per series.

    Exact cross-engine parity for a REGRESSION requires order-free moment
    sums, so x is recentered to seconds from the group minimum (bounding
    x at the series length) and y is quantized to 1e-6 BIGINT units; the
    four moment sums (Sx, Sy, Sxy, Sxx) are then exact integers in both
    engines, the closed-form numerators/denominators are computed in
    DECIMAL(38,0)/HUGEINT (n*Sxy overflows BIGINT at ~2k rows x month
    spans), and only the final division happens in doubles (round 6).
    Shape: one pre-agg for the group minimum, a join back (AQE broadcasts
    the tiny per-group table), one map-side-combined moment aggregation."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    ).filter(F.col("value").isNotNull())
    mins = ev.groupBy("event_type").agg(F.min("ts_us").alias("t0"))
    pts = ev.join(mins, "event_type").select(
        "event_type",
        F.expr("(ts_us - t0) DIV 1000000").alias("xs"),
        F.expr(f"CAST(floor(value * {LF_YQ}) AS BIGINT)").alias("yq"),
    )
    # Sxy/Sxx widen to DECIMAL(38,0) BEFORE multiplying: the worst-case
    # per-term bound span_s * y_max*1e6 already exceeds int64 on this very
    # fixture (1.3e19 at sf0.01) — a silent Java long wrap, a loud DuckDB
    # error; decimal/HUGEINT sums are exact in both engines
    mom = pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xs").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.expr("CAST(xs AS DECIMAL(38,0)) * yq")).alias("sxy"),
        F.sum(F.expr("CAST(xs AS DECIMAL(38,0)) * xs")).alias("sxx"),
    )
    num = (
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
    )
    den = (
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
    )
    # try_divide: a single-point (or zero-time-spread) series has den = 0;
    # ANSI Spark errors on x/0 even for doubles, DuckDB yields NULL — NULL
    # (no trend defined) is the correct answer in both engines
    return mom.select(
        "event_type",
        "n",
        F.expr(
            f"round(try_divide(CAST({num} AS DOUBLE), CAST({den} AS DOUBLE))"
            f" / {LF_YQ}, 6)"
        ).alias("slope_per_sec"),
        F.expr(
            f"round((CAST(sy AS DOUBLE) - try_divide(CAST({num} AS DOUBLE),"
            f" CAST({den} AS DOUBLE)) * sx) / n / {LF_YQ}, 6)"
        ).alias("intercept"),
    )


STATS_LINFIT_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events WHERE value IS NOT NULL
),
mins AS (SELECT event_type, min(ts_us) AS t0 FROM ev GROUP BY event_type),
pts AS (
  SELECT e.event_type, (e.ts_us - m.t0) // 1000000 AS xs,
         CAST(floor(value * {LF_YQ}) AS BIGINT) AS yq
  FROM ev e JOIN mins m USING (event_type)
),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xs) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         sum(CAST(xs AS HUGEINT) * yq) AS sxy,
         sum(CAST(xs AS HUGEINT) * xs) AS sxx
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             / {LF_YQ}, 6) AS slope_per_sec,
       round((CAST(sy AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * sx) / n / {LF_YQ}, 6) AS intercept
FROM mom
"""


# --- windowed anomaly detection (exact-integer z-score) -----------------------------

EV_HOUR_US = 3_600_000_000
EV_Z2_THS_PPM = 4_000_000  # z^2 >= 4  <=>  |z| >= 2


def ev_windowed_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour_us, n_events, z2_ppm, is_anomaly): hourly event
    counts per type with an EXACT-INTEGER z-score anomaly flag — the
    volume-spike monitor an ingestion pipeline runs per stream (a
    traffic anomaly on one event type flags before it poisons downstream
    aggregates).

    Cross-engine exactness: z itself needs sqrt + division in doubles,
    so the emitted statistic is the SQUARED z in ppm over the population
    variance, all integer:  z2_ppm = ((x·n − s)² · 1e6) DIV (n·ss − s²)
    with s = Σx, ss = Σx² over the type's hours — algebraically
    z² = (x−μ)²/σ² with no intermediate rounding; is_anomaly = z2_ppm ≥
    4e6 (|z| ≥ 2).  Moment products widen to DECIMAL(38,0)/HUGEINT
    before multiplying (the stats_linear_fit discipline — (x·n−s)²
    exceeds the int64 range at corpus scale).  A type with zero variance
    (or one hour) emits NULL z2/flag — try-divide semantics on both
    engines.

    Shape at 100 TB: one map-side-combined groupBy to hourly counts
    (time-bucket keys, no skew beyond real traffic), one tiny per-type
    moment aggregation, a broadcast-sized join back.  Reference analog:
    score thresholding, kie_utils.py:300-323."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr(
            f"(unix_micros(CAST(ts AS TIMESTAMP)) DIV {EV_HOUR_US})"
            f" * {EV_HOUR_US}"
        ).alias("hour_us"),
    )
    hourly = ev.groupBy("event_type", "hour_us").agg(
        F.count("*").cast("long").alias("n_events")
    )
    mom = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_events").cast("long").alias("s"),
        F.sum(F.expr("CAST(n_events AS DECIMAL(38,0)) * n_events")).alias("ss"),
    )
    z2 = (
        "CASE WHEN CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s = 0"
        " THEN NULL ELSE"
        " CAST(((CAST(n_events AS DECIMAL(38,0)) * n - s)"
        "  * (CAST(n_events AS DECIMAL(38,0)) * n - s) * 1000000)"
        " DIV (CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
        " AS BIGINT) END"
    )
    return (
        hourly.join(mom, "event_type")
        .select(
            "event_type",
            "hour_us",
            "n_events",
            F.expr(z2).alias("z2_ppm"),
            F.expr(
                f"CAST(CASE WHEN ({z2}) IS NULL THEN NULL"
                f" WHEN ({z2}) >= {EV_Z2_THS_PPM} THEN 1 ELSE 0 END AS INT)"
            ).alias("is_anomaly"),
        )
    )


EV_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         (epoch_us(ts) // {EV_HOUR_US}) * {EV_HOUR_US} AS hour_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, (epoch_us(ts) // {EV_HOUR_US}) * {EV_HOUR_US}
),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_events) AS BIGINT) AS s,
         sum(CAST(n_events AS HUGEINT) * n_events) AS ss
  FROM hourly GROUP BY event_type
),
j AS (
  SELECT h.event_type, h.hour_us, h.n_events,
         CAST(h.n_events AS HUGEINT) * m.n - m.s AS num,
         CAST(m.n AS HUGEINT) * m.ss - CAST(m.s AS HUGEINT) * m.s AS den
  FROM hourly h JOIN mom m USING (event_type)
)
SELECT event_type, hour_us, n_events,
       CAST(CASE WHEN den = 0 THEN NULL
            ELSE (num * num * 1000000) // den END AS BIGINT) AS z2_ppm,
       CAST(CASE WHEN den = 0 THEN NULL
            WHEN (num * num * 1000000) // den >= {EV_Z2_THS_PPM} THEN 1
            ELSE 0 END AS INTEGER) AS is_anomaly
FROM j
"""


def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n, p_ppm): the event-type TRANSITION MATRIX —
    per user, consecutive event pairs ordered by (ts, event_id), rolled
    into transition counts and row-normalized probabilities in exact
    integer ppm.  The Markov-chain view of the event stream: which step
    follows which, the input to next-event prediction, funnel design and
    anomalous-sequence detection (a transition whose observed share
    collapses release-over-release).

    Determinism: the lead() ordering carries event_id as the tiebreak —
    equal timestamps are possible and would otherwise make the successor
    engine-dependent.  p_ppm = (n · 1e6) DIV row_total via DECIMAL(38,0)
    (HUGEINT twin): n is corpus-sized at 100 TB, and n·1e6 sits one
    decimal order under the int64 wrap — the overflow class ADVICE r5
    item 1 flagged, closed pre-emptively here.

    Shape: ONE shuffle on user_id for the per-user window (per-user
    sequences are bounded), then two aggregations over a table bounded
    by |event_types|² — 25 rows on the fixture, tiny at any corpus
    scale.  Reference analog: the label-sequence statistics in
    scripts/evaluate.py:90-103 (confusion row-normalization)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) DIV tot AS BIGINT)"
        ).alias("p_ppm"),
    )


EV_MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n,
       CAST((CAST(c.n AS HUGEINT) * 1000000) // t.tot AS BIGINT) AS p_ppm
FROM counts c JOIN totals t USING (from_type)
"""
