"""Graph analytics over the constructed KG — entity co-mention PageRank.

The reference scores nodes with a GCN forward pass per document graph
(``backend/kie/kie_utils.py`` model invocation); at corpus scale the
KG-side analog of "which node matters" is a global graph centrality over
the entity co-mention graph: nodes are NAME/BRAND surfaces, an edge joins
two surfaces co-mentioned in the same conversation (weight = number of
such conversations), and PageRank ranks entities by recursive importance.

Determinism / oracle parity: the classic float PageRank is
order-sensitive (doubles summed in different orders), so this is an
EXACT-INTEGER PageRank — scores live in units of 10^-12 (SCALE), every
per-edge contribution is truncating integer division
``(score * w) DIV wout``, the damping update is
``BASE + (85 * insum) DIV 100`` — all BIGINT, order-free, byte-identical
in DuckDB (whose twin unrolls the same fixed ITERS iterations as chained
CTEs).  Fixed iteration count (no float convergence test) keeps the two
engines in lockstep; 8 iterations contracts the residual by 0.85^8 ≈ 0.27
of the start gap — rank-stable on graphs whose diameter the iterations
cover.

Scale shape: the per-iteration work is one equi-join (scores × edges on
src) and one groupBy-sum on dst — both shuffle on node ids, and the sum
is map-side combined, so a celebrity entity with millions of in-edges
partial-aggregates before the exchange (no single-reducer hub funnel).
The upstream lineage is cut ONCE (edge×weight localCheckpoint); the
fixed-count iterations compile into a single linear plan — see
pagerank()'s docstring for why this differs from connected_components'
per-round checkpoints.

Overflow: scores sum to ≈ N·SCALE, and the per-edge product score·w must
stay below 2^63, so SCALE = 10^12 leaves room for N·w up to ~10^5 × the
per-node average.  The arithmetic relies on ANSI mode (pinned by
session.get_spark, checked by session.require_ansi on entry): an int64
overflow in a multiply or a sum raises ARITHMETIC_OVERFLOW and fails the
job instead of wrapping into wrong ranks.  Drop PR_SCALE as N·SCALE nears
9.2e18 (precision is relative rank, not absolute mass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import require_ansi

PR_SCALE = 1_000_000_000_000  # 10^12: integer score units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_BASE = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN
PR_ITERS = 8
PR_TYPES = ("NAME", "BRAND")
COMENTION_CAP = 32  # per-conversation distinct-surface cap before pairing


# Observability counters for the cap decision (tests pin the probe count
# and the common-vs-skew routing; see test_r8_cap_routing.py).  Driver-side
# ints only — never shipped to executors.
CAP_PATH_STATS = {"probes": 0, "common": 0, "skew": 0}


def top_n(df: DataFrame, key: str, order: list, n: int, rank: str = "rn") -> DataFrame:
    """``df`` cut to its first ``n`` rows per ``key`` in ``order``, with
    each kept row's 1-based position in column ``rank``: one
    ``row_number()`` window and a ``rank <= n`` filter — every top-N cap
    in the engine goes through here.

    No hot key sorts its whole group in one task: Spark's optimizer
    (InferWindowGroupLimit) plans the filter as a Partial
    WindowGroupLimit that keeps each map task's top-``n`` per key before
    the exchange, then a Final one after it, so a key ships at most
    ``n`` rows per map task.  The engine applies that limit only when
    - the filter sits directly on the rank column (nothing between the
      window and the filter, as here);
    - ``n`` ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
      default; the largest ``n`` here is relational_ext.SAMPLE_K = 256);
    - the input is partitioned on more than ``key``, so a hot key's rows
      are spread over map tasks (on input already clustered by ``key``
      the Partial limit has no exchange to sit before).  Every caller's
      input is a groupBy/distinct on (key, item), a checkpoint or a file
      scan, except capped_conv_surfaces' semi-join (see there).
    tests/test_plan_properties.py pins the Partial/Final pair."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def capped_conv_surfaces(mentions: DataFrame, cap: int = COMENTION_CAP) -> DataFrame:
    """(conv_id, surface): each conversation's distinct NAME/BRAND surfaces
    truncated to its top-``cap`` by (mention count DESC, surface ASC) — the
    fan-out cap that bounds edge GENERATION.  Without it the pairing below
    is quadratic in per-conversation distinct entities: downstream
    consumers cap adjacency (capped_adjacency), but one hot conversation
    (an agent loop spamming entity lists) would still emit ~d² pair rows
    before any of those caps apply.  With the cap a conversation
    contributes at most cap·(cap−1) edges, so total edge rows are
    O(conversations · cap²) regardless of input skew.

    EXACT whenever every conversation has ≤ cap distinct surfaces (true at
    every fixture SF: max observed is 6 vs cap 32); above the cap it keeps
    the most-mentioned surfaces — the same deterministic top-N discipline
    as capped_adjacency.  Reference analog: the E2 band prune,
    kie_utils.py:133-137.

    Common path: the per-conversation count table is localCheckpoint'd
    once, and one tiny job over the checkpoint (max distinct surfaces over
    any conversation) decides whether the cap can bind at all.  When no
    conversation exceeds the cap, the checkpoint is returned as is: no
    top-N window enters the plan, and the pairing self-join's two branches
    read one materialization instead of re-running the detector lineage.

    Skew path: only the over-cap conversations take the window.  Their
    conv_ids (a small, localCheckpoint'd set) are semi-joined to one
    top-cap window (top_n); the rest bypass via an anti-join, and the two
    branches union.  When the semi-join shuffles on conv_id, that shuffle
    already gathers each over-cap conversation in one task, so the window
    adds no exchange and Spark plans only the Final group limit: the task
    sorts one conversation's distinct surfaces, a count its length
    bounds.  AQE may broadcast the over-cap set at runtime; it is not
    forced, because a corpus where every conversation is hot would make a
    forced broadcast exhaust the driver.
    Value-equal to the oracle's single corpus-wide window; CAP_PATH_STATS
    counts the probes and the routing (pinned by test_r8_cap_routing.py)."""
    cnt = (
        mentions.filter(F.col("mention_type").isin(*PR_TYPES))
        .groupBy("conv_id", "surface")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    CAP_PATH_STATS["probes"] += 1
    max_d = (
        cnt.groupBy("conv_id")
        .agg(F.count("*").alias("d"))
        .agg(F.max("d").alias("m"))
        .first()[0]
    )
    if max_d is None or max_d <= cap:
        CAP_PATH_STATS["common"] += 1
        return cnt.select("conv_id", "surface")
    CAP_PATH_STATS["skew"] += 1
    over = (
        cnt.groupBy("conv_id")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") > cap)
        .select("conv_id")
        .localCheckpoint()
    )
    below = cnt.join(over, "conv_id", "left_anti").select("conv_id", "surface")
    hot = cnt.join(over, "conv_id", "left_semi")
    capped_hot = top_n(
        hot, "conv_id", [F.desc("cnt"), F.asc("surface")], cap
    ).select("conv_id", "surface")
    return below.unionByName(capped_hot)


def _pair_edges(cs: DataFrame) -> DataFrame:
    """(src, dst, w) from a (conv_id, surface) table: the one pairing
    join, shared by comention_edges and lifted_edges so the two paths
    (and their common DuckDB twin in _graph_cte) cannot drift."""
    a, b = cs.alias("a"), cs.alias("b")
    return (
        a.join(b, "conv_id")
        .filter(F.col("a.surface") != F.col("b.surface"))
        .groupBy(
            F.col("a.surface").alias("src"), F.col("b.surface").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )


def comention_edges(mentions: DataFrame) -> DataFrame:
    """(src, dst, w): surfaces co-mentioned in the same conversation; w =
    number of conversations.  Symmetric by construction (both directions
    emitted).  Edge generation pairs each conversation's CAPPED distinct
    surfaces (capped_conv_surfaces — top-COMENTION_CAP by mention count),
    so the intermediate is O(conversations · cap²), hub-proof."""
    return _pair_edges(capped_conv_surfaces(mentions))


def _graph_cte(mentions_sql: str, cap: int = COMENTION_CAP) -> str:
    """Shared DuckDB CTE prefix (m, cm, cs, e) for every graph oracle —
    mirrors capped_conv_surfaces + comention_edges exactly (one top-cap
    window per conversation; the Spark side runs that window only over
    the conversations above the cap, the only ones it can cut).

    Every level is AS MATERIALIZED: DuckDB inlines plain CTEs, and the
    pagerank/kcore/LPA oracles reference ``e`` from every unrolled round,
    so an inlined prefix re-evaluates the whole mention extraction per
    round (the sf0.001 pagerank oracle took 15 s inlined, 0.2 s
    materialized).  kcore_sql/communities_sql materialize their per-round
    CTEs for the same reason; the hint changes no value."""
    types = ", ".join(f"'{t}'" for t in PR_TYPES)
    return f"""m AS MATERIALIZED ({mentions_sql}),
cm AS MATERIALIZED (
  SELECT conv_id, surface, CAST(count(*) AS BIGINT) AS cnt
  FROM m WHERE mention_type IN ({types}) GROUP BY conv_id, surface
),
cs AS MATERIALIZED (
  SELECT conv_id, surface FROM (
    SELECT conv_id, surface,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY cnt DESC, surface) AS rn
    FROM cm
  ) WHERE rn <= {cap}
),
e AS MATERIALIZED (
  SELECT a.surface AS src, b.surface AS dst, CAST(count(*) AS BIGINT) AS w
  FROM cs a JOIN cs b ON a.conv_id = b.conv_id AND a.surface <> b.surface
  GROUP BY a.surface, b.surface
)"""


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Exact-integer weighted PageRank over (src, dst, w) edges.  Returns
    (surface, pagerank_q, rank): pagerank_q in SCALE units, rank 1 = most
    central (ties broken by surface; the ranking window runs over the
    entity table, which is orders of magnitude smaller than the corpus).

    Input contract: symmetric edges, each undirected edge as both (a, b)
    and (b, a), as comention_edges and lifted_edges build them.  A
    directed list is still defined (nodes = src ∪ dst, a dst-only node is
    a sink; pinned against the DuckDB twin) but is ranked as directed.

    Execution shape: the upstream lineage (scan → detector → optionally
    the whole EL stage) is materialized once — the edge table itself is
    localCheckpoint'd first, and wout, ew and nodes all derive from that
    checkpoint, so neither join side re-runs the prefix.  The fixed-count
    iterations then compile into ONE Catalyst plan with NO per-round
    lineage cut: unlike connected_components' unbounded convergence loop
    (driver-checked each round, where a per-round localCheckpoint is the
    right discipline), a FIXED 8-iteration unroll grows the plan linearly
    — 2 shuffles per iteration, each reading the checkpointed tables
    (cheap rescans, no recompute) — and one job executes all 16 stages;
    AQE right-sizes the tiny entity-graph shuffles stage by stage.  Eager
    per-iteration checkpoints cost 3.3 s against ~0.9 s for this shape on
    a 442-edge graph at local[32] (pure scheduling overhead, not compute).

    The final ranking is TWO-PHASE (range partition by (score DESC, node
    ASC), per-partition row_number, broadcast partition-count offsets), so
    no single-partition WindowExec funnels the whole entity table through
    one task.  See _global_rank.

    Overflow: requires ANSI mode (session.require_ansi raises otherwise).
    Score mass ≈ N·SCALE, so at large N the per-edge product score·w, the
    insum sum or the damping product 85·insum can exceed int64; Spark then
    raises ARITHMETIC_OVERFLOW and the job fails instead of wrapping into
    wrong ranks, as the DuckDB twin does on its own checked arithmetic.
    Drop PR_SCALE as N·SCALE nears 9.2e18."""
    return _global_rank(pagerank_scores(edges, iters))


def pagerank_scores(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(node, score) after the fixed iterations — the pre-ranking phase of
    pagerank().  Requires ANSI mode (session.require_ansi raises before
    any job runs); an int64 overflow in the iterations raises
    ARITHMETIC_OVERFLOW.  Drop PR_SCALE as N·SCALE nears 9.2e18."""
    require_ansi(edges.sparkSession)
    e0 = edges.localCheckpoint()
    wout = e0.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    ew = e0.join(wout, "src").localCheckpoint()
    # nodes derives from the ew checkpoint (no second pass over the EL
    # lineage) and is itself checkpointed: all 8 iteration branches and the
    # final ranking reference it, and one tiny narrow job beats re-planning
    # the distinct in every branch
    # nodes = src ∪ dst (one scan): a dst-only sink is scored like any
    # other node
    nodes = (
        ew.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .localCheckpoint()
    )

    pr = nodes.withColumn("score", F.lit(PR_SCALE).cast("long"))
    # dangling-node coverage via a zero-contribution UNION into the
    # per-iteration aggregation instead of a nodes LEFT JOIN after it:
    # sum(c) over contribs ∪ {(node, 0) ∀ nodes} covers every node with
    # insum >= 0 exactly as coalesce(insum, 0) would — identical
    # exact-integer values — with one join stage fewer per unrolled
    # iteration (the union rides the same groupBy exchange; the zero rows
    # partial-aggregate map-side like everything else).
    zeros = nodes.select("node", F.lit(0).cast("long").alias("c"))
    for _ in range(iters):
        contrib = pr.join(ew, pr.node == ew.src).select(
            F.col("dst").alias("node"),
            F.expr("(score * w) DIV wout").alias("c"),
        )
        insum = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("insum"))
        )
        pr = insum.select(
            "node",
            F.expr(
                f"CAST({PR_BASE} + ({PR_DAMP_NUM} * insum)"
                f" DIV {PR_DAMP_DEN} AS BIGINT)"
            ).alias("score"),
        )
    return pr


def _global_rank(pr: DataFrame) -> DataFrame:
    """Distributed total-order rank over (score DESC, node ASC) — the
    two-phase pattern that replaces a global Window.orderBy (which drags
    the WHOLE table through one task): range-partition on the rank key,
    row_number within each range partition, add the count of rows in all
    earlier partitions (a broadcast n_parts-row offset table, computed
    with a tiny triangular self-join so the plan contains NO empty-
    partition window at all — asserted by test_plan_properties).

    Output values are partition-boundary-independent: (score, node) is a
    UNIQUE total order (nodes are distinct), so global rank = 1 + number
    of rows strictly before — however the range sampler places the
    boundaries, local row_number + earlier-partition counts reconstructs
    exactly that.  Cost: one range exchange + one pid-clustered window
    over bounded partitions vs. the single-task sort; the offset join is
    O(n_parts²) on an n_parts-row table.

    The range-partitioned table is localCheckpoint'd before fanning out:
    it feeds THREE plan branches (the local-rank window and both sides of
    the triangular count join), and without the cut each branch would
    carry the whole upstream iteration lineage — 81 exchange nodes in the
    audited plan vs 26, correct only via runtime ReusedExchange.  The cut
    also freezes spark_partition_id, making pid assignment trivially
    stable across the branches.

    n_parts is spark.sql.shuffle.partitions, the parallelism the
    operator's other exchanges already scale by (a fixed count would
    still sort N/n_parts rows per window task); the output does not
    depend on it (unique total order)."""
    n_parts = int(pr.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = (
        pr.repartitionByRange(n_parts, F.desc("score"), F.asc("node"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    wl = Window.partitionBy("pid").orderBy(F.desc("score"), F.asc("node"))
    local = part.withColumn("lrn", F.row_number().over(wl))
    counts = part.groupBy("pid").agg(F.count("*").cast("long").alias("cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(y, F.col("y.pid") < F.col("x.pid"), "left")
        .groupBy(F.col("x.pid").alias("pid"))
        .agg(F.coalesce(F.sum("y.cnt"), F.lit(0)).cast("long").alias("off"))
    )
    return local.join(F.broadcast(offsets), "pid").select(
        F.col("node").alias("surface"),
        F.col("score").alias("pagerank_q"),
        (F.col("lrn") + F.col("off")).cast("int").alias("rank"),
    )


def kg_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the NAME/BRAND co-mention graph of the corpus."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return pagerank(comention_edges(m))


def pagerank_sql(mentions_sql: str, iters: int = PR_ITERS) -> str:
    """DuckDB twin of ``pagerank(comention_edges(m))``."""
    return pagerank_edges_sql(_graph_cte(mentions_sql), iters)


def pagerank_edges_sql(graph_cte: str, iters: int = PR_ITERS) -> str:
    """DuckDB twin of :func:`pagerank` over the ``(src, dst, w)`` relation
    ``e`` that ``graph_cte`` defines: identical integer arithmetic, the
    fixed iterations unrolled as chained CTEs (pr0..prN), nodes = src ∪ dst
    as on the Spark side."""
    itcte = []
    for i in range(1, iters + 1):
        itcte.append(f"""pr{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({PR_BASE} + ({PR_DAMP_NUM} * COALESCE(s.insum, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS score
  FROM n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum((p.score * e.w) // w2.wout) AS BIGINT) AS insum
    FROM pr{i - 1} p JOIN e ON e.src = p.node JOIN wout w2 ON w2.src = p.node
    GROUP BY e.dst
  ) s ON s.node = n.node
)""")
    chain = ",\n".join(itcte)
    return f"""
WITH {graph_cte},
wout AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY src),
n AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
pr0 AS MATERIALIZED (SELECT node, CAST({PR_SCALE} AS BIGINT) AS score FROM n),
{chain}
SELECT node AS surface, score AS pagerank_q,
       CAST(row_number() OVER (ORDER BY score DESC, node) AS INTEGER) AS rank
FROM pr{iters}
"""


# --- triangle counting (degree-ordered) ---------------------------------------------

def kg_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle participation over the co-mention graph — the
    local clustering signal ("is this entity's neighborhood a clique or a
    star") that separates community members from pure hubs.

    Algorithm: the degree-ordered ("compact-forward") enumeration — orient
    every undirected edge from the (degree, node)-smaller endpoint to the
    larger, so each triangle is materialized exactly once as a wedge
    u->v, u->w (v<w in the order) closed by v->w.  The orientation bounds
    every node's out-degree by O(sqrt(edges)) regardless of in-degree, so
    a celebrity hub never enumerates its own quadratic wedge set — THE
    standard scale cure for distributed triangle counting.  Join keys are
    node ids; the wedge-closing join is an equi-join on the oriented pair.

    Output: (surface, n_triangles) for every node of the graph, zeros
    included."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return triangle_counts(comention_edges(m))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration over a SYMMETRIC (src, dst, w)
    edge table — the from-edges core of kg_triangle_counts, shared with
    graph_family_staged (which feeds it snapshot-read edges)."""
    # the edge table fans out into FIVE plan branches (und, deg x2, and the
    # three oriented copies) — without a lineage cut each branch re-runs the
    # scan + Arrow detector (measured: 133 exchanges / 56 arrow ops in the
    # uncut plan vs 12/1 cut); materialize it once, like pagerank() does
    e = edges.localCheckpoint()  # symmetric
    und = e.filter(F.col("src") < F.col("dst")).select("src", "dst")
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # orient by (deg, node): lower -> higher
    d1 = deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc"))
    d2 = deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst"))
    lt = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    oriented = (
        und.join(d1, "src").join(d2, "dst")
        .select(
            F.when(lt, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(lt, F.col("dst")).otherwise(F.col("src")).alias("b"),
        )
        .localCheckpoint()  # consumed by three branches (o1, o2, closure)
    )
    # wedges pair out-neighbors in BOTH orders; the closing join against the
    # single-direction oriented edge set keeps exactly one per triangle
    # (filtering v < w by NAME here would be wrong — closure is oriented by
    # (deg, node) rank, which need not agree with name order)
    o1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    o2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = o1.join(o2, "u").filter(F.col("v") != F.col("w"))
    tri = wedges.join(
        oriented.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"],
    )
    per_node = (
        tri.select(F.col("u").alias("node"))
        .union(tri.select(F.col("v").alias("node")))
        .union(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            F.col("node").alias("surface"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def triangle_sql(mentions_sql: str) -> str:
    """DuckDB twin — same degree-ordered enumeration."""
    return f"""
WITH {_graph_cte(mentions_sql)},
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
und AS (SELECT src, dst FROM e WHERE src < dst),
oriented AS (
  SELECT CASE WHEN (d1.deg, u.src) < (d2.deg, u.dst) THEN u.src ELSE u.dst END AS a,
         CASE WHEN (d1.deg, u.src) < (d2.deg, u.dst) THEN u.dst ELSE u.src END AS b
  FROM und u
  JOIN deg d1 ON d1.node = u.src
  JOIN deg d2 ON d2.node = u.dst
),
tri AS (
  SELECT o1.u, o1.v, o2.w
  FROM (SELECT a AS u, b AS v FROM oriented) o1
  JOIN (SELECT a AS u, b AS w FROM oriented) o2 ON o1.u = o2.u AND o1.v <> o2.w
  JOIN oriented o3 ON o3.a = o1.v AND o3.b = o2.w
),
per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY node
)
SELECT d.node AS surface, CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN per_node p USING (node)
"""


# --- k-hop neighborhood sizes -------------------------------------------------------

KHOP_CAP = 64  # per-node adjacency cap for the 2-hop expansion


def capped_adjacency(e: DataFrame, cap: int = KHOP_CAP) -> DataFrame:
    """(src, dst): each node's adjacency truncated to its top-``cap``
    neighbors by (w DESC, dst ASC) — the deterministic degree cap that
    bounds the 2-hop wedge expansion (the same never-materialize-the-
    quadratic-neighborhood principle as the reference's E2 band prune,
    kie_utils.py:133-137, and blocking.py's block-size caps).  One
    top-``cap`` window per src (top_n), so no hub sorts its whole
    adjacency in one task; the DuckDB twin runs the same window."""
    return top_n(e, "src", [F.desc("w"), F.asc("dst")], cap).select("src", "dst")


def khop_counts(e: DataFrame, cap: int = KHOP_CAP) -> DataFrame:
    """Per-entity 1-hop and 2-hop neighborhood sizes over (src, dst, w)
    co-mention edges.

    n_1hop = exact degree (one groupBy, no expansion).  n_2hop = #nodes
    at exactly distance 2, computed over the CAPPED adjacency
    (capped_adjacency): both hops traverse each node's top-``cap``
    neighbors by weight, so the wedge self-join materializes at most
    |capped_edges| * cap rows — bounded, hub-proof — instead of the
    uncapped sum(deg^2) that melts through a celebrity entity.  EXACT
    whenever every degree <= cap
    (n_2hop is monotone non-decreasing in cap, so above the cap it is a
    deterministic lower bound over the strongest-weighted paths).  The
    distance-1 anti-join runs against the FULL edge set — a direct
    neighbor is never distance 2, capped or not."""
    deg = e.groupBy(F.col("src").alias("surface")).agg(
        F.count("*").cast("long").alias("n_1hop")
    )
    ecap = capped_adjacency(e, cap)
    two = (
        ecap.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(ecap.select(F.col("src").alias("v"), F.col("dst").alias("w")), "v")
        .filter(F.col("u") != F.col("w"))
        .select("u", "w")
        .distinct()
        .join(
            e.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            ["u", "w"],
            "left_anti",
        )
        .groupBy(F.col("u").alias("surface"))
        .agg(F.count("*").cast("long").alias("n_2hop"))
    )
    return deg.join(two, "surface", "left").select(
        "surface",
        "n_1hop",
        F.coalesce("n_2hop", F.lit(0)).cast("long").alias("n_2hop"),
    )


def kg_khop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity 1-hop/2-hop neighborhood sizes — the neighborhood-growth
    feature a graph-quality monitor tracks (a flat 2-hop curve means
    disconnected islands, an exploding one means hub contamination).
    See khop_counts for the degree-cap contract (exact on this fixture:
    every sf0.01 entity degree is far below KHOP_CAP=64; the DuckDB twin
    applies the IDENTICAL cap so the gate checks the capped semantics)."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return khop_counts(comention_edges(m).localCheckpoint())


def khop_sql(mentions_sql: str, cap: int = KHOP_CAP) -> str:
    """DuckDB twin — the SAME top-(w DESC, dst) adjacency cap, one window
    per src as in capped_adjacency."""
    return f"""
WITH {_graph_cte(mentions_sql)},
deg AS (SELECT src AS surface, CAST(count(*) AS BIGINT) AS n_1hop FROM e GROUP BY src),
ecap AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
    FROM e
  ) WHERE rn <= {cap}
),
two AS (
  SELECT u, CAST(count(*) AS BIGINT) AS n_2hop FROM (
    SELECT DISTINCT e1.src AS u, e2.dst AS w
    FROM ecap e1 JOIN ecap e2 ON e1.dst = e2.src AND e1.src <> e2.dst
  ) p
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = p.u AND e.dst = p.w)
  GROUP BY u
)
SELECT d.surface, d.n_1hop, CAST(COALESCE(t.n_2hop, 0) AS BIGINT) AS n_2hop
FROM deg d LEFT JOIN two t ON t.u = d.surface
"""


# --- KMV-sketched 2-hop reach (the mergeable full-coverage alternative) -------------

KHOP_KMV_K = 16  # bottom-k size; small so the sf0.01 fixture exercises the
#                  ESTIMATOR branch (40-node balls > k), not just exact counts


def khop_kmv(e: DataFrame, k: int = KHOP_KMV_K) -> DataFrame:
    """(surface, n_1hop, reach2_est): 2-hop BALL size |{u} ∪ N(u) ∪ N²(u)|
    estimated with the deterministic KMV bottom-k sketch machinery that
    approx_stats built (Bar-Yossef et al. 2002) — the FULL-COVERAGE
    hub-proof alternative to khop_counts' degree cap: nothing is
    truncated, because no neighborhood is ever materialized.

    Each node publishes a bottom-k sketch of its 1-ball hash set
    ({md5(v)} ∪ {md5(w) : w ∈ N(v)}); u's 2-ball sketch is the MERGE of
    its neighbors' sketches plus its own (bottom-k of a union of
    bottom-k sketches == bottom-k of the union — the mergeability that
    makes this a sketch at 100 TB).  Total intermediate rows are
    O(edges·k) — LINEAR in the edge count, a celebrity hub costs
    deg·k sketch rows instead of deg² wedge rows.  Estimate:
    exact n_h when a ball holds < k distinct hashes, else
    (k−1)·2^60 DIV h_k — integer arithmetic, byte-identical in DuckDB.
    Each bottom-k is one window per node (top_n by h), the same window
    the DuckDB twin runs.
    Accuracy (rel σ ≈ 1/√(k−2) ≈ 27% at k=16) is pinned in
    tests/test_graph_analytics.py against exact ball sizes."""
    from .text_analysis import mdhash_spark

    deg = e.groupBy(F.col("src").alias("surface")).agg(
        F.count("*").cast("long").alias("n_1hop")
    )
    nodes = e.select(F.col("src").alias("v")).distinct()
    ball1 = (
        e.select(F.col("src").alias("v"), mdhash_spark(F.col("dst")).alias("h"))
        .unionByName(nodes.select("v", mdhash_spark(F.col("v")).alias("h")))
        .distinct()
    )
    sk1 = top_n(ball1, "v", ["h"], k).drop("rn")
    merged = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(sk1, "v")
        .select("u", "h")
        .unionByName(sk1.select(F.col("v").alias("u"), "h"))
        .distinct()
    )
    skm = top_n(merged, "u", ["h"], k)
    kmv = skm.groupBy("u").agg(
        F.count("*").alias("n_h"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
    )
    est = kmv.select(
        F.col("u").alias("surface"),
        F.when(F.col("n_h") < k, F.col("n_h").cast("bigint"))
        .otherwise(
            F.expr(
                f"CAST((CAST({k - 1} AS DECIMAL(38,0)) * {1 << 60})"
                " DIV h_k AS BIGINT)"
            )
        )
        .alias("reach2_est"),
    )
    return deg.join(est, "surface").select("surface", "n_1hop", "reach2_est")


def kg_khop_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return khop_kmv(comention_edges(m).localCheckpoint())


def khop_kmv_sql(mentions_sql: str, k: int = KHOP_KMV_K) -> str:
    from .text_analysis import MDHASH_SQL

    return f"""
WITH {_graph_cte(mentions_sql)},
deg AS (SELECT src AS surface, CAST(count(*) AS BIGINT) AS n_1hop FROM e GROUP BY src),
ball1 AS (
  SELECT DISTINCT v, h FROM (
    SELECT src AS v, {MDHASH_SQL('dst')} AS h FROM e
    UNION ALL
    SELECT DISTINCT src AS v, {MDHASH_SQL('src')} AS h FROM e
  )
),
sk1 AS (
  SELECT v, h FROM (
    SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn
    FROM ball1
  ) WHERE rn <= {k}
),
merged AS (
  SELECT DISTINCT u, h FROM (
    SELECT e.src AS u, s.h FROM e JOIN sk1 s ON s.v = e.dst
    UNION ALL
    SELECT v AS u, h FROM sk1
  )
),
skm AS (
  SELECT u, h, row_number() OVER (PARTITION BY u ORDER BY h) AS rn
  FROM merged
),
kmv AS (
  SELECT u, count(*) AS n_h, max(CASE WHEN rn = {k} THEN h END) AS h_k
  FROM skm WHERE rn <= {k} GROUP BY u
)
SELECT d.surface, d.n_1hop,
       CASE WHEN v.n_h < {k} THEN CAST(v.n_h AS BIGINT)
            ELSE CAST((CAST({k - 1} AS HUGEINT) * {1 << 60}) // v.h_k AS BIGINT)
       END AS reach2_est
FROM deg d JOIN kmv v ON v.u = d.surface
"""


# --- common-neighbor link prediction ------------------------------------------------

CN_Q = 1_000_000  # jaccard quantum


def common_neighbors(e: DataFrame, cap: int = KHOP_CAP) -> DataFrame:
    """(surface_a, surface_b, n_common, jaccard_q): common-neighbor counts
    and quantized neighborhood Jaccard for candidate entity pairs — the
    classic link-prediction / related-entity signal over the co-mention
    graph (pairs that share many neighbors but no direct edge are likely
    missing links; pairs that share most of their neighborhoods are
    near-duplicate entities the EL stage should examine).

    Candidate pairs are generated THROUGH shared neighbors: for each node
    v, all ordered-by-name pairs of v's CAPPED adjacency (capped_adjacency
    — top-cap by weight, the same hub-proof bound as khop_counts), so the
    intermediate is at most |capped_edges|·cap rows instead of sum(deg²).
    n_common is exact below the cap (a pair is counted once per shared
    capped neighbor); jaccard_q = n_common·1e6 DIV (deg_a+deg_b−n_common)
    uses EXACT degrees — integer arithmetic, byte-identical in DuckDB.
    Only pairs with ≥ 2 shared neighbors are emitted (singleton wedges
    carry no clustering evidence and dominate the pair count)."""
    ecap = capped_adjacency(e, cap).localCheckpoint()
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    pairs = (
        ecap.select(F.col("src").alias("v"), F.col("dst").alias("a"))
        .join(ecap.select(F.col("src").alias("v"), F.col("dst").alias("b")), "v")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("surface_a"),
            F.col("b").alias("surface_b"),
            "n_common",
            F.expr(
                f"CAST((CAST(n_common AS DECIMAL(38,0)) * {CN_Q})"
                " DIV (deg_a + deg_b - n_common) AS BIGINT)"
            ).alias("jaccard_q"),
        )
    )


def kg_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return common_neighbors(comention_edges(m).localCheckpoint())


def common_neighbors_sql(mentions_sql: str, cap: int = KHOP_CAP) -> str:
    return f"""
WITH {_graph_cte(mentions_sql)},
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
ecap AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
    FROM e
  ) WHERE rn <= {cap}
),
pairs AS (
  SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM ecap e1 JOIN ecap e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY e1.dst, e2.dst
  HAVING count(*) >= 2
)
SELECT p.a AS surface_a, p.b AS surface_b, p.n_common,
       CAST((CAST(p.n_common AS HUGEINT) * {CN_Q})
            // (da.deg + db.deg - p.n_common) AS BIGINT) AS jaccard_q
FROM pairs p JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b
"""


# --- canonical-entity PageRank (composition with the EL stage) ----------------------

def kg_canonical_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the CANONICALIZED co-mention graph: BRAND aliases are
    first merged by the entity-linking stage (blocking -> scorer -> CC),
    so an entity's centrality aggregates the evidence of all its surface
    variants — the composition the KG exists for (alias 'HABECO'/'Habeco'
    mass concentrates on one node instead of splitting).  Downstream of
    link_entities; the oracle twin uses the independent normalized-group
    formulation (functions/duckdb_oracle.canonical_mentions_sql)."""
    from ..plans.entity_linking import entity_resolved_mentions, link_entities
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    # detector output materialized once: m feeds both the EL stage and
    # the resolved-mention pairing, which run as separate jobs (the EL/CC
    # checkpoints are job boundaries), so without the cut the Arrow
    # detector would run once per consumer.  This is the in-query analog
    # of the mentions snapshot the staged variant persists to parquet.
    m = detect_mentions_arrow(
        transcripts_from_documents(spark, sf_dir)
    ).localCheckpoint()
    emap = link_entities(m.filter(F.col("mention_type") == "BRAND"))
    resolved = entity_resolved_mentions(
        m, emap.select("surface", "canonical_surface")
    ).withColumn("surface", F.coalesce("canonical_surface", "surface"))
    return pagerank(comention_edges(resolved.drop("canonical_surface")))


def kg_canonical_pagerank_staged(spark, sf_dir: str, root: str) -> DataFrame:
    """Canonical-entity PageRank derived from the mentions + entity_map
    snapshots under ``root``.  The cold kg_canonical_pagerank pays the
    blocking→scorer→CC prefix in its own lineage; here it is materialized
    once and PageRank iterates over parquet snapshot reads, and a call on
    a completed root resumes from them.  Transcripts are not snapshotted:
    the mention stream is this consumer's resume point, so the largest
    snapshot write is not paid.  Same oracle twin as the cold query."""
    from ..plans.entity_linking import entity_resolved_mentions
    from ..sources.checkpoints import kg_pipeline
    from ..sources.transcripts import transcripts_from_documents

    done = kg_pipeline(
        spark,
        root,
        lambda sp: transcripts_from_documents(sp, sf_dir),
        ("mentions", "entity_map"),
    ).run()
    m = done["mentions"].drop("mention_id")
    emap = done["entity_map"]
    resolved = entity_resolved_mentions(
        m, emap.select("surface", "canonical_surface")
    ).withColumn("surface", F.coalesce("canonical_surface", "surface"))
    return pagerank(comention_edges(resolved.drop("canonical_surface")))


# --- staged graph-family prefix (one capped table + one probe per run) --------------

def kg_entity_pagerank_staged(spark, sf_dir: str, root: str) -> DataFrame:
    """Entity PageRank from the capped_surfaces + edges snapshots under
    ``root`` (built on the first call, resumed on later ones).  Same oracle
    twin as the cold kg_entity_pagerank."""
    from ..sources.checkpoints import kg_pipeline
    from ..sources.transcripts import transcripts_from_documents

    done = kg_pipeline(
        spark,
        root,
        lambda sp: transcripts_from_documents(sp, sf_dir),
        ("capped_surfaces", "edges"),
    ).run()
    return pagerank(done["edges"])


def graph_family_staged(spark, sf_dir: str, root: str) -> dict[str, DataFrame]:
    """The whole plain-graph family derived from one capped_surfaces +
    edges snapshot build.  Every cold family entry runs its own detector
    lineage, capped-table checkpoint and fan-out probe; staged, one probe
    and one materialization serve every consumer, because the snapshot is
    the post-cap table and a resume re-probes nothing (pinned by
    test_r8_graph_stage.py, which counts CAP_PATH_STATS probes).  The
    training-feed samplers (neighbor/negative/walks) derive from the same
    edge snapshot as the analytics.  Canonical PageRank is not here: its
    capped table is built over alias-resolved mentions, a different
    upstream (kg_canonical_pagerank_staged)."""
    from ..sources.checkpoints import kg_pipeline
    from ..sources.transcripts import transcripts_from_documents

    done = kg_pipeline(
        spark,
        root,
        lambda sp: transcripts_from_documents(sp, sf_dir),
        ("capped_surfaces", "edges"),
    ).run()
    cs, e = done["capped_surfaces"], done["edges"]
    le = lifted_edges_from_surfaces(cs)
    return {
        # no extra edge checkpoint here: e is already a parquet-backed
        # snapshot, so each consumer's re-read is a scan, not a lineage
        "kg_neighbor_sample": neighbor_sample(e),
        "kg_negative_sample": negative_sample(e),
        "kg_random_walks": random_walks(e),
        "kg_entity_pagerank": pagerank(e),
        "kg_triangle_counts": triangle_counts(e),
        "kg_khop_counts": khop_counts(e),
        "kg_khop_kmv": khop_kmv(e),
        "kg_common_neighbors": common_neighbors(e),
        "kg_export_neighbors": export_neighbors(e),
        "kg_degree_distribution": degree_distribution(e),
        "kg_kcore": kcore_peel(e),
        "kg_edge_lift": le,
        "kg_communities": label_propagation(
            le.filter(F.col("lift_ppm") >= LPA_PRUNE_PPM)
        ).select(
            F.col("node").alias("surface"), F.col("label").alias("community")
        ),
    }


# --- adjacency-list export (graph materialize, consumer-facing shape) ---------------

def kg_export_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency-list export of the co-mention graph: one row per entity
    with its neighbors as a deterministic ' '-joined "dst:w" list (sorted
    by weight desc then name) — the compact consumer-facing shape a graph
    service or GNN sampler loads, vs. the edge-table shape analytics use.
    One groupBy on src; the in-group sort is array_sort of collected
    structs (bounded by the entity's degree), not a global sort.
    Reference analog: per-document grouped output shaping,
    kie_utils.py:314-340."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return export_neighbors(comention_edges(m))


def export_neighbors(e: DataFrame) -> DataFrame:
    """Adjacency-list export from an edge table (the from-edges core of
    kg_export_neighbors, shared with graph_family_staged)."""
    return (
        e.groupBy(F.col("src").alias("surface"))
        .agg(
            F.count("*").cast("long").alias("n_neighbors"),
            F.sum("w").cast("long").alias("total_w"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("w")).alias("nw"), "dst"))
                    ),
                    lambda s: F.concat_ws(":", s["dst"], (-s["nw"]).cast("string")),
                ),
                " ",
            ).alias("neighbors"),
        )
    )


def export_neighbors_sql(mentions_sql: str) -> str:
    return f"""
WITH {_graph_cte(mentions_sql)}
SELECT src AS surface, CAST(count(*) AS BIGINT) AS n_neighbors,
       CAST(sum(w) AS BIGINT) AS total_w,
       string_agg(dst || ':' || CAST(w AS VARCHAR), ' ' ORDER BY -w, dst)
         AS neighbors
FROM e GROUP BY src
"""


# --- degree distribution (graph-shape monitor) --------------------------------------

def kg_degree_distribution(spark, sf_dir: str) -> DataFrame:
    """(bucket, n_nodes, min_deg, max_deg, sum_deg): log2-binned degree
    histogram of the co-mention graph — the graph-shape monitor that
    detects hub emergence (a new high bucket appearing) and
    fragmentation (mass piling into bucket 0) without materializing
    anything per-node downstream.  Operationally the companion to
    kg_predicate_stats: that one sizes the triple-write salting, this
    one decides whether the adjacency caps (KHOP_CAP, COMENTION_CAP)
    still cover the degree mass.

    bucket = floor(log2(degree)) computed as length(bin(deg)) − 1 —
    pure integer/string arithmetic, byte-identical in DuckDB (float
    log2 at exact powers of two is a libm ulp hazard across engines).
    Shape: one degree aggregation (map-side combined) then a
    bucket-count aggregation over the node table — nothing bigger than
    the entity set ever shuffles."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return degree_distribution(comention_edges(m))


def degree_distribution(e: DataFrame) -> DataFrame:
    """Log2-binned degree histogram from an edge table (the from-edges
    core of kg_degree_distribution, shared with graph_family_staged)."""
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    return (
        deg.groupBy(
            (F.length(F.bin(F.col("deg"))) - 1).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
            F.sum("deg").cast("long").alias("sum_deg"),
        )
    )


def kg_conv_fanout(spark, sf_dir: str) -> DataFrame:
    """(bucket, n_convs, min_d, max_d, n_over_cap): log2-binned histogram
    of per-conversation DISTINCT NAME/BRAND surface counts — the
    conversation-side companion to kg_degree_distribution (which monitors
    node degrees): this is the monitor that tells whether COMENTION_CAP
    still covers the fan-out mass.  capped_conv_surfaces skips its top-N
    windows when the max fan-out is ≤ cap, and this histogram is how an
    operator WATCHES that condition corpus-wide — n_over_cap > 0 in any bucket
    means the skew path (and its truncation-to-top-cap semantics) is
    live, a new high bucket appearing means an agent loop started
    spamming entity lists.  bucket = floor(log2(d)) via length(bin(d))−1,
    pure integer arithmetic, byte-identical in DuckDB (the same libm-free
    binning as kg_degree_distribution).  Shape: one map-side-combined
    distinct-count per conversation, then a bucket rollup — nothing
    bigger than the conversation count ever shuffles.  Reference analog:
    per-image detected-box count summaries, kie_utils.py:133-150."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return conv_fanout_hist(m)


def conv_fanout_hist(
    mentions: DataFrame, cap: int = COMENTION_CAP
) -> DataFrame:
    """The fan-out histogram over an arbitrary mentions table — split out
    of kg_conv_fanout (identical expressions, same plan) so the
    probe/monitor agreement property can be tested on planted fan-outs
    straddling the cap (test_r8_cap_routing.py): across all buckets,
    sum(n_over_cap) > 0 ⇔ capped_conv_surfaces takes its skew path —
    the monitor observes exactly the decision the cap probe makes,
    computed independently (countDistinct here vs the probe's count over
    the grouped cnt table)."""
    d = (
        mentions.filter(F.col("mention_type").isin(*PR_TYPES))
        .groupBy("conv_id")
        .agg(F.countDistinct("surface").cast("long").alias("d"))
    )
    return (
        d.groupBy(
            (F.length(F.bin(F.col("d"))) - 1).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.min("d").cast("long").alias("min_d"),
            F.max("d").cast("long").alias("max_d"),
            F.sum(
                F.when(F.col("d") > cap, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_over_cap"),
        )
    )


def conv_fanout_sql(mentions_sql: str) -> str:
    types = ", ".join(f"'{t}'" for t in PR_TYPES)
    return f"""
WITH m AS MATERIALIZED ({mentions_sql}),
d AS (
  SELECT conv_id, CAST(count(DISTINCT surface) AS BIGINT) AS d
  FROM m WHERE mention_type IN ({types}) GROUP BY conv_id
)
SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_convs,
       CAST(min(d) AS BIGINT) AS min_d,
       CAST(max(d) AS BIGINT) AS max_d,
       CAST(sum(CASE WHEN d > {COMENTION_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_cap
FROM d GROUP BY 1
"""


def degree_distribution_sql(mentions_sql: str) -> str:
    return f"""
WITH {_graph_cte(mentions_sql)},
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)
SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg,
       CAST(sum(deg) AS BIGINT) AS sum_deg
FROM deg GROUP BY 1
"""


# --- entity observation timelines (temporal provenance) -----------------------------

def kg_entity_timeline(spark, sf_dir: str) -> DataFrame:
    """(surface, pred, first_ts_us, last_ts_us, n_mentions, n_convs): each
    entity's corpus-wide observation window — when it was first and last
    seen, how often, across how many conversations.  The temporal
    provenance a KG attaches to every node (staleness scoring, entity
    drift monitors, "last confirmed" timestamps for downstream
    consumers).

    Timestamps are emitted as INTEGER microseconds (unix_micros on the
    session-UTC timestamp / epoch_us in DuckDB) — the repo's timestamp
    parity convention (fractional epoch seconds round differently across
    engines).  Shape at 10^12 turns: the mentions→turn-ts join is an
    equi-join on (conv_id, turn_idx) — both sides partition-compatible
    with the extraction shuffle — and the rollup groupBy(surface, pred)
    is map-side combined; the distinct-conversation count rides the same
    aggregation.  Reference analog: per-field timing/provenance metadata,
    backend_utils.py:30-40.
    """
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    t = transcripts_from_documents(spark, sf_dir)
    m = detect_mentions_arrow(t)
    ts = t.select(
        "conv_id", "turn_idx", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return (
        m.select("conv_id", "turn_idx", "surface", "mention_type")
        .join(ts, ["conv_id", "turn_idx"])
        .groupBy(F.col("surface"), F.col("mention_type").alias("pred"))
        .agg(
            F.min("ts_us").cast("long").alias("first_ts_us"),
            F.max("ts_us").cast("long").alias("last_ts_us"),
            F.count("*").cast("long").alias("n_mentions"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
    )


def entity_timeline_sql(mentions_sql: str, transcripts_sql: str) -> str:
    return f"""
WITH m AS ({mentions_sql}),
t AS ({transcripts_sql})
SELECT m.surface, m.mention_type AS pred,
       CAST(min(epoch_us(t.ts)) AS BIGINT) AS first_ts_us,
       CAST(max(epoch_us(t.ts)) AS BIGINT) AS last_ts_us,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT m.conv_id) AS BIGINT) AS n_convs
FROM m JOIN t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
GROUP BY m.surface, m.mention_type
"""


# --- predicate-level skew / quality monitor -----------------------------------------

PS_Q = 1_000_000  # share quantum


def kg_predicate_stats(spark, sf_dir: str) -> DataFrame:
    """(pred, n_mentions, n_surfaces, n_convs, top_surface, top_share_ppm):
    per-predicate distribution rollup over the mention stream — the skew
    monitor that justifies (and sizes) the hot-entity salting in the
    triple writer: top_share_ppm is the mention share of the predicate's
    most frequent surface, the quantity that decides whether a predicate
    partition needs its hot subject spread across salt buckets.

    Deterministic: the top surface breaks count ties by surface ASC (a
    row_number window over the per-(pred, surface) aggregate — vocabulary-
    sized input, not the mention stream).  Integer share via
    (cnt * 1e6) DIV total.  Two map-side-combined aggregations and one
    tiny window — nothing touches the corpus twice.
    """
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    # the mention stream feeds two different aggregations (per-surface
    # counts, distinct conversations) whose exchanges don't overlap, so
    # without a lineage cut the Arrow detector executes once per branch
    # (the diamond trap kg_triangle_counts documented); checkpoint the
    # 3-column projection once
    m = (
        detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
        .select("mention_type", "surface", "conv_id")
        .localCheckpoint()
    )
    per_surface = m.groupBy(
        F.col("mention_type").alias("pred"), "surface"
    ).agg(F.count("*").cast("long").alias("cnt"))
    totals = per_surface.groupBy("pred").agg(
        F.sum("cnt").cast("long").alias("n_mentions"),
        F.count("*").cast("long").alias("n_surfaces"),
    )
    convs = (
        m.select(F.col("mention_type").alias("pred"), "conv_id")
        .distinct()
        .groupBy("pred")
        .agg(F.count("*").cast("long").alias("n_convs"))
    )
    w = Window.partitionBy("pred").orderBy(F.desc("cnt"), F.asc("surface"))
    top = (
        per_surface.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pred", F.col("surface").alias("top_surface"), F.col("cnt").alias("top_cnt"))
    )
    return (
        totals.join(convs, "pred")
        .join(top, "pred")
        .select(
            "pred",
            "n_mentions",
            "n_surfaces",
            "n_convs",
            "top_surface",
            F.expr(f"CAST((top_cnt * {PS_Q}) DIV n_mentions AS BIGINT)").alias(
                "top_share_ppm"
            ),
        )
    )


def predicate_stats_sql(mentions_sql: str) -> str:
    return f"""
WITH m AS ({mentions_sql}),
per_surface AS (
  SELECT mention_type AS pred, surface, CAST(count(*) AS BIGINT) AS cnt
  FROM m GROUP BY mention_type, surface
),
totals AS (
  SELECT pred, CAST(sum(cnt) AS BIGINT) AS n_mentions,
         CAST(count(*) AS BIGINT) AS n_surfaces
  FROM per_surface GROUP BY pred
),
convs AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_convs FROM (
    SELECT DISTINCT mention_type AS pred, conv_id FROM m
  ) GROUP BY pred
),
top AS (
  SELECT pred, surface AS top_surface, cnt AS top_cnt FROM (
    SELECT *, row_number() OVER (PARTITION BY pred
                                 ORDER BY cnt DESC, surface) AS rn
    FROM per_surface
  ) WHERE rn = 1
)
SELECT t.pred, t.n_mentions, t.n_surfaces, c.n_convs, p.top_surface,
       CAST((p.top_cnt * {PS_Q}) // t.n_mentions AS BIGINT) AS top_share_ppm
FROM totals t JOIN convs c USING (pred) JOIN top p USING (pred)
"""


# --- edge lift (statistical edge pruning) -------------------------------------------

LIFT_Q = 1_000_000  # ppm quantization for the lift score


def kg_edge_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w, lift_ppm): association LIFT for every co-mention edge
    — lift = P(src,dst) / (P(src)·P(dst)) over conversations, the signal
    that separates genuinely associated entity pairs from pairs that
    co-occur only because both are frequent.  At 100 TB this is the edge
    PRUNING criterion: a corpus-scale co-mention graph keeps edges with
    lift above a threshold, not edges with raw weight above one, because
    raw weight just re-ranks the head of the frequency distribution.

    Exact integer arithmetic end to end (no log-PMI — float ln() is a
    cross-engine ulp hazard; lift is the same ORDER as PMI for fixed
    pair):  lift_ppm = (w · n_conv · 1e6) DIV (c_src · c_dst), where w =
    conversations containing BOTH surfaces (the capped edge weight),
    c_s = conversations containing s, n_conv = conversations with ≥1
    capped NAME/BRAND surface.  Products are widened to DECIMAL(38,0)
    (HUGEINT in the DuckDB twin): w·n_conv·1e6 ≤ 1e12·1e12·1e6 = 1e30
    fits 38 digits where pure BIGINT wraps silently at ~9.2e18 — the
    same overflow discipline as ta_ngram_lm_score / ta_tfidf_topk.

    Shape: edges are O(conversations · cap²) via capped_conv_surfaces;
    the capped surface table is localCheckpoint'd ONCE because it feeds
    FOUR plan branches (both sides of the pairing join, the surface
    counts, the conversation total) — uncut, the final plan carried five
    copies of the mention-detection lineage (19 exchanges / 5 arrow ops
    audited; 5 / 0 after the cut — detection rides the checkpoint job,
    audited once there), correct only via runtime
    ReusedExchange — the same fan-out discipline as pagerank's ew/nodes
    checkpoints.  Surface counts are entity-sized equi-joins on src/dst,
    and n_conv rides a broadcast 1-row cross join.  Nothing bigger than
    the edge table ever shuffles.  Reference analog: edge-score
    thresholding before graph construction, backend/kie/kie_utils.py
    (adjacency built from score-filtered boxes).
    """
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return lifted_edges(m)


def lifted_edges(mentions: DataFrame) -> DataFrame:
    """(src, dst, w, lift_ppm): the capped co-mention edges annotated with
    integer lift — shared by kg_edge_lift (the raw scores) and
    kg_communities (the lift-pruned propagation graph)."""
    return lifted_edges_from_surfaces(
        capped_conv_surfaces(mentions).localCheckpoint()
    )


def lifted_edges_from_surfaces(cs: DataFrame) -> DataFrame:
    """lifted_edges from an already-MATERIALIZED capped (conv_id, surface)
    table (localCheckpoint upstream, or a parquet snapshot on the
    graph_family_staged path) — cs feeds four plan branches, so the
    caller must have cut its lineage."""
    e = _pair_edges(cs)
    sc = cs.groupBy("surface").agg(F.count("*").cast("long").alias("c_s"))
    tot = cs.agg(F.countDistinct("conv_id").cast("long").alias("n_conv"))
    return (
        e.join(
            sc.select(F.col("surface").alias("src"), F.col("c_s").alias("c_src")),
            "src",
        )
        .join(
            sc.select(F.col("surface").alias("dst"), F.col("c_s").alias("c_dst")),
            "dst",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            "dst",
            "w",
            F.expr(
                f"CAST((CAST(w AS DECIMAL(38,0)) * n_conv * {LIFT_Q})"
                " DIV (CAST(c_src AS DECIMAL(38,0)) * c_dst) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def _lift_cte(mentions_sql: str) -> str:
    """CTE chain ending in ``le`` (src, dst, w, lift_ppm) — the oracle
    twin of lifted_edges, shared by the lift and community oracles."""
    return f"""{_graph_cte(mentions_sql)},
sc AS (SELECT surface, CAST(count(*) AS BIGINT) AS c_s FROM cs GROUP BY surface),
tot AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conv FROM cs),
le AS MATERIALIZED (
  SELECT e.src, e.dst, e.w,
         CAST((CAST(e.w AS HUGEINT) * tot.n_conv * {LIFT_Q})
              // (CAST(sa.c_s AS HUGEINT) * sb.c_s) AS BIGINT) AS lift_ppm
  FROM e
  JOIN sc sa ON sa.surface = e.src
  JOIN sc sb ON sb.surface = e.dst
  CROSS JOIN tot
)"""


def edge_lift_sql(mentions_sql: str) -> str:
    return f"""
WITH {_lift_cte(mentions_sql)}
SELECT src, dst, w, lift_ppm FROM le
"""


# --- k-core peel (dense-backbone monitor) -------------------------------------------

KCORE_K = 18  # minimum degree a node needs to survive a peel.  Chosen so
#               EVERY peel round binds on the synthetic fixture (sf0.01
#               sequence 36 -> 25 -> 8 -> 0 nodes): a k below the fixture's
#               minimum degree would certify only the nothing-to-peel path.
KCORE_PEELS = 4  # fixed peel rounds (bounded compute; convergence is visible
#                  in the output when successive rows stop shrinking)


def kcore_peel(
    e: DataFrame, k: int = KCORE_K, peels: int = KCORE_PEELS
) -> DataFrame:
    """(peel, n_nodes, n_edges): surviving node / directed-edge counts
    after each of ``peels`` fixed rounds of k-core peeling — drop every
    node with fewer than k distinct neighbors, drop edges touching a
    dropped node, repeat.  The dense-backbone monitor: the k-core is
    where a KG's reliable structure lives (alias clusters, recurring
    entity groups), and watching the peel sequence tells whether the
    graph is densifying (counts stabilize high) or fragmenting (counts
    collapse to zero) release over release.

    FIXED peel count, not a fixpoint loop — the same determinism bargain
    as the 8-iteration PageRank: both engines unroll identical rounds, no
    data-dependent convergence test to disagree on.  Rows where
    consecutive peels are equal certify the true k-core was reached.

    Scale shape: each round is one map-side-combined degree count plus
    two node-keyed semi-joins; the edge table is localCheckpoint'd per
    round — without the cut each round references its predecessor THREE
    times (degree + both endpoint filters), so lineage grows 3^peels (81
    subtree copies by round 4); with it, linear — the same per-round
    materialization discipline as connected_components (which cuts for
    the same fan-out reason).  n_edges counts DIRECTED rows (the
    symmetric edge list carries each undirected edge twice).

    Input contract: symmetric edges, as comention_edges and lifted_edges
    build them; degree is counted on src, so a node seen only as dst of a
    directed list has no degree and its edges are dropped in round 1.

    Overflow: the degree is a row count, which cannot reach int64 (a node
    would need 9.2e18 incident rows), and no PR_SCALE units enter the
    arithmetic, so unlike pagerank and label_propagation this operator
    makes no ANSI check of its own.
    """
    out = None
    cur = e.select("src", "dst").localCheckpoint()
    for i in range(1, peels + 1):
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("src").alias("node"))
        cur = (
            cur.join(keep, cur.src == keep.node, "left_semi")
            .join(keep, cur.dst == keep.node, "left_semi")
            .localCheckpoint()
        )
        row = (
            cur.agg(F.count("*").cast("long").alias("n_edges"))
            .crossJoin(
                cur.select(F.col("src").alias("node"))
                .distinct()
                .agg(F.count("*").cast("long").alias("n_nodes"))
            )
            .select(
                F.lit(i).cast("int").alias("peel"), "n_nodes", "n_edges"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel sequence of the NAME/BRAND co-mention graph."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return kcore_peel(comention_edges(m))


def kcore_sql(
    mentions_sql: str, k: int = KCORE_K, peels: int = KCORE_PEELS
) -> str:
    """Unrolled peel rounds as chained CTEs (e → e1 → … → e{peels}).

    Every n{i}/e{i} is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    each level references its predecessor three times (degree subquery +
    both endpoint joins) plus the final counts twice more — inlined,
    the chain re-evaluates the base graph 3^peels times (the k-scan that
    chose KCORE_K timed out before materialization; 0.3 s after).  The
    exact oracle-side twin of the Spark path's per-round localCheckpoint."""
    ctes, selects, prev = [], [], "e"
    for i in range(1, peels + 1):
        ctes.append(
            f"""n{i} AS MATERIALIZED (
  SELECT src AS node FROM (SELECT src, count(*) AS deg FROM {prev} GROUP BY src)
  WHERE deg >= {k}
),
e{i} AS MATERIALIZED (
  SELECT x.src, x.dst FROM {prev} x
  JOIN n{i} a ON x.src = a.node JOIN n{i} b ON x.dst = b.node
)"""
        )
        selects.append(
            f"SELECT {i} AS peel,"
            f" CAST((SELECT count(DISTINCT src) FROM e{i}) AS BIGINT) AS n_nodes,"
            f" CAST((SELECT count(*) FROM e{i}) AS BIGINT) AS n_edges"
        )
        prev = f"e{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {_graph_cte(mentions_sql)},
{body}
{' UNION ALL '.join(selects)}
"""


# --- label-propagation communities (graph clustering) -------------------------------

LPA_ITERS = 2  # fixed synchronous rounds (determinism bargain as PR_ITERS:
#                both engines unroll identical rounds; no convergence test,
#                and the classic LPA bipartite oscillation is irrelevant
#                because both dialects stop at the same round)


def label_propagation(e: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """(node, label): synchronous weighted label propagation — every node
    starts as its own label; each round it adopts the label carrying the
    MOST total edge weight among its neighbors (ties → lexicographically
    smallest label).  Two rounds of adoption collapse satellite surfaces
    onto their hubs — COMMUNITIES, the structure connected components
    cannot see (the co-mention graph is one giant component at every
    fixture SF, while communities split it into topical clusters).

    Deterministic argmax WITHOUT a per-node sort window: each round is one
    groupBy(src, label) summing the weights sw, then one groupBy(src)
    taking min(struct(-sw, label)) — the largest sw, then the smallest
    label — so each round's scores are computed once, and a hub's label
    multiset is reduced by partial aggregation instead of sorted in one
    task as a partitionBy(node) ranking window would.  sw sums
    non-negative counts, so its negation cannot overflow.

    Input contract: symmetric edges, as comention_edges and lifted_edges
    build them; the node set is src, so a node seen only as dst of a
    directed list gets no label.

    Overflow: requires ANSI mode (session.require_ansi raises otherwise).
    sw = Σw over a node's incident labels can exceed int64 at extreme
    corpus scale; Spark then raises ARITHMETIC_OVERFLOW in the sum and the
    job fails, where a wrapped sw would flip the argmax and silently
    reassign communities.  The weights are conversation counts, not
    PR_SCALE units, so lowering PR_SCALE (pagerank's remedy as N·SCALE
    nears 9.2e18) does not apply here.
    """
    require_ansi(e.sparkSession)
    e0 = e.select("src", "dst", "w").localCheckpoint()
    lbl = (
        e0.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(iters):
        lbl = (
            e0.join(lbl, e0.dst == lbl.node)
            .groupBy("src", "label")
            .agg(F.sum("w").cast("long").alias("sw"))
            .groupBy("src")
            .agg(F.min(F.struct(-F.col("sw"), F.col("label"))).alias("best"))
            .select(F.col("src").alias("node"), F.col("best.label").alias("label"))
        )
    return lbl


LPA_PRUNE_PPM = LIFT_Q  # propagate only over lift > 1 (positive association)


def kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(surface, community): label-propagation communities of the
    LIFT-PRUNED NAME/BRAND co-mention graph — the composition
    kg_edge_lift's docstring advertises: prune to positively-associated
    edges (lift > 1, i.e. lift_ppm ≥ 1e6 — a principled threshold, not a
    tuned one: lift 1 is statistical independence), then propagate.

    Pruning is LOAD-BEARING, not an optimization: over the UNPRUNED
    fixture graph (a near-clique of 40 gazetteer surfaces) two LPA
    rounds collapse all 40 nodes into the single global-hub community —
    a correct LPA outcome that certifies nothing.  Over the lift-pruned
    graph the same rounds find 7 communities (sizes 22/5/4/4/3/1/1 at
    sf0.01) — the co-occurrence STRUCTURE, which raw co-mention weight
    cannot see because frequent surfaces co-occur with everything.

    Coverage contract: the output node set is the lift-pruned graph's
    node set — a surface whose incident edges are ALL lift-pruned (no
    positively-associated neighbor anywhere) is ABSENT from the output,
    not emitted as a singleton community.  Consumers
    needing full surface coverage must left-join this result onto the
    co-mention node set and treat NULL as "no community evidence"; both
    engines implement the identical subset, so parity holds by
    construction."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    pe = lifted_edges(m).filter(F.col("lift_ppm") >= LPA_PRUNE_PPM)
    return label_propagation(pe).select(
        F.col("node").alias("surface"), F.col("label").alias("community")
    )


def communities_sql(mentions_sql: str, iters: int = LPA_ITERS) -> str:
    """Unrolled LPA rounds as MATERIALIZED CTEs (same inlining hazard as
    kcore_sql: each round references its predecessor multiple times),
    over the lift-pruned edge set ``pe``."""
    ctes = [
        f"pe AS MATERIALIZED (SELECT src, dst, w FROM le"
        f" WHERE lift_ppm >= {LPA_PRUNE_PPM})",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM pe)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.src, l.label, CAST(sum(e.w) AS BIGINT) AS sw
  FROM pe e JOIN {prev} l ON e.dst = l.node GROUP BY e.src, l.label
),
m{i} AS MATERIALIZED (SELECT src, max(sw) AS mw FROM c{i} GROUP BY src),
l{i} AS MATERIALIZED (
  SELECT c.src AS node, min(c.label) AS label
  FROM c{i} c JOIN m{i} m USING (src) WHERE c.sw = m.mw GROUP BY c.src
)"""
        )
        prev = f"l{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {_lift_cte(mentions_sql)},
{body}
SELECT node AS surface, label AS community FROM {prev}
"""


# --- deterministic GraphSAGE-style neighbor sampling (GNN training batches) ----------

NS_FAN1 = 4  # hop-1 fan-out; small so the sf0.01 fixture exercises the
NS_FAN2 = 2  # SAMPLING branch (degrees > fan), not just pass-through


def neighbor_sample(
    e: DataFrame, fan1: int = NS_FAN1, fan2: int = NS_FAN2
) -> DataFrame:
    """(seed, hop, parent, node): 2-hop GraphSAGE-style fan-out sample
    rooted at EVERY node — the mini-batch neighborhoods a GNN trainer
    consumes (Hamilton et al. 2017).  The reference trains its GCN on the
    FULL per-document graph (models/gated_gcn.py:329-362 builds every
    edge of one invoice); at corpus scale the training analog is sampled
    neighborhoods over the global co-mention graph, and the sampler —
    not the model — is the data-engine's job.

    hop-1 rows: (u, 1, u, v) for v in S1(u), S1 = per-node top-``fan1``
    by the 'h1'-salted hash order.  hop-2 rows: (u, 2, v, w) for v in
    S1(u), w in S2(v) — S2 is one SHARED per-node top-``fan2`` table
    ('h2' salt), joined behind hop-1, the histogram-style reuse
    production samplers make (one sample pass + one bounded equi-join,
    |S1| <= N*fan1 rows joining |S2| <= N*fan2, instead of a per-seed
    re-draw whose candidate set is sum_deg(v) rows).  Revisits (w == u
    or w in S1(u)) are kept, as in GraphSAGE.  Deterministic, so
    training batches replay byte-identically across restarts.

    Each sample is one top-``fan`` window per src (top_n), as in the
    DuckDB twin; two windows, because a filter that ORs both ranks
    would hide each rank from Spark's group limit."""
    from .text_analysis import mdhash_spark

    def sample(fan: int, salt: str) -> DataFrame:
        key = mdhash_spark(F.concat_ws("\x1f", F.lit(salt), "src", "dst"))
        return top_n(e, "src", [key, F.asc("dst")], fan).select("src", "dst")

    # one eager cut: S1 feeds the hop-1 rows and the hop-2 join, and is
    # bounded at N*fan1 rows; S2 has one consumer
    s1 = sample(fan1, "h1").localCheckpoint()
    s2 = sample(fan2, "h2")
    hop1 = s1.select(
        F.col("src").alias("seed"),
        F.lit(1).cast("int").alias("hop"),
        F.col("src").alias("parent"),
        F.col("dst").alias("node"),
    )
    hop2 = (
        s1.select(F.col("src").alias("seed"), F.col("dst").alias("parent"))
        .join(
            s2.select(F.col("src").alias("parent"), F.col("dst").alias("node")),
            "parent",
        )
        .select(
            "seed", F.lit(2).cast("int").alias("hop"), "parent", "node"
        )
    )
    return hop1.unionByName(hop2)


def kg_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: 2-hop sampled neighborhoods for every entity in
    the co-mention graph — the GNN-training mini-batch feed (see
    neighbor_sample).  Edges localCheckpointed once: both hops' sample
    windows and the hop-2 join read the SAME materialized edge set, not
    three re-runs of the detector lineage."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return neighbor_sample(comention_edges(m).localCheckpoint())


def neighbor_sample_sql(
    mentions_sql: str, fan1: int = NS_FAN1, fan2: int = NS_FAN2
) -> str:
    """DuckDB twin — the same top-``fan`` window per node and md5 sample
    order."""
    from .text_analysis import MDHASH_SQL

    def samp(fan: int, salt: str) -> str:
        key = MDHASH_SQL(f"concat_ws(chr(31), '{salt}', src, dst)")
        return f"""(
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY {key}, dst) AS rn
    FROM e
  ) WHERE rn <= {fan}
)"""

    return f"""
WITH {_graph_cte(mentions_sql)},
s1 AS MATERIALIZED {samp(fan1, 'h1')},
s2 AS MATERIALIZED {samp(fan2, 'h2')}
SELECT seed, hop, parent, node FROM (
  SELECT src AS seed, 1 AS hop, src AS parent, dst AS node FROM s1
  UNION ALL
  SELECT s1.src AS seed, 2 AS hop, s1.dst AS parent, s2.dst AS node
  FROM s1 JOIN s2 ON s2.src = s1.dst
)
"""


# --- deterministic negative edge sampling (KGE / unsupervised-GNN training) ----------

NEG_K = 2  # negatives kept per positive edge
NEG_TRIALS = 6  # hash draws per edge; > k so rejections rarely starve an edge


def _dense_node_index(nodes: DataFrame, n_parts: int | None = None) -> DataFrame:
    """(node, idx): a dense 0-based index over distinct nodes in node-ASC
    order — the draw table negative sampling maps hashes onto.  Same
    two-phase pattern as _global_rank (range partition + local
    row_number + broadcast triangular offsets) because the naive
    row_number() OVER (ORDER BY node) drags every node through ONE
    window task; node is unique so the global index is
    partition-boundary-independent.  localCheckpoint for the same
    three-branch fan-out reason as _global_rank."""
    if n_parts is None:
        n_parts = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = (
        nodes.repartitionByRange(n_parts, F.asc("node"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    wl = Window.partitionBy("pid").orderBy(F.asc("node"))
    local = part.withColumn("lrn", F.row_number().over(wl))
    counts = part.groupBy("pid").agg(F.count("*").cast("long").alias("cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(y, F.col("y.pid") < F.col("x.pid"), "left")
        .groupBy(F.col("x.pid").alias("pid"))
        .agg(F.coalesce(F.sum("y.cnt"), F.lit(0)).cast("long").alias("off"))
    )
    return local.join(F.broadcast(offsets), "pid").select(
        "node", (F.col("lrn") + F.col("off") - 1).cast("bigint").alias("idx")
    )


def negative_sample(
    e: DataFrame, k: int = NEG_K, trials: int = NEG_TRIALS
) -> DataFrame:
    """(src, dst, trial, neg): up to ``k`` NEGATIVE nodes per positive
    co-mention edge — the corruption feed KGE objectives (TransE-style
    dst replacement) and GraphSAGE's unsupervised loss consume next to
    the neighbor_sample positives.  Draw ``trials`` candidates per edge
    by the keyed md5 order (idx = mdhash('ng', src, dst, trial) mod N
    into a dense node index — uniform across re-runs AND replayable;
    rand() would break the oracle gate and resume), REJECT candidates
    that are the source itself or a true neighbor of src (false
    negatives poison the loss), dedup repeated draws per edge (min
    trial wins), keep the first ``k`` survivors by trial order.  Edges
    with more rejections than spare trials keep < k — documented,
    deterministic, and mirrored in the twin (no rejection-resample loop
    for the engines to disagree on).

    Scale shape: every stage is bounded — draws are |E|·trials rows
    joined on idx against the N-row node index (plain equi-joins, no
    broadcast of input-proportional sides), the false-negative check is
    one anti-join against the edge set, and the per-edge dedup+top-k is
    ONE groupBy(src, dst) with an in-group array fold over ≤ trials
    rows (no window, no second survivor shuffle).  N rides the
    plan as a broadcast 1-row count (no driver action).  The dense
    index is the one global total order, built two-phase like
    _global_rank — no single-task window anywhere."""
    from .text_analysis import mdhash_spark

    e0 = e.select("src", "dst").localCheckpoint()
    # the index has two consumers (the N count and the idx join) but no
    # eager outer checkpoint: _dense_node_index already cuts its build
    # at the range-partitioned node table, so each consumer replays
    # only the cheap post-checkpoint tail (a window + a triangular
    # offset join over N rows) — an extra barrier here measured SLOWER
    # than the replay at both 2 and 8 cores (2M-edge graph)
    nodes = _dense_node_index(e0.select(F.col("src").alias("node")).distinct())
    ntab = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    draws = (
        e0.crossJoin(F.broadcast(ntab))
        .select(
            "src",
            "dst",
            "n_nodes",
            F.explode(F.sequence(F.lit(0), F.lit(trials - 1))).alias("trial"),
        )
        .select(  # n_nodes must not ride the 12M-row draw shuffle
            "src",
            "dst",
            "trial",
            F.pmod(
                mdhash_spark(
                    F.concat_ws(
                        "\x1f",
                        F.lit("ng"),
                        "src",
                        "dst",
                        F.col("trial").cast("string"),
                    )
                ),
                F.col("n_nodes"),
            ).alias("idx"),
        )
    )
    cand = draws.join(nodes, "idx").select(
        "src", "dst", "trial", F.col("node").alias("neg")
    )
    surv = cand.filter(F.col("neg") != F.col("src")).join(
        e0.select("src", F.col("dst").alias("neg")), ["src", "neg"], "left_anti"
    )
    # dedup + top-k FUSED into one groupBy and an in-group array fold:
    # iterating trials ascending and keeping the first k DISTINCT negs
    # is identical to "min trial per neg, then first k by trial" (a
    # kept neg's later re-draws are skipped, and a neg first drawn
    # after the k-th keeper can never outrank it), so the twin's
    # groupBy+window shape needs only ONE survivor shuffle here —
    # groups are ≤ trials rows, the fold is whole-stage-codegen'd.
    # Two-param lambdas only, no defaults (CLAUDE.md: PySpark binds
    # the array index to a second parameter with defaults).
    kept0 = F.array().cast("array<struct<trial:int,neg:string>>")
    return (
        surv.groupBy("src", "dst")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("trial").cast("int").alias("trial"),
                        F.col("neg").alias("neg"),
                    )
                )
            ).alias("cands")
        )
        .select(
            "src",
            "dst",
            F.explode(
                F.aggregate(
                    "cands",
                    kept0,
                    lambda kept, x: F.when(
                        (F.size(kept) < k)
                        & ~F.exists(kept, lambda y: y["neg"] == x["neg"]),
                        F.concat(kept, F.array(x)),
                    ).otherwise(kept),
                )
            ).alias("kn"),
        )
        .select(
            "src",
            "dst",
            F.col("kn.trial").alias("trial"),
            F.col("kn.neg").alias("neg"),
        )
    )


def kg_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the negative-edge training feed for the co-mention
    graph (see negative_sample) — together with kg_neighbor_sample the
    full GNN mini-batch input (positives' neighborhoods + negatives).
    The reference trains on full per-document graphs with no negative
    sampling (models/gated_gcn.py:329-362 — node classification, not
    link prediction); at corpus scale link-level objectives need
    corruption sampling, and the sampler is the data engine's job."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return negative_sample(comention_edges(m))


def negative_sample_sql(
    mentions_sql: str, k: int = NEG_K, trials: int = NEG_TRIALS
) -> str:
    """DuckDB twin — single-window dense index (value-equal to the
    two-phase Spark build: node is unique), same md5 draw order, same
    reject/dedup/top-k."""
    from .text_analysis import MDHASH_SQL

    key = MDHASH_SQL(
        "concat_ws(chr(31), 'ng', e.src, e.dst, CAST(t.trial AS VARCHAR))"
    )
    return f"""
WITH {_graph_cte(mentions_sql)},
nodes AS MATERIALIZED (
  SELECT node, CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS idx
  FROM (SELECT DISTINCT src AS node FROM e)
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
draws AS (
  SELECT e.src, e.dst, t.trial, {key} % nn.n_nodes AS idx
  FROM e CROSS JOIN nn CROSS JOIN generate_series(0, {trials - 1}) AS t(trial)
),
surv AS (
  SELECT c.src, c.dst, c.trial, c.neg FROM (
    SELECT d.src, d.dst, d.trial, nodes.node AS neg
    FROM draws d JOIN nodes USING (idx)
  ) c
  WHERE c.neg <> c.src
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.src AND e.dst = c.neg)
),
first AS (
  SELECT src, dst, neg, CAST(min(trial) AS INT) AS trial
  FROM surv GROUP BY src, dst, neg
)
SELECT src, dst, trial, neg FROM (
  SELECT f.*, row_number() OVER (PARTITION BY src, dst ORDER BY trial) AS rn
  FROM first f
) WHERE rn <= {k}
"""


# --- deterministic random-walk corpus (DeepWalk / node2vec-style training data) ------

RW_WALKS = 2  # walks started per node
RW_LEN = 3  # steps per walk (walk emits length+1 rows incl. the seed)
RW_CAP = 32  # per-node adjacency cap for the walk transition table


def _indexed_adjacency(e: DataFrame, cap: int = RW_CAP) -> DataFrame:
    """(src, j, dst, deg): capped adjacency with a DENSE per-src neighbor
    index j ∈ [1, deg] by (w DESC, dst ASC) and deg = the capped degree —
    the walk transition table (step t moves to neighbor number
    H mod deg + 1).  One top-``cap`` window per src (top_n, as in
    capped_adjacency) whose row number is j; deg is a count over the same
    src partitioning, so it adds no exchange."""
    return (
        top_n(e, "src", [F.desc("w"), F.asc("dst")], cap, rank="j")
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .select("src", "j", "dst", "deg")
    )


def random_walks(
    e: DataFrame,
    walks: int = RW_WALKS,
    length: int = RW_LEN,
    cap: int = RW_CAP,
) -> DataFrame:
    """(seed, walk, step, node): ``walks`` deterministic random walks of
    ``length`` steps from EVERY node — the DeepWalk/node2vec-style walk
    corpus a skip-gram embedding trainer consumes (Perozzi et al. 2014),
    the sequence-shaped complement to neighbor_sample's fan-out trees.
    Step t of walk (seed, w) moves to neighbor number
    mdhash('rw', seed, w, t) mod deg of the current node — keyed-hash
    uniform, byte-identically replayable across restarts (rand() would
    break the oracle gate and resume), and independent across steps.  A
    walk reaching a node with no out-edges truncates (cannot happen on
    the symmetric co-mention graph, where every node has deg ≥ 1).

    Scale shape: the transition table is the CAPPED indexed adjacency
    (O(nodes·cap) rows, hub-proof by the same top_n window as every
    other cap here), checkpointed ONCE and reused by all
    ``length`` unrolled steps; each step is one equi-join of the
    N·walks frontier against it on the current node (cap-bounded
    expansion, filtered to exactly one row by the index equality) — a
    fixed-depth linear plan, no iterative driver loop, no
    input-proportional broadcast."""
    from functools import reduce

    from .text_analysis import mdhash_spark

    # no repartition("src") before this checkpoint: the checkpoint's
    # LogicalRDD drops the partitioning, so it would not spare the
    # per-step adjacency exchange (seen on the step join's executedPlan)
    adj = _indexed_adjacency(e, cap).localCheckpoint()
    cur = (
        adj.select("src")
        .distinct()
        .select(
            F.col("src").alias("seed"),
            F.explode(F.sequence(F.lit(0), F.lit(walks - 1))).alias("walk"),
        )
        .select(
            "seed",
            F.col("walk").cast("int").alias("walk"),
            F.lit(0).cast("int").alias("step"),
            F.col("seed").alias("node"),
        )
    )
    out = [cur]
    for t in range(1, length + 1):
        a = adj.alias(f"a{t}")
        c = cur.alias(f"c{t}")
        pick = F.pmod(
            mdhash_spark(
                F.concat_ws(
                    "\x1f",
                    F.lit("rw"),
                    F.col(f"c{t}.seed"),
                    F.col(f"c{t}.walk").cast("string"),
                    F.lit(str(t)),
                )
            ),
            F.col(f"a{t}.deg"),
        )
        cur = (
            c.join(a, F.col(f"c{t}.node") == F.col(f"a{t}.src"))
            .filter(F.col(f"a{t}.j") == pick + F.lit(1))
            .select(
                F.col(f"c{t}.seed").alias("seed"),
                F.col(f"c{t}.walk").alias("walk"),
                F.lit(t).cast("int").alias("step"),
                F.col(f"a{t}.dst").alias("node"),
            )
        )
        # per-step cut (the kcore per-round discipline): step t feeds
        # BOTH the union and step t+1, and without it every union
        # branch re-states the whole step prefix — correctness would
        # then lean on runtime ReusedExchange instead of the plan.
        # The frontier is bounded at N·walks rows, so the cut is tiny.
        # The final step is not cut: it feeds only the union, so its
        # single-consumer lineage runs once either way and a checkpoint
        # would only add one eager job to the serial step ladder.
        if t < length:
            cur = cur.localCheckpoint()
        out.append(cur)
    return reduce(lambda x, y: x.unionByName(y), out)


def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the walk corpus over the co-mention graph (see
    random_walks) — with kg_neighbor_sample and kg_negative_sample the
    three standard graph-training feeds (walk sequences, fan-out
    neighborhoods, corruption negatives).  The reference trains on full
    per-document graphs (models/gated_gcn.py:329-362); at corpus scale
    sequence-based embedding pretraining starts from exactly this
    table."""
    from ..sources.transcripts import transcripts_from_documents
    from .mention_detect import detect_mentions_arrow

    m = detect_mentions_arrow(transcripts_from_documents(spark, sf_dir))
    return random_walks(comention_edges(m))


def random_walks_sql(
    mentions_sql: str,
    walks: int = RW_WALKS,
    length: int = RW_LEN,
    cap: int = RW_CAP,
) -> str:
    """DuckDB twin — the same indexed-adjacency window and keyed-md5
    transition, steps unrolled as chained MATERIALIZED CTEs."""
    from .text_analysis import MDHASH_SQL

    steps = []
    for t in range(1, length + 1):
        key = MDHASH_SQL(
            f"concat_ws(chr(31), 'rw', c.seed, CAST(c.walk AS VARCHAR), '{t}')"
        )
        steps.append(f"""s{t} AS MATERIALIZED (
  SELECT c.seed, c.walk, {t} AS step, a.dst AS node
  FROM s{t - 1} c JOIN adj a ON a.src = c.node
  WHERE a.j = {key} % a.deg + 1
)""")
    chain = ",\n".join(steps)
    union = "\nUNION ALL\n".join(
        f"SELECT seed, walk, step, node FROM s{t}" for t in range(length + 1)
    )
    return f"""
WITH {_graph_cte(mentions_sql)},
adj AS MATERIALIZED (
  SELECT src, j, dst, count(*) OVER (PARTITION BY src) AS deg FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY w DESC, dst) AS j
    FROM e
  ) WHERE j <= {cap}
),
s0 AS MATERIALIZED (
  SELECT src AS seed, CAST(t.walk AS INT) AS walk, 0 AS step, src AS node
  FROM (SELECT DISTINCT src FROM adj)
  CROSS JOIN generate_series(0, {walks - 1}) AS t(walk)
),
{chain}
SELECT CAST(seed AS VARCHAR) AS seed, CAST(walk AS INT) AS walk,
       CAST(step AS INT) AS step, CAST(node AS VARCHAR) AS node
FROM ({union})
"""
