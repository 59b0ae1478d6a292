"""Physical-plan guards: the Spark-first claims, asserted mechanically.

- No row-at-a-time Python (BatchEvalPython) anywhere in any registered
  query's plan — the north rule's "no per-row Python".
- The flagship native extraction keeps its single-exchange shape.
- Scans prune columns: the mention path never reads the documents table's
  text-unrelated payload columns.
- Every top-N cap is one window with Spark's group limit on both sides of
  its exchange.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_row_at_a_time_python_anywhere(spark):
    """Two registry-wide invariants, checked in one pass over every
    registered query's plan/schema:

    - no BatchEvalPython (the north rule's "no per-row Python");
    - no ArrayType/MapType/StructType OUTPUT column — the driver's pandas
      canonicalizer factorizes every column and dies on complex cells
      (``unhashable type: 'list'``), which made r4's ta_doc_vectors the
      round's one driver-gate FAIL; serialize vectors/lists as
      deterministic strings (kg_export_neighbors.neighbors,
      ta_doc_vectors.v_str) or long-format rows instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, fn in entrymod.queries().items():
        df = fn(spark, SF)
        plan = _plan(df)
        assert "BatchEvalPython" not in plan, f"{name} fell off the Arrow path"
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not complex_cols, (
            f"{name} returns non-scalar columns {complex_cols} — "
            "driver-uncertifiable (see r4 ta_doc_vectors)"
        )


def test_flagship_native_single_exchange(spark):
    """The flagship keeps exactly ONE data shuffle (materialize_triples'
    repartition(subj)).
    A keyless RoundRobinPartitioning exchange is additionally allowed:
    that is sources/scan.spread_scan's adaptive scan fan-out, which only
    exists when the input file is too small for the scan to parallelize
    itself (r9) — on a real multi-split corpus it is absent, so the
    single-hash-exchange scale claim is unchanged."""
    plan = _plan(entrymod.queries()["kg_triples_native"](spark, SF))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_spread = 1 if re.search(r"roundrobinpartitioning", plan, re.I) else 0
    assert n_ex - n_spread == 1, (
        f"flagship should have exactly one data shuffle (+ optional "
        f"adaptive spread), saw {n_ex} exchanges ({n_spread} round-robin)"
    )


def test_flagship_arrow_is_one_arrow_boundary_per_step(spark):
    """The Arrow flagship crosses into Python once: one hash exchange of
    turns with no Python operator below it, then a sort on conv_id feeding
    the single mapInArrow that detects and joins.  No pandas conversion,
    no collect_list aggregate."""
    from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
    from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts

    plan = _plan(extract_triples_df(synth_transcripts(spark, 200), engine="arrow"))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    hashed = re.findall(r"^Arguments: hashpartitioning", plan, re.M)
    assert nodes.count("Exchange") == len(hashed) == 1, plan
    assert nodes.count("MapInArrow") == 1, nodes
    assert "MapInPandas" not in nodes and "ObjectHashAggregate" not in nodes, nodes
    below = nodes[: nodes.index("Exchange")]  # formatted ids number children first
    assert not [n for n in below if re.search("Python|Arrow|Pandas", n)], nodes
    m = re.search(r"^( *)\+- MapInArrow \(\d+\)\n\1   \+- Sort \((\d+)\)$", plan, re.M)
    assert m, plan
    assert re.search(
        rf"^\({m.group(2)}\) Sort\n.*\nArguments: \[conv_id#\d+ ASC NULLS FIRST\]", plan, re.M
    ), plan


def test_mention_scan_prunes_columns(spark):
    """The transcripts derivation needs only doc_id from documents —
    ReadSchema must not include text/lang/source payload columns."""
    plan = _plan(entrymod.queries()["kg_mentions"](spark, SF))
    m = re.search(r"ReadSchema: (struct<[^\n]*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "doc_id" in schema
    for col in ("lang", "source", "n_chars"):
        assert col not in schema, f"unpruned column {col} in {schema}"


def test_a2a3_joins_on_user_and_bucket(spark):
    """The r3 de-quadratic rewrite must survive in the PHYSICAL plan: the
    self-join's equi-keys are (user_id, bucket), not user_id alone (which
    materializes O(n_u^2) pairs per hot user before the band filter)."""
    plan = _plan(entrymod.queries()["a2a3_message_pass"](spark, SF))
    m = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)
    assert m, f"no equi-join keys found:\n{plan}"
    left_keys = m.group(1)
    assert "user_id" in left_keys and "bucket" in left_keys, left_keys


def test_contamination_has_no_forced_broadcast(spark):
    """dd_contamination must not pin a broadcast hint on the benchmark side
    (input-proportional on this fixture) — AQE decides from actual sizes.
    The pre-AQE physical plan therefore shows a shuffle join, not a
    planner-forced BroadcastHashJoin."""
    df = entrymod.queries()["dd_contamination"](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "BROADCAST" not in optimized, (
        optimized[:500]
    )


def test_pagerank_has_no_single_partition_window(spark):
    """r5 verdict item 4: the final PageRank ranking must be the two-phase
    distributed rank — NO empty-partition window (whose WindowExec drags
    the whole entity table through one task) anywhere in the plan.  An
    empty partition spec prints as windowspecdefinition(<sort col> ASC/
    DESC ..., frame) — the first argument already carries a sort
    direction; a partitioned window leads with bare partition columns."""
    for name in (
        "kg_entity_pagerank",
        "kg_canonical_pagerank",
        # r6 graph additions: all their windows (the capped-surface top-N)
        # must stay conversation-partitioned
        "kg_degree_distribution",
        "kg_edge_lift",
        "kg_kcore",
        "kg_communities",
    ):
        plan = _plan(entrymod.queries()[name](spark, SF))
        hit = re.search(r"windowspecdefinition\([^,()]+ (?:ASC|DESC)", plan)
        assert not hit, f"{name} has a global-sort window: {hit.group(0)}"


def test_pack_heavy_window_is_bucket_partitioned(spark):
    """ta_pack_sequences' corpus-wide cumsum must stay a bucketed window —
    a bare Window.orderBy(doc_id) would drag the whole table through ONE
    task.  The per-doc window must carry a bkt partition spec; only the
    tiny per-bucket-aggregate window may be global."""
    plan = _plan(entrymod.queries()["ta_pack_sequences"](spark, SF))
    assert re.search(
        r"windowspecdefinition\(bkt#\d+L, doc_id#\d+L ASC", plan
    ), "per-doc cumsum lost its bucket partitioning:\n" + plan


_TOP_N_CHAIN = ("WindowGroupLimit", "Sort", "Exchange", "WindowGroupLimit")


def _top_n_sites(plan: str) -> set[str]:
    """The distinct top-N sites of a formatted plan, each named by its
    Window's Arguments with expression ids masked.  A site is a Window
    whose child chain is WindowGroupLimit (Final) → Sort → Exchange →
    WindowGroupLimit (Partial): the group limit runs on both sides of the
    window's one exchange.  Asserts that every WindowGroupLimit in the
    plan belongs to such a chain."""
    tree = plan.split("\n\n")[0].splitlines()
    nodes = [re.match(r"^([ :|+-]*)(\S.*?) \((\d+)\)$", line) for line in tree]
    nodes = [(len(m.group(1)), m.group(2), m.group(3)) for m in nodes if m]
    args = dict(re.findall(r"^\((\d+)\) .*\n(?:.+\n)*?Arguments: (.*)$", plan, re.M))
    sites, chained = set(), 0
    for i, (depth, name, nid) in enumerate(nodes):
        chain = nodes[i + 1 : i + 1 + len(_TOP_N_CHAIN)]
        if name != "Window" or tuple(n for _, n, _ in chain) != _TOP_N_CHAIN:
            continue
        assert [d for d, _, _ in chain] == [depth + 3 * k for k in range(1, 5)], tree
        assert args[chain[0][2]].endswith(", Final"), args[chain[0][2]]
        assert args[chain[3][2]].endswith(", Partial"), args[chain[3][2]]
        sites.add(re.sub(r"#\d+", "#_", args[nid]))
        chained += 2
    assert chained == sum(n == "WindowGroupLimit" for _, n, _ in nodes), tree
    return sites


def test_top_n_is_one_window_over_a_group_limit(spark):
    """Every top-N cap (graph_analytics.top_n) is one row_number Window
    over a Final WindowGroupLimit, with a Partial WindowGroupLimit below
    the exchange: Spark's group limit, not a second salted window, keeps a
    hot key from shipping and sorting its whole group.  With the limit
    threshold below the caps the optimizer plans no limit, so the sites
    disappear."""
    from kie_invoice_minimal_spark.operators import graph_analytics as GA
    from kie_invoice_minimal_spark.operators.relational_ext import approx_stats

    e = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 2), ("b", "a", 1), ("c", "a", 2)],
        "src string, dst string, w long",
    )
    cases = {
        "capped_adjacency": (lambda: GA.capped_adjacency(e), 1),
        "khop_kmv": (lambda: GA.khop_kmv(e), 2),  # bottom-k per v, then per u
        "approx_stats": (lambda: approx_stats(spark, SF), 2),  # KMV + sample
    }
    for name, (build, n_sites) in cases.items():
        assert len(_top_n_sites(_plan(build()))) == n_sites, name
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(GA.KHOP_KMV_K - 1))
    try:
        for name, (build, _) in cases.items():
            assert not _top_n_sites(_plan(build())), name
    finally:
        spark.conf.set(key, old)


def _exchange_columns(df) -> list[list[tuple[str, str]]]:
    """(name, type) of the columns each Exchange of ``df``'s physical plan
    carries (AQE's initial plan, before any stage runs)."""

    def items(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan]
    out = []
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            out.append([(a.name(), a.dataType().catalogString()) for a in items(node.output())])
        stack.extend(items(node.children()))
    return out


def test_band_self_join_shuffles_no_arrays(spark):
    """Above the entity-linking gate, no exchange of the band self-join
    carries an array column: the grams stay inside the blocking and scoring
    kernels, and the join moves scalar (surface, norm, band_no, block_key)
    rows."""
    from kie_invoice_minimal_spark.operators.blocking import candidate_pairs_from_surfaces

    surf = spark.createDataFrame([("Vinamilk",), ("VINAMILK",), ("Kinh Do",)], "surface string")
    exchanges = _exchange_columns(candidate_pairs_from_surfaces(surf))
    assert len(exchanges) >= 3, exchanges
    arrays = [cols for cols in exchanges if any(t.startswith("array") for _n, t in cols)]
    assert not arrays, arrays
