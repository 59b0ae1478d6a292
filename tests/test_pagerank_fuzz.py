"""Property test: the unrolled-CTE integer PageRank must equal a direct
pure-Python implementation of the same exact-integer recurrence on
ARBITRARY co-mention inputs, not just the fixture.  Runs in DuckDB (the
Spark twin is hash-compared to the same SQL by the harness, so equality
transfers) against an independent dict-and-loop reference."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st

from kie_invoice_minimal_spark.operators.graph_analytics import (
    PR_BASE,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERS,
    PR_SCALE,
    pagerank,
    pagerank_edges_sql,
    pagerank_sql,
)

MENTION = st.tuples(
    st.integers(min_value=0, max_value=5),  # conv id (few -> dense co-mention)
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),  # surface
)


def _python_pagerank_edges(edges):
    """The recurrence over a {(src, dst): w} dict; nodes = src ∪ dst."""
    wout = defaultdict(int)
    for (s, _d), w in edges.items():
        wout[s] += w
    nodes = sorted({x for e in edges for x in e})
    score = {n: PR_SCALE for n in nodes}
    for _ in range(PR_ITERS):
        insum = defaultdict(int)
        for (s, d), w in edges.items():
            insum[d] += (score[s] * w) // wout[s]
        score = {
            n: PR_BASE + (PR_DAMP_NUM * insum.get(n, 0)) // PR_DAMP_DEN
            for n in nodes
        }
    return score


def _python_pagerank(pairs):
    cs = {(f"c{c}", s) for c, s in pairs}
    edges = defaultdict(int)
    for conv_a, sa in cs:
        for conv_b, sb in cs:
            if conv_a == conv_b and sa != sb:
                edges[(sa, sb)] += 1
    return _python_pagerank_edges(edges)


@settings(max_examples=40, deadline=None)
@given(st.lists(MENTION, min_size=0, max_size=40))
def test_pagerank_sql_equals_python_reference(pairs):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{c}" for c, _s in pairs],
            "surface": [s for _c, s in pairs],
            "mention_type": ["BRAND"] * len(pairs),
        }
    )
    con = duckdb.connect()
    con.register("fuzz_mentions_pdf", pdf)
    sql = pagerank_sql("SELECT conv_id, surface, mention_type FROM fuzz_mentions_pdf")
    got = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert got == _python_pagerank(pairs)


EDGE = st.tuples(st.sampled_from("abcd"), st.sampled_from("abcdef"), st.integers(1, 4))


def _edges_sql(edges) -> tuple[duckdb.DuckDBPyConnection, str]:
    con = duckdb.connect()
    con.register(
        "fuzz_edges_pdf",
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()], columns=["src", "dst", "w"]
        ).astype({"src": str, "dst": str, "w": "int64"}),
    )
    return con, pagerank_edges_sql(
        "e AS MATERIALIZED (SELECT src, dst, CAST(w AS BIGINT) AS w FROM fuzz_edges_pdf)"
    )


@settings(max_examples=40, deadline=None)
@given(st.lists(EDGE, min_size=1, max_size=12))
def test_pagerank_asymmetric_edges_score_sinks(edge_list):
    """Directed edges whose dst never appears as a src (e, f here): the
    DuckDB twin scores those sinks too, as the recurrence over
    nodes = src ∪ dst does."""
    edges = {(s, d): w for s, d, w in edge_list if s != d}
    con, sql = _edges_sql(edges)
    got = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert got == _python_pagerank_edges(edges)


def test_pagerank_asymmetric_spark_equals_duckdb(spark):
    """pagerank(edges) on a directed graph with dst-only sinks equals its
    DuckDB twin row for row (surface, pagerank_q, rank)."""
    edges = {("a", "b"): 2, ("b", "a"): 1, ("a", "e"): 3, ("b", "f"): 1, ("c", "e"): 1}
    df = spark.createDataFrame(
        [(s, d, w) for (s, d), w in edges.items()], "src string, dst string, w long"
    )
    got = sorted(tuple(r) for r in pagerank(df).collect())
    con, sql = _edges_sql(edges)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    assert {r[0] for r in got} == {"a", "b", "c", "e", "f"}
