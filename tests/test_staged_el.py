"""Staged EL pipeline (one materialized blocking→scorer→CC run) must
produce byte-identical outputs to the three self-contained cold queries
(r3 verdict item 4 — the production-path claim in SCALE.md §2), with
entity linking on its driver path and on its Spark path."""

from __future__ import annotations

import tempfile

from kie_invoice_minimal_spark.plans.entity_linking import staged_el_outputs

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_staged_outputs_equal_cold_queries(spark, both_paths):
    for path in both_paths():
        outs = staged_el_outputs(spark, SF, tempfile.mkdtemp(prefix="el_staged_t_"))
        qs = entrymod.queries()
        for name in ("el_entity_map", "el_alias_triples", "kg_triples_canonical"):
            cold = qs[name](spark, SF)
            assert sorted(outs[name].columns) == sorted(cold.columns), (path, name)
            assert _rows(outs[name].select(*cold.columns)) == _rows(cold), (path, name)


def test_staged_canonical_pagerank_equals_cold(spark, both_paths):
    """kg_canonical_pagerank_staged (snapshot-derived, r4 verdict item 5)
    must be byte-identical to the cold query, and must NOT write a
    transcripts snapshot (its resume point is the mention stream)."""
    import os

    from kie_invoice_minimal_spark.operators.graph_analytics import (
        kg_canonical_pagerank,
        kg_canonical_pagerank_staged,
    )

    for path in both_paths():
        root = tempfile.mkdtemp(prefix="pr_staged_t_")
        staged = kg_canonical_pagerank_staged(spark, SF, root)
        cold = kg_canonical_pagerank(spark, SF)
        assert staged.columns == cold.columns, path
        assert _rows(staged) == _rows(cold), path
        assert os.path.isdir(f"{root}/mentions") and os.path.isdir(f"{root}/entity_map")
        assert not os.path.exists(f"{root}/transcripts")


def test_staged_root_is_deterministic_and_wiped(spark):
    """The registry wrappers' snapshot roots are deterministic per sf and
    wiped at invocation start (r4 ADVICE item 3: mkdtemp-per-call leaked a
    parquet copy into /tmp on every gate/bench run) — two invocations
    reuse ONE directory instead of accumulating two."""
    import os

    from __spark_entry__ import _staged_root

    r1 = _staged_root(SF)
    marker = os.path.join(r1, "marker")
    os.makedirs(r1, exist_ok=True)
    open(marker, "w").close()
    r2 = _staged_root(SF)
    assert r1 == r2
    assert not os.path.exists(marker)  # wiped, not accumulated
    assert _staged_root(SF, "pr") != r1  # consumers don't clobber each other


def test_staged_resume_skips_completed_stages(spark, both_paths):
    """A second run over the same root must load snapshots, not recompute:
    the pipeline_state records survive and the outputs stay identical."""
    for path in both_paths():
        root = tempfile.mkdtemp(prefix="el_staged_r_")
        first = {
            k: _rows(v) for k, v in staged_el_outputs(spark, SF, root).items()
        }
        second = staged_el_outputs(spark, SF, root)
        for k, v in second.items():
            assert _rows(v) == first[k], (path, k)
