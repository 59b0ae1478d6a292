"""``scripts/explain_audit.py --dump`` masks what differs between two runs
of the same tree, and nothing that a code change can move."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "explain_audit.py"
_spec = importlib.util.spec_from_file_location("explain_audit", _SCRIPT)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)

RUN_A = """\
== Physical Plan ==
AdaptiveSparkPlan (5)
+- Exchange (3)
(1) Scan parquet
Output [2]: [conv_id#123, turn_idx#124]
Location: InMemoryFileIndex [file:/tmp/kie_staged_el_ab3_x9kq/triples/part-0]
(3) Exchange
Arguments: hashpartitioning(conv_id#123, 8), REPARTITION_BY_COL, [plan_id=41]
(2) Scan ExistingRDD
Arguments: [src#12], MapPartitionsRDD[1019] at localCheckpoint at <unknown>:0
(4) Project
Output [1]: [(sw#77L * 85) AS s#80L]
"""
RUN_B = (
    RUN_A.replace("#123", "#9001")
    .replace("#124", "#9002")
    .replace("#77L", "#5L")
    .replace("#80L", "#6L")
    .replace("ab3_x9kq", "q0_zz81m")
    .replace("plan_id=41", "plan_id=7")
    .replace("#12]", "#3]")
    .replace("RDD[1019]", "RDD[88]")
)


def test_runs_of_one_tree_mask_equal():
    assert RUN_A != RUN_B
    assert explain_audit.mask_plan(RUN_A) == explain_audit.mask_plan(RUN_B)


def test_plan_changes_survive_the_mask():
    """Operators, column names, literals, partition counts, the snapshot
    root's kind and the rest of a path are not masked."""
    masked = explain_audit.mask_plan(RUN_A)
    for moved in (
        RUN_A.replace("Exchange (3)", "Sort (3)"),
        RUN_A.replace("turn_idx#124", "pos#124"),
        RUN_A.replace("* 85", "* 86"),
        RUN_A.replace("conv_id#123, 8)", "conv_id#123, 16)"),
        RUN_A.replace("kie_staged_el_", "kie_staged_pr_"),
        RUN_A.replace("/triples/", "/mentions/"),
        RUN_A.replace("localCheckpoint", "checkpoint"),
    ):
        assert explain_audit.mask_plan(moved) != masked, moved
    assert "kie_staged_el_XXXXXXXX/triples" in masked
    assert "conv_id#_" in masked and "[plan_id=_]" in masked and "RDD[_]" in masked


def _stub_query(spark, _sf_dir):
    """A query whose build runs one eager checkpoint job (an aggregate) and
    whose final plan joins the checkpoint back."""
    counts = spark.range(40).selectExpr("id % 3 AS k").groupBy("k").count().localCheckpoint()
    return counts.join(spark.range(3).withColumnRenamed("id", "k"), "k")


def test_dump_holds_checkpoint_plans(spark, tmp_path):
    """``--dump`` writes the plan of each eager ``localCheckpoint`` job a
    query's build runs ahead of its final plan, and two dumps of one query
    mask equal."""
    for run in ("a", "b"):
        explain_audit.dump(spark, {"stub": _stub_query}, str(tmp_path / run))
    a, b = ((tmp_path / run / "stub.txt").read_text() for run in ("a", "b"))
    assert a == b
    checkpoint, final = a.split("==== final ====\n")
    assert checkpoint.startswith("==== localCheckpoint 1 ====\n")
    assert checkpoint.count("== Physical Plan ==") == final.count("== Physical Plan ==") == 1
    assert "HashAggregate" in checkpoint and "HashAggregate" not in final
    assert "Scan ExistingRDD" in final
