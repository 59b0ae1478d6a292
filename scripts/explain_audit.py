#!/usr/bin/env python
"""Physical-plan audit: print .explain('formatted') for the headline plans
and flag anti-patterns (missing pushdown, full-width scans, unexpected
exchanges, row-at-a-time Python).

Usage: python scripts/explain_audit.py [query_name ...]   (default: headline set)
       python scripts/explain_audit.py --table      (the PLANS.md table body)
       python scripts/explain_audit.py --dump DIR   (DIR/<query>.txt, the masked
                                                     plans of every registered query)

A query's dump holds the plan of every eager ``localCheckpoint`` job its
build runs, in order, then its final plan, so work that a change moves
between a checkpoint job and the final plan shows on both sides of a diff.
Two ``--dump`` directories of the same tree are equal (``diff -r``): the
dump masks what changes from run to run, so a plan-diff between two trees
shows only the plans a change moved.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

from pyspark.sql.classic.dataframe import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from kie_invoice_minimal_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
HEADLINE = [
    "kg_triples_native",
    "e3_minmax_normalize",
    "a5_group_standardize",
    "g3_nearest_neighbor",
    "e2_band_self_join",
    "dd_minhash_lsh_pairs",
    "ss_lsh_ann",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def mask_plan(plan: str) -> str:
    """``plan`` with what differs between two runs of the same tree masked:
    expression ids (``conv_id#123``), exchange plan ids, RDD ids (which
    count the RDDs the session made before) and the random suffix of
    ``mkdtemp`` snapshot roots (``kie_staged_el_ab3_x9kq``)."""
    plan = re.sub(r"#\d+", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[_]", plan)
    return re.sub(r"(kie_staged_[a-z]+_)[a-z0-9_]{8}", r"\1XXXXXXXX", plan)


def dump(spark, queries, out_dir: str) -> None:
    """Write ``out_dir/<name>.txt`` per query: the masked plan of every eager
    ``localCheckpoint`` job its build runs, in order, then its final plan."""
    os.makedirs(out_dir, exist_ok=True)
    stock = DataFrame.localCheckpoint
    for name, fn in queries.items():
        plans = []

        def recorded(self, eager=True, *args, **kwargs):
            if eager:
                plans.append(plan_of(self))
            return stock(self, eager, *args, **kwargs)

        DataFrame.localCheckpoint = recorded
        try:
            plans.append(plan_of(fn(spark, SF_DIR)))
        finally:
            DataFrame.localCheckpoint = stock
        labels = [f"localCheckpoint {i}" for i in range(1, len(plans))] + ["final"]
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write("".join(f"==== {k} ====\n{mask_plan(p)}" for k, p in zip(labels, plans)))


def audit(name: str, plan: str) -> list[str]:
    flags = []
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_arrow = len(re.findall(r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan))
    if "BatchEvalPython" in plan:
        flags.append("ROW-AT-A-TIME PYTHON UDF (BatchEvalPython) — forbidden")
    if re.search(r"ReadSchema: struct<.{400,}", plan):
        flags.append("very wide scan — check column pruning")
    flags.append(f"exchanges={n_exchange} arrow_python_ops={n_arrow}")
    return flags


def table_row(name: str, plan: str) -> str:
    # count DETAIL-section nodes only ("(4) Exchange") — each physical node
    # appears twice in .explain('formatted') (tree + details), and the
    # PLANS.md convention is one count per node
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_arrow = len(
        re.findall(
            r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)",
            plan,
            re.M,
        )
    )
    batch = "YES" if "BatchEvalPython" in plan else "no"
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]*(Is|Equal|Greater|Less|String)", plan) else "-"
    return f"| {name} | {n_exchange} | {n_arrow} | {batch} | {pushed} |"


def main() -> None:
    args = sys.argv[1:]
    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if args and args[0] == "--table":
        # regenerate the PLANS.md table body over EVERY registered query
        print("| query | exchanges | arrow python ops | BatchEvalPython | non-trivial PushedFilters |")
        print("|---|---|---|---|---|")
        for name, fn in qs.items():
            print(table_row(name, plan_of(fn(spark, SF_DIR))), flush=True)
        return
    if args and args[0] == "--dump":
        dump(spark, qs, args[1])
        return
    names = args or HEADLINE
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = plan_of(df)
        print(f"\n{'=' * 70}\n## {name}")
        for fl in audit(name, plan):
            print(f"  [{fl}]")
        print(plan)


if __name__ == "__main__":
    main()
