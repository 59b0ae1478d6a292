#!/usr/bin/env python
"""Per-query measurement harness: the noop-sink isolation tool bench.py
points at for per-query A/Bs.

Times a SUBSET of ``__spark_entry__.queries()`` with the exact bench.py
methodology (same session config, same noop sink, min-of-k over fresh
fn() DataFrames) so per-query A/Bs are comparable to the driver bench.
Names must be ``queries()`` keys; an unknown name exits before the Spark
session starts.  For before/after plan diffs use
``scripts/explain_audit.py --dump DIR``.

Usage:
  python bench_extra.py q1 q2 ...            # time queries, min-of-k
  python bench_extra.py --repeats 3 q1 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from kie_invoice_minimal_spark.session import get_spark  # noqa: E402


def main() -> None:
    qs = entrymod.queries()
    ap = argparse.ArgumentParser()
    # every name is checked before the session starts, so a typo cannot
    # abort a run after the names before it were already timed
    ap.add_argument("names", nargs="+", choices=qs, metavar="query")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="kie-kg-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in args.names:
        fn = qs[name]
        walls = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        # queries leave localCheckpoint blocks behind, which GC does not
        # release: unpersist them so the next query starts from clean storage
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        timings[name] = min(walls)
        samples[name] = walls
        print(f"  {name:32s} min={min(walls):7.3f}  samples={walls}", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "timings": timings, "samples": samples}))


if __name__ == "__main__":
    main()
