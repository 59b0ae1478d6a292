#!/usr/bin/env python
"""Per-query measurement harness: the noop-sink isolation tool bench.py
points at for per-query A/Bs.

Times a SUBSET of ``__spark_entry__.queries()`` with the exact bench.py
methodology (same session config, same noop sink, min-of-k over fresh
fn() DataFrames) so per-query A/Bs are comparable to the driver bench,
and optionally dumps ``.explain("formatted")`` per query for before/after
plan diffs.  Names must be ``queries()`` keys; an unknown name exits
before the Spark session starts.

Usage:
  python bench_extra.py q1 q2 ...            # time queries, min-of-k
  python bench_extra.py --plans DIR q1 ...   # also write DIR/<q>.txt plans
  python bench_extra.py --repeats 3 q1 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from kie_invoice_minimal_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    qs = entrymod.queries()
    ap = argparse.ArgumentParser()
    # every name is checked before the session starts, so a typo cannot
    # abort a run after the names before it were already timed
    ap.add_argument("names", nargs="+", choices=qs, metavar="query")
    ap.add_argument("--plans", default=None, help="directory for explain dumps")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--suffix", default="", help="plan filename suffix, e.g. _before")
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
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan_of(fn(spark, sf_dir)))
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
