#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north rule's deployment shape):

    zip -r kie_kg.zip kie_invoice_minimal_spark
    spark-submit --py-files kie_kg.zip scripts/run_pipeline.py \
        --input  /data/transcripts_parquet \
        --output /data/kg_out \
        [--engine arrow|native] [--link-entities]

Sandbox usage (no cluster): --synth N generates N deterministic turns
instead of reading --input; --master local[K] pins parallelism.

Prints one JSON line with wall time, turns/sec and stage metrics; running
it at two parallelism levels (``--master local[N]`` / ``local[4N]``) gives
the scaling efficiency figure recorded in BENCH_SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kie_invoice_minimal_spark.plans.entity_linking import alias_triples, link_entities  # noqa: E402
from kie_invoice_minimal_spark.operators.mention_detect import detect_mentions_arrow, detect_mentions_native  # noqa: E402
from kie_invoice_minimal_spark.operators.triples import materialize_triples, write_triples  # noqa: E402
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df  # noqa: E402
from kie_invoice_minimal_spark.session import get_spark  # noqa: E402
from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of transcripts")
    ap.add_argument("--synth", type=int, help="generate N synthetic turns instead")
    ap.add_argument("--output", help="output dir for the triples table (partitioned write)")
    ap.add_argument("--engine", default="arrow", choices=["arrow", "native"])
    ap.add_argument("--link-entities", action="store_true")
    ap.add_argument("--master", default=None, help="e.g. local[8]; default env/cluster")
    ap.add_argument("--partitions", type=int, default=64, help="input partitions for --synth")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the small untimed warmup run (codegen + python workers)")
    ap.add_argument("--repeats", type=int, default=1,
                    help="time the job N times, report the minimum. CAVEAT "
                         "(measured r4): repeats re-execute the SAME DataFrame, "
                         "so repeat >= 2 reuses repeat 1's map-stage shuffle "
                         "files — use separate invocations (repeats=1) for "
                         "honest steady-state walls; see BENCH_SCALING.md")
    ap.add_argument("--checkpoint-root",
                    help="run the staged checkpointed pipeline (transcripts -> "
                         "mentions -> entity_map; transcripts + entity_map -> "
                         "triples) rooted here, always on the Arrow engine; "
                         "re-running with the same input arguments resumes "
                         "from completed snapshots")
    args = ap.parse_args()
    if args.checkpoint_root and args.engine == "native":
        ap.error("--checkpoint-root runs the Arrow detector; --engine native does not apply")
    if not (args.synth or args.input):
        ap.error("need --input or --synth")

    spark = get_spark(app_name="kg-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    n_synth, input_dir, parts = args.synth, args.input, args.partitions

    def provide(sp):  # plain captured values: a checkpoint root resumes under equal ones
        return synth_transcripts(sp, n_synth, partitions=parts) if n_synth else sp.read.parquet(input_dir)

    detect = detect_mentions_arrow if args.engine == "arrow" else detect_mentions_native

    if args.checkpoint_root:
        from kie_invoice_minimal_spark.sources.checkpoints import kg_pipeline

        t0 = time.time()
        pipe = kg_pipeline(spark, args.checkpoint_root, provide)
        out = pipe.run(resume=True)
        n_triples = out["triples"].count()
        print(
            json.dumps(
                {
                    "mode": "checkpointed",
                    "engine": "arrow",
                    "n_triples": n_triples,
                    "wall_sec": round(time.time() - t0, 3),
                    "stages": [
                        {k: m[k] for k in ("stage", "n_rows", "n_partitions")}
                        for m in pipe.metrics()
                    ],
                }
            )
        )
        return

    if not args.no_warmup:
        # untimed warmup: compiles the whole-stage codegen, spawns + imports
        # the Arrow python workers, JITs the hot paths — so the timed run
        # measures steady-state throughput (what a long-running cluster job
        # sees), not first-job setup.
        warm = synth_transcripts(spark, 20_000, partitions=args.partitions)
        warm_triples = (
            materialize_triples(detect(warm))
            if args.link_entities
            else extract_triples_df(warm, engine=args.engine)
        )
        warm_triples.write.format("noop").mode("overwrite").save()

    transcripts = provide(spark)
    if args.link_entities:
        mentions = detect(transcripts)
        emap = link_entities(mentions)
        triples = materialize_triples(mentions).unionByName(
            alias_triples(emap).selectExpr(
                "subj", "pred", "obj", "cast(null as string) as conv_id"
            )
        )
    else:
        triples = extract_triples_df(transcripts, engine=args.engine)

    walls = []
    n_triples = -1
    for rep in range(max(args.repeats, 1)):
        t0 = time.time()
        if args.output and rep == 0:
            write_triples(triples, args.output)
            n_triples = spark.read.parquet(args.output).count()
        else:
            triples.write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    wall = min(walls)

    n_turns = args.synth or transcripts.count()
    print(
        json.dumps(
            {
                "engine": args.engine,
                "master": args.master or "default",
                "n_turns": n_turns,
                "n_triples": n_triples,
                "wall_sec": round(wall, 3),
                "walls": [round(w, 3) for w in walls],
                "turns_per_sec": round(n_turns / wall, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
