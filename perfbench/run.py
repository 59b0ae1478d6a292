#!/usr/bin/env python3
"""Benchmark of the KG-construction chain at ``local[<cores> // 2]``.

    python3 perfbench/run.py --workload extract|staged --seed N \\
        --seconds S --trace 0|1

Runs from the root of a checkout.  One driver process, one client, closed
loop: after set-up (session start, input writes, expected outputs from the
DuckDB twins, untimed warm-up) operations run back to back
until ``--seconds`` have passed, each checked against the twin outside its
timed interval.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
replays the operation layer by layer with the Spark event log on and
prints the per-layer metrics.  The last stdout line is the JSON result.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, stats  # noqa: E402
from perfbench.tracing import EventLog, Tracer  # noqa: E402
from perfbench.workloads import MB, WORKLOADS  # noqa: E402

# (name, unit, better) — BENCHMARK.json lists the same metrics.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

PER_LAYER = [
    ("sources.s", "s", "lower"),
    ("sources.rows", "count", "higher"),
    ("sources.tasks", "count", "lower"),
    ("mention_detect.s", "s", "lower"),
    ("mention_detect.cpu_s", "s", "lower"),
    ("mention_detect.mentions_out", "count", "higher"),
    ("mention_detect.mentions_per_turn", "ratio", "higher"),
    ("triples.s", "s", "lower"),
    ("triples.rows_out", "count", "higher"),
    ("triples.shuffle_write_mb", "MB", "lower"),
    ("blocking.s", "s", "lower"),
    ("blocking.jobs", "count", "lower"),
    ("blocking.surfaces_in", "count", "higher"),
    ("blocking.pairs_out", "count", "lower"),
    ("gcn_scorer.s", "s", "lower"),
    ("gcn_scorer.pairs_in", "count", "lower"),
    ("gcn_scorer.accept_ratio", "ratio", "higher"),
    ("connected_components.s", "s", "lower"),
    ("connected_components.jobs", "count", "lower"),
    ("connected_components.rounds", "count", "lower"),
    ("connected_components.input_edges", "count", "higher"),
    ("entity_linking.s", "s", "lower"),
    ("entity_linking.jobs", "count", "lower"),
    ("entity_linking.entities", "count", "higher"),
    ("graph_analytics.comention_s", "s", "lower"),
    ("graph_analytics.edges", "count", "higher"),
    ("graph_analytics.pagerank_s", "s", "lower"),
    ("graph_analytics.pagerank_jobs", "count", "lower"),
    ("checkpoints.write_s", "s", "lower"),
    ("checkpoints.verify_s", "s", "lower"),
    ("checkpoints.files", "count", "lower"),
    ("checkpoints.load_s", "s", "lower"),
    ("checkpoints.jobs", "count", "lower"),
    ("checkpoints.snapshot_mb", "MB", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.storage_mb", "MB", "lower"),
    ("setup.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]

SETUP_WRITES = 3  # input writes per set-up; setup_s takes their median


def task_slots(cores: int) -> int:
    """Spark task slots for ``cores`` CPUs: half of them.  A detector task
    keeps a JVM task thread and an Arrow Python worker busy at once, so
    ``local[cores]`` would run twice as many busy threads as there are
    CPUs, and its times would follow the scheduler and the host's other
    guests rather than the program (see perfbench/README.md)."""
    return max(1, cores // 2)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(work: str, slots: int, trace: bool):
    """The engine's session at local[slots], with every scratch path
    (Spark local dir, JVM and Python temp files, event log) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files under /tmp, for spark-submit's launcher JVM too
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "events")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        })
    from kie_invoice_minimal_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{slots}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def isolate(sc) -> float:
    """Free the previous operation's checkpoint blocks and shuffle files:
    with its references dropped, Python and JVM GC let the ContextCleaner
    release them.  Returns the block-manager storage (MB) still held after
    GC, then unpersists it, so no operation inherits the last one's blocks
    (localCheckpoint blocks survive GC: the leak ROADMAP item 5 records)."""
    gc.collect()
    sc._jvm.System.gc()
    left = storage_mb(sc)
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return left


def setup(wl, work: str) -> dict:
    """Input writes (several, median kept), expected outputs, warm-up."""
    import duckdb

    writes = []
    for rep in range(SETUP_WRITES):
        d = os.path.join(work, f"input{rep}")
        t0 = time.perf_counter()
        wl.write_inputs(d)
        writes.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"SET threads = {wl.cores}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    wl.compute_expected(con)
    con.close()
    expected_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm_up(lambda: isolate(wl.spark.sparkContext))
    warmup_s = time.perf_counter() - t0
    return {
        "write_s": statistics.median(writes),
        "expected_s": expected_s,
        "warmup_s": warmup_s,
    }


def run_op(fn, failures: list[str]):
    """Run one operation, ``fn() -> (value, errors)``; an exception or a
    wrong output is a failure (None), else the value."""
    try:
        value, errors = fn()
    except Exception:
        failures.append(traceback.format_exc())
        return None
    if errors:
        failures.extend(errors)
        return None
    return value


def measure(wl, sc, rss, seconds: float, failures: list[str]):
    """Closed loop: operations back to back until ``seconds`` have passed.
    Returns the op times, the machine's steal share during each op, the
    tree's peak RSS during each op (bytes), the storage left after each
    op, and the ops attempted."""
    ops, steal, peaks, storage, attempted = [], [], [], [], 0
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        i = attempted
        attempted += 1
        st0, tot0 = host.cpu_ticks()
        t0 = time.perf_counter()
        r = run_op(lambda: wl.op(i), failures)
        st1, tot1 = host.cpu_ticks()
        rss.sample()
        if r is not None:
            ops.append(r)
            steal.append((st1 - st0) / max(tot1 - tot0, 1))
            peaks.append(rss.peak(t0, time.perf_counter()))
        storage.append(isolate(sc))
    return ops, steal, peaks, storage, attempted


def measure_traced(wl, sc, tracer, seconds: float, failures: list[str]):
    """Alternate one untraced operation (spans at op level only) with one
    layer-by-layer replay, until ``seconds`` have passed."""
    untraced, traced, storage, attempted = [], [], [], 0
    t_start = time.perf_counter()
    while attempted < 2 or time.perf_counter() - t_start < seconds:
        i = attempted // 2
        attempted += 1
        if attempted % 2 == 1:
            def fn():
                with tracer.span("op", f"u{i}"):
                    return wl.op(i)
            r = run_op(fn, failures)
            if r is not None:
                untraced.append((f"u{i}", r))
            storage.append(isolate(sc))
        else:
            def fn():
                fp, counts = wl.replay(f"t{i}", tracer)
                return counts, wl.check("traced replay", fp)
            r = run_op(fn, failures)
            if r is not None:
                traced.append((f"t{i}", r))
            isolate(sc)  # the replay's own checkpoints: not the program's
    return untraced, traced, storage, attempted


def end_to_end(setup_s: float, secs: list[float], peaks: list[int]) -> dict[str, float]:
    """``secs`` are the quiet operations' times (stats.quiet); the peak RSS
    is over every operation."""
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(secs),
        # the median op's peak: the isolation's full GC lets G1 shrink the
        # heap after every op, so each op regrows it to what it needs
        "peak_rss_mb": statistics.median(peaks) / MB,
    }


LAYER_NAMES = [n for n, _u, _b in PER_LAYER if not n.startswith(("spark.", "trace."))]


def per_layer(wl, tracer, log_: EventLog, untraced: list, traced: list, storage: list,
              setup_peak: int) -> dict[str, float]:
    """Layer metrics from the replays (a layer a workload never calls reads
    0), Spark metrics from the untraced operations; medians over ops."""
    rows = []
    for op, counts in traced:
        def group(*names):
            return log_.totals({f"{op}/{n}" for n in names})

        md = tracer.find(op, "mention_detect")
        rows.append({
            **dict.fromkeys(LAYER_NAMES, 0.0),
            **counts,
            "sources.s": tracer.self_s(op, "sources"),
            "sources.tasks": group("sources")["tasks"],
            "mention_detect.s": tracer.self_s(op, "mention_detect"),
            "mention_detect.cpu_s": group("mention_detect")["executor_cpu_s"] + md["py_cpu_s"],
            "mention_detect.mentions_per_turn": counts["mention_detect.mentions_out"] / max(counts["sources.rows"], 1),
            "triples.s": tracer.self_s(op, "triples"),
            "triples.shuffle_write_mb": group("triples")["shuffle_write_mb"],
            "blocking.s": tracer.self_s(op, "blocking"),
            "blocking.jobs": group("blocking")["jobs"],
            "gcn_scorer.s": tracer.self_s(op, "gcn_scorer"),
            "connected_components.s": tracer.self_s(op, "connected_components"),
            "connected_components.jobs": group("connected_components")["jobs"],
            "entity_linking.s": tracer.self_s(op, "entity_linking"),
            "entity_linking.jobs": group("entity_linking")["jobs"],
            "graph_analytics.comention_s": tracer.self_s(op, "comention_edges"),
            "graph_analytics.pagerank_s": tracer.self_s(op, "pagerank"),
            "graph_analytics.pagerank_jobs": group("pagerank")["jobs"],
            "checkpoints.load_s": tracer.self_s(op, "load"),
            "checkpoints.jobs": group("checkpoints", "build", "load")["jobs"],
        })
    for op, wall in untraced:
        span = tracer.find(op, "op")
        t = log_.totals({f"{op}/op"})
        # over the timed part only: staged's untimed fingerprint job follows it
        gap = wall - stats.covered(log_.job_intervals({f"{op}/op"}), span["start"], span["start"] + wall)
        rows.append({f"spark.{k}": v for k, v in t.items()} | {"spark.driver_gap_s": gap})
    out = {}
    for name, _unit, _better in PER_LAYER:
        vals = [r[name] for r in rows if name in r]
        out[name] = statistics.median(vals) if vals else 0.0
    out["spark.storage_mb"] = statistics.median(storage)
    out["setup.peak_rss_mb"] = setup_peak / MB
    out["trace.overhead_frac"] = wl.trace_overhead(
        tracer, [op for op, _ in traced], [w for _op, w in untraced]
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    slots = task_slots(len(cores))
    others = host.other_spark_jvms()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "task_slots": slots,
        "commit": host.git_commit(ROOT),
        **host.versions(),
        "tainted_by_pids": others,
    }
    if others:
        log(f"TAINTED: other Spark JVMs are running: {others}")
    log("run " + json.dumps(record))

    base = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, slots, bool(args.trace))
            session_s = time.perf_counter() - t0
            sc = spark.sparkContext
            wl = WORKLOADS[args.workload](spark, work, args.seed, len(cores))
            parts = setup(wl, work)
            setup_s = session_s + sum(parts.values())
            setup_peak = rss.peak(t0, time.perf_counter())
            log(f"set-up: session {session_s:.2f}s, " + ", ".join(f"{k} {v:.2f}s" for k, v in parts.items())
                + (f" (build {wl.build_s:.2f}s)" if hasattr(wl, "build_s") else ""))
            left = isolate(sc)
            if left > 1.0:
                log(f"FLAG: set-up left {left:.1f} MB of block-manager storage after GC")
            failures: list[str] = []
            if args.trace:
                jvm = sc._gateway.proc.pid
                tracer = Tracer(sc, lambda: host.cpu_seconds(host.descendants(jvm, include_root=False)))
                untraced, traced, storage, attempted = measure_traced(wl, sc, tracer, args.seconds, failures)
                ok_ops = len(untraced) + len(traced)
            else:
                ops, steal, peaks, storage, attempted = measure(wl, sc, rss, args.seconds, failures)
                ok_ops = len(ops)
        if max(storage) > 1.0:
            log(f"FLAG: block-manager storage left after GC, per operation (MB): {storage}")
        stop_session(spark)
        spark = None
        if args.trace:
            out = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
            if not untraced or not traced:
                raise RuntimeError("no successful operation: " + "\n".join(failures))
            metrics = per_layer(
                wl, tracer, EventLog(os.path.join(work, "events")), untraced, traced, storage, setup_peak
            )
            units = {n: u for n, u, _b in PER_LAYER}
        else:
            if not ops:
                raise RuntimeError("no successful operation: " + "\n".join(failures))
            kept = stats.quiet(ops, steal)
            metrics = end_to_end(setup_s, kept, peaks)
            units = {n: u for n, u, _b in END_TO_END}
            log(f"{len(ops)} ops {[round(x, 3) for x in ops]}; steal share per op "
                f"{[round(x, 3) for x in steal]}; {len(kept)} quiet ops kept; "
                f"peak RSS per op (MB) {[round(b / MB) for b in peaks]}")
        for f in failures:
            log("FAILED: " + f)
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": attempted - ok_ops,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
