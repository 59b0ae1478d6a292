"""The workloads: inputs from the seed, one timed operation, its
output check against the DuckDB twin, and the traced layer-by-layer replay.

Inputs are turn keys ``[offset, offset + n_turns)`` with the offset set by
the seed and aligned to ``TURNS_PER_CONV``.  Outputs are checked by an
order-free fingerprint (row count and sums over the rows' xxhash64).  For
``extract`` it rides the operation's own noop-sink job as an
``Observation``, so the output is checked without recomputing the
extraction, at the cost of one hash per output row (within noise of the
~2 s operation); ``staged`` fingerprints its output in a second, untimed
job.  The expected fingerprint is taken the same way over the rows the
DuckDB twin writes to parquet.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from kie_invoice_minimal_spark.functions import duckdb_oracle as oracle
from kie_invoice_minimal_spark.operators.blocking import candidate_pairs_from_surfaces
from kie_invoice_minimal_spark.operators.connected_components import connected_components
from kie_invoice_minimal_spark.operators.gcn_scorer import accepted_edges, score_candidates
from kie_invoice_minimal_spark.operators.graph_analytics import (
    comention_edges,
    pagerank,
    pagerank_sql,
)
from kie_invoice_minimal_spark.operators.mention_detect import (
    detect_mentions_arrow,
    with_mention_id,
)
from kie_invoice_minimal_spark.operators.triples import materialize_triples
from kie_invoice_minimal_spark.plans.entity_linking import (
    alias_triples,
    entity_resolved_mentions,
)
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.sources.checkpoints import kg_pipeline
from kie_invoice_minimal_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    TURNS_PER_CONV,
    derive_transcripts,
)


TRIPLE_COLS = ("subj", "pred", "obj", "conv_id")
PAGERANK_COLS = ("surface", "pagerank_q", "rank")
MB = 1 << 20


def key_offset(seed: int) -> int:
    """First turn key for a seed: a whole conversation boundary, kept below
    ~2.5e9 so the derived minute timestamps stay in range."""
    return TURNS_PER_CONV * 10_007 * (seed % 50_000)


# --- fingerprints -----------------------------------------------------------------


def _fp_cols(cols) -> list:
    h = F.xxhash64(*[F.col(c) for c in cols])
    # the two 32-bit halves summed separately: exact, and no long overflow
    # below 2^31 rows
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.shiftright(h, 32)), F.lit(0)).alias("h1"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("h2"),
    ]


def _fp_tuple(row) -> tuple[int, int, int]:
    return int(row["n"]), int(row["h1"]), int(row["h2"])


def noop_fingerprint(df: DataFrame, cols) -> tuple[int, int, int]:
    """Materialize ``df`` to the noop sink; its fingerprint rides the job."""
    obs = Observation()
    df.observe(obs, *_fp_cols(cols)).write.format("noop").mode("overwrite").save()
    return _fp_tuple(obs.get)


def read_fingerprint(df: DataFrame, cols) -> tuple[int, int, int]:
    return _fp_tuple(df.agg(*_fp_cols(cols)).first())


def checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``df`` (localCheckpoint) and count its rows in the same job."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return out, int(obs.get["n"])


# --- workloads --------------------------------------------------------------------


class Workload:
    """One workload.  ``op`` runs one timed operation and returns
    ``(seconds, errors)``; ``replay`` runs the same operation layer by layer
    under a tracer and returns ``(fingerprint, counts)``."""

    name = ""
    n_turns = 0
    warmup_ops = 1
    cols: tuple[str, ...] = TRIPLE_COLS

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.start = key_offset(seed)
        self.expected: tuple[int, int, int] | None = None

    @property
    def keys_sql(self) -> str:
        return f"SELECT range AS k FROM range({self.start}, {self.start + self.n_turns})"

    def _keys(self) -> DataFrame:
        return self.spark.range(
            self.start, self.start + self.n_turns, 1, self.cores
        ).withColumnRenamed("id", "k")

    def write_inputs(self, d: str) -> None:
        """Write the multi-file transcripts table (one file per core) under
        ``d`` and point the workload at it."""
        t = derive_transcripts(self._keys())
        want = [(f.name, f.dataType) for f in TRANSCRIPT_SCHEMA.fields]
        if [(f.name, f.dataType) for f in t.schema.fields] != want:
            raise RuntimeError(f"derived transcripts drifted from TRANSCRIPT_SCHEMA: {t.schema}")
        self.transcripts = os.path.join(d, "transcripts")
        t.write.parquet(self.transcripts)

    def expected_sql(self) -> str:
        raise NotImplementedError

    def _twin_fingerprint(self, con, sql: str, name: str, cols) -> tuple[int, int, int]:
        """Run a DuckDB twin, write its rows to parquet and fingerprint them
        the way the Spark output is fingerprinted."""
        path = os.path.join(self.work, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
        return read_fingerprint(self.spark.read.parquet(path), cols)

    def compute_expected(self, con) -> None:
        self.expected = self._twin_fingerprint(con, self.expected_sql(), "expected", self.cols)

    def warm_up(self, isolate) -> None:
        """Untimed operations, each followed by ``isolate()`` as in the
        measured loop, so the first timed one starts from the same state
        as the rest (not from the heap set-up left behind)."""
        for i in range(self.warmup_ops):
            _s, errors = self.op(-1 - i)
            isolate()
            if errors:
                raise RuntimeError(f"warm-up operation wrong: {errors}")

    def trace_overhead(self, tracer, traced_ops: list[str], untraced_s: list[float]) -> float:
        """Traced replay wall against the untraced operation, minus 1."""
        walls = [tracer.find(op, "op") for op in traced_ops]
        return statistics.median([s["end"] - s["start"] for s in walls]) / statistics.median(untraced_s) - 1.0

    def check(self, what: str, fp: tuple[int, int, int]) -> list[str]:
        if fp != self.expected:
            return [f"{what}: fingerprint {fp} != DuckDB twin {self.expected}"]
        return []


class Extract(Workload):
    name = "extract"
    n_turns = 100_000
    warmup_ops = 2

    def expected_sql(self) -> str:
        return oracle.triples_sql(self.keys_sql)

    def op(self, i: int):
        t0 = time.perf_counter()
        fp = noop_fingerprint(extract_triples_df(self.spark.read.parquet(self.transcripts)), self.cols)
        s = time.perf_counter() - t0
        return s, self.check("triples", fp)

    def replay(self, op: str, tr):
        counts = {}
        with tr.span("op", op):
            with tr.span("sources", op):
                t, counts["sources.rows"] = checkpoint_count(self.spark.read.parquet(self.transcripts))
            with tr.span("mention_detect", op):
                m, counts["mention_detect.mentions_out"] = checkpoint_count(detect_mentions_arrow(t))
            with tr.span("triples", op):
                fp = noop_fingerprint(materialize_triples(m), self.cols)
        counts["triples.rows_out"] = fp[0]
        return fp, counts


def entity_linking_replay(mentions: DataFrame, op: str, tr, counts: dict) -> DataFrame:
    """plans/entity_linking.link_entities, one span per layer call, each
    layer's input materialized first.  Returns the entity map."""
    with tr.span("entity_linking", op):
        m = mentions.filter(F.col("mention_type").isin("BRAND"))
        surf, counts["blocking.surfaces_in"] = checkpoint_count(m.select("surface").distinct())
        with tr.span("blocking", op):
            pairs, n_pairs = checkpoint_count(candidate_pairs_from_surfaces(surf))
        counts["blocking.pairs_out"] = counts["gcn_scorer.pairs_in"] = n_pairs
        with tr.span("gcn_scorer", op):
            obs = Observation()
            scored = (
                score_candidates(pairs)
                .observe(obs, F.count(F.when(F.col("is_match"), 1)).alias("accepted"))
                .localCheckpoint()
            )
            edges = accepted_edges(scored)
        counts["gcn_scorer.accept_ratio"] = int(obs.get["accepted"]) / max(n_pairs, 1)
        with tr.span("connected_components", op):
            cc: dict = {}
            assign = connected_components(
                edges.select(F.xxhash64("surface_a").alias("u"), F.xxhash64("surface_b").alias("v")),
                stats=cc,
            ).localCheckpoint()
        counts["connected_components.rounds"] = cc.get("rounds", 0)
        counts["connected_components.input_edges"] = cc.get("input_edges", 0)
        # the canonical step: surface -> component -> min surface
        surfaces = surf.withColumn("sid", F.xxhash64("surface"))
        linked = surfaces.join(assign, surfaces.sid == assign.node, "left").select(
            "surface", F.coalesce("component", "sid").alias("entity_id")
        )
        emap = linked.select(
            "surface",
            "entity_id",
            F.min("surface").over(Window.partitionBy("entity_id")).alias("canonical_surface"),
        ).localCheckpoint()
    counts["entity_linking.entities"] = emap.select("entity_id").distinct().count()
    return emap


def _tree_files_bytes(root: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


class Staged(Workload):
    """Set-up builds the snapshot root once: ``run(resume=False)`` into an
    empty root, 4 snapshot writes plus readback verification (the cold
    build is the warm-up).  One operation is a resume after the last stage
    was invalidated, as a change to that stage would: ``run(resume=True)``
    loads the three completed snapshots, recomputes the triples and writes
    their snapshot with its readback verification.  Every run materializes
    the returned triples."""

    name = "staged"
    n_turns = 50_000
    warmup_ops = 2  # operations, after the build

    def expected_sql(self) -> str:
        alias = oracle.alias_triples_sql(self.keys_sql)
        return (
            f"SELECT subj, pred, obj, conv_id FROM ({oracle.triples_sql(self.keys_sql)}) "
            f"UNION ALL SELECT subj, pred, obj, NULL AS conv_id FROM ({alias})"
        )

    def compute_expected(self, con) -> None:
        """Also the canonical-entity PageRank the traced replay checks."""
        super().compute_expected(con)
        self.expected_pagerank = self._twin_fingerprint(
            con, pagerank_sql(oracle.canonical_mentions_sql(self.keys_sql)), "pagerank", PAGERANK_COLS
        )

    @property
    def root(self) -> str:
        return os.path.join(self.work, "snapshots")

    def _pipeline(self):
        path = self.transcripts
        return kg_pipeline(self.spark, self.root, lambda sp: sp.read.parquet(path))

    def _run(self, resume: bool) -> tuple[float, tuple[int, int, int], list[dict]]:
        """One pipeline run, its returned triples materialized to the noop
        sink; returns the seconds that took, then (untimed) the triples'
        fingerprint and the stage state records.  The fingerprint is a
        second job here, not an observe() on the timed one: the returned
        triples are a snapshot read back, a short scan, and hashing on it
        took ~15 % of a resume that recomputed nothing."""
        t0 = time.perf_counter()
        p = self._pipeline()
        triples = p.run(resume=resume)["triples"]
        triples.write.format("noop").mode("overwrite").save()
        s = time.perf_counter() - t0
        return s, read_fingerprint(triples, self.cols), p.metrics()

    def _build(self) -> list[str]:
        shutil.rmtree(self.root, ignore_errors=True)
        _s, fp, self.built = self._run(resume=False)
        return self._check_states("build", fp, self.built)

    def _check_states(self, what: str, fp, states: list[dict]) -> list[str]:
        errors = self.check(f"{what} triples", fp)
        n_rows = {s["stage"]: s["n_rows"] for s in states}.get("triples")
        if n_rows != fp[0]:
            errors.append(f"{what}: triples state n_rows {n_rows} != {fp[0]} rows read back")
        return errors

    def warm_up(self, isolate) -> None:
        t0 = time.perf_counter()
        errors = self._build()
        self.build_s = time.perf_counter() - t0
        if errors:
            raise RuntimeError(f"build wrong: {errors}")
        isolate()
        super().warm_up(isolate)

    def _resume(self, redo: str | None) -> tuple[float, list[str]]:
        """A resume, after invalidating stage ``redo`` (untimed) if given.
        Checks the triples, and that every stage complete before the run
        kept its state record."""
        p = self._pipeline()
        if redo:
            p.invalidate(redo)
        before = {st["stage"]: st for st in p.metrics()}
        s, fp, states = self._run(resume=True)
        errors = self._check_states("resume", fp, states)
        if any(before.get(st["stage"], st) != st for st in states):
            errors.append("resume rewrote a completed stage")
        return s, errors

    def op(self, i: int):
        return self._resume("triples")

    def replay(self, op: str, tr):
        """The layers of sources/checkpoints.kg_pipeline replayed one by one,
        then the canonical-entity PageRank over the resolved mentions
        (operators/graph_analytics.kg_canonical_pagerank's tail), then the
        real pipeline's build and resume for the checkpoint layer."""
        counts = {}
        with tr.span("op", op):
            with tr.span("sources", op):
                t, counts["sources.rows"] = checkpoint_count(self.spark.read.parquet(self.transcripts))
            with tr.span("mention_detect", op):
                m, counts["mention_detect.mentions_out"] = checkpoint_count(
                    with_mention_id(detect_mentions_arrow(t))
                )
            emap = entity_linking_replay(m, op, tr, counts)
            with tr.span("triples", op):
                alias = alias_triples(emap).withColumn("conv_id", F.lit(None).cast("string"))
                fp = noop_fingerprint(materialize_triples(m).unionByName(alias), self.cols)
            resolved = entity_resolved_mentions(m, emap.select("surface", "canonical_surface"))
            resolved = resolved.withColumn("surface", F.coalesce("canonical_surface", "surface"))
            with tr.span("comention_edges", op):
                edges, counts["graph_analytics.edges"] = checkpoint_count(
                    comention_edges(resolved.drop("canonical_surface"))
                )
            with tr.span("pagerank", op):
                pr_fp = noop_fingerprint(pagerank(edges), PAGERANK_COLS)
            with tr.span("checkpoints", op):
                with tr.span("build", op):
                    errors = self._build()
                with tr.span("load", op):
                    errors += self._resume(None)[1]
        counts["triples.rows_out"] = fp[0]
        counts["checkpoints.write_s"] = sum(s["wall_write_sec"] for s in self.built)
        counts["checkpoints.verify_s"] = sum(s["wall_verify_sec"] for s in self.built)
        files, size = _tree_files_bytes(self.root)
        counts["checkpoints.files"] = files
        counts["checkpoints.snapshot_mb"] = size / MB
        if pr_fp != self.expected_pagerank:
            errors.append(f"pagerank: fingerprint {pr_fp} != DuckDB twin {self.expected_pagerank}")
        if errors:
            raise RuntimeError("; ".join(errors))
        return fp, counts

    def trace_overhead(self, tracer, traced_ops: list[str], untraced_s: list[float]) -> float:
        """The replay covers a build and a resume, so its untraced reference
        is the pipeline's own build and resume, timed inside the replay
        without per-layer spans.  The PageRank spans are left out: the
        pipeline does not run them."""
        ratios = []
        for op in traced_ops:
            wall = ref = 0.0
            for name, sign in (("op", 1), ("comention_edges", -1), ("pagerank", -1)):
                s = tracer.find(op, name)
                wall += sign * (s["end"] - s["start"])
            for name in ("build", "load"):
                s = tracer.find(op, name)
                ref += s["end"] - s["start"]
            ratios.append(wall / ref)
        return statistics.median(ratios) - 1.0


WORKLOADS = {w.name: w for w in (Extract, Staged)}
