"""Snapshot checkpoints + resumable pipeline state — SURVEY.md S6/Stage 5.

The reference checkpoints model state to ``.pth`` and resumes with a
filtered load (``scripts/train_kie.py:256-308``, ``kie_utils.py:38-63``).
The engine's analog is *stage materialization*: every pipeline stage writes
its output table as a parquet snapshot plus a ``pipeline_state`` record
(stage name, status, row count, per-partition lineage counters, code
fingerprints).  A restarted run loads completed snapshots instead of
recomputing — kill the job between stages and the rerun produces identical
outputs (BASELINE.md resumability row).

On a real deployment the snapshot store is an Iceberg table and the state
row carries its snapshot id; parquet-dir-per-stage keeps the identical
semantics in this sandbox (atomicity via write-then-rename of the state
file, which is the same commit protocol Iceberg gives us for free).

Per-partition lineage: each stage's writer runs ``observe()`` row counters
and records rows-per-output-partition, the "per-partition lineage + counter
metrics" the north rule demands.  The lineage and the schema come from the
stored files' parquet footers, read on the driver (pyarrow, serially, from
the local filesystem the class already assumes): neither a resume's loads
nor a write's verification runs a Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import ChainMap
from collections.abc import Callable, Mapping, MutableMapping
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import observation_get

# footer key under which Spark's parquet writer stores the row schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class Stage:
    name: str
    # fn(spark, {upstream_name: DataFrame}) -> DataFrame
    fn: Callable[[SparkSession, Mapping[str, DataFrame]], DataFrame]
    # the caller's input provider that fn calls, if any: its
    # provider_fingerprint is recorded in place of fn's stage_fn_fingerprint
    source: Callable | None = None


_CODE_FP: list[str] = []  # per-process cache


def engine_code_fingerprint() -> str:
    """Deterministic md5 over the engine package's source bytes (sorted
    relpath + contents of every .py under kie_invoice_minimal_spark/) —
    the snapshot MANIFEST key: a resume must never silently load
    snapshots built by a DIFFERENT code version (a stale persistent root
    surviving a deploy), because stage semantics may have changed while
    the parquet looks perfectly healthy.  Computed once per process;
    recorded in every stage state and required to MATCH on resume — a
    mismatched (or missing) fingerprint makes the stage read as
    incomplete, so it recomputes under the current code.

    Scope: the engine package only.  A stage callable defined outside it
    is hashed separately (stage_fn_fingerprint)."""
    if _CODE_FP:
        return _CODE_FP[0]
    import hashlib

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    n_files = 0
    for dirpath, dirnames, filenames in sorted(os.walk(pkg_root)):
        dirnames.sort()
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg_root)
            h.update(rel.encode())
            h.update(b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
            n_files += 1
    if n_files == 0:
        # spark-submit --py-files deployment: the package lives INSIDE a
        # zip, so os.walk over the in-zip path yields nothing — hashing
        # "no files" would give every zip deploy the SAME fingerprint and
        # silently degrade the manifest check to a pass-through.  Hash
        # the archive bytes instead: same contract (code changed <=>
        # fingerprint changed), since --py-files ships the whole zip.
        lower = pkg_root.lower()
        hashed_archive = False
        for ext in (".zip", ".egg"):
            # a path COMPONENT merely containing ".zip"/".egg" is not an
            # archive: skip it and fall through to the never-reusable
            # uuid branch instead of failing in open()
            if ext in lower:
                archive = pkg_root[: lower.index(ext) + len(ext)]
                if not os.path.isfile(archive):
                    continue
                with open(archive, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
                hashed_archive = True
                break
        if not hashed_archive:  # unlocatable source: never claim reusable
            import uuid

            h.update(f"unhashable-source-{uuid.uuid4().hex}".encode())
    _CODE_FP.append(h.hexdigest())
    return _CODE_FP[0]


_PROC_MARKER: list[str] = []  # per-process marker for uninspectable stage fns


def stage_fn_fingerprint(fn) -> str:
    """md5 of a stage callable's SOURCE TEXT — the per-stage half of the
    resume manifest: CheckpointedPipeline accepts arbitrary callables, and
    one defined outside the package could change across a deploy while
    engine_code_fingerprint stayed put.  A callable defined INSIDE the
    package returns the constant "in-package" (its bytes already move
    engine_code_fingerprint); one whose source inspect cannot recover
    (REPL lambdas, exec'd code) gets a per-process marker, so it
    recomputes in every new process rather than ever resuming stale."""
    import hashlib
    import inspect

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        src_file = inspect.getsourcefile(fn) or ""
        if os.path.abspath(src_file).startswith(pkg_root + os.sep):
            return "in-package"
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return _proc_marker()
    return hashlib.md5(src.encode()).hexdigest()


def _proc_marker() -> str:
    if not _PROC_MARKER:
        import uuid

        _PROC_MARKER.append(uuid.uuid4().hex)
    return f"uninspectable-{_PROC_MARKER[0]}"


def _plain(v) -> bool:
    return isinstance(v, (str, int, float, bool, type(None))) or (
        isinstance(v, tuple) and all(map(_plain, v))
    )


def provider_fingerprint(fn) -> str:
    """:func:`stage_fn_fingerprint` of an input provider plus the values it
    captures (closure cells, defaults): ``lambda sp: read(sp, path)`` over
    another ``path`` reads other input.  Plain values (str, int, float,
    bool, None, tuples of them) are hashed by ``repr``; any other captured
    value, or a callable object, fingerprints by this process and identity,
    so it never resumes in another process."""
    import hashlib

    values = [c.cell_contents for c in getattr(fn, "__closure__", None) or ()]
    values += getattr(fn, "__defaults__", None) or ()
    values += (getattr(fn, "__kwdefaults__", None) or {}).values()
    if not hasattr(fn, "__code__"):  # a callable object keeps its values elsewhere
        captured = f"{_proc_marker()}-{id(fn)}"
    elif all(map(_plain, values)):
        captured = repr(values)
    else:
        captured = f"{_proc_marker()}-{[id(v) for v in values]}"
    return f"{stage_fn_fingerprint(fn)}:{hashlib.md5(captured.encode()).hexdigest()}"


class _StageOutputs(Mapping):
    """Stage name -> output DataFrame, in the order stages were added.  A
    stage added without a DataFrame is loaded by ``load(name)`` on its
    first access; ``in`` and iteration never load."""

    def __init__(self, load: Callable[[str], DataFrame]):
        self._load = load
        self._dfs: dict[str, DataFrame | None] = {}

    def add(self, name: str, df: DataFrame | None = None) -> None:
        self._dfs[name] = df

    def __getitem__(self, name: str) -> DataFrame:
        df = self._dfs[name]
        if df is None:
            df = self._dfs[name] = self._load(name)
        return df

    def __contains__(self, name: object) -> bool:
        return name in self._dfs

    def __iter__(self):
        return iter(self._dfs)

    def __len__(self) -> int:
        return len(self._dfs)


class CheckpointedPipeline:
    """Ordered stages with parquet snapshots and JSON state records."""

    def __init__(self, spark: SparkSession, root: str, stages: list[Stage]):
        self.spark = spark
        self.root = root
        self.stages = stages
        os.makedirs(self._state_dir, exist_ok=True)

    @property
    def _state_dir(self) -> str:
        return os.path.join(self.root, "_pipeline_state")

    def _data_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _state_path(self, stage: str) -> str:
        return os.path.join(self._state_dir, f"{stage}.json")

    def state(self, stage: str) -> dict | None:
        p = self._state_path(stage)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            # a torn/corrupt state record (crash mid-commit) means the stage
            # did not complete — recompute rather than crash the resume
            return None

    def _fn_fingerprint(self, stage: str) -> str | None:
        """The stage's recorded callable fingerprint: its source's
        provider_fingerprint, else its fn's stage_fn_fingerprint."""
        for st in self.stages:
            if st.name == stage:
                return provider_fingerprint(st.source) if st.source else stage_fn_fingerprint(st.fn)
        return None

    def is_complete(self, stage: str) -> bool:
        """Complete AND built by THIS code version (see
        engine_code_fingerprint) AND by this stage callable's source, or
        by this input provider with these captured values (see
        stage_fn_fingerprint, provider_fingerprint — out-of-package stage
        edits and other input must also invalidate) — a stale or
        pre-manifest snapshot reads as incomplete and recomputes rather
        than resuming silently."""
        st = self.state(stage)
        fp = self._fn_fingerprint(stage)
        return bool(
            st
            and st.get("status") == "complete"
            and st.get("code_fingerprint") == engine_code_fingerprint()
            and fp is not None
            and st.get("stage_fn_fingerprint") == fp
        )

    def _footers(self, stage: str) -> dict[str, pq.FileMetaData]:
        """Parquet footer of each data file in the stage's snapshot, keyed by
        file name.  Names starting with ``_`` or ``.`` (``_SUCCESS``, CRC
        files) are skipped, as Spark's file index skips them."""
        d = self._data_dir(stage)
        return {
            n: pq.read_metadata(os.path.join(d, n))
            for n in sorted(os.listdir(d))
            if not n.startswith(("_", "."))
        }

    def _read(self, stage: str, footers: dict[str, pq.FileMetaData]) -> DataFrame:
        """The snapshot as a DataFrame, its schema taken from the Spark schema
        a footer carries, so Spark runs no schema-inference job."""
        first = next(iter(footers.values()), None)
        raw = (first.metadata or {}).get(_SPARK_SCHEMA_KEY) if first else None
        if raw is None:
            raise RuntimeError(
                f"stage {stage}: snapshot has no parquet file with a Spark schema"
            )
        schema = StructType.fromJson(json.loads(raw))
        return self.spark.read.schema(schema).parquet(self._data_dir(stage))

    def load(self, stage: str) -> DataFrame:
        return self._read(stage, self._footers(stage))

    def _write_stage(self, name: str, df: DataFrame) -> DataFrame:
        t_start = time.time()
        out = self._data_dir(name)
        # counter metric riding the WRITE job itself (no extra action): the
        # Observation resolves once the write finishes, giving the row count
        # the writer actually produced
        obs = Observation(f"obs_{name}_{int(time.time()*1000)}")
        df.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.mode(
            "overwrite"
        ).parquet(out)
        n_written = int(observation_get(obs)["n_rows"])
        t_written = time.time()
        # per-partition lineage comes from the stored files' footers — it
        # describes the table AS STORED (what a resume will load), and the
        # observed write count cross-checks it: a mismatch means a torn or
        # concurrently-modified snapshot, surfaced instead of trusted.
        # Zero-row files are left out of the lineage.
        footers = self._footers(name)
        lineage = {f: m.num_rows for f, m in footers.items() if m.num_rows}
        n_stored = int(sum(lineage.values()))
        if n_stored != n_written:
            raise RuntimeError(
                f"stage {name}: snapshot footers hold {n_stored} rows but the "
                f"write job observed {n_written} — torn snapshot"
            )
        back = self._read(name, footers)
        state = {
            "stage": name,
            "status": "complete",
            "snapshot_path": out,
            "n_rows": n_stored,
            "n_rows_observed": n_written,
            "n_partitions": len(lineage),
            "partition_rows": lineage,
            # per-stage wall time — the reference's @timer instrumentation
            # (backend_utils.py:30-40) lifted into the state record:
            # wall_write_sec is the compute+write job, wall_verify_sec the
            # footer read + lineage check, wall_sec their total.
            "wall_write_sec": round(t_written - t_start, 3),
            "wall_verify_sec": round(time.time() - t_written, 3),
            "wall_sec": round(time.time() - t_start, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            # resume manifest: stale-code snapshots must not resume
            "code_fingerprint": engine_code_fingerprint(),
            "stage_fn_fingerprint": self._fn_fingerprint(name),
        }
        tmp = self._state_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, sort_keys=True)
        os.replace(tmp, self._state_path(name))  # atomic commit
        return back

    def run(self, resume: bool = True) -> Mapping[str, DataFrame]:
        """Execute stages in order, skipping completed ones when resuming.

        Stage order is topological, so once a stage recomputes every later
        stage recomputes too: none loads a snapshot built from an output
        that has just changed.  Returns every stage's output, keyed and
        iterated in stage order.  A stage skipped as complete is loaded on
        first access, not up front, so a resume reads only the snapshots
        that a recomputed stage or the caller uses."""
        done = _StageOutputs(self.load)
        for st in self.stages:
            if resume and self.is_complete(st.name):
                done.add(st.name)
                continue
            resume = False
            df = st.fn(self.spark, done)
            done.add(st.name, self._write_stage(st.name, df))
        return done

    def invalidate(self, stage: str) -> None:
        """Drop the snapshot and state of ``stage`` and of every stage after
        it in stage order, so that a resume recomputes the stage and all it
        can feed rather than loading outputs built from the dropped one."""
        names = [st.name for st in self.stages]
        for name in names[names.index(stage) :]:
            p = self._state_path(name)
            if os.path.exists(p):
                os.remove(p)
            d = self._data_dir(name)
            if os.path.exists(d):
                shutil.rmtree(d)

    def metrics(self) -> list[dict]:
        """All stage state records (the pipeline_state table)."""
        out = []
        for st in self.stages:
            s = self.state(st.name)
            if s:
                out.append(s)
        return out


def kg_pipeline(
    spark: SparkSession,
    root: str,
    transcripts_provider: Callable[[SparkSession], DataFrame],
    stages: tuple[str, ...] = ("transcripts", "mentions", "entity_map", "triples"),
) -> CheckpointedPipeline:
    """The one stage graph every staged path runs:

        transcripts -> mentions -> entity_map -> triples
        transcripts ---------------------------> triples
                       mentions -> capped_surfaces -> edges

    ``stages`` names the stages to snapshot; the default is the flagship
    chain.  Its triples are the flagship's conversation triples
    (``extract_triples_df`` over the transcripts: one shuffle of turns and
    one Arrow crossing that detects and joins, the same rows as
    ``materialize_triples`` over the mentions) ∪ the alias triples of the
    entity map, so a triples-only resume reads the transcripts and
    entity_map snapshots and never the larger mentions one.  The first
    named stage, which is the one that calls ``transcripts_provider``,
    records the provider's fingerprint (:func:`provider_fingerprint`), so a
    root built from other input recomputes every stage.  An upstream
    stage that is not named is computed inline by the named stage that
    needs it (once per stage run), so a consumer whose resume point is the
    mention stream or the capped table does not pay for writing the
    turn-level table.  An unknown stage name raises ``ValueError``."""
    from ..operators.graph_analytics import _pair_edges, capped_conv_surfaces
    from ..operators.mention_detect import detect_mentions_arrow, with_mention_id
    from ..plans.entity_linking import alias_triples, link_entities
    from ..plans.pipeline import extract_triples_df

    def s_triples(up):
        alias = alias_triples(up["entity_map"]).selectExpr(
            "subj", "pred", "obj", "CAST(NULL AS STRING) AS conv_id"
        )
        return extract_triples_df(up["transcripts"]).union(alias)

    # stage -> (upstream stages, fn({upstream: DataFrame})), in topological
    # order.  Persisted mentions carry the stable 64-bit id (join-stable
    # lineage key across resumes).
    graph = {
        "transcripts": ((), lambda up: transcripts_provider(spark)),
        "mentions": (
            ("transcripts",),
            lambda up: with_mention_id(detect_mentions_arrow(up["transcripts"])),
        ),
        "entity_map": (("mentions",), lambda up: link_entities(up["mentions"])),
        "triples": (("transcripts", "entity_map"), s_triples),
        "capped_surfaces": (("mentions",), lambda up: capped_conv_surfaces(up["mentions"])),
        "edges": (("capped_surfaces",), lambda up: _pair_edges(up["capped_surfaces"])),
    }
    unknown = [s for s in stages if s not in graph]
    if unknown:
        raise ValueError(f"unknown stages {unknown}; the stage graph has {list(graph)}")

    def resolve(up: MutableMapping[str, DataFrame], name: str) -> DataFrame:
        if name not in up:
            deps, fn = graph[name]
            up[name] = fn({d: resolve(up, d) for d in deps})
        return up[name]

    names = [name for name in graph if name in stages]
    return CheckpointedPipeline(
        spark,
        root,
        [
            # inline stages land in the ChainMap's own dict; a completed
            # stage is read through ``done`` only if a named stage needs it
            Stage(
                name,
                lambda _sp, done, name=name: resolve(ChainMap({}, done), name),
                transcripts_provider if name == names[0] else None,
            )
            for name in names
        ],
    )
