"""Resumability: kill-and-restart between stages reproduces identical
triples; completed stages are loaded, not recomputed (BASELINE.md row 6)."""

from __future__ import annotations

import sys

import pytest

from kie_invoice_minimal_spark.sources.checkpoints import kg_pipeline
from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts


def _provider(n):
    return lambda sp: synth_transcripts(sp, n)


def _triples(dfs):
    return sorted(map(tuple, dfs["triples"].collect()))


def test_full_run_then_resume_skips_recompute(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "ckpt")
    p1 = kg_pipeline(spark, root, _provider(400))
    out1 = _triples(p1.run())

    # second run must NOT recompute anything: poison what the provider
    # calls (the transcripts stage calling it would raise) AND poison
    # _write_stage (ANY recomputed stage must write its snapshot, so a
    # resume that recomputes trips it).  The provider itself is an equal
    # one: another provider, or other captured values, is other input and
    # legitimately forces recompute (test_other_input_recomputes).
    def boom(sp, n):
        raise AssertionError("stage recomputed despite checkpoint")

    monkeypatch.setattr(sys.modules[__name__], "synth_transcripts", boom)
    p2 = kg_pipeline(spark, root, _provider(400))
    p2._write_stage = lambda name, df: (_ for _ in ()).throw(
        AssertionError(f"stage {name} recomputed despite checkpoint")
    )
    out2 = _triples(p2.run(resume=True))
    assert out1 == out2


def _written(p) -> list[str]:
    """Stage names ``p.run()`` writes from now on, in order."""
    names = []
    write = p._write_stage

    def spy(name, df):
        names.append(name)
        return write(name, df)

    p._write_stage = spy
    return names


def test_other_provider_resumes_nothing(spark, tmp_path):
    """A root built from one transcripts provider does not resume under
    another: 100 turns, then a provider of 300 returns 300 rows."""
    root = str(tmp_path / "ckpt_other")
    kg_pipeline(spark, root, lambda sp: synth_transcripts(sp, 100), ("transcripts",)).run()
    out = kg_pipeline(spark, root, lambda sp: synth_transcripts(sp, 300), ("transcripts",)).run()
    assert out["transcripts"].count() == 300


def test_other_input_recomputes(spark, tmp_path):
    """The same provider source over another captured value recomputes
    every stage, and gives the cold build's triples; a provider over equal
    captured values (a path, as the benchmark's parquet reader) resumes
    without writing."""
    root = str(tmp_path / "ckpt_input")
    kg_pipeline(spark, root, _provider(100)).run()
    p = kg_pipeline(spark, root, _provider(300))
    written = _written(p)
    out = _triples(p.run())
    assert written == ["transcripts", "mentions", "entity_map", "triples"]
    assert out == _triples(kg_pipeline(spark, str(tmp_path / "cold"), _provider(300)).run())

    path = str(tmp_path / "turns")
    synth_transcripts(spark, 200).write.parquet(path)

    def reader(path):
        return lambda sp: sp.read.parquet(path)

    kg_pipeline(spark, str(tmp_path / "ckpt_path"), reader(path)).run()
    again = kg_pipeline(spark, str(tmp_path / "ckpt_path"), reader(path))
    written = _written(again)
    again.run()
    assert written == []


def test_provider_fingerprint_captured_values(spark):
    """Plain captured values fingerprint by value; any other captured value
    by identity, within this process only."""
    from kie_invoice_minimal_spark.sources.checkpoints import provider_fingerprint

    assert provider_fingerprint(_provider(5)) == provider_fingerprint(_provider(5))
    assert provider_fingerprint(_provider(5)) != provider_fingerprint(_provider(6))
    a, b = spark.range(1), spark.range(1)

    def over(df):
        return lambda sp: df

    assert provider_fingerprint(over(a)) == provider_fingerprint(over(a))
    assert provider_fingerprint(over(a)) != provider_fingerprint(over(b))


def test_kill_midway_then_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    full = kg_pipeline(spark, root, _provider(400))
    golden = _triples(full.run())

    # simulate a crash after 'mentions': drop the later snapshots
    full.invalidate("entity_map")
    full.invalidate("triples")
    assert full.is_complete("mentions") and not full.is_complete("entity_map")

    resumed = kg_pipeline(spark, root, _provider(400))
    out = _triples(resumed.run(resume=True))
    assert out == golden


def test_state_metrics(spark, tmp_path):
    root = str(tmp_path / "ckpt3")
    p = kg_pipeline(spark, root, _provider(200))
    p.run()
    ms = p.metrics()
    assert [m["stage"] for m in ms] == ["transcripts", "mentions", "entity_map", "triples"]
    for m in ms:
        assert m["status"] == "complete"
        assert m["n_rows"] == sum(m["partition_rows"].values())
        assert m["n_rows"] > 0
    assert ms[0]["n_rows"] == 200


@pytest.mark.parametrize("resume", [False])
def test_no_resume_recomputes(spark, tmp_path, resume):
    root = str(tmp_path / "ckpt4")
    p = kg_pipeline(spark, root, _provider(150))
    a = _triples(p.run(resume=False))
    b = _triples(p.run(resume=False))  # recompute everything, same result
    assert a == b


def test_torn_state_file_recomputes(spark, tmp_path):
    """A truncated state record (crash mid-commit) means the stage did not
    complete: resume must recompute it, not crash, and reproduce identical
    triples."""
    import os

    root = str(tmp_path / "ckpt5")
    p = kg_pipeline(spark, root, _provider(300))
    golden = _triples(p.run())

    state_path = p._state_path("entity_map")
    with open(state_path) as f:
        content = f.read()
    with open(state_path, "w") as f:
        f.write(content[: len(content) // 2])  # torn JSON
    assert p.state("entity_map") is None
    assert not p.is_complete("entity_map")

    resumed = kg_pipeline(spark, root, _provider(300))
    out = _triples(resumed.run(resume=True))
    assert out == golden
    # the torn record was recommitted whole
    assert resumed.is_complete("entity_map")
    assert resumed.state("entity_map")["n_rows_observed"] == resumed.state("entity_map")["n_rows"]


def test_observed_counter_in_state(spark, tmp_path):
    """Round-2 contract: every stage record carries the write-job Observation
    counter and it equals the stored (footer) row count."""
    root = str(tmp_path / "ckpt6")
    p = kg_pipeline(spark, root, _provider(200))
    p.run()
    for m in p.metrics():
        assert m["n_rows_observed"] == m["n_rows"]


def test_stale_code_fingerprint_forces_recompute(spark, tmp_path):
    """r6 ADVICE item 1 (manifest half): a snapshot whose state record
    carries a DIFFERENT code fingerprint — a persistent root surviving a
    deploy — must read as incomplete and recompute under the current
    code, reproducing identical output and re-stamping the manifest.  A
    pre-manifest state record (no fingerprint key) is treated the same."""
    import json
    import os

    from kie_invoice_minimal_spark.sources.checkpoints import (
        engine_code_fingerprint,
    )

    root = str(tmp_path / "ckpt_fp")
    p1 = kg_pipeline(spark, root, _provider(300))
    golden = _triples(p1.run())
    fp = engine_code_fingerprint()
    assert all(m["code_fingerprint"] == fp for m in p1.metrics())

    # tamper: pretend 'mentions' was built by an older code version
    sp = os.path.join(root, "_pipeline_state", "mentions.json")
    st = json.load(open(sp))
    st["code_fingerprint"] = "deadbeef" * 4
    json.dump(st, open(sp, "w"))
    p2 = kg_pipeline(spark, root, _provider(300))
    assert not p2.is_complete("mentions")  # stale -> not resumable
    out = _triples(p2.run(resume=True))
    assert out == golden
    assert p2.state("mentions")["code_fingerprint"] == fp  # re-stamped

    # pre-manifest record (missing key) is equally non-resumable
    st = json.load(open(sp))
    del st["code_fingerprint"]
    json.dump(st, open(sp, "w"))
    assert not kg_pipeline(spark, root, _provider(300)).is_complete("mentions")


def _stage_rows_v1(sp, up):
    import pyspark.sql.functions as _F

    return sp.range(10).select(_F.col("id"), _F.lit("v1").alias("tag"))


def _stage_rows_v2(sp, up):
    import pyspark.sql.functions as _F

    return sp.range(10).select(_F.col("id"), _F.lit("v2").alias("tag"))


def test_changed_stage_fn_source_forces_recompute(spark, tmp_path):
    """r7 ADVICE item 2 (out-of-package half): a stage callable defined
    OUTSIDE the engine package (this test file stands in for user code /
    __spark_entry__.py) changes across a deploy WITHOUT moving
    engine_code_fingerprint — its stale snapshot must read as incomplete
    and recompute under the new source, while an identical-source rebuild
    resumes."""
    from kie_invoice_minimal_spark.sources.checkpoints import (
        CheckpointedPipeline,
        Stage,
        stage_fn_fingerprint,
    )

    root = str(tmp_path / "ckpt_fnfp")
    p1 = CheckpointedPipeline(spark, root, [Stage("rows", _stage_rows_v1)])
    out1 = p1.run()
    assert {r.tag for r in out1["rows"].collect()} == {"v1"}
    rec = p1.state("rows")["stage_fn_fingerprint"]
    assert rec == stage_fn_fingerprint(_stage_rows_v1)
    assert rec != "in-package" and not rec.startswith("uninspectable-")

    # same source object -> resumable (and the engine fp alone would say so)
    p_same = CheckpointedPipeline(spark, root, [Stage("rows", _stage_rows_v1)])
    assert p_same.is_complete("rows")

    # DIFFERENT source, same engine fingerprint -> stale, recomputes
    p2 = CheckpointedPipeline(spark, root, [Stage("rows", _stage_rows_v2)])
    assert not p2.is_complete("rows")
    out2 = p2.run(resume=True)
    assert {r.tag for r in out2["rows"].collect()} == {"v2"}
    assert p2.state("rows")["stage_fn_fingerprint"] == stage_fn_fingerprint(
        _stage_rows_v2
    )

    # in-package stage fns record the constant (covered by the engine fp),
    # except the first, which records its transcripts provider
    from kie_invoice_minimal_spark.sources.checkpoints import provider_fingerprint

    root2 = str(tmp_path / "ckpt_fnfp2")
    kp = kg_pipeline(spark, root2, _provider(50))
    kp.run()
    recorded = [m["stage_fn_fingerprint"] for m in kp.metrics()]
    assert recorded == [provider_fingerprint(_provider(50))] + ["in-package"] * 3

    # uninspectable callables never resume across processes: the marker is
    # process-stable but embeds a per-process uuid
    fn = eval("lambda sp, up: sp.range(1)")
    m1, m2 = stage_fn_fingerprint(fn), stage_fn_fingerprint(fn)
    assert m1 == m2 and m1.startswith("uninspectable-")


def _group_jobs(spark, group):
    """Job ids Spark ran under ``group`` (the listener bus is drained first:
    the status store learns of jobs asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_loads_and_verification_run_no_spark_job(spark, tmp_path, monkeypatch):
    """Snapshot schema and lineage come from the parquet footers: a resume
    after ``invalidate("triples")`` runs Spark jobs only inside the triples
    write (none for the 2 loads or the verification), and a resume of a
    complete root runs none at all."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    root = str(tmp_path / "ckpt_jobs")
    golden = _triples(kg_pipeline(spark, root, _provider(300)).run())
    p = kg_pipeline(spark, root, _provider(300))
    p.invalidate("triples")

    write_parquet = DataFrameWriter.parquet

    def tagged_write(self, *args, **kwargs):
        sc.setJobGroup("ckpt-write", "snapshot write")
        try:
            return write_parquet(self, *args, **kwargs)
        finally:
            sc.setJobGroup("ckpt-rest", "loads and verification")

    monkeypatch.setattr(DataFrameWriter, "parquet", tagged_write)
    sc.setJobGroup("ckpt-rest", "loads and verification")
    try:
        out = p.run()
        sc.setJobGroup("ckpt-complete", "resume of a complete root")
        kg_pipeline(spark, root, _provider(300)).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _group_jobs(spark, "ckpt-rest") == []
    assert _group_jobs(spark, "ckpt-complete") == []
    assert _group_jobs(spark, "ckpt-write")
    assert _triples(out) == golden


def test_invalidate_cascades_downstream(spark, tmp_path):
    """Invalidating a stage drops every later stage too: a resume rewrites
    mentions, entity_map and triples, loads no snapshot built from the
    dropped mentions, and reproduces a cold build's triples."""
    root = str(tmp_path / "ckpt_cascade")
    golden = _triples(kg_pipeline(spark, str(tmp_path / "cold"), _provider(300)).run())
    kg_pipeline(spark, root, _provider(300)).run()
    p = kg_pipeline(spark, root, _provider(300))
    p.invalidate("mentions")
    assert [p.is_complete(s) for s in ("transcripts", "mentions", "entity_map", "triples")] == [
        True,
        False,
        False,
        False,
    ]

    written = []
    write_stage = p._write_stage

    def spy(name, df):
        written.append(name)
        return write_stage(name, df)

    p._write_stage = spy
    assert _triples(p.run(resume=True)) == golden
    assert written == ["mentions", "entity_map", "triples"]


def test_triples_stage_equals_mention_lineage(spark, tmp_path):
    """The triples stage (conversation triples straight from the transcripts,
    plus alias triples) equals materialize_triples over the mentions
    snapshot plus alias triples, row for row, with turns whose text or
    conv_id is null in the input."""
    from collections import Counter

    import pyspark.sql.functions as _F

    from kie_invoice_minimal_spark.operators.triples import materialize_triples
    from kie_invoice_minimal_spark.plans.entity_linking import alias_triples

    def provider(sp):
        t = synth_transcripts(sp, 400)
        few = synth_transcripts(sp, 12)
        return t.unionByName(few.withColumn("text", _F.lit(None).cast("string"))).unionByName(
            few.withColumn("conv_id", _F.lit(None).cast("string"))
        )

    out = kg_pipeline(spark, str(tmp_path / "ckpt_lineage"), provider).run()
    alias = alias_triples(out["entity_map"]).selectExpr(
        "subj", "pred", "obj", "CAST(NULL AS STRING) AS conv_id"
    )
    want = materialize_triples(out["mentions"]).union(alias)
    got = Counter(map(tuple, out["triples"].collect()))
    assert got == Counter(map(tuple, want.collect()))
    assert any(t[0] is None for t in got)  # the null-conv_id turns made triples


def test_resume_loads_only_the_snapshots_it_reads(spark, tmp_path, monkeypatch):
    """A triples-only resume loads the transcripts and entity_map snapshots
    and not mentions; the returned mapping still lists every stage in
    order and loads mentions when it is read."""
    from kie_invoice_minimal_spark.sources.checkpoints import CheckpointedPipeline

    root = str(tmp_path / "ckpt_lazy")
    golden = _triples(kg_pipeline(spark, root, _provider(300)).run())
    p = kg_pipeline(spark, root, _provider(300))
    p.invalidate("triples")

    loaded = []
    load = CheckpointedPipeline.load

    def spy(self, stage):
        loaded.append(stage)
        return load(self, stage)

    monkeypatch.setattr(CheckpointedPipeline, "load", spy)
    out = p.run()
    assert sorted(loaded) == ["entity_map", "transcripts"]
    assert list(out) == ["transcripts", "mentions", "entity_map", "triples"]
    assert "mentions" in out and len(out) == 4
    assert _triples(out) == golden
    assert "mentions" not in loaded
    assert out["mentions"].count() > 0
    assert sorted(loaded) == ["entity_map", "mentions", "transcripts"]


def _stage_no_rows(sp, up):
    import pyspark.sql.functions as _F

    return sp.range(4).filter("id < 0").select(
        "id",
        _F.col("id").cast("decimal(12,3)").alias("amount"),
        _F.array(
            _F.struct(_F.col("id").alias("k"), _F.current_timestamp().alias("ts"))
        ).alias("events"),
    )


def test_empty_stage_lineage_and_schema(spark, tmp_path):
    """A stage that returns 0 rows writes, verifies with an empty lineage,
    and loads back (nested, decimal and timestamp columns included) with
    the schema Spark's own inference gives the snapshot."""
    from kie_invoice_minimal_spark.sources.checkpoints import (
        CheckpointedPipeline,
        Stage,
    )

    root = str(tmp_path / "ckpt_empty")
    p = CheckpointedPipeline(spark, root, [Stage("rows", _stage_no_rows)])
    back = p.run()["rows"]
    st = p.state("rows")
    assert st["n_rows"] == 0 and st["n_rows_observed"] == 0
    assert st["partition_rows"] == {} and st["n_partitions"] == 0
    inferred = spark.read.parquet(p._data_dir("rows")).schema
    loaded = CheckpointedPipeline(spark, root, [Stage("rows", _stage_no_rows)])
    for df in (back, loaded.run()["rows"]):
        assert df.schema == inferred and df.schema.json() == inferred.json()
        assert df.count() == 0


def test_torn_snapshot_raises(spark, tmp_path, monkeypatch):
    """A part file lost between the write and the verification leaves the
    stored rows short of the write job's observed count: ``_write_stage``
    raises and commits no state record."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from kie_invoice_minimal_spark.sources.checkpoints import (
        CheckpointedPipeline,
        Stage,
    )

    write_parquet = DataFrameWriter.parquet

    def torn_write(self, path, *args, **kwargs):
        write_parquet(self, path, *args, **kwargs)
        victim = next(
            n
            for n in sorted(os.listdir(path))
            if n.startswith("part-")
            and pq.read_metadata(os.path.join(path, n)).num_rows
        )
        os.remove(os.path.join(path, victim))

    monkeypatch.setattr(DataFrameWriter, "parquet", torn_write)
    p = CheckpointedPipeline(
        spark, str(tmp_path / "ckpt_torn"), [Stage("rows", _stage_rows_v1)]
    )
    with pytest.raises(RuntimeError, match="torn snapshot"):
        p.run()
    assert p.state("rows") is None


def test_observation_wait_is_bounded(spark, monkeypatch):
    """An Observation whose action never ran times out instead of blocking
    forever; one whose action ran returns its metrics."""
    import pyspark.sql.functions as _F
    from pyspark.sql import Observation

    from kie_invoice_minimal_spark import session

    monkeypatch.setattr(session, "OBSERVATION_TIMEOUT_S", 0.2)
    never = Observation()
    spark.range(3).observe(never, _F.count(_F.lit(1)).alias("n"))
    with pytest.raises(TimeoutError):
        session.observation_get(never)

    ran = Observation()
    spark.range(3).observe(ran, _F.count(_F.lit(1)).alias("n")).collect()
    assert session.observation_get(ran) == {"n": 3}


def test_stage_graph_has_one_builder():
    """kg_pipeline is the only place that declares stages: no other package
    module constructs a CheckpointedPipeline or a Stage."""
    import os
    import re

    import kie_invoice_minimal_spark

    pkg = os.path.dirname(kie_invoice_minimal_spark.__file__)
    builders = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    if re.search(r"\bCheckpointedPipeline\(|\bStage\(", f.read()):
                        builders.add(os.path.relpath(path, pkg))
    assert builders == {os.path.join("sources", "checkpoints.py")}


def test_unknown_stage_name_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="bogus"):
        kg_pipeline(spark, str(tmp_path / "ckpt"), _provider(10), stages=("bogus",))
