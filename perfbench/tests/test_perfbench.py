"""Unit tests of the benchmark's own logic (no Spark session).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

from perfbench import stats  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, task_slots  # noqa: E402
from perfbench.tracing import EventLog  # noqa: E402
from perfbench.workloads import WORKLOADS, key_offset  # noqa: E402
from kie_invoice_minimal_spark.sources.transcripts import TURNS_PER_CONV  # noqa: E402


# --- task slots -------------------------------------------------------------------


@pytest.mark.parametrize("cores, slots", [(1, 1), (2, 1), (3, 1), (4, 2), (8, 4)])
def test_task_slots_are_half_the_cores(cores, slots):
    assert task_slots(cores) == slots


# --- quiet operations ---------------------------------------------------------------


def test_quiet_keeps_every_op_under_the_steal_limit():
    assert stats.quiet([1.0, 2.0, 3.0, 4.0], [0.0, 0.5, 0.02, 0.01]) == [1.0, 3.0, 4.0]


def test_quiet_falls_back_to_the_least_stolen_half_in_run_order():
    # one quiet op of five: the three least stolen are kept, in run order
    assert stats.quiet([1.0, 2.0, 3.0, 4.0, 5.0], [0.3, 0.05, 0.0, 0.2, 0.1]) == [2.0, 3.0, 5.0]


def test_quiet_needs_one_steal_share_per_value():
    with pytest.raises(ValueError):
        stats.quiet([1.0], [])


# --- span self time -----------------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, 8.0, 12.0),  # clipped to the parent's end
        _span(4, 1, 1.5, 2.5),  # grandchild: already inside span 1
    ]
    assert stats.self_time(spans[0], spans) == pytest.approx(4.0)
    assert stats.self_time(spans[1], spans) == pytest.approx(1.0)
    assert stats.self_time(spans[4], spans) == pytest.approx(1.0)


def test_covered_of_disjoint_and_outside_intervals():
    assert stats.covered([(0, 1), (2, 3), (5, 9)], 0.5, 6) == pytest.approx(2.5)
    assert stats.covered([], 0, 1) == 0.0


# --- event log ----------------------------------------------------------------------


def _task(stage, run_ms, cpu_ns, gc_ms, sw, sr, spill):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": spill,
        },
    }


def _job(job, stages, group, t0):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Submission Time": t0,
        "Stage Infos": [{"Stage ID": s, "Stage Name": f"s{s}"} for s in stages],
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group},
    }


def test_event_log_totals_per_job_group(tmp_path):
    mb = 1 << 20
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0], "t0/sources", 1_000),
        _task(0, 100, 50_000_000, 5, mb, 0, 0),
        _task(0, 300, 150_000_000, 15, mb, 0, 2 * mb),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
        _job(1, [0, 1], "t0/triples", 4_000),  # stage 0 is skipped here
        _task(1, 200, 100_000_000, 0, 0, 2 * mb, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_500},
    ]
    (tmp_path / "local-123").write_text("\n".join(json.dumps(e) for e in events) + "\nnot json\n")
    log = EventLog(str(tmp_path))

    src = log.totals({"t0/sources"})
    assert src["jobs"] == 1 and src["stages"] == 1 and src["tasks"] == 2
    assert src["executor_run_s"] == pytest.approx(0.4)
    assert src["executor_cpu_s"] == pytest.approx(0.2)
    assert src["gc_s"] == pytest.approx(0.02)
    assert src["shuffle_write_mb"] == pytest.approx(2.0)
    assert src["spill_mb"] == pytest.approx(2.0)

    tri = log.totals({"t0/triples"})
    assert tri["jobs"] == 1 and tri["stages"] == 1 and tri["tasks"] == 1
    assert tri["shuffle_read_mb"] == pytest.approx(2.0)
    assert log.job_intervals({"t0/sources", "t0/triples"}) == [(1.0, 3.0), (4.0, 4.5)]


# --- metric names and BENCHMARK.json ------------------------------------------------


def test_metric_names_follow_the_pattern_and_are_unique():
    names = [n for n, _u, _b in END_TO_END + PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.METRIC_NAME_RE.fullmatch(n), n
    assert not stats.METRIC_NAME_RE.fullmatch("bad name")
    assert not stats.METRIC_NAME_RE.fullmatch("p99(s)")


def test_benchmark_json_lists_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, code in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] == code
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_key_offset_is_conversation_aligned_and_in_timestamp_range():
    offsets = {key_offset(s) for s in range(200)}
    assert len(offsets) == 200
    assert all(o % TURNS_PER_CONV == 0 and o < 2_600_000_000 for o in offsets)
