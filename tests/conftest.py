from __future__ import annotations

import importlib

import pytest

from kie_invoice_minimal_spark.session import get_spark

# every operator with a driver path: (module, gate constant).  The driver
# path runs at or below the constant, the Spark path above it.
GATES = (
    ("kie_invoice_minimal_spark.operators.connected_components", "SMALL_GRAPH_EDGES"),
    ("kie_invoice_minimal_spark.plans.entity_linking", "SMALL_SURFACES"),
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kie-kg-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def stage_peak_memory(spark):
    """``peak(group) -> bytes``: the largest ``peakExecutionMemory`` over
    the stages of the jobs Spark ran under job group ``group``.  Read from
    the status store (which the UI-less session keeps too) after draining
    the listener bus, which delivers stage metrics asynchronously; a
    skipped stage reports 0."""
    sc = spark.sparkContext

    def peak(group: str) -> int:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        return max(
            (
                store.lastStageAttempt(sid).peakExecutionMemory()
                for jid in tracker.getJobIdsForGroup(group)
                for sid in tracker.getJobInfo(jid).stageIds
            ),
            default=0,
        )

    return peak


@pytest.fixture
def both_paths(monkeypatch):
    """``for path in both_paths(): ...`` runs the loop body twice: as
    "driver" with every gate constant at its value, and as "distributed"
    with every gate constant forced to 0, so each gated operator takes its
    Spark path on any non-empty input."""
    gates = [(importlib.import_module(m), name) for m, name in GATES]
    values = [getattr(mod, name) for mod, name in gates]

    def paths():
        for path in ("driver", "distributed"):
            for (mod, name), value in zip(gates, values):
                monkeypatch.setattr(mod, name, value if path == "driver" else 0)
            yield path
        for (mod, name), value in zip(gates, values):
            monkeypatch.setattr(mod, name, value)

    return paths


@pytest.fixture
def cc_both_paths(both_paths):
    """``run(edges) -> {path: {(node, component)}}``: ``connected_components``
    on both paths; each run's ``stats["rounds"]`` proves which path it
    took, and no node may have two rows."""
    from kie_invoice_minimal_spark.operators import connected_components as cc

    def run(edges):
        out = {}
        for path in both_paths():
            stats: dict = {}
            rows = cc.connected_components(edges, stats=stats).collect()
            if stats["input_edges"]:
                assert (stats["rounds"] == 0) == (path == "driver"), (path, stats)
            out[path] = {(r.node, r.component) for r in rows}
            assert len(out[path]) == len(rows), (path, "duplicate node rows")
        return out

    return run


@pytest.fixture
def cardinality_mentions(spark):
    """(BRAND mentions, surface -> group): 3k surfaces in 1k alias groups
    of random 9-letter names, three variants each."""
    import random
    import string

    rng = random.Random(7)
    rows, truth = [], {}
    for g in range(1000):
        base = "".join(rng.choice(string.ascii_lowercase) for _ in range(9))
        for v in [base.capitalize(), base.upper(), base + "-co"]:
            rows.append((f"c{g % 97}", g % 7, 0, 0, len(v), v, "BRAND"))
            truth[v] = g
    m = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, pos int, span_start int, span_end int,"
        " surface string, mention_type string",
    )
    return m, truth
