from __future__ import annotations

import pytest

from kie_invoice_minimal_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kie-kg-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cc_both_paths(monkeypatch):
    """``run(edges) -> {path: {(node, component)}}`` running
    ``connected_components`` on the driver path and, with
    ``SMALL_GRAPH_EDGES`` forced to 0, on the distributed star loop; each
    run's ``stats["rounds"]`` proves which path it took."""
    from kie_invoice_minimal_spark.operators import connected_components as cc

    driver_gate = cc.SMALL_GRAPH_EDGES

    def run(edges):
        out = {}
        for path, gate in (("driver", driver_gate), ("distributed", 0)):
            monkeypatch.setattr(cc, "SMALL_GRAPH_EDGES", gate)
            stats: dict = {}
            rows = cc.connected_components(edges, stats=stats).collect()
            if stats["input_edges"]:
                assert (stats["rounds"] == 0) == (path == "driver"), (path, stats)
            out[path] = {(r.node, r.component) for r in rows}
            assert len(out[path]) == len(rows), (path, "duplicate node rows")
        monkeypatch.setattr(cc, "SMALL_GRAPH_EDGES", driver_gate)
        return out

    return run
