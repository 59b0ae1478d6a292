"""The driver-side connected-components kernel (``components_of``) against
a plain Python union-find, no Spark: random graphs with duplicate and
reversed edges, extreme signed ids, a shuffled long chain (the worst case
for label propagation) and a hub."""

from __future__ import annotations

import random
import signal

import numpy as np
import pytest

from kie_invoice_minimal_spark.operators.connected_components import components_of

KERNEL_DEADLINE_S = 30


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _kernel(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Run ``components_of`` under a deadline: a kernel that stops making
    progress fails instead of hanging the suite."""

    def expire(*_):
        raise TimeoutError(f"components_of ran past {KERNEL_DEADLINE_S} s")

    u = np.array([e[0] for e in edges], dtype=np.int64)
    v = np.array([e[1] for e in edges], dtype=np.int64)
    old = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, KERNEL_DEADLINE_S)
    try:
        nodes, comp = components_of(u, v)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)
    assert nodes.dtype == comp.dtype == np.int64
    assert np.all(nodes[1:] > nodes[:-1]), "nodes must be unique and ascending"
    return dict(zip(nodes.tolist(), comp.tolist()))


@pytest.mark.parametrize("seed", range(6))
def test_random_graphs_with_duplicate_and_reversed_edges(seed):
    rng = random.Random(seed)
    n_nodes = rng.choice([5, 50, 400, 3000])
    ids = rng.sample(range(-(10**6), 10**6), n_nodes)
    edges = []
    for _ in range(rng.randrange(1, 2 * n_nodes)):
        u, v = rng.choice(ids), rng.choice(ids)
        if u != v:
            edges.append((u, v))
    edges += [(v, u) for u, v in rng.sample(edges, len(edges) // 3)]
    edges += rng.sample(edges, len(edges) // 3)
    rng.shuffle(edges)
    if edges:
        assert _kernel(edges) == _union_find(edges)


def test_extreme_and_negative_ids():
    lo, hi = -(2**63) + 1, 2**63 - 1
    edges = [(hi, 0), (0, lo), (hi - 1, -1), (-1, -2), (7, hi - 2), (lo + 1, 7)]
    got = _kernel(edges)
    assert got == _union_find(edges)
    assert got[hi] == lo and got[hi - 1] == -2 and got[hi - 2] == lo + 1


def test_shuffled_long_chain():
    rng = random.Random(3)
    ids = rng.sample(range(-(2**40), 2**40), 20_000)
    edges = list(zip(ids, ids[1:]))
    edges = [(v, u) if rng.random() < 0.5 else (u, v) for u, v in edges]
    rng.shuffle(edges)
    got = _kernel(edges)
    assert set(got.values()) == {min(ids)}
    assert got == _union_find(edges)


def test_hub_and_isolated_pairs():
    hub = [(10**9, x) for x in range(-5000, 5000) if x != 10**9]
    pairs = [(2 * 10**9 + 2 * i, 2 * 10**9 + 2 * i + 1) for i in range(200)]
    edges = hub + pairs
    got = _kernel(edges)
    assert got == _union_find(edges)
    assert got[10**9] == -5000
