"""Directed kernels (reachability / multi-reach / SCC / spanning forest)."""

from __future__ import annotations

from collections import defaultdict

from pasgal_spark.graph import directed, kernels
from tests.conftest import edges_df, vertices_df

# digraph: cycle {0,1,2}, cycle {3,4}, chain 2->3, 5 isolated, 6->0
DI_EDGES = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (2, 3), (6, 0)]
DI_N = 7


def _reach_oracle(edges, src):
    g = defaultdict(set)
    for u, v in edges:
        g[u].add(v)
    seen = {src}
    stack = [src]
    while stack:
        u = stack.pop()
        for v in g[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    return seen


def _scc_oracle(n, edges):
    fwd = {u: _reach_oracle(edges, u) for u in range(n)}
    return {
        u: min(v for v in range(n) if u in fwd[v] and v in fwd[u]) for u in range(n)
    }


def test_reachability(spark):
    edges = edges_df(spark, DI_EDGES)
    got = {r["id"] for r in directed.reachability(edges, 0).collect()}
    assert got == _reach_oracle(DI_EDGES, 0)
    got6 = {r["id"] for r in directed.reachability(edges, 6).collect()}
    assert got6 == _reach_oracle(DI_EDGES, 6)


def test_multi_reachability(spark):
    edges = edges_df(spark, DI_EDGES)
    got = {(r["id"], r["source"]) for r in directed.multi_reachability(edges, [0, 6]).collect()}
    exp = {(v, s) for s in (0, 6) for v in _reach_oracle(DI_EDGES, s)}
    assert got == exp


def test_reachability_budget_boundary(spark):
    """A frontier that dies exactly at ``max_iterations`` succeeds; one
    level short raises (raise-don't-truncate, ADVICE r3 boundary rule):
    a directed path with L edges needs L levels."""
    import pytest

    length = 5
    edges = edges_df(spark, [(i, i + 1) for i in range(length)])
    want = set(range(length + 1))
    got = directed.reachability(edges, 0, max_iterations=length).collect()
    assert {r["id"] for r in got} == want
    got = directed.multi_reachability(edges, [0], max_iterations=length).collect()
    assert {(r["id"], r["source"]) for r in got} == {(v, 0) for v in want}
    with pytest.raises(RuntimeError, match="frontier still live"):
        directed.reachability(edges, 0, max_iterations=length - 1)
    with pytest.raises(RuntimeError, match="frontier still live"):
        directed.multi_reachability(edges, [0], max_iterations=length - 1)


def test_scc_micrograph(spark):
    edges = edges_df(spark, DI_EDGES)
    verts = vertices_df(spark, range(DI_N))
    got = dict(directed.scc(edges, verts).collect())
    assert got == _scc_oracle(DI_N, DI_EDGES)


def test_spanning_forest_properties(spark):
    sym_pairs = [(0, 1), (1, 2), (0, 2), (3, 4)]
    sym = edges_df(spark, sorted({(u, v) for a, b in sym_pairs for u, v in [(a, b), (b, a)]}))
    verts = vertices_df(spark, range(6))  # vertex 5 isolated
    cc = kernels.connected_components(sym, verts)
    forest = directed.spanning_forest(sym, verts, cc).collect()
    by_comp = defaultdict(list)
    for r in forest:
        by_comp[r["component"]].append((r["child"], r["parent"]))
    assert sorted(by_comp) == [0, 3]
    assert len(by_comp[0]) == 2  # 3 vertices -> 2 tree edges
    assert len(by_comp[3]) == 1
    sym_set = {(u, v) for u, v in sym_pairs} | {(v, u) for u, v in sym_pairs}
    for comp, tes in by_comp.items():
        children = {c for c, _ in tes}
        assert comp not in children  # root has no parent
        for c, p in tes:
            assert (c, p) in sym_set


def test_spanning_forest_long_diameter_chain(spark):
    # diameter-400 chain (the reference's grid-corpus pathology class,
    # src/utils/diameter.tsv:8-9): the r3 BFS-level implementation needed
    # ~400 driver supersteps here; the Boruvka+Euler derivation is
    # O(log n) rounds at any diameter (VERDICT r3 #3).
    n = 401
    pairs = [(i, i + 1) for i in range(n - 1)]
    sym = edges_df(spark, sorted({(u, v) for a, b in pairs for u, v in [(a, b), (b, a)]}))
    verts = vertices_df(spark, range(n))
    cc = spark.createDataFrame([(i, 0) for i in range(n)], "id long, component long")
    forest = directed.spanning_forest(sym, verts, cc).collect()
    assert len(forest) == n - 1
    assert {r["child"] for r in forest} == set(range(1, n))
    for r in forest:
        assert abs(r["child"] - r["parent"]) == 1  # parents are chain neighbors
        assert r["component"] == 0


def _chain_of_cycles(k: int, size: int = 3):
    """k directed `size`-cycles linked in a chain: the coloring algorithm's
    pathological topology (one SCC settles per phase)."""
    edges = []
    for i in range(k):
        base = i * size
        for j in range(size):
            edges.append((base + j, base + (j + 1) % size))
        if i + 1 < k:
            edges.append((base + size - 1, base + size))
    return edges, k * size


def test_scc_chain_of_cycles_matches_oracle_in_log_rounds(spark):
    edges_l, n = _chain_of_cycles(12)
    edges = edges_df(spark, edges_l)
    verts = vertices_df(spark, range(n))
    rounds: list[tuple[str, int]] = []
    got = dict(
        directed.scc(edges, verts, on_round=lambda kind, i: rounds.append((kind, i))).collect()
    )
    assert got == _scc_oracle(n, edges_l)
    batch_rounds = sum(1 for kind, _ in rounds if kind == "batch")
    # 12 SCCs: trim settles none (every vertex is on a cycle), giant-first
    # settles one, exponential batches (4, 7, 11, ...) cover the remaining
    # 11 in <= 3 rounds — min-label coloring would need >= 12 phases.
    assert batch_rounds <= 3, rounds


def test_scc_dag_settles_via_trim(spark):
    # pure DAG: every vertex is a trivial SCC; trim must settle all of them
    # without any reachability rounds.
    dag = [(i, j) for i in range(8) for j in range(i + 1, 8) if (i + j) % 3 == 0]
    edges = edges_df(spark, dag)
    verts = vertices_df(spark, range(8))
    rounds: list[tuple[str, int]] = []
    got = dict(
        directed.scc(edges, verts, on_round=lambda kind, i: rounds.append((kind, i))).collect()
    )
    assert got == {i: i for i in range(8)}
    assert all(kind == "trim" for kind, _ in rounds), rounds
