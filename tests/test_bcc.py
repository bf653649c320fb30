"""FAST-BCC differential tests vs the sequential Hopcroft-Tarjan oracle —
the reference's own verification strategy (fast-bcc checked against
/root/reference/src/BCC/hopcroft-tarjan.h)."""

from __future__ import annotations

import pytest

from pasgal_spark.graph import bcc as bccmod
from tests.conftest import edges_df, vertices_df
from tests.oracles import articulation_oracle, bcc_oracle, kruskal_keys


def _sym_pairs(pairs):
    s = set()
    for u, v in pairs:
        if u != v:
            s.add((u, v))
            s.add((v, u))
    return sorted(s)


def _spark_edge_groups(spark, n, pairs, strategy="euler"):
    sym = edges_df(spark, _sym_pairs(pairs))
    vertices = vertices_df(spark, range(n))
    rows = bccmod.bcc_edges(sym, vertices, strategy=strategy).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["bcc"], set()).add((r["src"], r["dst"]))
    return set(frozenset(g) for g in groups.values())


# -- fixtures ----------------------------------------------------------------

# Two triangles sharing vertex 2, a bridge 4-5, a pendant 5-6, isolated 7.
FIG8 = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5), (5, 6)]

# 4-cycle with a chord (single BCC) plus a tail.
CHORD = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (3, 4)]

# Path graph: every edge its own BCC (all bridges).
PATH = [(i, i + 1) for i in range(6)]

# Theta graph: two vertices joined by three disjoint paths — one BCC.
THETA = [(0, 1), (1, 2), (2, 5), (0, 3), (3, 5), (0, 4), (4, 5)]


# euler is the only strategy; the parameter keeps the test ids stable
@pytest.mark.parametrize("strategy", ["euler"])
@pytest.mark.parametrize(
    "pairs,n",
    [(FIG8, 8), (CHORD, 5), (PATH, 7), (THETA, 6)],
    ids=["figure8", "chord", "path", "theta"],
)
def test_bcc_edge_partition_matches_hopcroft_tarjan(spark, pairs, n, strategy):
    got = _spark_edge_groups(spark, n, pairs, strategy)
    want = bcc_oracle(n, pairs)
    assert got == want


@pytest.mark.parametrize("strategy", ["euler"])
def test_bcc_random_graph_matches_oracle(spark, strategy):
    # Deterministic hash-derived graph (the reference's synthetic idiom,
    # src/graph.h:397-433): ~2n edges over n=40 vertices, plus a guaranteed
    # bridge chain hanging off vertex 0.
    n = 40
    pairs = []
    for i in range(2 * n):
        u = (i * 2654435761 + 7) % n
        v = (i * 40503 + 11) % n
        if u != v:
            pairs.append((u, v))
    pairs += [(0, n), (n, n + 1)]
    got = _spark_edge_groups(spark, n + 2, pairs, strategy)
    want = bcc_oracle(n + 2, pairs)
    assert got == want


def _long_diameter_pairs():
    """Grid-class fixture (reference diameter corpus,
    src/utils/diameter.tsv:8-9): an 800-vertex chain with a cycle chord
    every 8 hops on the first half — diameter ~400, BCCs = 50 eight-edge
    cycles + ~400 bridges."""
    n = 800
    pairs = [(i, i + 1) for i in range(n - 1)]
    pairs += [(i, i + 8) for i in range(0, n // 2, 8)]
    return n, pairs


def test_bcc_euler_long_diameter_matches_oracle(spark):
    """A BFS level sweep would need ~diameter supersteps here; the euler
    pipeline (Borůvka + list ranking + sparse table) stays O(log n) and
    must still match Hopcroft-Tarjan exactly."""
    n, pairs = _long_diameter_pairs()
    got = _spark_edge_groups(spark, n, pairs)
    want = bcc_oracle(n, pairs)
    assert got == want


def test_bcc_edges_canonical_labels_are_min_edge_keys(spark):
    """Canonical per-edge labels: every cluster's label equals the min
    normalized edge key in the cluster (tree-independence of the
    canonical form)."""
    n = 8
    sym = edges_df(spark, _sym_pairs(FIG8))
    vertices = vertices_df(spark, range(n))
    eul = {
        (r["src"], r["dst"]): r["bcc"]
        for r in bccmod.bcc_edges_canonical(sym, vertices).collect()
    }
    assert len(eul) == len(FIG8)
    for (s, d), lbl in eul.items():
        keys = [s2 * 2**32 + d2 for (s2, d2), l2 in eul.items() if l2 == lbl]
        assert lbl == min(keys)


def test_bcc_vertex_labels_cover_all_vertices(spark):
    n = 8
    sym = edges_df(spark, _sym_pairs(FIG8))
    vertices = vertices_df(spark, range(n))
    rows = bccmod.bcc(sym, vertices).collect()
    assert {r["id"] for r in rows} == set(range(n))
    # one label per vertex
    assert len(rows) == n


@pytest.mark.parametrize(
    "pairs,n",
    [(FIG8, 8), (CHORD, 5), (THETA, 6)],
    ids=["figure8", "chord", "theta"],
)
def test_tarjan_vishkin_differential(spark, pairs, n):
    """The reference keeps Tarjan-Vishkin as FAST-BCC's comparison baseline
    (src/BCC/tarjan-vishkin.h:9-124); same use here — an independent
    aux-graph assembly must yield the identical edge partition."""
    sym = edges_df(spark, _sym_pairs(pairs))
    vertices = vertices_df(spark, range(n))
    rows = bccmod.tarjan_vishkin_bcc_edges(sym, vertices).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["bcc"], set()).add((r["src"], r["dst"]))
    got = set(frozenset(g) for g in groups.values())
    assert got == bcc_oracle(n, pairs)


def test_articulation_points_match_oracle(spark):
    for pairs, n in [(FIG8, 8), (CHORD, 5), (PATH, 7), (THETA, 6)]:
        sym = edges_df(spark, _sym_pairs(pairs))
        vertices = vertices_df(spark, range(n))
        got = {r["id"] for r in bccmod.articulation_points(sym, vertices).collect()}
        assert got == articulation_oracle(n, pairs), f"fixture {pairs}"


def test_bcc_summary_counts(spark):
    n = 8
    sym = edges_df(spark, _sym_pairs(FIG8))
    vertices = vertices_df(spark, range(n))
    row = bccmod.bcc_summary(sym, vertices).first()
    want = bcc_oracle(n, FIG8)
    assert row["n_bcc"] == len(want)
    assert row["largest_bcc_edges"] == max(len(g) for g in want)
    assert row["n_bridges"] == sum(1 for g in want if len(g) == 1)
    assert row["n_cc"] == 2  # {0..6} and {7}


def test_bcc_summary_rejects_bad_strategy_on_driver_path(spark):
    """The strategy is validated before the driver fast path: a small graph
    rejects what a large one would — the removed "level" value included."""
    sym = edges_df(spark, _sym_pairs(FIG8))
    for strategy in ("bogus", "level"):
        with pytest.raises(ValueError, match="strategy"):
            bccmod.bcc_summary(sym, vertices_df(spark, range(8)), strategy=strategy)


def test_bcc_summary_driver_ignores_duplicate_edge_rows(spark):
    """A duplicated (src, dst) row is one edge to the driver path: the
    triangle 0-1-2 keeps 3 edges instead of counting its back edge twice."""
    vertices = vertices_df(spark, range(8))
    plain = bccmod.bcc_summary(edges_df(spark, _sym_pairs(FIG8)), vertices)
    dup = bccmod.bcc_summary(edges_df(spark, _sym_pairs(FIG8) + [(0, 2)]), vertices)
    assert tuple(dup.first()) == tuple(plain.first())


# -- r5 hybrid driver/distributed path differentials -------------------------
# Each euler-path stage gained a budgeted driver fast path (NumPy doubling,
# the shrink-then-residual idiom applied to list ranking / range-minmax);
# these pin exact equality between the two physical paths of every stage.

def _random_graph(seed, n, m):
    import random

    rng = random.Random(seed)
    pairs = set()
    for _ in range(m):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    # a long chain component exercises deep trees
    for i in range(n, n + 20):
        pairs.add((i, i + 1))
    return sorted(pairs), n + 21


@pytest.mark.parametrize("seed", [1, 2])
def test_boruvka_cc_byproduct_matches_two_phase(spark, seed):
    from pasgal_spark.graph.euler import boruvka_forest_cc
    from pasgal_spark.graph.kernels import connected_components_two_phase

    pairs, n = _random_graph(seed, 120, 150)
    sym = edges_df(spark, _sym_pairs(pairs))
    vertices = vertices_df(spark, range(n))
    want = connected_components_two_phase(sym, vertices)
    # driver path (auto) and forced-distributed path must both agree
    forest_a, cc_a = boruvka_forest_cc(sym, vertices)
    forest_d, cc_d = boruvka_forest_cc(
        sym, vertices, shrink_rounds=1, max_residual=5
    )
    for cc in (cc_a, cc_d):
        assert cc.exceptAll(want).count() == 0
        assert want.exceptAll(cc).count() == 0
    ncomp = want.select("component").distinct().count()
    assert forest_a.count() == n - ncomp
    assert forest_d.count() == n - ncomp
    # distinct edge keys: one minimum spanning forest, whichever path
    assert sorted(forest_a.collect()) == sorted(forest_d.collect())


def test_euler_stage_driver_paths_match_distributed(spark):
    """Bit-exact tag equality: the NumPy list-ranking and sparse-table
    kernels mirror the distributed arithmetic (same adjacency order, cut
    rule, position algebra), so outputs must be identical rows."""
    from pasgal_spark.graph.euler import (
        boruvka_forest_cc,
        euler_tags,
        subtree_minmax,
    )

    pairs, n = _random_graph(3, 150, 200)
    sym = edges_df(spark, _sym_pairs(pairs))
    vertices = vertices_df(spark, range(n))
    forest, cc = boruvka_forest_cc(sym, vertices)

    t_np = euler_tags(forest, cc)
    t_dist = euler_tags(forest, cc, max_driver_list=0)
    assert t_np.exceptAll(t_dist).count() == 0
    assert t_dist.exceptAll(t_np).count() == 0

    mm_np = subtree_minmax(t_np, sym)
    mm_dist = subtree_minmax(t_np, sym, max_driver_table=0)
    assert mm_np.exceptAll(mm_dist).count() == 0
    assert mm_dist.exceptAll(mm_np).count() == 0


def test_two_phase_direct_path_matches_shrink_path(spark):
    from pasgal_spark.graph import kernels

    pairs, n = _random_graph(4, 100, 130)
    sym = edges_df(spark, _sym_pairs(pairs))
    vertices = vertices_df(spark, range(n))
    # a bound past the budget forces the shrink rounds + residual path
    want = kernels.connected_components_two_phase(sym, vertices, m_upper=10**12)
    # the direct driver path and its exact-budget boundary (probe-first
    # rule: a residual exactly at the budget must succeed, not raise)
    got_direct = kernels.connected_components_two_phase(sym, vertices)
    n_pairs = sym.count() // 2
    got_edge = kernels.connected_components_two_phase(
        sym, vertices, max_residual=n_pairs
    )
    for got in (got_direct, got_edge):
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_bcc_summary_driver_matches_distributed(spark):
    """The r6 driver fast path for bcc_summary (one collect + sequential
    Hopcroft-Tarjan) must produce the identical row to the distributed
    euler machinery (max_driver_edges=0 forces it) — the summary's
    counts are graph invariants."""
    for seed in (11, 12):
        pairs, n = _random_graph(seed, 120, 160)
        sym = edges_df(spark, _sym_pairs(pairs))
        vertices = vertices_df(spark, range(n))
        fast = bccmod.bcc_summary(sym, vertices).first()
        dist = bccmod.bcc_summary(sym, vertices, max_driver_edges=0).first()
        assert tuple(fast) == tuple(dist), f"seed {seed}"


def _residual_arrays(pairs):
    """(x, y, key) arrays of a residual: x < y, key = (x << 32) | y."""
    import numpy as np

    x = np.array([min(p) for p in pairs], dtype=np.int64)
    y = np.array([max(p) for p in pairs], dtype=np.int64)
    return x, y, (x << 32) | y


def test_msf_keys_match_kruskal():
    """The driver forest's NumPy Borůvka rounds accept exactly Kruskal's
    keys: on the fixture graphs, on random residuals with shuffled,
    non-contiguous ids and shuffled keys, on one pair and on none."""
    import random

    import numpy as np

    from pasgal_spark.graph.euler import _msf_keys

    cases = {"one pair": [(3, 9)], "empty": []}
    for name, pairs in (("fig8", FIG8), ("chord", CHORD), ("path", PATH),
                        ("theta", THETA)):
        cases[name] = pairs
    for seed in range(6):
        rng = random.Random(seed)
        graph, n = _random_graph(seed, 60, 90)
        ids = rng.sample(range(10**9), n)  # shuffled, non-contiguous ids
        cases[f"random{seed}"] = [(ids[a], ids[b]) for a, b in graph]
    for name, pairs in cases.items():
        x, y, key = _residual_arrays(pairs)
        # component labels need not order like keys: shuffle the keys
        key = np.random.default_rng(len(pairs)).permutation(key)
        got = sorted(_msf_keys(x, y, key).tolist())
        assert got == sorted(kruskal_keys(x.tolist(), y.tolist(), key.tolist())), name
