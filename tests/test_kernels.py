"""Kernel correctness on hand-written micro-graphs (FIXTURES.md F3) vs
pure-Python sequential oracles — the reference's differential-test pattern
(/root/reference/src/BFS/bfs.cpp:34-40 assert(dist == exp_dist))."""

from __future__ import annotations

import math

import numpy as np

from pasgal_spark.graph import directed, kernels
from pasgal_spark.graph.builder import symmetrize, transpose, validate
from pasgal_spark.plans.lineage import fast_pin, pin
from tests.conftest import edges_df, vertices_df
from tests.oracles import (
    bfs_oracle,
    cc_oracle,
    dijkstra_oracle,
    lpa_oracle,
    pagerank_oracle,
    triangle_oracle,
)

# two triangles {0,1,2}, {3,4,5} + bridge 2-3, plus isolated vertex 6
TT_EDGES = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
TT_N = 7

# path 0-1-...-9 (long-diameter analog of the reference's grid fixtures)
PATH_EDGES = [(i, i + 1) for i in range(9)]
PATH_N = 10

# star: hub 0 <- 1..30 (skew + dangling-mass fixture)
STAR_EDGES = [(i, 0) for i in range(1, 31)]
STAR_N = 31


def _sym_pairs(pairs):
    s = set()
    for u, v in pairs:
        if u != v:
            s.add((u, v))
            s.add((v, u))
    return sorted(s)


def test_connected_components_micrographs(spark):
    for pairs, n in [(TT_EDGES, TT_N), (PATH_EDGES, PATH_N), (STAR_EDGES, STAR_N)]:
        sym = edges_df(spark, _sym_pairs(pairs))
        verts = vertices_df(spark, range(n))
        got = dict(
            kernels.connected_components(sym, verts).collect()
        )
        assert got == cc_oracle(n, pairs)


def test_cc_isolated_vertex_is_own_component(spark):
    sym = edges_df(spark, _sym_pairs(TT_EDGES))
    verts = vertices_df(spark, range(TT_N))
    got = dict(kernels.connected_components(sym, verts).collect())
    assert got[6] == 6


def test_label_propagation_matches_sync_min_label(spark):
    for rounds in (1, 2, 3):
        sym = edges_df(spark, _sym_pairs(PATH_EDGES))
        verts = vertices_df(spark, range(PATH_N))
        got = dict(
            kernels.label_propagation(sym, verts, rounds=rounds).collect()
        )
        assert got == lpa_oracle(PATH_N, PATH_EDGES, rounds)


def test_bfs_hop_distances(spark):
    sym = edges_df(spark, _sym_pairs(TT_EDGES))
    got = dict(kernels.bfs(sym, source=0, max_depth=10).collect())
    assert got == bfs_oracle(TT_EDGES, 0, 10)


def test_bfs_respects_max_depth(spark):
    sym = edges_df(spark, _sym_pairs(PATH_EDGES))
    got = dict(kernels.bfs(sym, source=0, max_depth=3).collect())
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_vs_dijkstra(spark):
    wpairs = [(u, v, (u * 31 + v * 17) % 8 + 1) for u, v in _sym_pairs(TT_EDGES)]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    got = dict(
        kernels.sssp(wedges, source=0, cap=40).select("id", "dist").collect()
    )
    assert got == dijkstra_oracle(wpairs, 0, cap=40)


def test_sssp_rho_stepping_matches_dijkstra(spark):
    wpairs = [(u, v, (u * 31 + v * 17) % 8 + 1) for u, v in _sym_pairs(TT_EDGES)]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    exp = dijkstra_oracle(wpairs, 0, cap=40)
    for rho in (1, 2, 64):  # tiny ρ forces many buckets; big ρ ≈ Bellman-Ford
        got = dict(
            kernels.sssp_rho_stepping(wedges, source=0, rho=rho, cap=40)
            .select("id", "dist")
            .collect()
        )
        assert got == exp


def test_sssp_float_weights_vs_dijkstra(spark):
    # the reference's -DFLOAT weight mode (src/SSSP/sssp.cpp:11-15): edge
    # weights are doubles; 0.1 is not exactly representable, so path sums
    # exercise real floating-point rounding. Exact equality holds because
    # every candidate distance is a left-to-right fold along ONE path and
    # the min aggregate has no reduction-order-dependent summation — the
    # heap Dijkstra folds each path in the same order (see kernels.sssp
    # docstring determinism stance).
    wpairs = [
        (u, v, ((u * 31 + v * 17) % 8 + 1) * 0.1)
        for u, v in _sym_pairs(TT_EDGES)
    ]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w double")
    exp = dijkstra_oracle(wpairs, 0, cap=4.0)
    for fn, kw in [
        (kernels.sssp, {}),
        (kernels.sssp_delta_stepping, {"delta": 1}),
        (kernels.sssp_rho_stepping, {"rho": 2}),
    ]:
        got = dict(
            fn(wedges, source=0, cap=4.0, **kw).select("id", "dist").collect()
        )
        assert got == exp, f"{fn.__name__} float-weight mismatch"
        assert all(isinstance(v, float) for v in got.values())


def test_sssp_float_weights_via_generator(spark):
    from pasgal_spark.sources.generators import with_hash_weights

    edges = edges_df(spark, _sym_pairs(PATH_EDGES))
    wedges = with_hash_weights(edges, low=1, rng=8, scale=0.1)
    wpairs = [(r["src"], r["dst"], r["w"]) for r in wedges.collect()]
    got = dict(
        kernels.sssp(wedges, source=0, cap=10.0).select("id", "dist").collect()
    )
    assert got == dijkstra_oracle(wpairs, 0, cap=10.0)


def test_sssp_frontier_reentry_telescope(spark):
    # Adversarial fixture for the frontier invariant: vertex i first
    # receives 2*i via a direct shortcut edge (0,i) in superstep 1, then
    # improves to i via the unit chain — one improvement per superstep
    # cascading down the chain. A vertex that relaxed once MUST re-enter
    # the frontier when its distance later improves (and, for Δ/ρ-stepping,
    # a bucket advance must re-activate exactly the improved set via the
    # `rat` last-relaxed-at tracking), or downstream distances freeze at
    # the shortcut values. Covers the re-entry path the random TT fixture
    # only hits by accident.
    K = 12
    wpairs = [(0, i, 2 * i) for i in range(2, K + 1)]
    wpairs += [(i, i + 1, 1) for i in range(K)]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    exp = dijkstra_oracle(wpairs, 0, cap=100)
    assert exp == {i: i for i in range(K + 1)}  # fixture sanity
    for fn, kw in [
        (kernels.sssp, {}),
        (kernels.sssp_delta_stepping, {"delta": 1}),
        (kernels.sssp_rho_stepping, {"rho": 1}),
    ]:
        got = dict(
            fn(wedges, source=0, cap=100, **kw).select("id", "dist").collect()
        )
        assert got == exp, f"{fn.__name__} frontier re-entry mismatch"


def test_pagerank_allclose_vs_power_iteration(spark):
    edges = edges_df(spark, TT_EDGES)
    verts = vertices_df(spark, range(TT_N))
    got = dict(
        kernels.pagerank(edges, verts, iterations=20).collect()
    )
    exp = pagerank_oracle(TT_N, TT_EDGES, iters=20)
    assert all(math.isclose(got[u], exp[u], abs_tol=1e-9) for u in range(TT_N))
    # ranks are a probability distribution
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_pagerank_dangling_star(spark):
    # all mass flows into hub 0, which is dangling -> redistributed
    edges = edges_df(spark, STAR_EDGES)
    verts = vertices_df(spark, range(STAR_N))
    got = dict(kernels.pagerank(edges, verts, tol=1e-8).collect())
    exp = pagerank_oracle(STAR_N, STAR_EDGES, tol=1e-8)
    assert all(math.isclose(got[u], exp[u], abs_tol=1e-6) for u in range(STAR_N))
    assert got[0] == max(got.values())


def test_checkpointed_pagerank_matches_kernel(spark, tmp_path):
    """The resumable driver runs the kernel's own superstep: same ranks
    (to rounding) in the same number of supersteps."""
    from pasgal_spark.plans import CheckpointedPageRank, RunManifest

    edges = edges_df(spark, STAR_EDGES)
    verts = vertices_df(spark, range(STAR_N))
    steps = []
    want = dict(
        kernels.pagerank(
            edges, verts, tol=1e-8, on_superstep=lambda k, d: steps.append(k)
        ).collect()
    )
    workdir = str(tmp_path / "pr")
    got = dict(CheckpointedPageRank(spark, edges, verts, workdir).run(tol=1e-8).collect())
    assert got.keys() == want.keys()
    assert all(math.isclose(got[u], want[u], abs_tol=1e-12) for u in want)
    assert RunManifest.load(workdir).superstep == len(steps)


def _hash_leaf(spark, pairs):
    """The symmetric edge table in build_graph's layout: a pinned leaf
    declared hash-partitioned by src, cached."""
    sym = edges_df(spark, _sym_pairs(pairs)).repartition(2, "src")
    return pin(sym, hash_cols=("src",)).cache()


def test_triangle_count(spark):
    dense = TT_EDGES + [(0, 3), (0, 4)]
    for sym, pairs, expected in [
        (edges_df(spark, _sym_pairs(TT_EDGES)), TT_EDGES, 2),
        (edges_df(spark, _sym_pairs(PATH_EDGES)), PATH_EDGES, 0),
        (edges_df(spark, _sym_pairs(dense)), dense, None),  # vs oracle
        (_hash_leaf(spark, dense), dense, None),
    ]:
        got = kernels.triangle_count(sym).first()["triangles"]
        exp = triangle_oracle(pairs) if expected is None else expected
        assert got == exp


def test_pointer_jump_step_plans_one_message_round(spark):
    """The pointer-jump superstep reads the grand-parent from its input
    generation, so over the hash-declared sym leaf the message join,
    union and aggregate are planned once, not a second time for the jump."""
    sym = _hash_leaf(spark, TT_EDGES)
    gen = fast_pin(
        vertices_df(spark, range(TT_N)).selectExpr(
            "id", "id AS component", "CAST(NULL AS BIGINT) AS old"
        )
    ).cache()
    gen.count()
    step = kernels.min_label_step(
        sym, gen, gen.filter(kernels._changed("component")), "component",
        pointer_jump=True,
    )
    plan = step._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") == 1, plan
    gen.unpersist()
    sym.unpersist()


def test_degree_analytics_counts_isolated(spark):
    edges = edges_df(spark, TT_EDGES)
    verts = vertices_df(spark, range(TT_N))
    row = kernels.degree_analytics(edges, verts).first().asDict()
    assert row == {
        "n": 7,
        "m": 7,
        "max_out_deg": 2,
        "zero_out_deg": 2,  # 5 has no out-edges, 6 isolated
        "max_in_deg": 2,
        "zero_in_deg": 2,  # 0 has no in-edge, 6 isolated
    }


def test_transpose_and_symmetrize(spark):
    edges = edges_df(spark, [(0, 1), (1, 2), (1, 2), (2, 2)])
    t = sorted(transpose(edges).collect())
    assert t == [(1, 0), (2, 1), (2, 1), (2, 2)]
    s = sorted(tuple(r) for r in symmetrize(edges).collect())
    assert s == [(0, 1), (1, 0), (1, 2), (2, 1)]  # self-loop + dups dropped


def test_validate_flags_violations(spark):
    edges = edges_df(spark, [(0, 1), (0, 1), (2, 2), (9, 0)])
    v = validate(edges, n=5)
    assert v == {"out_of_range": 1, "self_loops": 1, "dups": 1}


def test_two_phase_cc_matches_fixpoint_loop_on_long_diameter_grid(spark):
    """Reference two-phase connectivity (src/BCC/connectivity.h:44-107):
    exact same labels as the fixpoint loop, in a constant number of
    supersteps on a diameter-~250 grid (the reference's pathological
    fixture class, src/utils/diameter.tsv:8-9)."""
    from pasgal_spark.graph import kernels
    from pasgal_spark.graph.builder import symmetrize
    from pasgal_spark.sources.generators import grid_graph

    g = grid_graph(spark, 4, 1000, torus=False)
    sym = symmetrize(g).localCheckpoint(eager=True)
    vertices = spark.range(4000).withColumnRenamed("id", "id")

    old_rounds: list[int] = []
    old = kernels.connected_components(
        sym, vertices, on_round=lambda i: old_rounds.append(i)
    )
    new_rounds: list[int] = []
    # max_residual below m/2 forces the DISTRIBUTED two-phase path (the r6
    # budget probe would otherwise skip phase 1 on a fixture this small —
    # this test's point is the distributed path's diameter independence)
    new = kernels.connected_components_two_phase(
        sym, vertices, shrink_rounds=2, max_residual=6000,
        on_round=lambda i: new_rounds.append(i)
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    # constant supersteps vs diameter-driven loop: >= 3x fewer
    assert len(new_rounds) == 2
    assert len(old_rounds) >= 3 * len(new_rounds)
    # and the budget fast path (no distributed rounds) is label-identical
    fast = kernels.connected_components_two_phase(sym, vertices)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, new.collect()))


def test_two_phase_cc_matches_on_canonical_graph(spark, sf_dir):
    from pasgal_spark.graph import kernels
    from pasgal_spark.graph.builder import build_graph

    g = build_graph(spark, sf_dir, partitions=4)
    a = kernels.connected_components(g.sym, g.vertices)
    b = kernels.connected_components_two_phase(g.sym, g.vertices)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ingest_tables_match_graph_cte(spark, sf_dir):
    """build_graph derives sym from the pinned edges and projects wedges
    from sym; each table must still equal its GRAPH_CTE view as a multiset,
    with the same dtypes, and the src-partitioned tables share one
    partition count."""
    from pasgal_spark.graph.builder import GRAPH_CTE, build_graph

    g = build_graph(spark, sf_dir, partitions=4)
    views = {
        "edges": (g.edges, "src, dst"),
        "sym": (g.sym, "src, dst"),
        "vertices": (g.vertices, "id"),
        "wedges": (g.wedges, "src, dst, w"),
    }
    for view, (got, cols) in views.items():
        want = spark.sql(f"WITH {GRAPH_CTE} SELECT {cols} FROM {view}")
        assert got.dtypes == want.dtypes, view
        assert got.exceptAll(want).count() == 0, view
        assert want.exceptAll(got).count() == 0, view
    n = g.edges.rdd.getNumPartitions()
    assert g.sym.rdd.getNumPartitions() == n
    assert g.wedges.rdd.getNumPartitions() == n


def test_ldd_matches_sequential_shifted_start_oracle(spark):
    """LDD (reference src/BCC/ldd.h): cluster(v) = argmin over centers u of
    (start(u) + dist(u, v), u), start from capped trailing-zeros of the
    portable hash. Sequential replay below uses the identical rule."""
    import hashlib
    from collections import deque

    from pasgal_spark.graph import kernels
    from tests.conftest import edges_df, vertices_df

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 6), (6, 7),
             (7, 8), (8, 9), (9, 10), (10, 11)]
    n = 12
    sym_pairs = sorted({(u, v) for a, b in pairs for u, v in [(a, b), (b, a)]})
    sym = edges_df(spark, sym_pairs)
    verts = vertices_df(spark, range(n))
    got = {r["id"]: (r["label"], r["cost"])
           for r in kernels.ldd(sym, verts, beta_cap=4, radius_cap=8).collect()}

    # sequential oracle
    def start(u):
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        tz = 0
        while tz < 4 and h % (2 ** (tz + 1)) == 0:
            tz += 1
        return 4 - tz

    adj = {u: set() for u in range(n)}
    for u, v in sym_pairs:
        adj[u].add(v)
    best = {v: (start(v), v) for v in range(n)}
    for c in range(n):
        dist = {c: 0}
        dq = deque([c])
        while dq:
            x = dq.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    dq.append(y)
        for v, d in dist.items():
            cost = start(c) + d
            if cost <= 8 and (cost, c) < best[v]:
                best[v] = (cost, c)
    want = {v: (lbl, cost) for v, (cost, lbl) in best.items()}
    assert got == want


def test_bfs_dense_pull_matches_push(spark):
    """Direction optimization (reference src/BFS/bfs.h:140-162): with the
    switch forced as eager as possible (threshold 0), distances must be
    identical to pure push, and the dense superstep (frontier larger than
    the unvisited remainder) must actually take the pull path."""
    # fan-out fixture: 0 -> 1..5, 1 -> 6. At depth 2 the frontier (5) far
    # exceeds the unvisited remainder (1) -> pull engages there.
    fan = [(0, i) for i in range(1, 6)] + [(1, 6)]
    cases = [
        (TT_EDGES, TT_N), (PATH_EDGES, PATH_N), (STAR_EDGES, STAR_N), (fan, 7),
    ]
    saw_pull = False
    for pairs, n in cases:
        sym = edges_df(spark, _sym_pairs(pairs))
        verts = vertices_df(spark, range(n))
        push = dict(kernels.bfs(sym, source=0, max_depth=15).collect())
        modes: list[str] = []
        pull = dict(
            kernels.bfs(
                sym, source=0, max_depth=15, vertices=verts, dense_threshold=0.0,
                on_superstep=lambda d, mode, sz: modes.append(mode),
            ).collect()
        )
        assert push == pull
        saw_pull = saw_pull or "pull" in modes
        if pairs is fan:
            assert modes[1] == "pull", modes  # the dense layer pulls
    assert saw_pull


def test_cc_raises_on_budget_exhaustion(spark):
    """>budget-diameter chain through hash-min CC must raise, not silently
    return unconverged labels (raise-don't-truncate policy, VERDICT r4 #1)."""
    import pytest

    sym = edges_df(spark, _sym_pairs(PATH_EDGES))
    verts = vertices_df(spark, range(PATH_N))
    with pytest.raises(RuntimeError, match="still changing"):
        kernels.connected_components(
            sym, verts, max_iterations=5, pointer_jump=False
        ).collect()


def test_cc_succeeds_at_exact_budget_boundary(spark):
    """A graph that converges exactly at max_iterations succeeds (the
    probe-before-raise boundary rule, ADVICE r3): path of 10 needs 9
    propagation rounds + 1 confirming round = 10."""
    sym = edges_df(spark, _sym_pairs(PATH_EDGES))
    verts = vertices_df(spark, range(PATH_N))
    got = dict(
        kernels.connected_components(
            sym, verts, max_iterations=10, pointer_jump=False
        ).collect()
    )
    assert got == cc_oracle(PATH_N, PATH_EDGES)


def test_sssp_family_raises_on_budget_exhaustion_exact_at_boundary(spark):
    """Raise-don't-truncate for the SSSP family (the CC/min-label policy,
    VERDICT r4 #1): an exhausted iteration budget must raise, never return
    frozen tentative distances; the exact minimal budget still succeeds
    (probe-before-raise boundary rule, ADVICE r3)."""
    import pytest

    wpairs = [(i, i + 1, 1) for i in range(10)]  # chain, dist(10) = 10
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    exp = dijkstra_oracle(wpairs, 0, cap=40)

    # (kernel, minimal budget measured on this fixture: each superstep
    # settles the chain's next vertex, and the 11th finds none unsettled)
    cases = [
        (lambda mi: kernels.sssp(wedges, 0, cap=40, max_iterations=mi), 11),
        (
            lambda mi: kernels.sssp_delta_stepping(
                wedges, 0, delta=2, cap=40, max_iterations=mi
            ),
            11,
        ),
        (
            lambda mi: kernels.sssp_rho_stepping(
                wedges, 0, rho=2, cap=40, max_iterations=mi
            ),
            11,
        ),
    ]
    for fn, minimal in cases:
        with pytest.raises(RuntimeError, match="max_iterations"):
            fn(minimal - 1).collect()
        got = dict(fn(minimal).select("id", "dist").collect())
        assert got == exp


def test_sssp_stepping_rejects_bucket_sizes_that_admit_no_frontier(spark):
    """delta <= 0 or rho < 1 admits no frontier; rho=0 used to return the
    source alone as if every other vertex were unreachable."""
    import pytest

    wedges = spark.createDataFrame([(0, 1, 1)], "src long, dst long, w long")
    for fn, kw in [
        (kernels.sssp_delta_stepping, {"delta": 0}),
        (kernels.sssp_delta_stepping, {"delta": -2}),
        (kernels.sssp_rho_stepping, {"rho": 0}),
    ]:
        with pytest.raises(ValueError, match=next(iter(kw))):
            fn(wedges, 0, **kw)


def test_delta_stepping_skips_empty_buckets(spark):
    """Sparse far-apart weights: delta=1 with max dist 1000 would burn an
    iteration per empty bucket if the threshold advanced one bucket at a
    time (1000 no-op advances vs a 200 budget); each superstep's bucket
    must be the lowest non-empty one, converging well inside the default
    budget."""
    wpairs = [(0, 1, 500), (1, 2, 500)]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    got = dict(
        kernels.sssp_delta_stepping(wedges, 0, delta=1, cap=1000)
        .select("id", "dist")
        .collect()
    )
    assert got == {0: 0, 1: 500, 2: 1000}


def test_frontier_handles_message_only_vertices(spark):
    """A vertex that enters the state via messages only (edge endpoint
    absent from the vertices table) has old=NULL on arrival; it has never
    sent, so it must stay in the frontier — dropping it froze hash-min CC
    and LPA into a false fixpoint (labels split across a live path)."""
    sym = edges_df(spark, [(0, 1), (1, 0), (1, 2), (2, 1)])
    verts = vertices_df(spark, [0, 2])  # vertex 1 missing
    assert dict(kernels.connected_components(sym, verts).collect()) == {
        0: 0, 1: 0, 2: 0,
    }
    assert dict(
        kernels.label_propagation(sym, verts, rounds=3).collect()
    ) == {0: 0, 1: 0, 2: 0}


def test_cc_overlapped_loop_across_pin_cadences(spark):
    """The probe loop (``_iterate``: the next round built on a background
    thread during this round's probe, pin generations run pin-then-probe
    on the calling thread) must produce correct, re-usable results for
    every pin cadence — including every=1 (every generation is a pin) and
    cadences where convergence lands on or beside a pin generation, so
    the generation handed back is sometimes checkpoint-backed and
    sometimes cache-backed with a speculative successor to release."""
    sym = edges_df(spark, _sym_pairs(PATH_EDGES))
    verts = vertices_df(spark, range(PATH_N))
    want = cc_oracle(PATH_N, PATH_EDGES)
    for every in (1, 2, 3, 4):
        out = kernels._min_label(
            sym, verts.select("id", verts.id.alias("component")), "component",
            rounds=100, converge=True, every=every,
        )
        got = dict(out.collect())
        assert got == want, f"every={every}"
        # sealed result stays usable after the chain's caches released
        assert out.count() == PATH_N, f"every={every}"


def test_kernel_jobs_stay_in_callers_job_group(spark):
    """Every job a kernel launches — the probe loop's background compile
    leg (AQE runs shuffle stages inside ``fast_pin``) included — lands in
    the caller's job group, so a group cancel reaches it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()  # job ids register asynchronously
    sym = edges_df(spark, _sym_pairs(TT_EDGES))
    verts = vertices_df(spark, range(TT_N))
    wedges = spark.createDataFrame(
        [(u, v, 1) for u, v in _sym_pairs(TT_EDGES)], "src long, dst long, w long"
    )
    listeners.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kernel-jobs", "job-group test")
    try:
        kernels.pagerank(sym, verts, tol=1e-6).collect()
        kernels.connected_components(sym, verts).collect()
        kernels.bfs(sym, 0, vertices=verts).collect()
        kernels.sssp(wedges, 0).collect()
        kernels.sssp_delta_stepping(wedges, 0, delta=1).collect()
        kernels.sssp_rho_stepping(wedges, 0, rho=2).collect()
        directed.reachability(sym, 0).collect()
    finally:
        sc._jsc.clearJobGroup()
    listeners.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("kernel-jobs")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_kernels_build_driver_relations_without_python_rows(spark, monkeypatch):
    """Driver-made relations (BFS/SSSP/reachability seeds, two-phase CC's
    fix-up map) are Arrow LocalRelations: with the fixtures built, a
    ``createDataFrame`` over Python rows or pandas raises, and every
    kernel still matches its oracle."""
    import pyarrow as pa
    from pyspark.sql import SparkSession

    pairs = _sym_pairs(TT_EDGES)
    sym = edges_df(spark, pairs)
    verts = vertices_df(spark, range(TT_N))
    wpairs = [(u, v, (u * 31 + v * 17) % 8 + 1) for u, v in pairs]
    wedges = spark.createDataFrame(wpairs, "src long, dst long, w long")
    real = SparkSession.createDataFrame

    def arrow_only(self, data, *args, **kwargs):
        if not isinstance(data, pa.Table):
            raise AssertionError(f"createDataFrame over {type(data).__name__}")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", arrow_only)
    hops = bfs_oracle(TT_EDGES, 0)
    assert dict(kernels.bfs(sym, 0, vertices=verts).collect()) == hops
    assert dict(kernels.sssp(wedges, 0).collect()) == dijkstra_oracle(wpairs, 0)
    want = cc_oracle(TT_N, TT_EDGES)
    for m_upper in (None, 2 * 4_000_000 + 1):  # direct path, forced shrink path
        cc = kernels.connected_components_two_phase(sym, verts, m_upper=m_upper)
        assert dict(cc.collect()) == want, m_upper
    assert {r["id"] for r in directed.reachability(sym, 0).collect()} == set(hops)


def _uf_moves(pairs):
    a, b = (np.array(col, dtype=np.int64) for col in zip(*pairs))
    ids, roots = kernels._min_root_union_find(a, b)
    return dict(zip(ids.tolist(), roots.tolist()))


def _oracle_moves(pairs):
    """cc_oracle over the rank-compacted ids (order-preserving, so the
    min label survives), as {id: min id} for ids that are not minima."""
    ids = sorted({x for p in pairs for x in p})
    rank = {x: i for i, x in enumerate(ids)}
    label = cc_oracle(len(ids), [(rank[u], rank[v]) for u, v in pairs])
    return {ids[i]: ids[lab] for i, lab in label.items() if lab != i}


def test_union_find_matches_cc_oracle():
    rng = np.random.default_rng(7)
    perm = rng.permutation(2000).tolist()
    chain = [(perm[i], perm[i + 1]) for i in range(1999)]
    grid = [(r * 30 + c, r * 30 + c + 1) for r in range(30) for c in range(29)]
    grid += [(r * 30 + c, (r + 1) * 30 + c) for r in range(29) for c in range(30)]
    cases = {"chain": chain, "grid": grid}
    for k in range(2):
        ids = rng.choice(2**40, 3000, replace=False).tolist()
        ends = rng.integers(0, 3000, (2500, 2)).tolist()
        cases[f"random{k}"] = [(ids[x], ids[y]) for x, y in ends if x != y]
    for name, pairs in cases.items():
        pairs = [(min(p), max(p)) for p in pairs]
        assert _uf_moves(pairs) == _oracle_moves(pairs), name


def test_union_find_empty_residual_and_budget_boundary(spark):
    """No inter-cluster pair leaves the labels as they are; a residual of
    exactly ``max_residual`` pairs is finished, one pair more raises."""
    import pytest

    verts = vertices_df(spark, range(TT_N))
    identity = verts.select("id", verts.id.alias("component"))
    loops = edges_df(spark, [(3, 3)])
    got = kernels.cc_phase2_union_find(loops, identity, identity_labels=True)
    assert dict(got.collect()) == {i: i for i in range(TT_N)}
    sym = edges_df(spark, _sym_pairs(TT_EDGES))
    got = kernels.cc_phase2_union_find(
        sym, identity, max_residual=len(TT_EDGES), identity_labels=True
    )
    assert dict(got.collect()) == cc_oracle(TT_N, TT_EDGES)
    with pytest.raises(RuntimeError, match="residual exceeds"):
        kernels.cc_phase2_union_find(
            sym, identity, max_residual=len(TT_EDGES) - 1, identity_labels=True
        )
