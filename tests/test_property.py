"""Property-based differential tests (hypothesis) vs the sequential oracles.

The fixture tests in test_kernels.py pin known graphs; these generate
adversarial ones — duplicate edges, self-loops, isolated vertices,
disconnected blobs, chains — and require exact agreement with the Python
oracles in tests/oracles.py on every sample. This guards the invariant the
round-5 frontier message-passing conversion relies on (per-round results
identical to the dense formulation: a vertex that left the frontier must
never need to re-send unless re-improved), across graph shapes no fixture
enumerates.

``derandomize=True`` keeps the example corpus fixed (CI-stable, no flaky
random failures); shrinking still reports a minimal counterexample on
failure. ``max_examples`` is small because every example runs real Spark
jobs (~seconds each) — the value is in hypothesis's boundary-biased
generation (empty edge sets, all-self-loop graphs, stars, parallel chains),
not in volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pasgal_spark.functions import dedup
from pasgal_spark.graph import bcc, kernels
from pasgal_spark.graph.directed import reachability, scc, spanning_forest

from tests.conftest import edges_df, vertices_df
from tests.oracles import (
    articulation_oracle,
    bcc_oracle,
    bfs_oracle,
    cc_oracle,
    dijkstra_oracle,
    lpa_oracle,
    pagerank_oracle,
    triangle_oracle,
)

N_MAX = 12

PROP = settings(
    max_examples=6,
    deadline=None,  # Spark job latency is not a hypothesis timing bug
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@st.composite
def graphs(draw):
    """(n, base_pairs, sym_pairs): a random graph in canonical engine form.

    ``base_pairs`` is the deduped, self-loop-free undirected edge set (the
    shape the oracles take); ``sym_pairs`` is its symmetric closure (the
    engine's input contract — builder.py's GRAPH_CTE produces exactly
    this). Raw draws may contain duplicates and self-loops; canonicalizing
    here means the property exercises kernel math, while input hygiene
    stays covered by the builder tests.
    """
    n = draw(st.integers(min_value=2, max_value=N_MAX))
    raw = draw(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            min_size=0,
            max_size=3 * n,
        )
    )
    base = sorted({(u, v) for u, v in raw if u != v})
    sym = sorted({p for u, v in base for p in ((u, v), (v, u))})
    return n, base, sym


def _weighted(sym_pairs):
    """Deterministic positive weights (same formula as test_kernels.py)."""
    return [(u, v, (u * 31 + v * 17) % 8 + 1) for u, v in sym_pairs]


@given(g=graphs())
@PROP
def test_prop_cc_hashmin_matches_oracle(spark, g):
    n, base, sym = g
    got = dict(
        kernels.connected_components(
            edges_df(spark, sym), vertices_df(spark, range(n))
        ).collect()
    )
    assert got == cc_oracle(n, base)


@given(g=graphs())
@PROP
def test_prop_cc_two_phase_matches_oracle(spark, g):
    n, base, sym = g
    got = dict(
        kernels.connected_components_two_phase(
            edges_df(spark, sym), vertices_df(spark, range(n))
        ).collect()
    )
    assert got == cc_oracle(n, base)


@given(g=graphs())
@PROP
def test_prop_bfs_matches_oracle(spark, g):
    n, base, sym = g
    got = dict(kernels.bfs(edges_df(spark, sym), source=0, max_depth=30).collect())
    assert got == bfs_oracle(base, 0, 30)


@given(g=graphs())
@PROP
def test_prop_sssp_family_matches_dijkstra(spark, g):
    n, base, sym = g
    wpairs = _weighted(sym)
    wedges = spark.createDataFrame(
        wpairs, "src long, dst long, w long"
    ) if wpairs else spark.createDataFrame([], "src long, dst long, w long")
    exp = dijkstra_oracle(wpairs, 0, cap=40)
    for name, fn in (
        ("bellman_ford", lambda: kernels.sssp(wedges, source=0, cap=40)),
        (
            "delta_stepping",
            lambda: kernels.sssp_delta_stepping(wedges, source=0, delta=2, cap=40),
        ),
        (
            "rho_stepping",
            lambda: kernels.sssp_rho_stepping(wedges, source=0, rho=2, cap=40),
        ),
    ):
        got = dict(fn().select("id", "dist").collect())
        assert got == exp, name


@given(g=graphs(), rounds=st.integers(min_value=1, max_value=3))
@PROP
def test_prop_lpa_matches_sync_min_label(spark, g, rounds):
    n, base, sym = g
    got = dict(
        kernels.label_propagation(
            edges_df(spark, sym), vertices_df(spark, range(n)), rounds=rounds
        ).collect()
    )
    assert got == lpa_oracle(n, base, rounds)


@given(g=graphs())
@PROP
def test_prop_triangle_count_matches_oracle(spark, g):
    n, base, sym = g
    got = kernels.triangle_count(edges_df(spark, sym)).first()["triangles"]
    assert got == triangle_oracle(base)


@given(g=graphs())
@PROP
def test_prop_scc_partition_matches_kosaraju(spark, g):
    n, base, sym = g
    # directed input: the base pairs as-is (no symmetric closure)
    got_rows = scc(
        edges_df(spark, base), vertices_df(spark, range(n))
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["scc"], set()).add(r["id"])
    exp = {}
    for v, lbl in _kosaraju(n, base).items():
        exp.setdefault(lbl, set()).add(v)
    # compare the partition (set of components), label-scheme-agnostic
    assert sorted(map(sorted, got.values())) == sorted(map(sorted, exp.values()))


@given(g=graphs())
@PROP
def test_prop_spanning_forest_is_valid(spark, g):
    n, base, sym = g
    sym_df = edges_df(spark, sym)
    verts = vertices_df(spark, range(n))
    cc = kernels.connected_components_two_phase(sym_df, verts)
    rows = spanning_forest(sym_df, verts, cc).collect()
    comp = cc_oracle(n, base)
    edge_set = set(sym)
    parent = {}
    for r in rows:
        c, p = r["child"], r["parent"]
        assert c not in parent, f"vertex {c} has two parents"
        parent[c] = p
        if c != p:
            assert (c, p) in edge_set, f"forest edge ({c},{p}) not in graph"
            assert comp[c] == comp[p]
    # every non-root reaches its component root; tree count per component
    # is exactly size-1 edges (acyclic + spanning)
    sizes = {}
    for v, lbl in comp.items():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    non_self = sum(1 for c, p in parent.items() if c != p)
    assert non_self == n - len(sizes)
    for c in parent:
        seen = set()
        while c != parent.get(c, c):
            assert c not in seen, "cycle in forest"
            seen.add(c)
            c = parent[c]


@given(g=graphs())
@settings(
    max_examples=4, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_prop_bcc_both_strategies_match_hopcroft_tarjan(spark, g):
    n, base, sym = g
    want = bcc_oracle(n, base)
    sym_df = edges_df(spark, sym)
    verts = vertices_df(spark, range(n))
    rows = bcc.bcc_edges(sym_df, verts).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["bcc"], set()).add((r["src"], r["dst"]))
    got = set(frozenset(grp) for grp in groups.values())
    assert got == want


@given(g=graphs())
@settings(
    max_examples=4, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_prop_articulation_points_match_oracle(spark, g):
    n, base, sym = g
    got = {
        r["id"]
        for r in bcc.articulation_points(
            edges_df(spark, sym), vertices_df(spark, range(n))
        ).collect()
    }
    assert got == articulation_oracle(n, base)


@given(g=graphs())
@PROP
def test_prop_reachability_matches_bfs_closure(spark, g):
    n, base, sym = g
    # directed closure from 0 over the raw base pairs
    fwd = {}
    for u, v in base:
        fwd.setdefault(u, []).append(v)
    want, stack = {0}, [0]
    while stack:
        u = stack.pop()
        for v in fwd.get(u, ()):  # noqa: B905
            if v not in want:
                want.add(v)
                stack.append(v)
    got = {
        r["id"] for r in reachability(edges_df(spark, base), 0).collect()
    }
    assert got == want


@given(g=graphs())
@PROP
def test_prop_pagerank_allclose_vs_power_iteration(spark, g):
    """Directed random graphs vs the power-iteration oracle at the north
    rule's own criterion (allclose 1e-6 per vertex). Random shapes cover
    both dangling-mass branches: graphs with no dangling vertices compile
    the branch out; graphs with them redistribute mass uniformly."""
    import math

    n, base, sym = g
    edges = edges_df(spark, base)  # directed, as drawn
    got = dict(
        kernels.pagerank(
            edges, vertices_df(spark, range(n)), iterations=15
        ).collect()
    )
    exp = pagerank_oracle(n, base, iters=15)
    assert all(math.isclose(got[u], exp[u], abs_tol=1e-6) for u in range(n))
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


_VOCAB = (
    "the web page crawl link graph spark shuffle join partition "
    "dedup shingle token hash band bucket vertex edge rank label"
).split()


@st.composite
def corpora(draw):
    """Small documents corpus with planted exact duplicates."""
    n_docs = draw(st.integers(min_value=2, max_value=6))
    docs = [
        " ".join(
            draw(st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=10))
        )
        for _ in range(n_docs)
    ]
    n_dups = draw(st.integers(min_value=1, max_value=3))
    docs += [docs[0]] * n_dups  # planted byte-identical duplicates
    return [(i, t, "en") for i, t in enumerate(docs)]


def _shingle_set(text, k=3):
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


@given(c=corpora())
@settings(
    max_examples=4, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_prop_lsh_exact_dup_recall_and_jaccard(spark, c):
    """Two LSH-pipeline invariants on generated corpora:

    1. RECALL FLOOR (deterministic, not probabilistic): byte-identical
       documents have identical MinHash signatures, so they collide in
       every band — the pipeline must report every identical pair with
       jaccard 1.0 (their shingle sets are non-empty: >= 3 tokens).
    2. VERIFY EXACTNESS: every reported pair's jaccard equals the
       Python shingle-set mirror within the 4-decimal rounding.
    """
    docs = spark.createDataFrame(c, "doc_id long, text string, lang string")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.near_dup_pipeline(docs, threshold=0.7).collect()
    }
    text_of = {i: t for i, t, _ in c}
    identical = {
        (a, b)
        for a in text_of
        for b in text_of
        if a < b and text_of[a] == text_of[b]
    }
    for pair in identical:
        assert pair in got, f"identical pair {pair} missed by LSH"
        assert got[pair] == 1.0
    for (a, b), j in got.items():
        sa, sb = _shingle_set(text_of[a]), _shingle_set(text_of[b])
        u = len(sa | sb)
        exp = len(sa & sb) / u if u else None
        assert exp is not None and abs(j - exp) <= 1e-4, (a, b, j, exp)
        assert j >= 0.7


def _kosaraju(n, pairs):
    """Iterative Kosaraju SCC → vertex -> min id in its SCC."""
    fwd = {u: [] for u in range(n)}
    rev = {u: [] for u in range(n)}
    for u, v in pairs:
        fwd[u].append(v)
        rev[v].append(u)
    order, seen = [], set()
    for s in range(n):
        if s in seen:
            continue
        stack = [(s, iter(fwd[s]))]
        seen.add(s)
        while stack:
            u, it = stack[-1]
            nxt = next((v for v in it if v not in seen), None)
            if nxt is None:
                order.append(u)
                stack.pop()
            else:
                seen.add(nxt)
                stack.append((nxt, iter(fwd[nxt])))
    label, assigned = {}, set()
    for s in reversed(order):
        if s in assigned:
            continue
        comp, stack = [s], [s]
        assigned.add(s)
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in rev[u]:
                if v not in assigned:
                    assigned.add(v)
                    stack.append(v)
        m = min(comp)
        for u in comp:
            label[u] = m
    return label


@given(g=graphs())
@PROP
def test_prop_ldd_matches_synchronous_oracle(spark, g):
    """LDD on random graphs vs a Python mirror of its own spec: v adopts
    min over (start(u) + dist(u,v), u) within radius_cap hops, packed as
    cost*2^32 + id with capped messages — synchronous all-senders rounds
    (provably identical to the kernel's frontier form)."""
    from pyspark.sql import functions as F

    from pasgal_spark.functions.textstats import portable_hash
    from pasgal_spark.graph.kernels import ldd

    n, base, sym = g
    beta_cap, radius_cap = 4, 8
    verts = vertices_df(spark, range(n))
    hv = {
        r["id"]: r["h"]
        for r in verts.select(
            "id", portable_hash(F.col("id").cast("string")).alias("h")
        ).collect()
    }

    def start(v: int) -> int:
        # divisibility checks are sign-independent, so the Python mirror
        # of the Spark when-chain needs no pmod care
        for j in range(beta_cap, 0, -1):
            if hv[v] % (2 ** j) == 0:
                return beta_cap - j
        return beta_cap

    big = 2 ** 32
    cap_key = (radius_cap + 1) * big
    key = {v: start(v) * big + v for v in range(n)}
    for _ in range(radius_cap):
        new = dict(key)
        for u, v in sym:  # directed closure pairs: u sends to v
            m = key[u] + big
            if m < cap_key and m < new[v]:
                new[v] = m
        key = new
    exp = {v: (key[v] % big, key[v] >> 32) for v in range(n)}

    got = {
        r["id"]: (r["label"], r["cost"])
        for r in ldd(edges_df(spark, sym), verts,
                     beta_cap=beta_cap, radius_cap=radius_cap).collect()
    }
    assert got == exp
