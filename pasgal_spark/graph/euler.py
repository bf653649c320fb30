"""Diameter-independent FAST-BCC machinery: Borůvka forest + Euler tour.

The tagging behind ``pasgal_spark.graph.bcc``. A BFS forest with
level-by-level tagging would cost O(tree depth) supersteps — pathological
on the reference's grid corpus (diameters 59k-102k,
/root/reference/src/utils/diameter.tsv:8-9). This module re-derives the
reference's own scale path (parallel Euler tour via list ranking,
/root/reference/src/BCC/fast-bcc.h:32-148, and sparse-table range-minmax,
/root/reference/src/sparse_table.h:7-59) as DataFrame supersteps whose
count is O(log n) regardless of diameter:

1. **Borůvka spanning forest** (`boruvka_forest_cc`) — each component picks
   its minimum incident cross edge, contracts, repeats: <= log2(n)
   rounds, each a couple of joins/aggregates over the (static) edge
   table. Replaces the O(diameter) BFS forest. (The reference derives
   its forest from LDD+union-find connectivity,
   src/BCC/spanning_forest.h:5-60; Borůvka is the classic
   fixed-round-count alternative with the same output contract: a
   deterministic spanning forest.)
2. **Euler tour by list ranking** (`euler_tags`) — the tree's arc list is
   threaded into a circuit by cyclic adjacency order, cut at each root,
   and ranked by pointer doubling: ceil(log2(2n)) supersteps, each one
   self-join. Vertex tags fall out as aggregates over entering arcs:
   ``first(v)`` = 1 + min entering-arc position (root = 0), ``last(v)``
   = 1 + max entering-arc position, ``parent(v)`` = tail of the min
   entering arc. These are Euler *vertex-sequence* positions — the
   reference's exact tag convention (fast-bcc.h:150-175), under which
   ``u in subtree(v) <=> first[v] <= first[u] <= last[v]``.
3. **Sparse-table range-minmax** (`subtree_minmax`) — ``low``/``high`` =
   subtree min/max of non-tree-edge endpoint firsts, computed as range
   queries over the vertex-sequence positions with a doubling block
   table: O(log n) build levels of O(n) rows, one two-sided join per
   query (the reference's sparse_table.h:7-59 usage at
   fast-bcc.h:177-202, re-expressed relationally).

Scale notes: no step's superstep count depends on graph diameter; every
superstep is a bounded number of shuffles over O(m) or O(n) rows. The
one skew caveat: the cyclic-adjacency window in ``euler_tags``
partitions by vertex, so a tree hub (e.g. a star root) serializes its
own adjacency sort — bounded by max tree degree, the same bound the
reference's per-vertex adjacency build has.

**Hybrid driver fast paths.** Each stage applies the engine's
shrink-then-residual idiom (``kernels.cc_phase2_union_find``) to its own
problem: when the stage's working set fits the driver budget
(``lineage.DRIVER_ROWS`` rows unless a budget keyword says otherwise),
one ``lineage.collect_within`` reads it as NumPy arrays and the stage
runs as whole-array NumPy — Borůvka rounds over
``kernels._min_root_union_find`` for the forest, pointer doubling for the
Euler tour, the sparse table for low/high — then uploads its result
through ``lineage.local_relation``: one collect and one upload instead of
~log n materialization jobs. Past the budget the distributed superstep
path engages unchanged (probe-first, never raise: the distributed path
IS the scale path). The list-ranking and sparse-table kernels mirror the
distributed arithmetic exactly (same adjacency order, same cut rule,
same position/tag algebra), pinned by equality tests in
tests/test_bcc.py; the driver forest is the unique minimum spanning
forest under the distinct edge keys, the one the distributed rounds
build. This is the same split the reference itself makes between its
parallel list-ranking and its sequential fallbacks (fast-bcc.h:32-148
vs the serial validator).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pasgal_spark.graph.kernels import _min_root_union_find
from pasgal_spark.plans.lineage import DRIVER_ROWS, collect_within, local_relation, pin

_B = 2 ** 32  # (a, b) -> (a << 32) | b packing; ids asserted < 2^31


def _pack(a, b):
    """Exact (a, b) -> long key: (a << 32) | b. Safe for ids < 2^31 (the
    ``_assert_packable`` bound): the product form ``a * 2^32 + b`` silently
    overflows signed long at a >= 2^31, and the double-division unpack
    ``floor(key / 2^32)`` mis-rounds past 2^53 (ADVICE r3)."""
    return F.shiftleft(a.cast("long"), 32).bitwiseOR(b.cast("long"))


def _unpack_a(key):
    return F.shiftright(key, 32)


def _unpack_b(key):
    return key.bitwiseAND(F.lit(_B - 1))


def _assert_packable(vertices: DataFrame, who: str) -> None:
    """Loud [0, 2^31) id-range gate for the packed-key euler path.

    Same bound class as the reference's u32 NodeId (src/graph.h:53). A
    corpus whose id dictionary exceeds 2.1B vertices has two widening
    paths, both mechanical: (a) pack into decimal(38,0) — exact to 2^63
    per half at ~2x shuffle width — or (b) drop packing and carry (a, b)
    as a two-column struct key through the joins/windows (Spark supports
    struct equi-join keys; costs one extra column of shuffle). Until a
    workload hits the bound, the packed long stays: half the key bytes
    per shuffled row on the hottest columns.
    """
    lo, hi = vertices.agg(F.min("id"), F.max("id")).first()
    if lo is not None and (lo < 0 or hi >= 2 ** 31):
        raise ValueError(
            f"{who}: vertex ids must lie in [0, 2^31) for edge-key packing "
            f"(larger ids would overflow the signed-long pack); "
            f"got range [{lo}, {hi}]"
        )


def _msf_keys(x: np.ndarray, y: np.ndarray, key: np.ndarray) -> np.ndarray:
    """The keys of the minimum spanning forest of the pairs ``(x[i], y[i])``
    weighted by their DISTINCT ``key``s, by Borůvka rounds over whole arrays.

    Each round, every component takes its minimum incident key, and the
    components merge along the taken pairs through
    ``kernels._min_root_union_find``; at least half the components merge,
    so there are <= log2(n) rounds. Distinct keys make the minimum
    spanning forest unique: the keys Kruskal accepts in ascending key
    order (``tests/oracles.kruskal_keys``).
    """
    ids, inv = np.unique(np.concatenate([x, y]), return_inverse=True)
    u, v = inv[: len(x)], inv[len(x):]
    comp = np.arange(len(ids))
    chosen = np.zeros(len(key), dtype=bool)
    while True:
        cu, cv = comp[u], comp[v]
        live = cu != cv
        if not live.any():
            return key[chosen]
        best = np.full(len(ids), np.iinfo(np.int64).max)
        np.minimum.at(best, cu[live], key[live])
        np.minimum.at(best, cv[live], key[live])
        take = live & ((best[cu] == key) | (best[cv] == key))
        chosen |= take
        moved, roots = _min_root_union_find(cu[take], cv[take])
        relabel = np.arange(len(ids))
        relabel[moved] = roots
        comp = relabel[comp]


def boruvka_forest_cc(
    sym: DataFrame,
    vertices: DataFrame,
    *,
    shrink_rounds: int | str = "auto",
    max_rounds: int = 64,
    max_residual: int = DRIVER_ROWS,
) -> tuple[DataFrame, DataFrame]:
    """(forest, cc): deterministic spanning forest of ``sym`` — (a, b)
    with a < b — PLUS the connectivity labeling it proves: ``cc`` is
    (id, component) with component = min vertex id, bit-identical to
    ``connected_components_two_phase``'s contract.

    Borůvka contraction already computes connectivity as a byproduct (a
    spanning forest certifies the components), so callers that need both
    (the whole ``bcc`` family when no shared cc is supplied) save a full
    3-round CC pass by taking the labeling from here (VERDICT r4 next #3:
    what absorbed the Borůvka gain was the other stages' job count).

    ``shrink_rounds="auto"``: probe ``sym.count()`` (one metadata-cheap
    job on the cached edge table); when the deduped pair count provably
    fits the driver budget (m <= 2*max_residual) skip phase 1 entirely
    and finish on the driver directly — the exact
    ``cc_phase2_union_find`` shape. Past the budget the distributed
    contraction rounds engage unchanged.

    Two-phase, mirroring ``connected_components_two_phase`` (the engine's
    shrink-then-residual design):

    **Phase 1 — distributed Borůvka contraction** (``shrink_rounds``
    rounds): every current component picks its minimum incident cross
    edge (keyed ``(least << 32) | greatest`` — distinct keys, so the
    picked edge set is acyclic by the standard argument), components
    contract along picked edges (2-cycle break + pointer jumping). Each
    round at least halves the component count; every superstep is a
    bounded number of joins/aggregates over O(m) rows — no dependence on
    graph diameter.

    **Phase 2 — NumPy Borůvka on the driver** over the residual component
    multigraph, deduped to one min-key edge per component pair (so its
    size is bounded by the *contracted* graph, which phase 1 shrank
    geometrically): ``_msf_keys`` finishes the forest, and
    ``kernels._min_root_union_find`` over the same pairs finishes the
    labeling. The residual is tried after the shrink rounds, unless the
    last round chose more than ``max_residual`` edges (then it cannot fit
    yet); while it does not fit, contraction rounds continue. Raises at
    ``max_rounds`` rather than collecting an oversized residual.
    """
    _assert_packable(vertices, "boruvka_forest_cc")
    spark = vertices.sparkSession
    if shrink_rounds == "auto":
        # one count on the (typically cached/pinned) edge table decides
        # whether phase 1 is needed at all: for a symmetric deduped edge
        # table the unordered pair count is m/2
        shrink_rounds = 0 if sym.count() <= 2 * max_residual else 1
    # identity labels: lazy select is enough — every consumer below either
    # rewrites it (contraction rounds) or reads it through the no-join
    # identity _cross fast path (r6: the old eager pin here was a pure
    # job-count tax on the driver fast path)
    labels = vertices.select("id", F.col("id").alias("comp"))
    phase1_engaged = False
    forest_parts: list[DataFrame] = []

    def _cross(labels: DataFrame) -> DataFrame:
        key = _pack(F.least("src", "dst"), F.greatest("src", "dst"))
        if not phase1_engaged:
            # labels are still the identity (comp == id): the two
            # relabeling joins compile away — one scan of the cached edge
            # table instead of two shuffled joins (r6). Precondition
            # (held by every caller): edge endpoints ⊆ vertices — the
            # join path would silently drop unknown endpoints, this one
            # keeps them.
            return sym.filter(F.col("src") != F.col("dst")).select(
                F.col("src").alias("ca"), F.col("dst").alias("cb"), key.alias("key")
            )
        la = labels.select(F.col("id").alias("src"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("id").alias("dst"), F.col("comp").alias("cb"))
        return (
            sym.join(la, "src")
            .join(lb, "dst")
            .filter(F.col("ca") != F.col("cb"))
            .select("ca", "cb", key.alias("key"))
        )

    def _one_round(labels: DataFrame) -> tuple[int, DataFrame]:
        """One Borůvka round; returns (#chosen edges, new labels)."""
        nonlocal phase1_engaged
        cross = _cross(labels)  # BEFORE the flag flips: round 1's labels
        phase1_engaged = True   # are still the identity (fast-path valid)
        pick = cross.groupBy("ca").agg(F.min("key").alias("key"))
        chosen = (
            pick.join(cross, ["ca", "key"]).select("ca", "cb", "key").distinct()
        ).transform(pin)
        n_chosen = chosen.count()
        if n_chosen == 0:
            return 0, labels
        forest_parts.append(
            chosen.select(
                _unpack_a(F.col("key")).alias("a"),
                _unpack_b(F.col("key")).alias("b"),
            ).distinct()
        )
        # contract: hook ca -> cb, break mutual 2-cycles toward the min id,
        # then pointer-jump to roots (find_compress made declarative,
        # /root/reference/external/connectivity.h:7-20).
        p = chosen.select(F.col("ca").alias("c"), F.col("cb").alias("p"))
        gp = p.select(F.col("c").alias("p"), F.col("p").alias("gp"))
        p = (
            p.join(gp, "p", "left")
            .select(
                "c",
                F.when(
                    (F.col("gp") == F.col("c")) & (F.col("c") < F.col("p")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .transform(pin)
        )

        def _jump(s: DataFrame) -> DataFrame:
            # one pointer-doubling hop that also records whether any
            # pointer moved: the convergence signal rides IN the data, so
            # no separate probe job is needed (VERDICT r3 #2)
            pmap = s.select(F.col("c").alias("p"), F.col("p").alias("gp"))
            return s.join(pmap, "p", "left").select(
                "c",
                F.coalesce("gp", "p").alias("p"),
                (
                    F.col("moved")
                    | (F.col("gp").isNotNull() & (F.col("gp") != F.col("p")))
                ).alias("moved"),
            )

        # Pointer-jump to roots. Per 2-hop batch, ONE driver action (the
        # max(moved) aggregate) both materializes the cached batch and
        # answers convergence — the r3 shape paid a pin job PLUS a
        # limit-probe job per 2 hops. Hook forests converge in a few hops
        # in practice; ceil(log2(n_chosen)) batches is the worst-case cap
        # (hook-path depth <= n_chosen, halved per doubling hop).
        prev_cached: DataFrame | None = None
        for _ in range(max(1, math.ceil(math.log2(max(n_chosen, 2))))):
            j = _jump(_jump(p.withColumn("moved", F.lit(False)))).cache()
            any_moved = j.agg(F.max("moved")).first()[0]
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = j
            p = j.drop("moved")
            if not any_moved:
                break
        p = p.transform(pin)
        if prev_cached is not None:
            prev_cached.unpersist()
        new_labels = (
            labels.join(p.withColumnRenamed("c", "comp"), "comp", "left")
            .select("id", F.coalesce("p", "comp").alias("comp"))
            .transform(pin)
        )
        return n_chosen, new_labels

    # One bounded loop: after the shrink rounds, try the driver residual
    # (unless the last round chose more edges than the budget — then it
    # cannot fit yet and the collect would be wasted); raise at
    # max_rounds; stop when a round chooses no edge.
    rounds_done = n_chosen = 0
    residual = None
    while True:
        if rounds_done >= shrink_rounds and n_chosen <= max_residual:
            # residual component multigraph, one min-key edge per
            # unordered component pair — bounded by the contracted graph
            rem = (
                _cross(labels)
                .groupBy(
                    F.least("ca", "cb").alias("x"), F.greatest("ca", "cb").alias("y")
                )
                .agg(F.min("key").alias("key"))
            )
            residual = collect_within(rem, max_residual)
            if residual is not None:
                break
        if rounds_done >= max_rounds:
            raise RuntimeError(
                f"boruvka_forest_cc: no residual within max_residual "
                f"({max_residual}) after {rounds_done} rounds"
            )
        n_chosen, labels = _one_round(labels)
        rounds_done += 1
        if n_chosen == 0:
            break

    if residual is not None and len(residual[0]):
        x, y, key = residual
        keys = _msf_keys(x, y, key)
        forest_parts.append(
            local_relation(spark, "a long, b long", keys >> 32, keys & (_B - 1))
        )
        # connectivity labeling byproduct: roots are residual-group minima
        comps, roots = _min_root_union_find(x, y)
        map_df = local_relation(spark, "comp long, final long", comps, roots)
        labels = labels.join(F.broadcast(map_df), "comp", "left").select(
            "id", F.coalesce("final", "comp").alias("comp")
        )

    if not forest_parts:
        forest = local_relation(spark, "a long, b long", [], [])
    elif not phase1_engaged:
        # pure driver path: the forest is a single driver-built relation
        # whose keys are unique by construction. Keep it a LocalRelation:
        # collect_within in euler_tags reads it back without a job.
        forest = forest_parts[0]
    else:
        out = forest_parts[0]
        for df in forest_parts[1:]:
            out = out.unionByName(df)
        forest = out.distinct().transform(pin)

    if phase1_engaged:
        # phase-1 contraction roots are arbitrary cluster members;
        # canonicalize to min-id per component (two O(n) shuffles —
        # cheaper than the full CC pass this labeling replaces). Pin: the
        # labeling plan is join-deep and callers reference it 2-3x.
        cmin = labels.groupBy("comp").agg(F.min("id").alias("component"))
        cc = labels.join(cmin, "comp").select("id", "component").transform(pin)
    else:
        # pure driver path: the union-find's roots are group minima, and
        # the labeling plan is just (vertices leaf ⋈ broadcast remap) —
        # one projection per consumer. Leaving it lazy skips the pin's
        # localCheckpoint job (r6); recomputing a broadcast join per
        # reference is cheaper than the job it saves at every tier.
        cc = labels.select("id", F.col("comp").alias("component"))
    return forest, cc


def _tags_from_ent(cc: DataFrame, ent: DataFrame) -> DataFrame:
    """Final tag assembly shared by both list-ranking paths: join the
    entering-arc aggregates (id, minp, maxp, par) against the full vertex
    universe; roots get first=0/parent=self, isolated vertices first=last=0."""
    is_root = F.col("id") == F.col("component")
    return (
        cc.join(ent, "id", "left")
        .select(
            "id",
            "component",
            F.when(is_root, F.col("id")).otherwise(F.col("par")).alias("parent"),
            F.when(is_root, F.lit(0).cast("long"))
            .otherwise(F.col("minp") + 1)
            .alias("first"),
            F.coalesce(F.col("maxp") + 1, F.lit(0).cast("long")).alias("last"),
        )
        .transform(pin)
    )


def _euler_ent_numpy(a, b):
    """Driver fast path for list ranking: the exact arithmetic of the
    distributed path (cyclic-adjacency threading, root-wrap cut, pointer
    doubling, entering-arc aggregates) over NumPy arrays. ceil(log2(n))
    vectorized passes instead of ceil(log2(n)) Spark supersteps.

    Returns the columns (id, minp, maxp, par) — one row per tree
    vertex. Trees are identified without a components input: each Euler
    circuit's minimum vertex (the canonical root, = the component label
    upstream) is found by min-propagation doubling around the circuit.
    """
    # adjacency rows (u, v): arc v -> u (enters u from v), both directions
    u = np.concatenate([a, b]).astype(np.int64)
    v = np.concatenate([b, a]).astype(np.int64)
    n_arcs = len(u)
    order = np.lexsort((v, u))
    us, vs = u[order], v[order]
    new_grp = np.empty(n_arcs, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = us[1:] != us[:-1]
    grp_start_idx = np.flatnonzero(new_grp)
    start_of_grp = grp_start_idx[np.cumsum(new_grp) - 1]
    minv = vs[start_of_grp]  # per-row: min neighbor of us (sorted asc)
    # cyclic next neighbor within each u-group
    nv = np.empty_like(vs)
    nv[:-1] = vs[1:]
    grp_end = np.empty(n_arcs, dtype=bool)
    grp_end[:-1] = new_grp[1:]
    grp_end[-1] = True
    nv[grp_end] = minv[grp_end]
    # successor arc of (v -> u) is (u -> next neighbor of u after v)
    keys = (vs << 32) | us
    succ_keys = (us << 32) | nv
    key_order = np.argsort(keys)
    succ = key_order[np.searchsorted(keys[key_order], succ_keys)]
    # each circuit's min vertex = canonical root (min-propagation doubling)
    rounds = max(1, math.ceil(math.log2(n_arcs)))
    val, s = us.copy(), succ.copy()
    for _ in range(rounds):
        val = np.minimum(val, val[s])
        s = s[s]
    root = val
    # cut the circuit at each root's wrap arc -> per-tree linked list
    cut = (us == root) & (nv == minv)
    ptr = succ.copy()
    ptr[cut] = -1
    d = np.where(cut, 0, 1).astype(np.int64)
    for _ in range(rounds):
        m = ptr >= 0
        if not m.any():
            break
        pd_d, pd_ptr = d.copy(), ptr.copy()
        d[m] += pd_d[pd_ptr[m]]
        ptr[m] = pd_ptr[pd_ptr[m]]
    # arc position = per-tree arc count - 1 - steps-to-tail
    _, inv, counts = np.unique(root, return_inverse=True, return_counts=True)
    pos = counts[inv] - 1 - d
    # entering-arc aggregates per head (row (u,v) sorted above is the arc
    # entering u): min/max position and the min-position tail (= parent)
    o2 = np.lexsort((pos, us))
    heads, tails, pos2 = us[o2], vs[o2], pos[o2]
    hb = np.empty(n_arcs, dtype=bool)
    hb[0] = True
    hb[1:] = heads[1:] != heads[:-1]
    he = np.empty(n_arcs, dtype=bool)
    he[:-1] = hb[1:]
    he[-1] = True
    return heads[hb], pos2[hb], pos2[he], tails[hb]


def euler_tags(
    forest: DataFrame,
    cc: DataFrame,
    *,
    max_driver_list: int | None = None,
) -> DataFrame:
    """(id, component, parent, first, last): Euler vertex-sequence tags.

    ``forest``: (a, b) undirected tree edges; ``cc``: (id, component)
    with component = min vertex id (the canonical root). List ranking by
    pointer doubling — ceil(log2(#arcs)) supersteps — replaces the
    reference's sampled list ranking (fast-bcc.h:32-148); the tags obey
    the same interval-containment contract.

    Hybrid: when the forest fits the driver budget (``max_driver_list``
    edges, default ``lineage.DRIVER_ROWS``) the doubling runs as the vectorized
    NumPy kernel ``_euler_ent_numpy`` — one collect + one upload instead
    of ~ceil(log2(2n))/3 materialization jobs. Past the budget the
    distributed supersteps below run unchanged (the 100 TB path).
    """
    budget = DRIVER_ROWS if max_driver_list is None else max_driver_list
    spark = forest.sparkSession
    ab = collect_within(forest, budget)
    if ab is not None:
        cols = _euler_ent_numpy(*ab) if len(ab[0]) else ([], [], [], [])
        ent = local_relation(spark, "id long, minp long, maxp long, par long", *cols)
        return _tags_from_ent(cc, ent)
    # only the distributed path needs the exact count, for its round bound
    n_edges = forest.count()

    arcs = forest.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(forest.select(F.col("b").alias("u"), F.col("a").alias("v")))

    # cyclic successor in each vertex's sorted adjacency; the wrap row is
    # the one whose next equals the minimum neighbor
    wuo = Window.partitionBy("u").orderBy("v")
    wu = Window.partitionBy("u")
    adj = (
        arcs.select("u", "v")
        .withColumn("nv", F.coalesce(F.lead("v").over(wuo), F.min("v").over(wu)))
        .withColumn("minv", F.min("v").over(wu))
    )
    roots = cc.select(F.col("component").alias("u")).distinct().withColumn(
        "is_root", F.lit(True)
    )
    adj = adj.join(roots, "u", "left")
    # succ((v -> u)) = (u -> next neighbor of u after v); cut the circuit
    # at each root's wrap so it becomes a list headed by (root -> min nbr)
    state = adj.select(
        _pack(F.col("v"), F.col("u")).alias("ak"),
        F.when(
            F.col("is_root").isNotNull() & (F.col("nv") == F.col("minv")),
            F.lit(None).cast("long"),
        )
        .otherwise(_pack(F.col("u"), F.col("nv")))
        .alias("p"),
    )
    state = state.withColumn(
        "d", F.when(F.col("p").isNull(), F.lit(0)).otherwise(F.lit(1)).cast("long")
    ).transform(pin)
    # the arc count is exactly 2 * n_edges — known from the path probe,
    # no count job needed (the r4 shape paid the adjacency-window plan
    # twice, the r5 shape zero times)
    n_arcs = 2 * n_edges
    # pointer doubling: after k rounds each arc's pointer has advanced
    # 2^k steps (or hit the tail); d accumulates the step count. Three
    # doublings per materialization: the intermediate plan is three
    # self-joins deep (the measured Catalyst depth limit with pin-reset
    # stats — see the verify skill's checkpoint_every<=3 rule) and the
    # job count drops to a third.
    def _double(s: DataFrame) -> DataFrame:
        mp = s.select(
            F.col("ak").alias("p"), F.col("p").alias("pp"), F.col("d").alias("pd")
        )
        return s.join(mp, "p", "left").select(
            "ak",
            F.when(F.col("p").isNull(), F.lit(None).cast("long"))
            .otherwise(F.col("pp"))
            .alias("p"),
            F.when(F.col("p").isNull(), F.col("d"))
            .otherwise(F.col("d") + F.col("pd"))
            .alias("d"),
        )

    rounds = max(1, math.ceil(math.log2(max(n_arcs, 2)))) + 1
    for _ in range((rounds + 2) // 3):
        state = _double(_double(_double(state))).transform(pin)

    # arc positions: pos = (per-tree arc count - 1) - (steps to tail)
    compu = cc.select(F.col("id").alias("u"), "component")
    arcsc = arcs.join(compu, "u").select(
        _pack(F.col("u"), F.col("v")).alias("ak"), "component", "u", "v"
    )
    per_tree = arcsc.groupBy("component").agg(F.count(F.lit(1)).alias("n_arcs"))
    ranked = (
        arcsc.join(state.select("ak", "d"), "ak")
        .join(per_tree, "component")
        .select(
            "component", "u", "v", (F.col("n_arcs") - 1 - F.col("d")).alias("pos")
        )
    )
    # vertex tags from entering arcs; the root is visited at position 0
    ent = ranked.groupBy("v").agg(
        F.min("pos").alias("minp"),
        F.max("pos").alias("maxp"),
        F.min_by("u", "pos").alias("par"),
    )
    return _tags_from_ent(cc, ent.withColumnRenamed("v", "id"))


def _minmax_numpy(comp, iid, first, last, w1, w2):
    """Driver fast path for the range-minmax stage: the identical sparse-
    table doubling (reference src/sparse_table.h:7-59) over NumPy arrays,
    one level in memory at a time (O(n) space), answering each query at
    its exact level k = floor(log2(len)) with the standard two-block
    overlap. Returns (id, low, high) for INTERNAL tree vertices only —
    leaves and isolated vertices fall back to low=w1/high=w2 in the
    caller's coalesce, exactly what the distributed table returns for a
    one-position range."""
    # (component << 32) | position sorts rows into per-component position
    # order; a subtree = a contiguous index slice of this order
    keys = (comp << 32) | first
    order = np.argsort(keys)
    ks = keys[order]
    w1s, w2s = w1[order], w2[order]
    ids_s, ls = iid[order], last[order]
    fs, cs = first[order], comp[order]
    internal = ls > fs
    qi = np.flatnonzero(internal)
    if len(qi) == 0:
        return qi, qi, qi
    j_idx = np.searchsorted(ks, (cs[qi] << 32) | ls[qi], side="right") - 1
    length = j_idx - qi + 1  # >= 2: an internal vertex has a descendant
    kq = np.floor(np.log2(length)).astype(np.int64)
    low = np.empty(len(qi), dtype=np.int64)
    high = np.empty(len(qi), dtype=np.int64)
    a_mn, a_mx = w1s.copy(), w2s.copy()
    for k in range(int(kq.max()) + 1):
        if k > 0:
            half = 1 << (k - 1)
            # level-k block mins/maxes in place (RHS temps are computed
            # before assignment, so the old level is read consistently);
            # the un-updated tail indices are never touched by a query
            # whose block fits, and blocks crossing a component boundary
            # are never queried (subtree slices stay in-component)
            a_mn[:-half] = np.minimum(a_mn[:-half], a_mn[half:])
            a_mx[:-half] = np.maximum(a_mx[:-half], a_mx[half:])
        sel = kq == k
        if sel.any():
            blk = 1 << k
            low[sel] = np.minimum(a_mn[qi[sel]], a_mn[j_idx[sel] - blk + 1])
            high[sel] = np.maximum(a_mx[qi[sel]], a_mx[j_idx[sel] - blk + 1])
    return ids_s[qi], low, high


def subtree_minmax(
    tags: DataFrame,
    sym: DataFrame,
    *,
    max_driver_table: int | None = None,
) -> DataFrame:
    """(id, parent, first, last, low, high): add FAST-BCC low/high tags.

    w1/w2 per vertex = min/max over {own first} ∪ {firsts of non-tree
    neighbors} (fast-bcc.h:177-202); low/high = min/max of w1/w2 over
    the subtree. A subtree is the vertex-sequence interval
    [first(v), last(v)] and every subtree vertex's w-values sit at its
    own ``first`` position, so low/high are range-min/max queries served
    by a doubling sparse table keyed (component, level, position) —
    O(log n) build supersteps, diameter-independent.
    """
    ps = tags.select(
        F.col("id").alias("src"),
        F.col("parent").alias("p_src"),
        F.col("first").alias("f_src"),
    )
    pd_ = tags.select(F.col("id").alias("dst"), F.col("parent").alias("p_dst"))
    nt = (
        sym.join(ps, "src")
        .join(pd_, "dst")
        .filter((F.col("p_dst") != F.col("src")) & (F.col("p_src") != F.col("dst")))
        .groupBy("dst")
        .agg(F.min("f_src").alias("nt_min"), F.max("f_src").alias("nt_max"))
        .withColumnRenamed("dst", "id")
    )
    base = (
        tags.join(nt, "id", "left")
        .select(
            "id",
            "component",
            "parent",
            "first",
            "last",
            F.least("first", F.coalesce("nt_min", "first")).alias("w1"),
            F.greatest("first", F.coalesce("nt_max", "first")).alias("w2"),
        )
        .cache()  # r6: cache (multi-referenced below), materialized by the
        # first probe job — the old eager pin here was an extra job
    )

    budget = DRIVER_ROWS if max_driver_table is None else max_driver_table
    spark = base.sparkSession
    rows = collect_within(
        base.filter(F.col("last") > 0).select(
            "component", "id", "first", "last", "w1", "w2"
        ),
        budget,
    )
    if rows is not None:
        # hybrid driver path: the tree vertices' (position, w1, w2) rows
        # run the identical sparse-table doubling vectorized; upload
        # (id, low, high) for internal vertices; leaves/isolated coalesce
        # to their own w1/w2 (= the one-position range answer)
        cols = _minmax_numpy(*rows) if len(rows[0]) else ([], [], [])
        res = local_relation(spark, "id long, low long, high long", *cols)
        out = (
            base.join(res, "id", "left")
            .select(
                "id",
                "parent",
                "first",
                "last",
                F.coalesce("low", "w1").alias("low"),
                F.coalesce("high", "w2").alias("high"),
            )
            .transform(pin)
        )
        base.unpersist()
        return out
    max_last = base.agg(F.max("last")).first()[0] or 0

    n_levels = max(1, math.ceil(math.log2(max_last + 2)))
    cur = base.select(
        "component",
        F.col("first").alias("pos"),
        F.col("w1").alias("mn"),
        F.col("w2").alias("mx"),
    ).withColumn("k", F.lit(0))
    levels = [cur.transform(pin)]
    for k in range(1, n_levels + 1):
        half = 2 ** (k - 1)
        prev = levels[-1].select("component", "pos", "mn", "mx")
        shifted = prev.select(
            "component", (F.col("pos") - half).alias("pos"), "mn", "mx"
        ).filter(F.col("pos") >= 0)
        nxt = (
            prev.unionByName(shifted)
            .groupBy("component", "pos")
            .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
            .withColumn("k", F.lit(k))
        )
        # materialize every 3rd level: intermediate levels stay lazy
        # (recomputed from the pinned level below — up to two extra O(n)
        # aggregates) in exchange for a third of the materialization jobs
        if k % 3 == 0 or k == n_levels:
            nxt = nxt.transform(pin)
        levels.append(nxt)
    st = levels[0]
    for lv in levels[1:]:
        st = st.unionByName(lv)
    # pin the assembled table once: it feeds TWO joins below (the l-block
    # and r-block probes), and Spark has no cross-join common-subplan
    # reuse — unpinned intermediate levels would otherwise recompute in
    # full for each probe side (VERDICT r4 next #3)
    st = pin(st)

    # query [first, last] as the min/max over two overlapping 2^k blocks
    # (k = floor(log2(len)) computed exactly via the binary-string length)
    q = base.select("id", "component", "parent", "first", "last").withColumn(
        "len", F.col("last") - F.col("first") + 1
    )
    q = q.withColumn("k", (F.length(F.bin(F.col("len"))) - 1).cast("int"))
    # 2^k as a long (exact for k <= 52; len <= 2n keeps k far below that)
    p2 = F.pow(F.lit(2.0), F.col("k")).cast("long")
    q = q.withColumn("l", F.col("first")).withColumn("r2", F.col("last") - p2 + 1)
    m1 = st.select(
        "component",
        "k",
        F.col("pos").alias("l"),
        F.col("mn").alias("mn1"),
        F.col("mx").alias("mx1"),
    )
    m2 = st.select(
        "component",
        "k",
        F.col("pos").alias("r2"),
        F.col("mn").alias("mn2"),
        F.col("mx").alias("mx2"),
    )
    out = (
        q.join(m1, ["component", "k", "l"], "left")
        .join(m2, ["component", "k", "r2"], "left")
        .select(
            "id",
            "parent",
            "first",
            "last",
            F.least(F.coalesce("mn1", "mn2"), F.coalesce("mn2", "mn1")).alias("low"),
            F.greatest(F.coalesce("mx1", "mx2"), F.coalesce("mx2", "mx1")).alias(
                "high"
            ),
        )
        .transform(pin)
    )
    base.unpersist()
    return out


def euler_bcc_tags(
    sym: DataFrame,
    vertices: DataFrame,
    cc: DataFrame,
    *,
    forest: DataFrame | None = None,
) -> DataFrame:
    """(id, parent, first, last, low, high): full FAST-BCC tag set with an
    O(log n) superstep bound at any diameter — the tags
    ``bcc.fence_filter`` consumes. Pass ``forest``
    when the caller already derived it (``boruvka_forest_cc``) to avoid a
    second contraction."""
    if forest is None:
        forest, _ = boruvka_forest_cc(sym, vertices)
    tags = euler_tags(forest, cc)
    return subtree_minmax(tags, sym)
