"""Iterative graph kernels as DataFrame supersteps.

Each kernel is the Spark-native re-expression of a reference algorithm
(citations are to /root/reference):

- ``pagerank``        — target kernel (north_rule); superstep skeleton is the
                        reference's Bellman-Ford relax loop shape
                        (src/SSSP/sssp.h:310-322): join state with edges,
                        combine messages with an aggregate. The atomic
                        ``write_add`` combiner (src/utils.h:45-63) becomes
                        ``groupBy(dst).agg(sum)``.
- ``connected_components`` — hash-min label propagation + pointer-jumping;
                        semantics of ``get_cc`` union-find
                        (external/connectivity.h:41-59); the CAS
                        link-high-to-low becomes a deterministic ``min``
                        aggregate; ``find_compress`` (external/connectivity.h:7-20)
                        becomes the label-table self-join shortcut.
- ``label_propagation`` — synchronous min-label adoption for K rounds — the
                        deterministic analog of LDD's first-arrival CAS
                        adoption (src/BCC/ldd.h:37-122).
- ``bfs`` / ``sssp``  — frontier supersteps; direction optimization
                        (src/BFS/bfs.h:160-162) is delegated to AQE's
                        broadcast-vs-shuffle choice on the frontier side.
- ``triangle_count``  — absent in the reference; standard degree-ordered
                        orientation + two joins over the edge table.
- ``degree_analytics`` — port of src/basic_analytics/basic_analytics.cpp:38-73.

Two superstep functions carry every PageRank and min-label loop of this
module and the resumable drivers of ``pasgal_spark.plans.checkpoints``:
``pagerank_step`` (one PageRank round) and ``min_label_step`` (one round of
min-label adoption, optionally with a pointer jump — hash-min CC, two-phase
CC's shrink rounds and LPA). Each is one join-aggregate: messages over the
edge table, unioned with the state row and folded by one ``groupBy(id)``.

Scale notes (100 TB framing): the edge table is the big, static relation —
it is scanned once per superstep and never shuffled after the initial
partitioning-by-src; only the small per-vertex state moves. Message combine
is expressed as partial+final hash aggregation (map-side combine). Lineage
is truncated by an eager checkpoint (``lineage.pin``) at a fixed per-kernel
cadence — on a cluster this would be a parquet/Iceberg checkpoint (see
pasgal_spark.plans.checkpoints for the resumable variant).

Two loops drive the iterative kernels: the probe loop ``_iterate``
(PageRank, the min-label loops, LDD, the three SSSP variants) and the
frontier loop ``_frontier_loop`` (BFS and ``directed``'s reachability).
Bellman-Ford, Δ- and ρ-stepping SSSP share one kernel, ``_sssp``: one
relax step whose threshold rule plans as a scalar subquery over the
generation it relaxes.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from pasgal_spark.plans.lineage import (
    DRIVER_ROWS, collect_within, fast_pin, local_relation, pin,
)

# Join-strategy hint for the state/frontier side of superstep joins
# (guide §3.1: pick the strategy deliberately). The edge table is cached
# hash-partitioned by src (builder.build_graph), so a shuffled join reuses
# that layout: the O(m) edge side feeds the join with NO per-superstep
# Exchange and only the O(|V|)-or-smaller state side moves. Without the
# hint Catalyst instead BROADCASTS whichever side's stats beat the
# threshold — at small tiers that is the edge table, re-broadcast every
# superstep; at big tiers neither fits and sort-merge re-exchanges the
# edge side (range partitioning never satisfied the hash requirement).
# Measured r6 (157k edges, 8 supersteps): shuffle_hash 3.7 s vs
# edge-broadcast 6.1 s vs sort-merge-hint 4.5 s. ``shuffle_hash`` builds
# the hash map from the per-partition slice of the SMALL state side
# (spillable in Spark 3.2+).
def _hint_state(df: DataFrame) -> DataFrame:
    """Apply the ``shuffle_hash`` join hint to a state/frontier side.

    Pays off when the other (edge) side is the ingest-partitioned cached
    table; ``directed``'s reachability kernels skip it for ``scc``'s
    shrunken work graphs and let AQE decide."""
    return df.hint("shuffle_hash")


class _StateChain:
    """Superstep state manager: cache every generation, checkpoint periodically.

    A superstep's state is referenced several times by the next plan
    (message join, scalar aggregates, convergence diff); leaving it lazy
    recomputes the whole chain per reference — measured 10x slowdowns at
    3M edges. ``cache()`` registers the plan so downstream plans substitute
    an InMemoryRelation (shallow plans, zero extra jobs); an eager
    ``pin`` every ``every`` generations truncates lineage and lets
    superseded generations be unpersisted. On a cluster the pin becomes a
    parquet/Iceberg write (pasgal_spark.plans.checkpoints).

    ``pinned``: whether the generation the caller holds is
    checkpoint-backed (``advance`` sets it; ``_iterate`` resets it when it
    hands back the generation before the last one built).
    """

    def __init__(self, every: int) -> None:
        self.every = max(1, every)
        self._gen = 0
        self._live: list[DataFrame] = []
        self.pinned = True  # no generation yet: nothing cache-backed

    def pins_next(self) -> bool:
        """Whether the next ``advance`` runs a real pin (a checkpoint job)."""
        return (self._gen + 1) % self.every == 0

    def advance(self, df: DataFrame) -> DataFrame:
        self._gen += 1
        if self._gen % self.every == 0:
            out = df.transform(pin)
            # the newest cached generation (the pin's input) stays alive:
            # the probe loop still reads it after the pin
            for c in self._live[:-1]:
                c.unpersist()
            self._live = self._live[-1:]
            self.pinned = True
        else:
            # fast_pin (r6) keeps the logical plan O(1) per generation: a
            # bare cache() keeps the full tree, and Catalyst's walks over
            # generations that reference their predecessor 2-3x grew 4x
            # PER GENERATION (54 s to plan superstep 8 of a 157k-edge
            # loop). Rebind FIRST, cache the leaf: the plan compiles once.
            out = fast_pin(df).cache()
            self._live.append(out)
            self.pinned = False
        return out

    def seal(self, df: DataFrame) -> DataFrame:
        """Pin ``df`` (derived from the held generation) unless that
        generation is already checkpoint-backed, then release every live
        cache. Callers MUST route their return value through this (or pin
        it themselves) before the chain is closed — a cache()-backed final
        generation would otherwise recompute its whole lineage on first
        use after ``close()`` unpersists it."""
        if not self.pinned:
            df = df.transform(pin)
        self.close()
        return df

    def close(self) -> None:
        for c in self._live:
            c.unpersist()
        self._live = []


def _iterate(
    chain: _StateChain,
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    *,
    rounds: int | None,
    probe: Callable[[DataFrame], object] | None = None,
    done: Callable[[object], bool] | None = None,
    on_step: Callable[[int, object], None] | None = None,
) -> tuple[DataFrame, bool]:
    """The probe loop of the in-memory kernels: generation k+1 is
    ``step(generation k)``, starting from ``state``; ``on_step(k, value)``
    fires once per superstep, k from 1.

    Without ``probe``: exactly ``rounds`` supersteps and no action of its
    own — the chain executes inside its periodic pins and the caller's
    ``seal`` (value NaN). With ``probe``: one action per superstep,
    ``probe(generation k)``, materializes generation k and returns the
    value ``done`` tests; the loop stops at the first ``done`` generation
    or after ``rounds`` probes (None: no cap). One action is not one job:
    under AQE the probe and the compile in ``advance`` each run every
    shuffle query stage as its own job, and the periodic pins add theirs
    (traced at sf0.1: tol-mode PageRank ran 72-78 jobs for 8 supersteps).

    The only overlap in the engine (r6): generation k+1's compile needs
    only generation k's leaf, not the probe's verdict, so ``step`` +
    ``advance`` (py4j plan building, fast_pin's compile) run on a
    ``pyspark.InheritableThread`` during the probe (8 PageRank supersteps
    2.8 s -> 1.9 s). The thread copies the caller's local properties, so
    the shuffle-stage jobs AQE runs inside the compile stay in the
    caller's job group. On pin generations the pin runs FIRST on the
    calling thread, then the probe — a warm-cache read, since executing
    generation k+1 filled generation k's cache. Exceptions from either
    leg propagate.

    Returns ``(generation, done)``: the last probed generation and
    whether ``done`` held; ``chain.pinned`` then describes that
    generation, and ``seal``/``close`` release a built successor."""
    if rounds == 0:
        return state, False

    def advance_into(box: list, gen: DataFrame) -> None:
        try:
            box.append(chain.advance(step(gen)))
        except BaseException as e:  # noqa: BLE001 - re-raised on the caller
            box.append(e)

    cur = chain.advance(step(state))
    pinned = chain.pinned
    k = 0
    while True:
        k += 1
        value, nxt = float("nan"), None
        if probe is not None and chain.pins_next():
            nxt = chain.advance(step(cur))
            value = probe(cur)
        elif probe is not None:
            box: list = []
            leg = InheritableThread(target=advance_into, args=(box, cur), daemon=True)
            leg.start()
            try:
                value = probe(cur)
            finally:
                leg.join()
            if isinstance(box[0], BaseException):
                raise box[0]
            nxt = box[0]
        finished = probe is not None and done(value)
        if on_step:
            on_step(k, value)
        if finished or k == rounds:
            chain.pinned = pinned
            return cur, finished
        if nxt is None:
            nxt = chain.advance(step(cur))
        cur, pinned = nxt, chain.pinned


# ---------------------------------------------------------------------------
# PageRank (target kernel)
# ---------------------------------------------------------------------------

def pagerank_step(
    edges: DataFrame,
    cur: DataFrame,
    *,
    n: int,
    damping: float,
    has_dangling: bool,
) -> DataFrame:
    """One PageRank superstep: state ``cur`` (id, out_deg, rank) →
    (id, out_deg, rank, prev_rank). The one step of ``pagerank`` (both
    modes) and of ``plans.checkpoints.CheckpointedPageRank``.

    - **One exchange.** The state row rides the SAME union+groupBy
      aggregate as the messages (the min-label message-combine shape), so
      no join of the state with the summed messages adds two more. Ids
      absent from the state (edge targets outside the vertex set) are
      dropped by the ``prev_rank IS NOT NULL`` filter — exactly left-join
      semantics.
    - **Data-independent plan.** The dangling mass enters as a broadcast
      1-row aggregate over ``cur``, not as a probe-derived literal, so the
      next superstep's compile can overlap this one's probe. With
      ``has_dangling=False`` (checked once by the prologue) the branch is
      dropped.
    - ``prev_rank`` rides along, so the convergence delta is one aggregate
      over the new state, not a second O(|V|) join.

    Ranks follow r'(v) = (1-d)/n + d * (Σ_{u→v} r(u)/outdeg(u) +
    dangling_mass/n); double sums may differ from another plan shape in
    the last ulp (the class the 6-decimal oracle rounding absorbs).
    """
    st = cur.select(
        "id",
        "out_deg",
        F.col("rank").alias("prev_rank"),
        F.lit(None).cast("double").alias("c"),
    )
    s = _hint_state(cur)
    msgs = edges.join(s, edges.src == s.id).select(
        edges.dst.alias("id"),
        F.lit(None).cast("long").alias("out_deg"),
        F.lit(None).cast("double").alias("prev_rank"),
        (F.col("rank") / F.col("out_deg")).alias("c"),
    )
    agg = (
        st.unionByName(msgs)
        .groupBy("id")
        .agg(
            F.min("out_deg").alias("out_deg"),
            F.coalesce(F.sum("c"), F.lit(0.0)).alias("contrib"),
            F.min("prev_rank").alias("prev_rank"),
        )
        .filter(F.col("prev_rank").isNotNull())
    )
    if has_dangling:
        dm = cur.filter("out_deg = 0").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
            F.col("contrib") + F.col("_dm") / F.lit(float(n))
        )
        return agg.crossJoin(F.broadcast(dm)).select(
            "id", "out_deg", new_rank.alias("rank"), "prev_rank"
        )
    new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("contrib")
    return agg.select("id", "out_deg", new_rank.alias("rank"), "prev_rank")


def _pagerank_base(
    edges: DataFrame, vertices: DataFrame
) -> tuple[DataFrame, int, bool]:
    """PageRank's prologue → (base, n, has_dangling): ``base`` is the
    cached (id, out_deg) leaf, materialized by the ONE prologue aggregate
    that also returns |V| and the dangling count (the left join preserves
    the vertex count exactly). The caller unpersists ``base``."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    base = fast_pin(
        vertices.join(deg, vertices.id == deg.src, "left")
        .select(vertices.id, F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    ).cache()
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("out_deg") == 0, 1).otherwise(0)).alias("nd"),
    ).first()
    return base, row["n"], row["nd"] > 0


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    iterations: int | None = None,
    tol: float | None = None,
    damping: float = 0.85,
    on_superstep: Callable[[int, float], None] | None = None,
) -> DataFrame:
    """PageRank with dangling-mass redistribution → (id, rank).

    Runs ``pagerank_step`` until max |Δr| < ``tol`` or for ``iterations``
    supersteps (whichever comes first when both are given).

    - ``tol``: one probe action per superstep both materializes the
      generation and returns its delta, overlapped with the next
      superstep's compile. Under AQE that is several jobs per superstep
      (traced at sf0.1: 72-78 jobs for 8 supersteps, see ``_iterate``).
    - ``tol=None``: no probe at all (deterministic, oracle-matched — the
      declared query's mode); the generations execute inside the chain's
      periodic pins and the final pin. ``on_superstep`` receives NaN.
    """
    assert iterations is not None or tol is not None
    base, n, has_dangling = _pagerank_base(edges, vertices)
    # every generation is cache()-registered (see _StateChain), so chains
    # between pins are shallow InMemoryRelation reads; a pin every 4
    # balances lineage truncation against one materialize job per cycle
    chain = _StateChain(4)
    try:
        cur, _ = _iterate(
            chain,
            lambda s: pagerank_step(
                edges, s, n=n, damping=damping, has_dangling=has_dangling
            ),
            base.withColumn("rank", F.lit(1.0 / n)),
            rounds=iterations,
            probe=None if tol is None else (
                lambda s: s.agg(
                    F.max(F.abs(F.col("rank") - F.col("prev_rank")))
                ).first()[0]
            ),
            done=lambda d: d < tol,
            on_step=on_superstep,
        )
        # pin the result BEFORE the caches (and base) are released
        return chain.seal(cur.select("id", "rank"))
    finally:
        base.unpersist()


# ---------------------------------------------------------------------------
# Min-label supersteps: connected components, label propagation
# ---------------------------------------------------------------------------

def min_label_step(
    edges: DataFrame,
    labels: DataFrame,
    frontier: DataFrame,
    col: str,
    *,
    pointer_jump: bool = False,
) -> DataFrame:
    """One min-label superstep → (id, col, old). The one step of hash-min
    and two-phase CC, label propagation and the checkpointed CC/LPA
    drivers.

    Every vertex of ``labels`` (id, col) adopts the min of its own label
    and the labels ``frontier`` (id, col) sends along ``edges`` — the
    deterministic form of LDD's first-arrival CAS adoption
    (src/BCC/ldd.h:37-122); the atomic ``write_min`` becomes one
    ``groupBy(id).agg(min)`` over state rows ∪ messages. ``old`` carries
    the previous label (min(old) per id is exact: each id has exactly one
    state row), so the next frontier (``_changed``) costs no extra join or
    shuffle; ids reached only by messages get ``old`` NULL.

    Frontier = the vertices whose label changed last round. Per-round
    labels equal the all-senders form's by monotone-min induction: an
    unchanged u already delivered label(u) to every neighbor the round it
    last changed, and labels only decrease.

    ``pointer_jump``: then adopt the label of the label (the declarative
    ``find_compress`` path halving, external/connectivity.h:7-20):
    O(log n)-ish rounds on long-diameter graphs. The grand-parent is read
    from the input generation ``labels`` (the parent array that is
    already there, as ``find_compress`` reads it), not from this round's
    result, so the message join, union and aggregate appear once in the
    plan. ``labels``' label of l is an id of l's component, so labels
    stay ids of their component and the fixpoint is still the canonical
    minimum. The jump join runs over the full state (O(|V|), and jump
    targets need not be in the frontier).
    The frontier side always carries the state-side join hint
    (``_hint_state``).
    """
    f = _hint_state(frontier)
    msgs = edges.join(f, edges.src == f.id).select(
        edges.dst.alias("id"), col, F.lit(None).cast("long").alias("old")
    )
    new = (
        labels.select("id", col, F.col(col).alias("old"))
        .unionByName(msgs)
        .groupBy("id")
        .agg(F.min(col).alias(col), F.min("old").alias("old"))
    )
    if pointer_jump:
        parent = labels.select(F.col("id").alias(col), F.col(col).alias("grand"))
        new = new.join(parent, col, "left").select(
            "id", F.least(col, "grand").alias(col), "old"
        )
    return new


def _changed(col: str):
    """Next round's senders in a ``min_label_step`` state: the label
    dropped, or ``old IS NULL`` — round 0's all-senders state, or a vertex
    that entered via messages only (an edge endpoint absent from the
    vertex set). Such a vertex has never sent; dropping it would freeze
    the frontier into a false fixpoint."""
    return F.col("old").isNull() | (F.col(col) < F.col("old"))


def _frontier_size(state: DataFrame, changed) -> int:
    return state.agg(F.sum(F.when(changed, 1))).first()[0] or 0


def _min_label(
    edges: DataFrame,
    labels: DataFrame,
    col: str,
    *,
    rounds: int,
    converge: bool,
    every: int,
    pointer_jump: bool = False,
    on_round: Callable[[int], None] | None = None,
    who: str = "",
) -> DataFrame:
    """``min_label_step`` from ``labels`` (id, col) → pinned (id, col).

    ``converge=False``: exactly ``rounds`` rounds and no probe job — the
    whole chain executes lazily inside its periodic pins and the final
    seal. ``converge=True``: until the frontier is empty (no label
    changed ⟺ fixpoint, labels being monotone), one aggregate action per
    round (several jobs under AQE, see ``_iterate``) that materializes
    the generation and counts the next frontier, overlapped with the next
    round's compile; raises if ``rounds`` rounds do not reach it —
    unconverged labels would silently be wrong components. ``every``: the
    chain's pin cadence. ``on_round(i)`` fires per round, i from 0."""
    changed = _changed(col)
    chain = _StateChain(every)
    cur, converged = _iterate(
        chain,
        lambda s: min_label_step(
            edges, s, s.filter(changed), col, pointer_jump=pointer_jump
        ),
        labels.withColumn("old", F.lit(None).cast("long")),
        rounds=rounds,
        probe=(lambda s: _frontier_size(s, changed)) if converge else None,
        done=lambda nf: nf == 0,
        on_step=on_round and (lambda k, _: on_round(k - 1)),
    )
    if converge and not converged:
        chain.close()
        raise RuntimeError(
            f"{who}: labels still changing after {rounds} supersteps; "
            "raise max_iterations (long-diameter graph)"
        )
    return chain.seal(cur.select("id", col))


def connected_components(
    sym: DataFrame,
    vertices: DataFrame,
    *,
    max_iterations: int = 100,
    pointer_jump: bool = True,
    on_round: Callable[[int], None] | None = None,
) -> DataFrame:
    """Hash-min CC over a symmetrized edge table → (id, component).

    component = min vertex id in the component (canonical labels — the
    deterministic replacement for the reference's CAS-race labels,
    SURVEY.md §7.4; semantics of ``get_cc`` union-find,
    external/connectivity.h:41-59). ``min_label_step`` with pointer
    jumping, to a fixpoint: frontier messaging means late rounds — when
    most of the graph has settled — shuffle frontier-incident edges
    instead of |E|. Raises after ``max_iterations`` rounds without a
    fixpoint (use ``connected_components_two_phase`` on long-diameter
    graphs).
    """
    return _min_label(
        sym, vertices.select("id", vertices.id.alias("component")), "component",
        rounds=max_iterations, converge=True, every=4,
        pointer_jump=pointer_jump, on_round=on_round, who="connected_components",
    )


def connected_components_two_phase(
    sym: DataFrame,
    vertices: DataFrame,
    *,
    shrink_rounds: int = 3,
    max_residual: int = DRIVER_ROWS,
    on_round: Callable[[int], None] | None = None,
    m_upper: int | None = None,
) -> DataFrame:
    """Exact CC in a FIXED number of supersteps + driver union-find.

    The Spark rendition of the reference's two-phase connectivity
    (src/BCC/connectivity.h:44-107): LDD-style clustering to shrink the
    graph, then union-find over the few remaining inter-cluster edges.

    Phase 1: ``shrink_rounds`` min-label + pointer-jump supersteps — no
    convergence-detection jobs, so the superstep count is independent of
    graph diameter. Phase 2: contract to the DISTINCT inter-cluster label
    pairs (for a web graph after a few rounds this is tiny — the giant
    component contracts to one label, so its edges vanish in the
    distinct), assert the residual is driver-sized, finish with a NumPy
    union-find, and broadcast the label fix-ups back.

    Exact for any diameter: grids/chains (reference diameters 59k-102k,
    src/utils/diameter.tsv:8-9) no longer need O(diameter) supersteps.
    Labels are canonical min-ids, identical to ``connected_components``.

    The shrink rounds are ``min_label_step`` with pointer jumping: rounds
    2..k shuffle frontier-incident edges instead of |E| — and even a
    different phase-1 labeling could not change the result, because phase
    2 finishes connectivity exactly from ANY labeling whose residual fits
    the budget.

    Budget probe (r6 second wave): when the deduped pair count provably
    fits the driver budget (m <= 2*max_residual for a symmetric edge
    table), the shrink rounds are pure overhead — phase 2 runs directly
    over identity labels (labels identical by the canonical-min-id
    contract, pinned by test_two_phase_direct_path_matches_shrink_path;
    ``on_round`` never fires because no distributed round ran). Past the
    budget the fixed shrink supersteps engage unchanged — that is the
    100 TB path. ``m_upper``: caller-known bound on ``sym.count()``, skips
    the probe; a bound past the budget is trusted as is (callers that
    want a recount there pass ``None``).
    Precondition of the direct path (held by every engine caller): edge
    endpoints ⊆ ``vertices``.
    """
    if m_upper is None:
        m_upper = sym.count()
    identity = vertices.select("id", vertices.id.alias("component"))
    if m_upper <= 2 * max_residual:
        return cc_phase2_union_find(
            sym, identity, max_residual=max_residual,
            context="(two-phase: direct driver union-find)",
            identity_labels=True,
        )
    # NO per-round driver action: the whole shrink chain executes lazily
    # inside the final pin (the labeling feeds three references in phase 2)
    labels = _min_label(
        sym, identity, "component", rounds=shrink_rounds, converge=False,
        every=2, pointer_jump=True, on_round=on_round,
    )
    return cc_phase2_union_find(
        sym, labels, max_residual=max_residual,
        context=f"after {shrink_rounds} shrink rounds",
    )


def cc_phase2_union_find(
    sym: DataFrame,
    labels: DataFrame,
    *,
    max_residual: int = DRIVER_ROWS,
    context: str = "",
    identity_labels: bool = False,
) -> DataFrame:
    """Finish connectivity from a shrunken labeling: contract to the
    DISTINCT inter-cluster label pairs, assert the residual is
    driver-sized, union-find them on the driver, broadcast the fix-ups
    back.

    The union-find is ``_min_root_union_find``: whole-array NumPy passes
    (0.02-0.03 s for 156k pairs over 15k ids). The fix-up map goes back as
    a ``local_relation``, so its broadcast reads a ``LocalTableScan`` on
    the JVM and starts no Python worker.

    The Spark rendition of the reference's post-LDD union-find sweep
    (src/BCC/connectivity.h:69-85); shared by the in-memory and the
    checkpointed/resumable two-phase CC drivers.

    ``identity_labels=True``: the caller guarantees component == id for
    every vertex (the zero-shrink-round direct path), so the residual is
    just the deduped edge set — the two label relabeling joins compile
    away (r6: one aggregate over the cached edge table instead of two
    shuffled joins + aggregate).
    """
    if identity_labels:
        # precondition (callers assert it by construction): every edge
        # endpoint appears in ``labels`` — the join path below would
        # silently drop edges with unknown endpoints, the fast path keeps
        # them, so they must not exist
        residual = (
            sym.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .distinct()
        )
    else:
        lu = labels.select(F.col("id").alias("src"), F.col("component").alias("cu"))
        lv = labels.select(F.col("id").alias("dst"), F.col("component").alias("cv"))
        residual = (
            sym.join(lu, "src").join(lv, "dst")
            .filter(F.col("cu") != F.col("cv"))
            .select(F.least("cu", "cv").alias("a"), F.greatest("cu", "cv").alias("b"))
            .distinct()
        )
    pairs = collect_within(residual, max_residual)
    if pairs is None:
        raise RuntimeError(
            f"two-phase CC residual exceeds {max_residual} pairs {context}; "
            "raise shrink_rounds"
        )
    if len(pairs[0]) == 0:
        return labels.select("id", "component")

    ids, roots = _min_root_union_find(*pairs)
    map_df = local_relation(
        labels.sparkSession, "component long, final long", ids, roots
    )
    return (
        labels.join(F.broadcast(map_df), "component", "left")
        .select("id", F.coalesce("final", "component").alias("component"))
    )


def _min_root_union_find(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the pairs ``(a[i], b[i])`` → ``(ids, roots)``: every
    id whose component's minimum id is not itself, with that minimum.

    The array form of gbbs ``get_cc``/``find_compress``
    (external/connectivity.h:7-59): ids are compacted to their rank
    (``np.unique``, so the min index is the min id); then each round hooks
    every root to its minimum neighbouring root and pointer-jumps until
    every entry points at its root, until a round changes nothing —
    O(log n) passes over the arrays in practice.
    """
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        ru, rv = parent[u], parent[v]
        hooked = parent.copy()
        np.minimum.at(hooked, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, parent):
            break
        parent = hooked
    moved = parent != np.arange(len(ids))
    return ids[moved], ids[parent[moved]]


def largest_component(cc: DataFrame) -> DataFrame:
    """(component, size) of the largest CC — reference ``get_largest_cc``
    (external/connectivity.h:61-82)."""
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(1)
    )


def component_histogram(cc: DataFrame) -> DataFrame:
    """Component-size histogram — reference ``histogram_by_key``
    (external/connectivity.h:66)."""
    return (
        cc.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    )


# ---------------------------------------------------------------------------
# Label propagation (target kernel)
# ---------------------------------------------------------------------------

def label_propagation(
    sym: DataFrame,
    vertices: DataFrame,
    *,
    rounds: int = 5,
) -> DataFrame:
    """Synchronous min-label LPA for a fixed number of rounds → (id, label).

    Each round every vertex adopts min(own label, neighbor labels) —
    deterministic version of LDD's first-arrival adoption
    (src/BCC/ldd.h:37-122). After k rounds label(v) = min id within v's
    k-hop closed neighborhood (the oracle-checkable invariant).

    ``min_label_step`` for exactly ``rounds`` rounds, no probe job.
    """
    return _min_label(
        sym, vertices.select("id", vertices.id.alias("label")), "label",
        rounds=rounds, converge=False, every=4,
    )


def ldd(
    sym: DataFrame,
    vertices: DataFrame,
    *,
    beta_cap: int = 4,
    radius_cap: int = 8,
) -> DataFrame:
    """(id, label, cost): low-diameter decomposition with exponentially
    staggered center start times — the reference's LDD
    (src/BCC/ldd.h:16-249), in its declarative shifted-start form.

    Every vertex u is a potential center with a deterministic integer
    start time ``start(u) = beta_cap - min(tz(hash(u)), beta_cap)`` (tz =
    trailing zeros, i.e. a capped geometric(1/2) shift — the hash-seeded
    stand-in for the reference's exp(beta) wave release, ldd.h:37-122).
    v joins the cluster of the center minimizing
    ``(start(u) + dist(u, v), u)`` — first arrival wins, ties to the min
    center id, exactly the reference's CAS first-arrival adoption made
    deterministic. Every vertex is covered (it is its own center with
    cost start(v) <= beta_cap <= radius_cap), and cluster radii are
    bounded by ``radius_cap``, so the superstep count is FIXED at
    radius_cap regardless of graph diameter.

    The (cost, center) pair is packed as ``cost * 2^32 + center`` so the
    adoption rule is a single ``min`` aggregate (and the DuckDB oracle
    reproduces it with identical integer arithmetic).
    """
    from pasgal_spark.functions.textstats import portable_hash

    # Dense-NodeId precondition (the reference's uint32 NodeId,
    # src/graph.h:53): the (cost, center) pack is cost * 2^32 + id, so ids
    # outside [0, 2^32) would silently corrupt both fields. One aggregate,
    # paid once per call.
    lo, hi = vertices.agg(F.min("id"), F.max("id")).first()
    if lo is not None and (lo < 0 or hi >= 2 ** 32):
        raise ValueError(
            f"ldd: vertex ids must lie in [0, 2^32) for (cost, center) "
            f"packing; got range [{lo}, {hi}]"
        )

    h = portable_hash(F.col("id").cast("string"))
    start = F.when(h % F.lit(2 ** beta_cap) == 0, F.lit(0))
    for j in range(beta_cap - 1, 0, -1):
        start = start.when(h % F.lit(2 ** j) == 0, F.lit(beta_cap - j))
    start = start.otherwise(F.lit(beta_cap))

    big = F.lit(2 ** 32)
    state = vertices.select(
        "id", (start.cast("long") * big + F.col("id")).alias("key")
    )
    # Frontier-based (fused delta, same induction as min_label_step): an
    # unchanged u's message ``key(u) + 2^32`` is itself unchanged, so it
    # was already delivered the round u last changed — only changed keys
    # send. Per-round keys identical to the all-senders form.
    cap_key = (radius_cap + 1) * 2 ** 32
    changed = _changed("key")

    def step(full: DataFrame) -> DataFrame:
        f = _hint_state(full.filter(changed))
        msgs = (
            sym.join(f, sym.src == f.id)
            .select(sym.dst.alias("id"), (F.col("key") + big).alias("key"))
            .filter(F.col("key") < F.lit(cap_key))
            .withColumn("old", F.lit(None).cast("long"))
        )
        return (
            full.select("id", "key", F.col("key").alias("old"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("key").alias("key"), F.min("old").alias("old"))
        )

    # cache + rebind per round, real pin every 3rd (r6, was an eager
    # checkpoint job EVERY round): the fixed-radius loop has no
    # convergence probes, so the whole wave executes lazily in the
    # periodic pin jobs.
    chain = _StateChain(3)
    state, _ = _iterate(
        chain, step, state.withColumn("old", F.lit(None).cast("long")),
        rounds=radius_cap,
    )
    return chain.seal(
        state.select(
            "id",
            (F.col("key") % big).alias("label"),
            # exact integer unpack (shiftright, not double-division floor)
            F.shiftright(F.col("key"), 32).cast("long").alias("cost"),
        )
    )


# ---------------------------------------------------------------------------
# BFS / SSSP (frontier supersteps; reference §2D)
# ---------------------------------------------------------------------------

def _push_level(
    edges: DataFrame, frontier: DataFrame, visited: DataFrame,
    key_cols: list[str], hinted: bool = True,
) -> DataFrame:
    """One push level: expand ``frontier``'s out-edges carrying
    ``key_cols[1:]`` along, dedup, anti-join ``visited`` on ``key_cols`` —
    the edge work is proportional to the frontier's degree sum.
    ``hinted``: apply the state-side join hint — only when ``edges`` is the
    ingest-partitioned cached table (``scc`` passes False for its shrunken
    work graphs, where the hint would force a pointless edge-side
    exchange)."""
    f = _hint_state(frontier) if hinted else frontier
    return (
        edges.join(f, edges.src == f.id)
        .select(edges.dst.alias("id"), *key_cols[1:])
        .distinct()
        .join(visited, key_cols, "left_anti")
    )


def _frontier_loop(
    seed: DataFrame,
    build: Callable[[int, DataFrame, DataFrame], DataFrame],
    *,
    levels: int,
    on_level: Callable[[int, int], None],
) -> DataFrame:
    """The frontier loop of BFS and ``directed``'s reachability kernels →
    the pinned visited set: ``seed`` plus every level reached.

    Level d (from 1, at most ``levels``) is ``build(d, frontier,
    visited)``, rebound and cached (one compile, as in
    ``_StateChain.advance``) and materialized by ONE count job; then
    ``on_level(d, size)`` fires (it may raise). An empty level ends the
    loop; otherwise it joins visited, a lazy union of cached levels
    re-pinned every 3 levels to bound RDD lineage and release the level
    caches. The result is pinned before the caches are released."""
    visited = frontier = seed
    live: list[DataFrame] = []
    try:
        for d in range(1, levels + 1):
            nxt = fast_pin(build(d, frontier, visited)).cache()
            live.append(nxt)
            size = nxt.count()
            on_level(d, size)
            if size == 0:
                break
            visited = visited.unionByName(nxt)
            if d % 3 == 0:
                visited = pin(visited)
                for c in live:
                    c.unpersist()
                live = []
            frontier = nxt
        return pin(visited)
    finally:
        for c in live:
            c.unpersist()


def bfs(
    sym: DataFrame,
    source: int = 0,
    *,
    max_depth: int = 30,
    vertices: DataFrame | None = None,
    dense_threshold: float = 0.05,
    on_superstep: Callable[[int, str, int], None] | None = None,
) -> DataFrame:
    """Hop distances from ``source`` over the symmetric graph → (id, dist).

    Direction-optimizing frontier supersteps (reference
    src/BFS/bfs.h:140-222) on ``_frontier_loop``:

    - **push** (sparse frontier): ``_push_level``.
    - **pull** (dense frontier, needs ``vertices``): when the frontier
      exceeds ``dense_threshold * n``, flip to the reference's dense phase
      (bfs.h:140-158) — semi-join the edge table against the (small)
      *unvisited* set first, then against the frontier, so the edge work
      is proportional to the unvisited side's in-degree sum instead of the
      whole frontier's expansion. On small-diameter web graphs 2-3 dense
      supersteps carry most of the edges; this caps their shuffle at the
      shrinking unvisited set. The early-exit per vertex becomes the
      semi-join (first match wins, no dedup of |frontier| copies).

    Without ``vertices`` the loop is pure push. ``on_superstep(d, mode,
    size)`` fires per level with the level's frontier size. Only vertices
    reached within ``max_depth`` hops are returned.
    """
    seed = local_relation(sym.sparkSession, "id long, dist int", [source], [0])
    n = vertices.count() if vertices is not None else None
    frontier_size, visited_size, mode = 1, 1, "push"

    def build(d: int, frontier: DataFrame, visited: DataFrame) -> DataFrame:
        nonlocal mode
        # Pull pays off only when the unvisited side is smaller than the
        # frontier (its edge work is ~unvisited in-degree vs frontier
        # expansion) — the reference's m_frontier vs m_unvisited test
        # (bfs.h:160-162) with counts as the degree proxy.
        dense = (
            n is not None
            and frontier_size > dense_threshold * n
            and 0 < n - visited_size < frontier_size
        )
        mode = "pull" if dense else "push"
        if not dense:
            level = _push_level(sym, frontier, visited, ["id"])
        else:
            unvisited = vertices.join(visited.select("id"), "id", "left_anti")
            level = (
                sym.join(unvisited.select(F.col("id").alias("dst")), "dst", "left_semi")
                .join(frontier.select(F.col("id").alias("src")), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
        return level.withColumn("dist", F.lit(d))

    def on_level(d: int, size: int) -> None:
        nonlocal frontier_size, visited_size
        frontier_size = size
        visited_size += size
        if on_superstep:
            on_superstep(d, mode, size)

    return _frontier_loop(seed, build, levels=max_depth, on_level=on_level)


def _sssp(
    wedges: DataFrame, source: int, rule: Callable[[DataFrame], Column], *,
    cap, max_iterations: int, who: str,
) -> DataFrame:
    """The SSSP kernel behind ``sssp``, ``sssp_delta_stepping`` and
    ``sssp_rho_stepping``: the reference's template method
    (src/SSSP/sssp.h:196-236) on ``_iterate``. ``rule(unsettled rows)``
    is the variant's ``get_threshold()``: a Column that picks this
    round's frontier from the unsettled rows. Returns the pinned
    (id, dist) for vertices with dist <= cap.

    State (id, dist, rat): ``rat`` is the dist a vertex last relaxed its
    out-edges at (null: never), so a row is unsettled while it improved
    since (a delivered dist needs no re-delivery — dist+w candidates
    from an unchanged sender are already in every neighbor's min). Each
    superstep relaxes the frontier's out-edges and folds the candidates
    with ``groupBy(id).agg(min)`` (``write_min``, src/utils.h:65-81);
    frontier rows record ``rat = dist``. The rule reads the generation
    it relaxes through a scalar subquery planned into the step — a top-k
    ``orderBy("dist").limit(k)``, which plans as a TakeOrdered with no
    exchange — so the step needs no driver-side value and compiles
    during the probe like every other kernel. The probe counts
    unsettled rows; none left is the capped fixpoint, and a budget of
    ``max_iterations`` supersteps that ends short of it raises. The
    minimum unsettled row is in every frontier and, with positive
    weights, never reopens, so each superstep settles at least one
    vertex and every schedule reaches the same result.

    Weight-type generic (the reference's ``-DFLOAT`` build,
    src/SSSP/sssp.cpp:11-15): ``dist`` adopts ``w``'s type. Float
    determinism: every candidate is a left-to-right fold along one path
    (``dist + w``) and the aggregate is a ``min``, with no
    reduction-order-dependent summation, so double results are
    bit-stable across partitionings and match a sequential Dijkstra.
    """
    wtype = dict(wedges.dtypes)["w"]
    unsettled = F.col("rat").isNull() | (F.col("dist") < F.col("rat"))

    def step(cur: DataFrame) -> DataFrame:
        in_frontier = unsettled & rule(cur.filter(unsettled))
        frontier = _hint_state(cur.filter(in_frontier).select("id", "dist"))
        relaxed = (
            wedges.join(frontier, wedges.src == frontier.id)
            .select(wedges.dst.alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .filter(F.col("dist") <= cap)
            .withColumn("rat", F.lit(None).cast(wtype))
        )
        st = cur.select(
            "id", "dist",
            F.when(in_frontier, F.col("dist")).otherwise(F.col("rat")).alias("rat"),
        )
        return (
            st.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"), F.min("rat").alias("rat"))
        )

    seed = local_relation(wedges.sparkSession, f"id long, dist {wtype}", [source], [0])
    chain = _StateChain(2)
    cur, converged = _iterate(
        chain, step, seed.withColumn("rat", F.lit(None).cast(wtype)),
        rounds=max_iterations, probe=lambda s: _frontier_size(s, unsettled),
        done=lambda n: n == 0,
    )
    if not converged:
        chain.close()
        # raise, don't truncate: frozen tentative distances are wrong
        # answers, not approximations
        raise RuntimeError(
            f"{who}: unsettled vertices remain after {max_iterations} supersteps;"
            " raise max_iterations (long-diameter or small-weight graph)"
        )
    return chain.seal(cur.select("id", "dist"))


def sssp(
    wedges: DataFrame,
    source: int = 0,
    *,
    cap: int = 40,
    max_iterations: int = 100,
) -> DataFrame:
    """Bellman-Ford shortest paths with distances capped at ``cap`` →
    (id, dist) for vertices with dist <= cap.

    The reference's Bellman-Ford threshold (src/SSSP/sssp.h:310-322, an
    infinite threshold): every unsettled vertex relaxes each superstep.
    Integer and double weights both work (see ``_sssp``)."""
    return _sssp(wedges, source, lambda _: F.lit(True),
                 cap=cap, max_iterations=max_iterations, who="sssp")


def sssp_delta_stepping(
    wedges: DataFrame,
    source: int = 0,
    *,
    delta: int = 8,
    cap: int = 40,
    max_iterations: int = 200,
) -> DataFrame:
    """Δ-stepping SSSP: relax in distance buckets of width ``delta``.

    The reference's Δ threshold rule (src/SSSP/sssp.h:292-308): the
    frontier is the unsettled vertices in the lowest non-empty bucket,
    ``floor(dist / delta)`` at most that of the minimum unsettled
    distance, so light edges inside a bucket settle before the next one
    opens and empty buckets cost nothing. Same result as ``sssp``; only
    the superstep schedule differs."""
    if delta <= 0:
        raise ValueError(f"sssp_delta_stepping: delta must be positive, got {delta}")

    def rule(open_: DataFrame) -> Column:
        least = open_.orderBy("dist").limit(1).select("dist").scalar()
        return F.floor(F.col("dist") / delta) <= F.floor(least / delta)

    return _sssp(wedges, source, rule, cap=cap, max_iterations=max_iterations,
                 who="sssp_delta_stepping")


def sssp_rho_stepping(
    wedges: DataFrame,
    source: int = 0,
    *,
    rho: int = 64,
    cap: int = 40,
    max_iterations: int = 200,
) -> DataFrame:
    """ρ-stepping SSSP: each superstep's threshold is the ρ-th smallest
    unsettled distance.

    The reference's ρ threshold rule (src/SSSP/sssp.h:240-290),
    recomputed every round like the reference. The reference estimates
    the quantile from 1024 samples (src/SSSP/sssp.h:267-284); here it is
    exact and deterministic (SURVEY.md §4.4), a top-ρ of the unsettled
    rows. Same result as ``sssp``; only the superstep schedule
    differs."""
    if rho < 1:
        raise ValueError(f"sssp_rho_stepping: rho must be at least 1, got {rho}")

    def rule(open_: DataFrame) -> Column:
        top = open_.orderBy("dist").limit(rho).agg(F.max("dist")).scalar()
        return F.col("dist") <= top

    return _sssp(wedges, source, rule, cap=cap, max_iterations=max_iterations,
                 who="sssp_rho_stepping")


# ---------------------------------------------------------------------------
# Triangle counting (target kernel; no reference impl — SURVEY.md §2D)
# ---------------------------------------------------------------------------

def _oriented(sym: DataFrame) -> DataFrame:
    """Degree-ordered orientation of ``sym`` → the cached, materialized
    (src, dst) leaf the caller unpersists. Keeps u→v iff (deg(u), u) <
    (deg(v), v), so every triangle is counted exactly once and the wedge
    join fans out from low-degree endpoints — the standard mitigation for
    power-law hubs (a hub's O(d²) wedges are never enumerated from the
    hub side)."""
    # Spread the edge table UP to cluster parallelism when the ingest
    # layout has fewer partitions (r6, guide §2.5 input side): unlike the
    # superstep kernels (tiny per-round state, exchange-elision is what
    # matters), triangle counting is compute-bound — the orientation and
    # O(Σdeg²) wedge phases are broadcast-join-only (narrow), so their
    # parallelism is capped by sym's partition count, and the byte-derived
    # ingest layout at small tiers is 2 partitions. One round-robin
    # exchange of the O(m) pairs buys #cores-way parallelism for the
    # whole kernel (measured 1.5 s -> 0.8 s at sf0.1). At scale sym
    # already has more partitions than cores and the repartition is
    # skipped.
    sc = sym.sparkSession.sparkContext
    if sym.rdd.getNumPartitions() < sc.defaultParallelism:
        # keep the src hash layout: the degree aggregate then still needs
        # no re-exchange (round-robin measured ~2x worse here)
        sym = sym.repartition(sc.defaultParallelism, "src")
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("src", "v")
    e = (
        sym.join(deg.alias("ds"), F.col("src") == F.col("ds.v"))
        .join(deg.alias("dd"), F.col("dst") == F.col("dd.v"))
        .filter(
            (F.col("ds.deg") < F.col("dd.deg"))
            | ((F.col("ds.deg") == F.col("dd.deg")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    # Rebound, then cached: a bare cache() over build_graph's hash-declared
    # sym misses on the self-join copies (``lineage.pin``). Materialized
    # BEFORE the wedge join is planned (r6), the cached leaf carries REAL
    # size statistics: Catalyst broadcasts it only when it is genuinely
    # under the threshold, else picks a parallel shuffled-hash join
    # (preferSortMergeJoin is off in the session defaults); the estimate
    # chose broadcast for a 1.5M-row build at 10x (9.5 s vs 3.9 s).
    e = fast_pin(e).cache()
    e.count()
    return e


def triangle_count(sym: DataFrame) -> DataFrame:
    """Exact global triangle count over the symmetrized graph → (triangles):
    a join-aggregate over ONE materialized oriented edge table
    (``_oriented``), whose three references all read its cache.
    """
    e = _oriented(sym)
    try:
        wedge = (
            e.alias("a")
            .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("x"), F.col("a.dst").alias("y"), F.col("b.dst").alias("z"))
        )
        tri = (
            wedge.join(
                e.alias("c"),
                (F.col("x") == F.col("c.src")) & (F.col("z") == F.col("c.dst")),
            )
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        # 1-row result: materialize so the oriented-edge cache can be released
        # before returning (repeated calls must not accumulate live caches).
        return tri.transform(pin)
    finally:
        e.unpersist()


# ---------------------------------------------------------------------------
# Degree analytics (reference src/basic_analytics/basic_analytics.cpp:38-73)
# ---------------------------------------------------------------------------

def degree_analytics(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """One-row summary: n, m, max/zero out-degree, max/zero in-degree.

    The reference computes these with sequential loops; here it is two
    partial-aggregated shuffles joined against the vertex universe (isolated
    vertices count as zero-degree — basic_analytics.cpp:52-63 semantics).
    """
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    vo = vertices.join(out_deg, vertices.id == out_deg.src, "left").select(
        "id", F.coalesce("d", F.lit(0)).alias("out_d")
    )
    vi = vertices.join(in_deg, vertices.id == in_deg.dst, "left").select(
        "id", F.coalesce("d", F.lit(0)).alias("in_d")
    )
    n = vertices.agg(F.count(F.lit(1)).alias("n"))
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    o = vo.agg(
        F.max("out_d").alias("max_out_deg"),
        F.sum(F.when(F.col("out_d") == 0, 1).otherwise(0)).alias("zero_out_deg"),
    )
    i = vi.agg(
        F.max("in_d").alias("max_in_deg"),
        F.sum(F.when(F.col("in_d") == 0, 1).otherwise(0)).alias("zero_in_deg"),
    )
    return n.crossJoin(m).crossJoin(o).crossJoin(i)
