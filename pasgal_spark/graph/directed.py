"""Directed-graph kernels: reachability, multi-source reachability, SCC.

Completes the reference's four-kernel suite (BFS/SSSP live in
``kernels``; BCC is documented out-of-scope in SURVEY.md §2D):

- ``reachability``       — boolean BFS over out-edges (reference
                           src/SCC/reach.h:16-130, minus distances): the
                           push levels of ``kernels.bfs`` on the same
                           frontier loop, ``kernels._frontier_loop``.
- ``multi_reachability`` — label-set propagation: a frontier of
                           (vertex, source_label) pairs, deduped per
                           superstep; the reference's concurrent hash table
                           (src/SCC/multi_reach.h:21-139) *is* Spark's
                           shuffle dedup.
- ``scc``                — trim, giant-first forward/backward reach, then
                           exponential multi-source batches: the
                           deterministic DataFrame rendition of the
                           reference's SCC (src/SCC/scc.h:17-203). Each
                           batch claims fwd_reach(s) ∩ bwd_reach(s) for
                           every source s at once; settled vertices leave
                           the working set (the reference's ``trim`` +
                           settled-bit idiom, src/SCC/scc.h:26-27,39-49).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pasgal_spark.graph.kernels import _frontier_loop, _push_level
from pasgal_spark.plans.lineage import local_relation, pin


def _reach(
    edges: DataFrame, seed: DataFrame, who: str, max_iterations: int, hinted: bool
) -> DataFrame:
    """Closure of ``seed`` over ``edges``: push levels keyed on the seed's
    columns, on ``kernels._frontier_loop``. Level ``max_iterations + 1``
    is the budget probe: empty (the frontier died exactly at the budget)
    succeeds, live raises (ADVICE r3)."""

    def on_level(d: int, size: int) -> None:
        if d > max_iterations and size:
            raise RuntimeError(
                f"{who}: frontier still live after {max_iterations} "
                "supersteps; raise max_iterations (long-diameter graph)"
            )

    return _frontier_loop(
        seed,
        lambda _, frontier, visited: _push_level(
            edges, frontier, visited, seed.columns, hinted
        ),
        levels=max_iterations + 1,
        on_level=on_level,
    )


def reachability(
    edges: DataFrame, source: int = 0, *, max_iterations: int = 100,
    hinted: bool = True,
) -> DataFrame:
    """(id) reachable from ``source`` over directed edges (incl. source).

    Raises if the superstep budget is exhausted with a live frontier —
    a silently truncated reach set would make callers (``scc``) settle
    wrong components; same raise-don't-truncate policy as ``scc``'s
    round budget. ``hinted``: see ``kernels._push_level``.
    """
    seed = local_relation(edges.sparkSession, "id long", [source])
    return _reach(edges, seed, "reachability", max_iterations, hinted)


def multi_reachability(
    edges: DataFrame, sources: list[int], *, max_iterations: int = 100,
    hinted: bool = True,
) -> DataFrame:
    """(id, source): which of ``sources`` reaches each vertex.

    Propagates (vertex, label) pairs; `distinct()` per superstep is the
    shuffle-native replacement for the reference's resizable concurrent
    multimap (src/SCC/resizable_table.h:40-173). Same budget rule as
    ``reachability``.
    """
    seed = local_relation(edges.sparkSession, "id long, source long", sources, sources)
    return _reach(edges, seed, "multi_reachability", max_iterations, hinted)


def scc(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    trim_iterations: int = 10,
    batch0: int = 4,
    growth: float = 1.5,
    max_rounds: int = 64,
    on_round: Callable[[str, int], None] | None = None,
) -> DataFrame:
    """(id, scc): strongly connected components, scc = min member id.

    The reference's scalable SCC strategy (src/SCC/scc.h:78-103):

    1. **Trim** (scc.h:39-49): vertices with zero in- or out-degree within
       the working graph are singleton SCCs — settle them in bulk,
       iterated to a (capped) fixpoint.
    2. **Giant-first** (scc.h:50-77): one forward + one backward
       reachability from a deterministically-picked high-degree source;
       the intersection is that source's SCC — on web graphs the giant
       one — settled in two BFS passes.
    3. **Exponential multi-source batches** (scc.h:100-103): remaining
       vertices in deterministic hash order, batch sizes growing by
       ``growth``; per batch, SCC(s) = fwd_reach(s) ∩ bwd_reach(s) for
       every source s at once (multi-reachability), so a chain of k
       trivial/small SCCs settles in O(log k) batch rounds instead of the
       O(k) phases of min-label coloring.

    Raises if the round budget is exhausted with vertices unsettled
    (every batch settles at least its sources, so this bounds runaways
    rather than silently returning a partial result).
    """
    spark = edges.sparkSession
    work_vertices = vertices.select("id").transform(pin)
    work_edges = edges.transform(pin)
    settled_parts: list[DataFrame] = []

    def shrink(newly: DataFrame) -> None:
        nonlocal work_vertices, work_edges
        work_vertices = work_vertices.join(newly, "id", "left_anti").transform(pin)
        work_edges = (
            work_edges.join(newly.select(F.col("id").alias("src")), "src", "left_anti")
            .join(newly.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .transform(pin)
        )

    # -- 1. trim ----------------------------------------------------------
    for t in range(trim_iterations):
        outs = work_edges.select(F.col("src").alias("id")).distinct()
        ins = work_edges.select(F.col("dst").alias("id")).distinct()
        trivial = (
            work_vertices.join(outs, "id", "left_anti")
            .unionByName(work_vertices.join(ins, "id", "left_anti"))
            .distinct()
            .transform(pin)
        )
        if trivial.isEmpty():
            break
        settled_parts.append(trivial.select("id", F.col("id").alias("scc")))
        shrink(trivial)
        if on_round:
            on_round("trim", t)

    # -- 2. giant-first -----------------------------------------------------
    if not work_vertices.isEmpty():
        od = work_edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        idg = work_edges.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
        pick = (
            work_vertices.join(od, work_vertices.id == od.src, "left")
            .join(idg, work_vertices.id == idg.dst, "left")
            .select(
                "id",
                (F.coalesce("od", F.lit(0)) * F.coalesce("idg", F.lit(0))).alias("dp"),
            )
            .orderBy(F.desc("dp"), F.asc("id"))
            .first()
        )
        source = pick["id"]
        fwd = reachability(work_edges, source, hinted=False)
        bwd = reachability(
            work_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            source,
            hinted=False,
        )
        giant = fwd.join(bwd, "id").transform(pin)
        lbl = giant.agg(F.min("id")).first()[0]
        settled_parts.append(giant.select("id", F.lit(lbl).cast("long").alias("scc")))
        shrink(giant)
        if on_round:
            on_round("giant", 0)

    # -- 3. exponential multi-source batches --------------------------------
    batch = batch0
    rounds = 0
    while not work_vertices.isEmpty():
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"scc: round budget ({max_rounds}) exhausted with "
                f"{work_vertices.count()} vertices unsettled"
            )
        srcs = [
            r["id"]
            for r in work_vertices.orderBy(
                F.abs(F.xxhash64("id")), F.asc("id")
            ).limit(batch).collect()
        ]
        fwd = multi_reachability(work_edges, srcs, hinted=False)
        bwd = multi_reachability(
            work_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            srcs,
            hinted=False,
        )
        members = fwd.join(bwd, ["id", "source"])
        lbls = members.groupBy("source").agg(F.min("id").alias("scc"))
        newly = (
            members.join(lbls, "source").select("id", "scc").distinct()
        ).transform(pin)
        settled_parts.append(newly)
        shrink(newly)
        if on_round:
            on_round("batch", rounds)
        batch = min(int(batch * growth) + 1, 4096)

    if not settled_parts:
        return local_relation(spark, "id long, scc long", [], [])
    out = settled_parts[0]
    for df in settled_parts[1:]:
        out = out.unionByName(df)
    return out.select("id", "scc")


def spanning_forest(sym: DataFrame, vertices: DataFrame, cc: DataFrame) -> DataFrame:
    """(child, parent, component): a spanning forest of the symmetric graph.

    Diameter-safe (VERDICT r3 #3 — this was the last O(diameter) kernel):
    the forest edge set comes from Borůvka contraction (<= log2(n) rounds,
    ``euler.boruvka_forest_cc``) and the root-ward orientation from the Euler
    machinery's entering-arc tags (``euler.euler_tags``: parent(v) = tail
    of v's minimum entering arc — a tree neighbor, deterministic), so the
    superstep count is O(log n) at any diameter. Same output contract as
    the reference's spanning forest (src/BCC/spanning_forest.h:5-60) with
    deterministic parents instead of CAS races: per component, size-1
    edges rooted at the canonical min-id root.
    """
    from pasgal_spark.graph.euler import boruvka_forest_cc, euler_tags

    forest, _ = boruvka_forest_cc(sym, vertices)
    tags = euler_tags(forest, cc)
    return (
        tags.filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("child"), "parent", "component")
    )
