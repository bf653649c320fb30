"""Physical-plan inspection: evidence that Catalyst does what we claim.

Prints `.explain("formatted")` for load-bearing plans and greps the
markers that matter at 100 TB:

- parquet scans show PushedFilters + pruned ReadSchema (predicate pushdown
  + column pruning reach the scan);
- the PageRank superstep shows no Exchange above the edge cache (the big
  relation is never re-shuffled) and WholeStageCodegen spans around the
  join/agg;
- the extractor pipeline shows ArrowEvalPython/MapInPandas only at the
  extraction step, with everything else JVM-side.

Run: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
import contextlib

# import the package of the checkout this script lives in, on the driver
# and (through spark.executorEnv.PYTHONPATH) in the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pasgal_spark.session import get_spark  # noqa: E402
from pasgal_spark.graph import build_graph, kernels  # noqa: E402
from pasgal_spark.graph.builder import load_views  # noqa: E402
from pasgal_spark.plans.lineage import fast_pin  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _edge_side_unshuffled(plan: str) -> bool:
    """True iff no Exchange carries the edge table (r6 criterion).

    The ingest tables are partitioning-preserving LogicalRDD leaves
    (builder.build_graph), so a correct superstep plan moves ONLY the
    per-vertex state: every Exchange carries state columns, never the
    (src, dst) edge pair. The formatted plan prints each Exchange's
    Input/Output column list — an exchange whose columns include both a
    src# and a dst# attribute means the edge side was re-shuffled (the
    pre-r6 failure mode this gate exists to catch). A per-superstep
    BroadcastExchange of the edge relation is equally a re-move of the
    O(m) side, so it fails too.
    """
    if "Scan ExistingRDD" not in plan:
        return False
    for seg in plan.split("\n\n"):
        first = seg.splitlines()[0] if seg.splitlines() else ""
        if "Exchange" not in first:
            continue
        if "src#" in seg and "dst#" in seg:
            return False
    return True


def _single_partition_exchange(plan: str) -> bool:
    """True iff some Exchange (main plan or subquery) gathers into one
    partition: the formatted plan prints the partitioning among the
    Exchange's Arguments."""
    return any(
        "Exchange" in seg.splitlines()[0] and "SinglePartition" in seg
        for seg in plan.split("\n\n")
        if seg.strip()
    )


def _sssp_step(kernel, wedges, **kw):
    """The superstep ``kernel`` (an SSSP function) builds over ``wedges``,
    captured by swapping its probe loop for one that hands back the step
    unrun."""
    built = {}

    def capture(chain, step, state, **_):
        built["step"] = step
        return state, True

    loop, kernels._iterate = kernels._iterate, capture
    try:
        kernel(wedges, 0, **kw)
    finally:
        kernels._iterate = loop
    return built["step"]


def _tree(plan: str) -> list[str]:
    """The lines of the formatted plan's operator tree (its first block)."""
    return plan.split("\n\n")[0].splitlines()


def _count(tree: list[str], marker: str) -> int:
    return sum(marker in line for line in tree)


def _raw_scans(tree: list[str]) -> int:
    """Leaf scans NOT under an InMemoryRelation: a cached relation prints
    its own plan beneath it, so only a scan whose parent line is not the
    InMemoryRelation reads (and recomputes from) the raw leaf."""
    return sum(
        "Scan ExistingRDD" in line and "InMemoryRelation" not in parent
        for parent, line in zip(tree, tree[1:])
    )


def check(
    name: str,
    plan: str,
    must: list[str],
    must_not: list[str],
    holds: dict[str, bool] | None = None,
) -> None:
    print(f"== {name} ==")
    ok = True
    for m in must:
        hit = m in plan
        ok &= hit
        print(f"  [{'x' if hit else ' '}] contains {m!r}")
    for m in must_not:
        hit = m not in plan
        ok &= hit
        print(f"  [{'x' if hit else ' '}] free of {m!r}")
    for m, hit in (holds or {}).items():
        ok &= hit
        print(f"  [{'x' if hit else ' '}] {m}")
    print("  PASS" if ok else "  FAIL")
    if not ok:
        print(plan[:4000])


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.executorEnv.PYTHONPATH": ROOT},
    )

    # 1. pushdown + pruning on a parquet scan
    load_views(spark, sf, ["orders"])
    q = spark.table("orders").filter("o_orderkey % 2 = 0").filter(
        "o_custkey > 100"
    ).select("o_custkey")
    p = plan_of(q)
    check(
        "parquet scan pushdown/pruning",
        p,
        must=["GreaterThan(o_custkey,100",
              "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"],
        must_not=["o_totalprice"],
    )

    # 2. PageRank superstep: edges cached + pre-partitioned; state joins in
    g = build_graph(spark, sf, partitions=8)
    g.edges.count()
    from pyspark.sql import functions as FF

    state = g.vertices.select("id", F.lit(1.0).alias("rank"))
    superstep = (
        g.edges.join(state, g.edges.src == state.id)
        .groupBy(g.edges.dst)
        .agg(FF.sum("rank").alias("contrib"))
    )
    p = plan_of(superstep)
    check(
        "pagerank superstep",
        p,
        # (codegen ids only print on executed plans; an un-executed AQE
        # explain never shows them — the join/agg shape is the signal)
        must=["Scan ExistingRDD", "HashAggregate", "Join"],
        must_not=[],
    )
    print(f"  [{'x' if _edge_side_unshuffled(p) else ' '}] cached edge side not re-exchanged")

    # 3. exact_dedup: the text column must be reduced to its digest at the
    #    scan — no Exchange may carry the payload (What's-wrong #1, r1).
    from pasgal_spark.functions.dedup import corpus, exact_dedup

    dd = exact_dedup(corpus(spark, sf))
    p = plan_of(dd)
    # Exchange rows carry only (doc_id, h): assert no exchange input lists
    # the text attribute. The formatted plan prints each Exchange's child
    # output — grep the Exchange sections for "text".
    exchanges = [
        seg for seg in p.split("\n\n") if "Exchange" in seg
    ]
    text_in_exchange = any("text#" in seg for seg in exchanges)
    check(
        "exact_dedup shuffles digest, not payload",
        p,
        must=["hashpartitioning(h#", "HashAggregate"],
        must_not=["Window", "Sort [text"],
    )
    print(f"  [{'x' if not text_in_exchange else ' '}] no Exchange carries text")
    if text_in_exchange:
        print("  FAIL (text column in an exchange)")

    # 3b. two-phase CC shrink superstep: the (cached, pre-partitioned) edge
    #     side must not re-Exchange — only the small label state moves
    #     (same no-re-shuffle property as the PageRank superstep).
    g.sym.count()
    labels = g.vertices.select("id", g.vertices.id.alias("component"))
    shrink = (
        g.sym.join(labels, g.sym.src == labels.id)
        .select(g.sym.dst.alias("id"), "component")
        .unionByName(labels)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    p = plan_of(shrink)
    check(
        "two-phase CC shrink superstep",
        p,
        must=["Scan ExistingRDD", "HashAggregate"],
        must_not=[],
    )
    print(f"  [{'x' if _edge_side_unshuffled(p) else ' '}] cached edge side not re-exchanged")
    if not _edge_side_unshuffled(p):
        print("  FAIL (Exchange between the join and the edge cache scan)")
        print(p[:2500])

    # 3c. SSSP relax superstep over the weighted view, built by
    #     kernels.sssp itself over a generation leaf (rebound and cached,
    #     as _StateChain.advance makes it): wedges is a projection of the
    #     pinned sym leaf, and must keep its declared src layout so the
    #     relax join reads the edge side unshuffled.
    wtype = dict(g.wedges.dtypes)["w"]
    sgen = fast_pin(
        g.vertices.select(
            "id", F.lit(0).cast(wtype).alias("dist"), F.lit(None).cast(wtype).alias("rat")
        )
    ).cache()
    sgen.count()
    p = plan_of(_sssp_step(kernels.sssp, g.wedges)(sgen))
    check(
        "sssp relax superstep over projected wedges",
        p,
        must=["Scan ExistingRDD", "HashAggregate"],
        must_not=[],
        holds={"cached edge side not re-exchanged": _edge_side_unshuffled(p)},
    )

    # 3d. pointer-jump min-label superstep over a generation leaf (rebound
    #     and cached, as _StateChain.advance makes it): the grand-parent is
    #     read from that generation, so the message join, union and
    #     aggregate appear once. Reading it from the round's own result
    #     planned them twice, over two copies of sym that share no
    #     exchange.
    gen = fast_pin(labels.withColumn("old", F.lit(None).cast("long"))).cache()
    gen.count()
    step = kernels.min_label_step(
        g.sym, gen, gen.filter(kernels._changed("component")), "component",
        pointer_jump=True,
    )
    p = plan_of(step)
    t = _tree(p)
    check(
        "pointer-jump min-label superstep",
        p,
        must=[],
        must_not=[],
        holds={
            "exactly one Union": _count(t, "Union") == 1,
            "exactly one message join": _count(t, "Join Inner") == 1,
        },
    )
    gen.unpersist()

    # 3e. triangle wedge + closing joins, built as triangle_count builds
    #     them over the oriented table kernels._oriented hands out: all
    #     three references must read its cache. A bare cache() of the
    #     orientation over the hash-declared sym leaf was read by one and
    #     recomputed (sort-merge joins over raw sym scans) by the others.
    e = kernels._oriented(g.sym)
    wedge = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("x"), F.col("a.dst").alias("y"), F.col("b.dst").alias("z"))
    )
    tri = wedge.join(
        e.alias("c"), (F.col("x") == F.col("c.src")) & (F.col("z") == F.col("c.dst"))
    ).agg(F.count(F.lit(1)).alias("triangles"))
    p = plan_of(tri)
    t = _tree(p)
    check(
        "triangle joins over the rebound oriented table",
        p,
        must=[],
        must_not=["SortMergeJoin"],
        holds={
            "three InMemoryTableScan reads": _count(t, "InMemoryTableScan") == 3,
            "no raw sym scan": _raw_scans(t) == 0,
        },
    )
    e.unpersist()

    # 3f. BFS level 1, built by kernels.bfs itself (its frontier loop is
    #     swapped for one that hands back the seed and level builder): the
    #     driver-made seed must be a LocalRelation, read as LocalTableScan.
    #     A seed over Python rows is a raw Scan ExistingRDD that Python
    #     workers recompute at every level until the next pin.
    built = {}

    def capture(seed, build, **_):
        built.update(seed=seed, build=build)
        return seed

    loop, kernels._frontier_loop = kernels._frontier_loop, capture
    try:
        kernels.bfs(g.sym, 0)
    finally:
        kernels._frontier_loop = loop
    p = plan_of(built["build"](1, built["seed"], built["seed"]))
    t = _tree(p)
    check(
        "bfs level-1 push over a LocalRelation seed",
        p,
        must=["LocalTableScan"],
        must_not=[],
        holds={"no raw Scan ExistingRDD": _raw_scans(t) == 0},
    )

    # 3g. rho-stepping superstep, built by kernels.sssp_rho_stepping over
    #     the same leaf: its threshold (the rho-th smallest unsettled
    #     distance) is a scalar subquery planned into the step — a top-k
    #     TakeOrdered over the generation, not a single-partition
    #     aggregate exchange — and the relax join still reads the edge
    #     side unshuffled.
    p = plan_of(_sssp_step(kernels.sssp_rho_stepping, g.wedges, rho=256)(sgen))
    check(
        "rho-stepping superstep with its threshold as a subquery",
        p,
        must=["TakeOrderedAndProject"],
        must_not=[],
        holds={
            "cached edge side not re-exchanged": _edge_side_unshuffled(p),
            "threshold planned as a subquery": "Subquery:" in p,
            "no Exchange SinglePartition": not _single_partition_exchange(p),
        },
    )
    sgen.unpersist()

    # 4. extractor: Python only at the extraction boundary
    from pasgal_spark.sources.pages import pages_from_documents
    from pasgal_spark.sources.extract import extract_links, links_to_edges

    edges = links_to_edges(extract_links(pages_from_documents(spark, sf)))
    p = plan_of(edges)
    check(
        "extractor pipeline",
        p,
        must=["MapInPandas", "HashAggregate"],
        must_not=["BatchEvalPython"],  # no row-at-a-time Python UDFs
    )

    # 5. ANN kernels (r4 vectorization): Arrow-batched NumPy kernels only —
    #    hyperplane bucketing is one MapInPandas pass; bucketed ANN is one
    #    shuffle on the bucket key into a grouped-map kernel. No
    #    row-at-a-time Python anywhere.
    from pasgal_spark.functions.similarity import bucketed_ann, hyperplane_buckets

    load_views(spark, sf, ["embeddings"])
    emb = spark.table("embeddings")
    p = plan_of(hyperplane_buckets(emb))
    check(
        "hyperplane buckets (vectorized)",
        p,
        must=["MapInPandas"],
        must_not=["BatchEvalPython", "Exchange ("],  # single scan, no shuffle
    )
    p = plan_of(bucketed_ann(emb))
    check(
        "bucketed ANN (grouped-map kernel)",
        p,
        must=["FlatMapGroupsInPandas"],
        must_not=["BatchEvalPython", "CartesianProduct"],
    )

    # 6. cosine_topk's brute-force path is only scale-safe because Spark
    #    inserts WindowGroupLimit BELOW the shuffle (partial top-k per map
    #    partition — without it, every scored candidate row would sort in
    #    one window per query). Pin it so a filter-shape change can't
    #    silently revert to a full per-query sort (VERDICT r4 next #5).
    from pasgal_spark.functions.similarity import cosine_topk

    p = plan_of(cosine_topk(emb))
    check(
        "cosine top-k (partial window group limit, vectorized scoring)",
        p,
        # MapInPandas: the r5 scoring kernel (the old interpreted-HOF path
        # cost ~0.9 ms/row × 3 folds per candidate)
        must=["WindowGroupLimit", "BroadcastNestedLoopJoin", "MapInPandas"],
        must_not=["BatchEvalPython", "CartesianProduct"],
    )


if __name__ == "__main__":
    main()
