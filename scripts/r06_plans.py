"""Capture .explain("formatted") for every bench/declared query touched in
the r06 optimization round.

Writes plans/r06/<query>_<tag>.txt  (tag = before|after, argv[1]).

For the iterative kernels the returned DataFrame is checkpoint-truncated,
so each file carries TWO sections: the final result plan AND a
representative superstep plan (built exactly the way the kernel builds it)
— the superstep is where Exchange-count / join-strategy claims live.

Run: python scripts/r06_plans.py before [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
import contextlib

# the checkout this script lives in: its package is imported, its plans/ written
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pasgal_spark.session import get_spark  # noqa: E402
from pasgal_spark.graph import build_graph, kernels  # noqa: E402
from pasgal_spark.graph import bcc as bccmod  # noqa: E402
from pasgal_spark.graph import directed  # noqa: E402
from pasgal_spark.graph.builder import load_views  # noqa: E402
from pasgal_spark.functions import dedup, similarity  # noqa: E402
from pasgal_spark.plans.lineage import pin  # noqa: E402
from pasgal_spark.sources.extract import extract_links, links_to_edges  # noqa: E402
from pasgal_spark.sources.pages import synthesize_pages  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    outdir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="r06-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    g = build_graph(spark, sf_dir, partitions=max(cpus // 2, 8))
    g.edges.count()
    g.sym.count()

    sections: dict[str, list[tuple[str, str]]] = {}

    def add(query: str, section: str, df) -> None:
        sections.setdefault(query, []).append((section, plan_of(df)))

    # -- pagerank: result + one superstep (state join + agg + delta carry) --
    pr = kernels.pagerank(g.edges, g.vertices, tol=1e-6)
    add("pagerank_1e6", "result", pr)
    # one superstep: the kernel's own step (kernels.pagerank_step) — state
    # row rides the message-combine aggregate; dangling mass is a 1-row
    # broadcast scalar aggregate over the previous state (data-independent
    # plan, so the next superstep's compile can overlap the probe); state
    # side carries the join hint.
    state = g.vertices.select(
        "id", F.lit(1).alias("out_deg"), F.lit(1.0).alias("rank")
    ).transform(pin)
    new_state = kernels.pagerank_step(
        g.edges, state, n=2, damping=0.85, has_dangling=True
    )
    add("pagerank_1e6", "superstep", new_state)

    # -- connected_components (two-phase) -----------------------------------
    cc2 = kernels.connected_components_two_phase(g.sym, g.vertices)
    add("connected_components", "result", cc2)
    labels = g.vertices.select("id", g.vertices.id.alias("component")).transform(pin)
    msgs = g.sym.join(labels, g.sym.src == labels.id).select(
        g.sym.dst.alias("id"), "component"
    )
    new = (
        labels.unionByName(msgs)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    parent = labels.select(  # the grand-parent comes from the input labels
        F.col("id").alias("component"), F.col("component").alias("grand")
    )
    shrunk = new.join(parent, "component", "left").select(
        "id", F.least("component", "grand").alias("component")
    )
    add("connected_components", "shrink_round", shrunk)

    # -- connected_components_hashmin ---------------------------------------
    cc1 = kernels.connected_components(g.sym, g.vertices)
    add("connected_components_hashmin", "result", cc1)

    # -- label_propagation ---------------------------------------------------
    lp = kernels.label_propagation(g.sym, g.vertices, rounds=4)
    add("label_propagation", "result", lp)

    # -- triangle_count ------------------------------------------------------
    add("triangle_count", "result", kernels.triangle_count(g.sym))

    # -- bfs -----------------------------------------------------------------
    bfs = kernels.bfs(g.sym, 0, max_depth=30, vertices=g.vertices)
    add("bfs", "result", bfs)

    # -- extract pipeline ----------------------------------------------------
    pages = synthesize_pages(spark, 50_000)
    add(
        "extract_pipeline_50k_pages",
        "result",
        links_to_edges(extract_links(pages)),
    )

    # -- bcc_summary_euler ---------------------------------------------------
    sparse_sym = pin(
        g.sym.filter("(least(src, dst) * 31 + greatest(src, dst) * 17) % 8 = 0")
    )
    add(
        "bcc_summary_euler",
        "result",
        bccmod.bcc_summary(sparse_sym, g.vertices, strategy="euler"),
    )

    # -- dedup / similarity --------------------------------------------------
    load_views(spark, sf_dir, ["documents", "embeddings"])
    c = dedup.corpus(spark, sf_dir)
    add("minhash_lsh_jaccard", "result", dedup.near_dup_pipeline(c))
    emb = spark.table("embeddings")
    add("cosine_topk", "result", similarity.cosine_topk(emb))
    add("bucketed_ann", "result", similarity.bucketed_ann(emb))

    # -- declared-only iterative kernels (not benched, still optimized) -----
    add("sssp", "result", kernels.sssp(g.wedges, 0, cap=40))
    add(
        "sssp_delta_stepping",
        "result",
        kernels.sssp_delta_stepping(g.wedges, 0, delta=8, cap=40),
    )
    add(
        "sssp_rho_stepping",
        "result",
        kernels.sssp_rho_stepping(g.wedges, 0, rho=256, cap=40),
    )
    add("reachability", "result", directed.reachability(g.edges, source=0))
    add("scc", "result", directed.scc(g.edges, g.vertices))

    for query, secs in sections.items():
        path = os.path.join(outdir, f"{query}_{tag}.txt")
        with open(path, "w") as f:
            for name, plan in secs:
                f.write(f"{'=' * 70}\n== {query} :: {name} ({tag})\n{'=' * 70}\n")
                f.write(plan)
                f.write("\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
