"""Scale-tier correctness gate for the iterative kernels (VERDICT r3 #1).

At sf1 (1.5M-order graph) the DuckDB *recursive* oracles are intractable
(the reach/common-cycle CTEs materialize O(n*m) rows), so the iterative
kernels are checked the way the reference checks its own scale runs —
cross-implementation differentials between algorithmically independent
paths that must agree exactly:

- connected components: hash-min propagation vs two-phase shrink+UF
  (identical canonical min-id labelings);
- PageRank: DataFrame kernel vs a NumPy power iteration over the
  collected edges (allclose 1e-9 per vertex) + probability-mass invariant;
- BCC: Euler-tour FAST-BCC vs Tarjan-Vishkin — two assemblies, one
  canonical per-edge partition;
- BFS vs SSSP with unit weights (dist equality on the reach set).

Non-recursive SQL oracles (dedup/similarity/text/degree/triangles) run
at sf1 through scripts/validate_oracles.py — see BASELINE.md r4.

Usage: python scripts/consistency_sf1.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pasgal_spark.session import get_spark  # noqa: E402
from pasgal_spark.graph import build_graph, kernels  # noqa: E402
from pasgal_spark.graph import bcc as bccmod  # noqa: E402
from pasgal_spark.plans.lineage import pin  # noqa: E402

SPARSE_FILTER = "(least(src, dst) * 31 + greatest(src, dst) * 17) % 8 = 0"


def pagerank_numpy(ids: np.ndarray, src: np.ndarray, dst: np.ndarray,
                   iterations: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration with dangling-mass redistribution, the formula of
    ``kernels.pagerank_step``; ``ids`` sorted, ``src``/``dst`` edge
    endpoints (all in ``ids``). Returns ranks aligned with ``ids``."""
    n = len(ids)
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    if not ((ids[s] == src).all() and (ids[d] == dst).all()):
        raise ValueError("edge endpoint outside the vertex set")
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return rank


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.data/sf1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="consistency-sf1", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    g = build_graph(spark, sf_dir, partitions=max(cpus // 2, 8))
    n, m = g.vertices.count(), g.edges.count()
    print(f"graph: n={n} m={m} sym={g.sym.count()}")
    failures = []

    def check(name, ok, detail=""):
        print(f"{'OK  ' if ok else 'FAIL'} {name} {detail}")
        if not ok:
            failures.append(name)

    # -- CC: two independent implementations must agree exactly ------------
    t0 = time.time()
    cc_a = kernels.connected_components(g.sym, g.vertices).transform(pin)
    cc_b = kernels.connected_components_two_phase(g.sym, g.vertices).transform(pin)
    diff = (
        cc_a.withColumnRenamed("component", "a")
        .join(cc_b.withColumnRenamed("component", "b"), "id")
        .filter("a <> b").count()
    )
    check("cc_hashmin_vs_two_phase", diff == 0,
          f"mismatches={diff} wall={time.time()-t0:.1f}s")

    # -- PageRank: DataFrame kernel vs NumPy power iteration + mass --------
    t0 = time.time()
    pr_df = kernels.pagerank(g.edges, g.vertices, iterations=10).transform(pin)
    mass = pr_df.agg(F.sum("rank")).first()[0]
    check("pagerank_mass", abs(mass - 1.0) < 1e-6, f"sum={mass:.9f}")
    ids = np.sort(g.vertices.select("id").toPandas()["id"].to_numpy(np.int64))
    ep = g.edges.select("src", "dst").toPandas()
    want = pagerank_numpy(
        ids, ep["src"].to_numpy(np.int64), ep["dst"].to_numpy(np.int64), 10
    )
    got = pr_df.toPandas()
    rows_ok = len(got) == len(ids)
    md = np.abs(
        got["rank"].to_numpy() - want[np.searchsorted(ids, got["id"].to_numpy())]
    ).max()
    check("pagerank_df_vs_numpy", rows_ok and md < 1e-9,
          f"rows={len(got)}/{len(ids)} max|delta|={md:.2e} "
          f"wall={time.time()-t0:.1f}s")

    # -- BFS vs unit-weight SSSP -------------------------------------------
    t0 = time.time()
    bfs = kernels.bfs(g.sym, 0, max_depth=30, vertices=g.vertices)
    unit = g.sym.withColumn("w", F.lit(1).cast("long"))
    ss = kernels.sssp(unit, source=0, cap=30)
    diff = (
        bfs.join(ss.withColumnRenamed("dist", "sdist"), "id")
        .filter(F.col("dist").cast("long") != F.col("sdist")).count()
    )
    cnt_b, cnt_s = bfs.count(), ss.count()
    check("bfs_vs_unit_sssp", diff == 0 and cnt_b == cnt_s,
          f"mismatches={diff} rows={cnt_b}/{cnt_s} wall={time.time()-t0:.1f}s")

    # -- BCC: two assemblies, one canonical partition ----------------------
    t0 = time.time()
    sparse = pin(g.sym.filter(SPARSE_FILTER))
    cc = kernels.connected_components_two_phase(sparse, g.vertices).transform(pin)
    eul = bccmod.bcc_edges_canonical(sparse, g.vertices, cc=cc).transform(pin)
    tv = bccmod.canonicalize_edge_labels(
        bccmod.tarjan_vishkin_bcc_edges(sparse, g.vertices, cc=cc)
    ).transform(pin)
    diff = eul.withColumnRenamed("bcc", "a").join(
        tv.withColumnRenamed("bcc", "b"), ["src", "dst"]
    ).filter("a <> b").count()
    rows = (eul.count(), tv.count())
    check("bcc_euler_vs_tv", diff == 0 and rows[0] == rows[1],
          f"mismatches={diff} rows={rows} wall={time.time()-t0:.1f}s")

    print("FAILURES:", ", ".join(failures) if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
