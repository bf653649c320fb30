"""Two-parallelism scaling benchmark (BASELINE.json north rule).

No real cluster exists in this sandbox, so the N→4N executor scaling
criterion is evidenced by running the SAME jobs on the SAME deterministic
input at two local parallelism levels (fresh JVM per level):

    efficiency = throughput_4N / ((4N/N) * throughput_N)      target >= 0.8

Two jobs are measured:

1. ``pagerank``  — the headline metric (edges-processed/sec per superstep).
   CAVEAT recorded in BASELINE.md: this sandbox VM's JVM-side parallel
   scaling is pathological — pure-Python multiprocessing scales ~25x at 32
   procs, but JVM shuffle/aggregation wall-time is nearly core-count
   INDEPENDENT (and degrades above 8 threads; a sha2 JVM microbenchmark
   runs *slower* at 32 threads than 8). PageRank supersteps are
   shuffle-bound, so their measured efficiency reflects the substrate, not
   the plan shape (the superstep plan itself holds: no edge re-shuffle, no
   edge re-sort, map-side combine).
2. ``extract``   — pages→links→edges pipeline, whose hot path runs in
   Python worker *processes* (mapInPandas); this shows the engine scales
   when the substrate does.

Trials are repeated; the min is scored (sandbox wall-times carry spikes of
2-5x from unrelated VM noise; all trials are reported).

Usage:
    python scripts/bench_scaling.py                 # parent: runs both levels
    python scripts/bench_scaling.py --child <cores> # one measured run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

CORES = (2, 8)  # N and 4N; >8 JVM threads measured pathological on this VM
TRIALS = 4
SHUFFLE_PARTITIONS = 32  # identical at both levels: cores are the only variable

PR_N = 500_000
PR_M = 10_000_000
PR_ITERS = 3
EX_PAGES = 1_000_000


def child(cores: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from pasgal_spark.session import get_spark
    from pasgal_spark.graph import kernels
    from pasgal_spark.sources.pages import synthesize_pages
    from pasgal_spark.sources.extract import extract_links, links_to_edges

    spark = get_spark(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.driver.memory": "16g"},
    )

    # --- job 1: PageRank supersteps -------------------------------------
    rnd = spark.range(PR_M - PR_N).select(
        (F.abs(F.xxhash64("id", F.lit(1))) % PR_N).alias("src"),
        F.when(F.col("id") % 20 == 0, F.lit(0))  # 5% hub skew
        .otherwise(F.abs(F.xxhash64("id", F.lit(2))) % PR_N)
        .alias("dst"),
    )
    # spine i -> i+1 guarantees out-degree >= 1 everywhere: the dangling
    # branch (extra scan + broadcast + crossJoin per superstep) vanishes.
    spine = spark.range(PR_N).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % PR_N).alias("dst")
    )
    edges = (
        rnd.unionByName(spine)
        .filter("src <> dst")
        .repartition(SHUFFLE_PARTITIONS, "src")
        .sortWithinPartitions("src")  # SMJ reuses this ordering every superstep
        .cache()
    )
    m = edges.count()
    vertices = spark.range(PR_N).cache()
    vertices.count()
    kernels.pagerank(edges, vertices, iterations=1).count()  # warmup

    pr_walls = []
    for _ in range(TRIALS):
        t0 = time.time()
        kernels.pagerank(edges, vertices, iterations=PR_ITERS).select("id").count()
        pr_walls.append(round(time.time() - t0, 2))

    # --- job 2: extraction pipeline --------------------------------------
    pages = synthesize_pages(spark, EX_PAGES).repartition(SHUFFLE_PARTITIONS).cache()
    pages.count()
    links_to_edges(extract_links(pages)).count()  # warmup

    ex_walls = []
    for _ in range(TRIALS):
        t0 = time.time()
        n_links = links_to_edges(extract_links(pages)).count()
        ex_walls.append(round(time.time() - t0, 2))

    print(
        json.dumps(
            {
                "cores": cores,
                "pagerank": {"wall_sec": min(pr_walls), "trials": pr_walls,
                             "m": m, "iters": PR_ITERS},
                "extract": {"wall_sec": min(ex_walls), "trials": ex_walls,
                            "pages": EX_PAGES, "links": n_links},
            }
        )
    )


def parent() -> None:
    results = {}
    for cores in CORES:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cores)],
            capture_output=True,
            text=True,
            timeout=3000,
            check=True,
        )
        line = out.stdout.strip().splitlines()[-1]
        results[cores] = json.loads(line)
        print(line)

    lo, hi = CORES
    ratio = hi / lo

    def eff(job: str, work_key: str, iters: int = 1) -> dict:
        thr = {
            c: results[c][job][work_key] * iters / results[c][job]["wall_sec"]
            for c in CORES
        }
        return {
            "throughput_per_sec": {str(c): round(t, 1) for c, t in thr.items()},
            "efficiency_N_to_4N": round(thr[hi] / (ratio * thr[lo]), 3),
        }

    summary = {
        "protocol": f"same job, same input, local[{lo}] vs local[{hi}], "
        f"fresh JVM per level, min of {TRIALS} trials, "
        f"shuffle_partitions={SHUFFLE_PARTITIONS}",
        "runs": results,
        "pagerank_supersteps": eff("pagerank", "m", PR_ITERS),
        "extract_pipeline": eff("extract", "pages"),
        "target": 0.8,
        "substrate_caveat": "sandbox VM: JVM thread scaling pathological "
        "(python procs 25x @32, JVM sha2 negative); see BASELINE.md",
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALING.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
    else:
        parent()
