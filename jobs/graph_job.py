"""spark-submit entrypoint: CC / label propagation / triangle count.

Completes the cluster-job surface across the north rule's kernel suite
(PageRank has its own entrypoint, jobs/pagerank_job.py). Cluster usage:

    zip -r engine.zip pasgal_spark
    spark-submit --py-files engine.zip jobs/graph_job.py \
        --kernel cc|lpa|triangle \
        --edges  /data/edges_parquet \
        --output /data/result_parquet \
        --workdir /data/checkpoints \
        [--rounds 5] [--partitions 512]

The edge parquet holds directed (src, dst); the job symmetrizes for the
undirected kernels. ``cc`` and ``lpa`` run through the resumable
checkpointed drivers, which run the in-memory kernels' own superstep
(``kernels.min_label_step``; with pointer jumping for ``cc``) and
checkpoint every round — re-running with the same --workdir resumes from
the latest manifest, and per-superstep lineage + convergence metrics land
in <workdir>/metrics. ``triangle`` is one-shot (no state to checkpoint).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kernel", required=True, choices=["cc", "lpa", "triangle"])
    ap.add_argument("--edges", required=True, help="parquet dir with (src,dst)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--workdir", help="checkpoint dir (cc/lpa; required there)")
    ap.add_argument("--rounds", type=int, default=5, help="lpa rounds / cc shrink rounds")
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()
    if args.kernel in ("cc", "lpa") and not args.workdir:
        ap.error("--workdir is required for cc/lpa (resumable checkpoints)")

    spark = SparkSession.builder.appName(f"pasgal-{args.kernel}").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from pasgal_spark.graph.builder import symmetrize

    edges = (
        spark.read.parquet(args.edges)
        .select("src", "dst")
        .repartition(args.partitions, "src")
        .sortWithinPartitions("src")
        .cache()
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .cache()
    )
    sym = symmetrize(edges).repartition(args.partitions, "src").cache()

    if args.kernel == "cc":
        from pasgal_spark.plans import CheckpointedConnectedComponents

        result = CheckpointedConnectedComponents(
            spark, sym, vertices, args.workdir, shrink_rounds=args.rounds
        ).run()
    elif args.kernel == "lpa":
        from pasgal_spark.plans import CheckpointedLabelPropagation

        result = CheckpointedLabelPropagation(
            spark, sym, vertices, args.workdir, rounds=args.rounds
        ).run()
    else:
        from pasgal_spark.graph.kernels import triangle_count

        result = triangle_count(sym)

    result.write.mode("overwrite").parquet(args.output)
    where = f"; metrics at {args.workdir}/metrics" if args.workdir else ""
    print(f"wrote {args.output}{where}")


if __name__ == "__main__":
    main()
