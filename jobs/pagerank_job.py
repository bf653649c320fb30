"""spark-submit entrypoint: resumable PageRank over an edge parquet.

Cluster usage (north_rule: spark-submit --py-files on multi-executor
clusters; locally the same command runs under local[N]):

    zip -r engine.zip pasgal_spark
    spark-submit --py-files engine.zip jobs/pagerank_job.py \
        --edges  /data/edges_parquet \
        --output /data/ranks_parquet \
        --workdir /data/pr_checkpoints \
        [--tol 1e-6] [--damping 0.85] [--partitions 512]

The job runs ``CheckpointedPageRank``, i.e. the in-memory kernel's own
superstep (``kernels.pagerank_step``: one exchange per superstep) with a
parquet checkpoint every few supersteps. Re-running with the same
--workdir resumes from the latest checkpoint manifest. Per-superstep
metrics land in <workdir>/metrics.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pasgal_spark.plans import CheckpointedPageRank


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", required=True, help="parquet dir with (src,dst)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pasgal-pagerank").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

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
    pr = CheckpointedPageRank(
        spark, edges, vertices, args.workdir, damping=args.damping
    )
    ranks = pr.run(tol=args.tol)
    ranks.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}; metrics at {args.workdir}/metrics")


if __name__ == "__main__":
    main()
