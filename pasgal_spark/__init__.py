"""pasgal_spark — a PySpark-native link-graph analytics engine.

A from-scratch reimplementation of the capabilities of ucrparlay/PASGAL
(reference surveyed in /root/repo/SURVEY.md) as an idiomatic Spark
DataFrame library:

- ``graph``      — iterative graph kernels (PageRank, connected components,
                   label propagation, triangle counting, BFS, SSSP) expressed
                   as DataFrame join/aggregate supersteps with a driver loop
                   (the Spark analog of PASGAL's solver classes,
                   reference: src/BFS/bfs.h:164-222 shape).
- ``sources``    — deterministic Common-Crawl-style page synthesis and the
                   vectorized (Arrow/pandas) html→links/text extractor
                   (the analog of PASGAL's graph readers, src/graph.h:226-247).
- ``functions``  — training-data pipeline operators over document/embedding
                   tables: dedup (exact / MinHash-LSH / SimHash / n-gram
                   Jaccard), similarity search, text analytics.
- ``plans``      — superstep driver loop with checkpointing, resumability and
                   per-superstep metrics/lineage records.

Design stance: DataFrame-only declarative plans; Catalyst handles pushdown,
pruning and AQE (broadcast/skew) decisions; Python never touches rows except
inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
