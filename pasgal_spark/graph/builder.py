"""Canonical link-graph derivation + graph transform operators.

The engine's unit of data is an **edge DataFrame** ``(src: long, dst: long)``
— the Spark translation of the reference's CSR ``Graph`` abstraction
(reference: src/graph.h:53-69). The CSR offsets/edges arrays become a
partitioned relation; the transpose (src/graph.h:84-110 ``make_inverse``)
becomes a column swap + re-shuffle; symmetrization (src/graph.h:476-504)
becomes union+distinct.

``build_graph`` reads its input once, as the reference symmetrizes the edge
arrays it already holds and computes weights from the ids
(src/graph.h:309-327). ``edges`` (from ``GRAPH_CTE``) is hash-partitioned by
``src`` and pinned; ``sym`` is ``distinct(edges ∪ transpose(edges))`` over
that pinned leaf, with one exchange into the same ``src`` layout; ``wedges``
is a narrow projection adding ``w`` over the ``sym`` leaf, neither pinned nor
cached. Only ``vertices`` runs a second, customer-only query.

For the driver's correctness harness the graph is *derived* from the
driver-provided TPC-H-ish tables by deterministic, portable SQL
(``GRAPH_CTE``) that runs identically under Spark SQL and DuckDB — the same
determinism-by-hashing idiom the reference uses for synthetic graphs
(src/graph.h:397-433: edges from ``hash32(i)``, no RNG state). A guaranteed
hub vertex 0 (every 17th order links to it) is the skew fixture, mirroring
FIXTURES.md F2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Portable SQL (Spark SQL ∩ DuckDB) defining the canonical graph.  Vertex
# universe = customer ids shifted to 0..n-1 (dense ints, like the reference's
# NodeId space).  Directed edges: each order links its customer to a
# hash-derived target; every 17th order also links to hub vertex 0
# (the power-law/skew regression fixture).  `sym` is the symmetrized view
# used by the undirected kernels (CC / LP / triangles), `wedges` adds
# deterministic weights w(u,v) = (31u+17v) mod 8 + 1 — the reference's
# hash-weight idiom (src/graph.h:309-327).
GRAPH_CTE = """
graph_params AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM customer
),
edges_raw AS (
  SELECT CAST(o_custkey % (SELECT n FROM graph_params) AS BIGINT) AS src,
         CAST((o_orderkey * 2654435761 + 7) % (SELECT n FROM graph_params) AS BIGINT) AS dst
  FROM orders
  UNION ALL
  SELECT CAST(o_custkey % (SELECT n FROM graph_params) AS BIGINT) AS src,
         CAST(0 AS BIGINT) AS dst
  FROM orders
  WHERE o_orderkey % 17 = 0
),
edges AS (
  SELECT DISTINCT src, dst FROM edges_raw WHERE src <> dst
),
vertices AS (
  SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
wedges AS (
  SELECT src, dst, CAST((src * 31 + dst * 17) % 8 + 1 AS BIGINT) AS w FROM sym
)
"""


def load_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> None:
    """Register driver-provided parquet tables as temp views (only the ones
    requested — each registration costs a schema-read job)."""
    for name in tables or TPCH_TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


@dataclass
class LinkGraph:
    """Edge-table graph handle: directed edges, symmetrized view, vertices.

    ``edges`` is repartitioned by ``src`` (the analog of CSR row grouping:
    all out-edges of a vertex co-located) so iterative kernels join the
    per-vertex state against a stable partitioning and only the small state
    side moves each superstep.
    """

    edges: DataFrame       # (src, dst) directed, deduped, no self-loops
    sym: DataFrame         # symmetrized, deduped
    vertices: DataFrame    # (id) full vertex universe incl. isolated vertices
    wedges: DataFrame      # (src, dst, w) weighted symmetric edges

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession


# Ingest partition sizing: ~bytes of source parquet per cached edge
# partition. The edge tables derive ~1 row per orders row, so the orders
# parquet size is a free (zero-job) proxy for edge-table volume. 8 MB of
# parquet ≈ 1M edges ≈ 16 MB in-memory — the "fewer, larger map tasks"
# rule (guide §2.2/§6): a constant partition count leaves KB-sized map
# tasks at small tiers and under-splits at large ones.
INGEST_TARGET_BYTES = 8 * 1024 * 1024


def _derive_partitions(sf_dir: str, requested: int) -> int:
    """Scale-adaptive ingest partition count: ceil(orders bytes / target),
    floored at 2, capped at the caller's ``requested`` (the cluster
    parallelism hint). Falls back to ``requested`` when the size cannot
    be read (non-local paths)."""
    import math
    import os

    p = os.path.join(sf_dir, "orders.parquet")
    try:
        if os.path.isdir(p):
            nbytes = sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
        else:
            nbytes = os.path.getsize(p)
    except OSError:
        return requested
    # floor 2, not 1: a SinglePartition checkpoint does NOT co-partition —
    # EnsureRequirements special-cases numPartitions == 1 and re-shuffles
    # BOTH join sides to the conf default, re-exchanging the edge table
    # every superstep (observed in the r6 explain gate at sf0.01)
    return max(2, min(requested, math.ceil(nbytes / INGEST_TARGET_BYTES)))


def build_graph(
    spark: SparkSession,
    sf_dir: str,
    *,
    partitions: int | None = None,
) -> LinkGraph:
    """Derive the canonical graph from the parquet tables at ``sf_dir``,
    reading them once (module docstring). ``partitions`` (default: the
    session's parallelism) caps the scale-adaptive partition count."""
    from pasgal_spark.plans.lineage import pin

    load_views(spark, sf_dir, ["customer", "orders"])

    def q(body: str) -> DataFrame:
        return spark.sql(f"WITH {GRAPH_CTE} {body}")

    n = _derive_partitions(
        sf_dir, partitions or spark.sparkContext.defaultParallelism
    )
    # Each pinned table is a partitioning-DECLARING LogicalRDD leaf with
    # its cache on top (r6). Three properties, all measured:
    # - LEAF logical plans: a cached-but-not-checkpointed table keeps its
    #   whole derivation (parquet scans + CTE unions + distinct) in the
    #   LOGICAL plan of every consumer, and the iterative kernels
    #   re-analyze that subtree on every superstep — 0.3-0.6 s of pure
    #   driver planning per superstep at sf0.1.
    # - ``pin(hash_cols=("src",))`` declares HashPartitioning(src, n) over
    #   the leaf's own attributes, so every superstep join (shuffle_hash,
    #   see kernels._hint_state) consumes the layout with NO edge-side
    #   exchange or re-broadcast — only the O(|V|) state side moves
    #   (guide §2.4). The declaration drops any ordering.
    # - ``.cache()`` of the LEAF gives Catalyst REAL size statistics after
    #   materialization, so broadcast decisions track the actual tier;
    #   InMemoryTableScan passes the declared partitioning through. The
    #   eager counts materialize stats before the first consumer plans.
    def pinned(df: DataFrame, **kw) -> DataFrame:
        df = pin(df, **kw).cache()
        df.count()
        return df

    edges = pinned(
        q("SELECT src, dst FROM edges").repartition(n, "src"), hash_cols=("src",)
    )
    vertices = pinned(q("SELECT id FROM vertices"))
    # sym = distinct(edges ∪ transpose(edges)) over the cached edge leaf:
    # no second scan of orders. HashPartitioning(src) satisfies the
    # distinct's clustering on (src, dst), so the repartition is its one
    # exchange. edges has no self-loops, so neither does sym.
    sym = pinned(
        edges.union(transpose(edges)).repartition(n, "src").distinct(),
        hash_cols=("src",),
    )
    # w is a pure function of (src, dst): a narrow projection over the sym
    # leaf keeps its declared src layout, so the SSSP relax joins still
    # read the edge side unshuffled.
    wedges = sym.withColumn(
        "w", ((sym.src * 31 + sym.dst * 17) % 8 + 1).cast("bigint")
    )
    return LinkGraph(edges=edges, sym=sym, vertices=vertices, wedges=wedges)


# ---------------------------------------------------------------------------
# Graph transform operators (reference §2B)
# ---------------------------------------------------------------------------

def transpose(edges: DataFrame) -> DataFrame:
    """Transpose: in-edges view (reference ``make_inverse`` src/graph.h:84-110).

    The sort-scatter of the reference becomes a column swap; the shuffle that
    re-clusters by the new src happens lazily at the next key-dependent op.
    """
    return edges.select(
        edges.dst.alias("src"), edges.src.alias("dst")
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Union with reversed edges, drop self-loops + dups
    (reference ``make_symmetrized`` src/graph.h:476-504)."""
    return (
        edges.union(transpose(edges))
        .filter("src <> dst")
        .distinct()
    )


def validate(edges: DataFrame, n: int) -> dict[str, int]:
    """Sanity assertions on an edge table (reference src/graph.h:349-395):
    endpoint range, self-loop count, duplicate count. Returns violation
    counts (all zero for a valid deduped graph)."""
    from pyspark.sql import functions as F

    out_of_range = edges.filter((F.col("src") < 0) | (F.col("src") >= n)
                                | (F.col("dst") < 0) | (F.col("dst") >= n)).count()
    self_loops = edges.filter("src = dst").count()
    dups = (
        edges.groupBy("src", "dst").count().filter("count > 1").count()
    )
    return {"out_of_range": out_of_range, "self_loops": self_loops, "dups": dups}
