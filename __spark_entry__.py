"""Driver contract for the spark-graft builder (PySpark target).

Engine: ``pasgal_spark`` — a PySpark-native link-graph analytics engine with
the capabilities of ucrparlay/PASGAL (see SURVEY.md). Queries below derive a
deterministic link graph from the driver's TPC-H-ish tables via portable SQL
(``pasgal_spark.graph.builder.GRAPH_CTE`` — runs identically under Spark SQL
and DuckDB), then run the engine's DataFrame kernels; each oracle rebuilds
the same graph in DuckDB and recomputes the kernel with recursive CTEs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasgal_spark.graph import build_graph, kernels
from pasgal_spark.graph import bcc as bccmod
from pasgal_spark.graph import directed
from pasgal_spark.graph.builder import GRAPH_CTE, LinkGraph, load_views
from pasgal_spark.plans.lineage import local_relation, pin
from pasgal_spark.sources.pages import PAGES_CTE, pages_from_documents
from pasgal_spark.sources.extract import extract_links, extract_text, links_to_edges
from pasgal_spark.functions import textstats, dedup, similarity, events as ev
from pasgal_spark.functions.dedup import CORPUS_CTE

# ---------------------------------------------------------------------------
# graph cache (one derivation per sf_dir per session)
# ---------------------------------------------------------------------------

_GRAPH_CACHE: dict[str, LinkGraph] = {}


def _graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    # Stats guard for the driver's vanilla session (see session.get_spark):
    # un-stats'd LogicalRDDs (every localCheckpoint) default to
    # sizeInBytes = Long.MaxValue and Catalyst multiplies sizes per join —
    # deep superstep plans then spend minutes in BigInteger math during
    # planning. Finite default keeps products tiny, broadcast choices
    # unchanged (1 TiB >> any broadcast threshold).
    spark.conf.set("spark.sql.defaultSizeInBytes", str(1 << 40))
    g = _GRAPH_CACHE.get(sf_dir)
    if g is None or g.edges.sparkSession is not spark:
        # Hash-partition the edge tables by src at ingest so every superstep
        # join reuses the cached layout instead of re-exchanging the edge side
        # (the ingest layout documented in builder.build_graph).
        parts = max(spark.sparkContext.defaultParallelism // 2, 8)
        g = build_graph(spark, sf_dir, partitions=parts)
        _GRAPH_CACHE[sf_dir] = g
    return g


# Kernel parameters shared by Spark queries and DuckDB oracles.
PR_ITERS = 15
PR_DAMPING = 0.85
LP_ROUNDS = 3  # keeps the DuckDB ball-closure oracle fast at sf0.01
BFS_MAXD = 30
SSSP_CAP = 40


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the link graph derived from sf0.001."""
    g = _graph(spark, "/root/testdata/sf0.001")
    pr = kernels.pagerank(
        g.edges, g.vertices, iterations=PR_ITERS, damping=PR_DAMPING
    )
    return pr.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_degree_analytics(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.degree_analytics(g.edges, g.vertices)


def _q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    pr = kernels.pagerank(
        g.edges, g.vertices, iterations=PR_ITERS, damping=PR_DAMPING
    )
    return pr.select("id", F.round("rank", 6).alias("rank"))


def _q_cc(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    # two-phase: fixed supersteps + driver union-find (the 100 TB path)
    return kernels.connected_components_two_phase(g.sym, g.vertices)


def _q_largest_cc(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.largest_component(
        kernels.connected_components_two_phase(g.sym, g.vertices)
    )


def _q_cc_histogram(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.component_histogram(
        kernels.connected_components_two_phase(g.sym, g.vertices)
    )


def _q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.label_propagation(g.sym, g.vertices, rounds=LP_ROUNDS)


def _q_bfs(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.bfs(g.sym, source=0, max_depth=BFS_MAXD, vertices=g.vertices)


def _q_sssp(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.sssp(g.wedges, source=0, cap=SSSP_CAP)


def _q_sssp_delta(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.sssp_delta_stepping(g.wedges, source=0, delta=8, cap=SSSP_CAP)


def _q_sssp_rho(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.sssp_rho_stepping(g.wedges, source=0, rho=256, cap=SSSP_CAP)


def _q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.triangle_count(g.sym)


def _q_symmetrize(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return g.sym


def _q_in_degree(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    from pasgal_spark.graph.builder import transpose

    t = transpose(g.edges)
    return t.groupBy("src").agg(F.count(F.lit(1)).alias("in_deg")).withColumnRenamed(
        "src", "id"
    )


MR_SOURCES = [0, 7, 23, 101]


def _q_reachability(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return directed.reachability(g.edges, source=0)


def _q_multi_reach(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return directed.multi_reachability(g.edges, MR_SOURCES)


def _q_scc(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return directed.scc(g.edges, g.vertices)


# Deterministic sparse subgraph for the biconnectivity family: the canonical
# graph is dense enough to be 2-connected (zero articulation points — a
# trivial fixture), so BCC queries run on a ~12.5% symmetric-consistent edge
# sample that has real bridges and articulation points. Portable SQL
# (Spark ∩ DuckDB).
SPARSE_FILTER = "(least(src, dst) * 31 + greatest(src, dst) * 17) % 8 = 0"


def _sparse_sym(g: LinkGraph):
    return g.sym.filter(F.expr(SPARSE_FILTER))


# One connectivity pass shared by the whole BCC query family (VERDICT r3
# #4): keyed by sf_dir alongside the graph cache.
_SPARSE_CC_CACHE: dict[str, DataFrame] = {}


def _sparse_cc(spark: SparkSession, sf: str, g: LinkGraph) -> DataFrame:
    cached = _SPARSE_CC_CACHE.get(sf)
    if cached is None or cached.sparkSession is not spark:
        cached = pin(
            kernels.connected_components_two_phase(_sparse_sym(g), g.vertices)
        )
        _SPARSE_CC_CACHE[sf] = cached
    return cached


LDD_BETA_CAP = 4
LDD_RADIUS_CAP = 8


def _q_ldd(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return kernels.ldd(
        _sparse_sym(g), g.vertices,
        beta_cap=LDD_BETA_CAP, radius_cap=LDD_RADIUS_CAP,
    )


def _q_bcc(spark: SparkSession, sf: str) -> DataFrame:
    # Canonical per-edge BCC partition (labels = min normalized edge key per
    # cluster — unique regardless of spanning tree, hence oracle-checkable;
    # VERDICT r2 #1). Runs the diameter-safe euler pipeline (O(log n)
    # supersteps), like every BCC query.
    g = _graph(spark, sf)
    return bccmod.bcc_edges_canonical(
        _sparse_sym(g), g.vertices, strategy="euler", cc=_sparse_cc(spark, sf, g)
    )


def _q_articulation_points(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return bccmod.articulation_points(
        _sparse_sym(g), g.vertices, cc=_sparse_cc(spark, sf, g)
    )


def _q_bcc_tarjan_vishkin(spark: SparkSession, sf: str) -> DataFrame:
    # Independent BCC assembly (aux-graph, the reference's own baseline,
    # src/BCC/tarjan-vishkin.h:9-124); canonical labels make its output
    # bit-identical to `bcc`, so it shares that oracle.
    g = _graph(spark, sf)
    return bccmod.canonicalize_edge_labels(
        bccmod.tarjan_vishkin_bcc_edges(
            _sparse_sym(g), g.vertices, cc=_sparse_cc(spark, sf, g)
        )
    )


def _q_bcc_summary(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    return bccmod.bcc_summary(
        _sparse_sym(g), g.vertices, cc=_sparse_cc(spark, sf, g)
    )


def _q_spanning_forest_size(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    cc = kernels.connected_components_two_phase(g.sym, g.vertices)
    forest = directed.spanning_forest(g.sym, g.vertices, cc)
    return forest.groupBy("component").agg(F.count(F.lit(1)).alias("tree_edges"))


def _q_approx_diameter(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    d1 = kernels.bfs(g.sym, source=0, max_depth=60, vertices=g.vertices)
    far = d1.orderBy(F.desc("dist"), F.asc("id")).first()
    d2 = kernels.bfs(g.sym, source=far["id"], max_depth=60, vertices=g.vertices)
    return d2.agg(
        F.lit(far["id"]).cast("long").alias("far_vertex"),
        F.max("dist").alias("diameter"),
    )


# Directed double-sweep diameter (the reference's directed mode,
# src/utils/get_diameter.cpp:48-77): hash-sampled sources s_i, forward BFS,
# second sweep from the furthest vertex (ties -> min id), max distance
# observed across all sweeps. Two sources keep the recursive-SQL oracle
# tractable at sf0.01; the reference samples 10k.
AD_SOURCES = 2
AD_MAXD = 60


def _q_approx_diameter_directed(spark: SparkSession, sf: str) -> DataFrame:
    g = _graph(spark, sf)
    n = g.vertices.count()
    best = 0
    for i in range(AD_SOURCES):
        s = (i * 2654435761 + 7) % n
        d1 = kernels.bfs(g.edges, source=s, max_depth=AD_MAXD, vertices=g.vertices)
        far = d1.orderBy(F.desc("dist"), F.asc("id")).first()
        best = max(best, far["dist"])
        d2 = kernels.bfs(
            g.edges, source=far["id"], max_depth=AD_MAXD, vertices=g.vertices
        )
        best = max(best, d2.agg(F.max("dist")).first()[0])
    return local_relation(spark, "diameter int", [best])


def _q_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    return extract_links(pages_from_documents(spark, sf))


def _q_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    return extract_text(pages_from_documents(spark, sf))


def _q_page_link_degree(spark: SparkSession, sf: str) -> DataFrame:
    edges = links_to_edges(extract_links(pages_from_documents(spark, sf)))
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_links"))


def _tbl(spark: SparkSession, sf: str, name: str) -> DataFrame:
    load_views(spark, sf, [name])
    return spark.table(name)


# -- text / dedup / similarity / events queries -----------------------------

def _q_token_count(spark, sf):
    return textstats.token_count(_tbl(spark, sf, "documents"))


def _q_quality_score(spark, sf):
    return textstats.quality_score(_tbl(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    return textstats.lang_id(_tbl(spark, sf, "documents"))


def _q_doc_fingerprint(spark, sf):
    return textstats.doc_fingerprint(_tbl(spark, sf, "documents"))


def _q_exact_dedup(spark, sf):
    return dedup.exact_dedup(dedup.corpus(spark, sf))


def _q_minhash(spark, sf):
    return dedup.minhash_signatures(dedup.corpus(spark, sf))


def _q_lsh_pairs(spark, sf):
    return dedup.lsh_candidate_pairs(dedup.corpus(spark, sf))


def _q_jaccard_dedup(spark, sf):
    c = dedup.corpus(spark, sf)
    return dedup.jaccard_verify(c, dedup.lsh_candidate_pairs(c))


def _q_simhash(spark, sf):
    return dedup.simhash(_tbl(spark, sf, "documents"))


def _q_cosine_topk(spark, sf):
    return similarity.cosine_topk(_tbl(spark, sf, "embeddings"))


def _q_ann_buckets(spark, sf):
    return similarity.hyperplane_buckets(_tbl(spark, sf, "embeddings"))


def _q_bucketed_ann(spark, sf):
    return similarity.bucketed_ann(_tbl(spark, sf, "embeddings"))


def _q_sessionize(spark, sf):
    return ev.sessionize(_tbl(spark, sf, "events"))


def _q_hourly_rollup(spark, sf):
    return ev.hourly_rollup(_tbl(spark, sf, "events"))


def _q_running_total(spark, sf):
    return ev.running_total(_tbl(spark, sf, "events"))


def _q_top_users(spark, sf):
    return ev.top_users(_tbl(spark, sf, "events"))


def _q_event_histogram(spark, sf):
    return ev.event_histogram(_tbl(spark, sf, "events"))


def _q_pricing_summary(spark, sf):
    return ev.pricing_summary(_tbl(spark, sf, "lineitem"))


def _q_top_revenue(spark, sf):
    return ev.top_revenue_orders(
        _tbl(spark, sf, "orders"), _tbl(spark, sf, "lineitem")
    )


def _q_priority_histogram(spark, sf):
    return ev.order_priority_histogram(_tbl(spark, sf, "orders"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "degree_analytics": _q_degree_analytics,
        "pagerank": _q_pagerank,
        "connected_components": _q_cc,
        "largest_cc": _q_largest_cc,
        "cc_histogram": _q_cc_histogram,
        "label_propagation": _q_label_propagation,
        "bfs": _q_bfs,
        "sssp": _q_sssp,
        "sssp_delta_stepping": _q_sssp_delta,
        "sssp_rho_stepping": _q_sssp_rho,
        "triangle_count": _q_triangles,
        "symmetrize": _q_symmetrize,
        "in_degree": _q_in_degree,
        "reachability": _q_reachability,
        "multi_reachability": _q_multi_reach,
        "scc": _q_scc,
        "spanning_forest_size": _q_spanning_forest_size,
        "ldd": _q_ldd,
        "bcc": _q_bcc,
        "bcc_tarjan_vishkin": _q_bcc_tarjan_vishkin,
        "articulation_points": _q_articulation_points,
        "bcc_summary": _q_bcc_summary,
        "approx_diameter": _q_approx_diameter,
        "approx_diameter_directed": _q_approx_diameter_directed,
        "extract_links": _q_extract_links,
        "extract_text": _q_extract_text,
        "page_link_degree": _q_page_link_degree,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "minhash_signatures": _q_minhash,
        "lsh_candidate_pairs": _q_lsh_pairs,
        "jaccard_dedup": _q_jaccard_dedup,
        "simhash": _q_simhash,
        "cosine_topk": _q_cosine_topk,
        "ann_buckets": _q_ann_buckets,
        "bucketed_ann": _q_bucketed_ann,
        "sessionize": _q_sessionize,
        "hourly_rollup": _q_hourly_rollup,
        "running_total": _q_running_total,
        "top_users": _q_top_users,
        "event_histogram": _q_event_histogram,
        "pricing_summary": _q_pricing_summary,
        "top_revenue_orders": _q_top_revenue,
        "order_priority_histogram": _q_priority_histogram,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL) — rebuild the identical graph + recompute each kernel
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    C = GRAPH_CTE
    # DuckDB twins of the engine's portable primitives
    TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

    def DH(x: str) -> str:  # portable_hash twin
        return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

    STOP = {
        k: "[" + ",".join(f"'{w}'" for w in v) + "]"
        for k, v in textstats.STOPWORDS.items()
    }

    def stop_hits(lang: str) -> str:
        return f"len(list_filter(t, x -> list_contains({STOP[lang]}, x)))"

    # 3-token shingles twin (1-based DuckDB list indexing)
    SHINGLES = (
        "CASE WHEN len(t) >= 3 THEN "
        "list_transform(range(1, len(t) - 1), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )
    MINHASH_P = dedup.MINHASH_P
    MINHASH_B = dedup.MINHASH_B
    MINHASH_SIGS = f"""
        toklists AS (SELECT doc_id, {TOKS} AS t FROM corpus),
        toks AS (SELECT doc_id, unnest(list_distinct({SHINGLES})) AS tok FROM toklists),
        mhbase AS (SELECT doc_id, {DH("tok")} % {MINHASH_P} AS h0 FROM toks),
        seeded AS (SELECT doc_id, h0, seed
                   FROM mhbase, (SELECT CAST(unnest(range({dedup.NUM_HASHES})) AS INT) AS seed) seeds),
        sigs AS (
          SELECT doc_id, seed,
                 min(((seed * 2 + 1) * h0 + seed * {MINHASH_B}) % {MINHASH_P}) AS minhash
          FROM seeded GROUP BY doc_id, seed
        )
    """
    LSH_PAIRS = f"""
        {MINHASH_SIGS},
        piv AS (
          SELECT doc_id,
                 {", ".join(f"min(CASE WHEN seed = {k} THEN minhash END) AS m{k}" for k in range(dedup.NUM_HASHES))}
          FROM sigs GROUP BY doc_id
        ),
        bands AS (
          {" UNION ALL ".join(
            "SELECT doc_id, %d AS band, md5(concat(%s)) AS band_hash FROM piv"
            % (b, ", '_', ".join(f"CAST(m{b * (dedup.NUM_HASHES // dedup.BANDS) + r} AS STRING)"
                                 for r in range(dedup.NUM_HASHES // dedup.BANDS)))
            for b in range(dedup.BANDS)
          )}
        ),
        bands_ok AS (
          SELECT band, band_hash FROM bands
          GROUP BY band, band_hash HAVING count(*) <= {dedup.MAX_BUCKET}
        ),
        bandsf AS (
          SELECT b.doc_id, b.band, b.band_hash
          FROM bands b JOIN bands_ok ok
            ON b.band = ok.band AND b.band_hash = ok.band_hash
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bandsf l JOIN bandsf r
            ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
        )
    """
    COSINE = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    plane = (
        lambda p: f"list_transform(range(64), j -> CAST(({p} * 131071 + j * 524287) % 2001 - 1000 AS DOUBLE))"
    )
    bucket_expr = " + ".join(
        f"CASE WHEN list_dot_product(e, {plane(p)}) > 0 THEN {2**p} ELSE 0 END"
        for p in range(8)
    )
    out = {
        "token_count": f"""
            SELECT doc_id, CAST(len({TOKS}) AS INT) AS n_tokens FROM documents
        """,
        "quality_score": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
            raw AS (
              SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / len(t) ELSE 0.0 END AS dr,
                CASE WHEN len(t) > 0 THEN {stop_hits("en")} / len(t) ELSE 0.0 END AS sr
              FROM toks
            )
            SELECT doc_id, n_tokens,
                   floor(dr * 10000.0 + 0.5) / 10000.0 AS distinct_ratio,
                   floor(sr * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
                   floor((0.5 * sr + 0.3 * dr
                          + 0.2 * least(n_tokens / 100.0, 1.0)) * 10000.0
                         + 0.5) / 10000.0 AS quality
            FROM raw
        """,
        "lang_id": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
            cnt AS (SELECT doc_id, {stop_hits("en")} AS en, {stop_hits("de")} AS de,
                           {stop_hits("fr")} AS fr, {stop_hits("es")} AS es FROM toks)
            SELECT doc_id,
              CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                   WHEN de >= fr AND de >= es THEN 'de'
                   WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang
            FROM cnt
        """,
        "doc_fingerprint": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
            pos AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks)
            SELECT doc_id,
                   CAST(sum(pos * ({DH("tok")} % {textstats.TOK_MOD})) % {textstats.FP_MOD} AS BIGINT) AS fingerprint
            FROM pos GROUP BY doc_id
        """,
        "exact_dedup": f"""
            WITH {CORPUS_CTE}
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
                   doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
            FROM corpus
        """,
        "minhash_signatures": f"""
            WITH {CORPUS_CTE}, {MINHASH_SIGS}
            SELECT doc_id, seed, minhash FROM sigs
        """,
        "lsh_candidate_pairs": f"""
            WITH {CORPUS_CTE}, {LSH_PAIRS}
            SELECT a, b FROM cand
        """,
        "jaccard_dedup": f"""
            WITH {CORPUS_CTE}, {LSH_PAIRS},
            tlists AS (SELECT doc_id, {TOKS} AS t FROM corpus),
            tsets AS (SELECT doc_id, list_distinct({SHINGLES}) AS t FROM tlists)
            SELECT a, b,
                   round(len(list_intersect(ta.t, tb.t))
                         / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 4) AS jaccard
            FROM cand JOIN tsets ta ON cand.a = ta.doc_id
                      JOIN tsets tb ON cand.b = tb.doc_id
            WHERE round(len(list_intersect(ta.t, tb.t))
                        / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 4) >= 0.7
        """,
        "simhash": f"""
            WITH toks AS (SELECT doc_id, unnest(list_distinct({TOKS})) AS tok FROM documents),
            th AS (SELECT doc_id, {DH("tok")} % 4294967296 AS h32 FROM toks),
            bits AS (SELECT doc_id, h32, b FROM th,
                     (SELECT unnest(range(32)) AS b) bb),
            votes AS (
              SELECT doc_id, b,
                     sum((CAST(floor(h32 / power(2, b)) AS BIGINT) % 2) * 2 - 1) AS v
              FROM bits GROUP BY doc_id, b
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "cosine_topk": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {COSINE.format(a="q.qe", b="e.e")} AS s
              FROM q, e WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, score FROM (
              SELECT query_id, neighbor_id, round(s, 6) AS score,
                     row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
              FROM scored
            ) WHERE rn <= 5
        """,
        "ann_buckets": f"""
            WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT vec_id, CAST({bucket_expr} AS BIGINT) AS bucket FROM e0
        """,
        "bucketed_ann": f"""
            WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            b0 AS (SELECT vec_id, CAST({bucket_expr} AS BIGINT) AS bucket, e FROM e0),
            bok AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= {similarity.MAX_BUCKET}),
            b AS (SELECT b0.vec_id, b0.bucket, b0.e FROM b0 JOIN bok ON b0.bucket = bok.bucket),
            pairs AS (
              SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
                     {COSINE.format(a="l.e", b="r.e")} AS s
              FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
            )
            SELECT query_id, neighbor_id, score FROM (
              SELECT query_id, neighbor_id, round(s, 6) AS score,
                     row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
              FROM pairs
            ) WHERE rn <= 3
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM g GROUP BY user_id
        """,
        "hourly_rollup": """
            SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket, event_type,
                   count(*) AS n, round(sum(value), 3) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "running_total": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
            FROM events
        """,
        "top_users": """
            SELECT user_id, round(sum(value), 3) AS total
            FROM events GROUP BY user_id
            ORDER BY total DESC, user_id ASC LIMIT 10
        """,
        "event_histogram": """
            SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        """,
        "pricing_summary": """
            -- money sums in exact decimal, matching the engine: a double
            -- SUM over 60M rows differs between engines in the last ulp
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                  * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            WITH rev AS (
              SELECT l_orderkey,
                     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderkey AS orderkey, o_orderpriority, revenue
            FROM orders JOIN rev ON o_orderkey = l_orderkey
            ORDER BY revenue DESC, orderkey ASC LIMIT 10
        """,
        "order_priority_histogram": """
            SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
        """,
        "degree_analytics": f"""
            WITH {C},
            outd AS (SELECT v.id, count(e.src) AS d FROM vertices v
                     LEFT JOIN edges e ON v.id = e.src GROUP BY v.id),
            ind AS (SELECT v.id, count(e.dst) AS d FROM vertices v
                    LEFT JOIN edges e ON v.id = e.dst GROUP BY v.id)
            SELECT (SELECT count(*) FROM vertices) AS n,
                   (SELECT count(*) FROM edges) AS m,
                   (SELECT max(d) FROM outd) AS max_out_deg,
                   (SELECT count(*) FROM outd WHERE d = 0) AS zero_out_deg,
                   (SELECT max(d) FROM ind) AS max_in_deg,
                   (SELECT count(*) FROM ind WHERE d = 0) AS zero_in_deg
        """,
        "pagerank": f"""
            WITH RECURSIVE {C},
            deg AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY src),
            nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
            routes AS (
              SELECT e.src AS id, e.dst AS tgt,
                     1.0 / d.out_deg AS w
              FROM edges e JOIN deg d ON e.src = d.id
              UNION ALL
              SELECT dv.id, v.id AS tgt, 1.0 / (SELECT n FROM nv) AS w
              FROM (SELECT v2.id FROM vertices v2 LEFT JOIN deg ON v2.id = deg.id
                    WHERE deg.id IS NULL) dv
              CROSS JOIN vertices v
              UNION ALL
              SELECT v.id, v.id AS tgt, 0.0 AS w FROM vertices v
            ),
            pr(it, id, rank) AS (
              SELECT 0, id, 1.0 / (SELECT n FROM nv) FROM vertices
              UNION ALL
              SELECT pr.it + 1, r.tgt,
                     (1.0 - {PR_DAMPING}) / (SELECT n FROM nv)
                     + {PR_DAMPING} * sum(pr.rank * r.w)
              FROM pr JOIN routes r ON pr.id = r.id
              WHERE pr.it < {PR_ITERS}
              GROUP BY pr.it, r.tgt
            )
            SELECT id, round(rank, 6) AS rank FROM pr WHERE it = {PR_ITERS}
        """,
        "connected_components": f"""
            WITH RECURSIVE {C},
            reach(id, lbl) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id
            )
            SELECT id, min(lbl) AS component FROM reach GROUP BY id
        """,
        "largest_cc": f"""
            WITH RECURSIVE {C},
            reach(id, lbl) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id
            ),
            comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
            SELECT component, count(*) AS size FROM comp GROUP BY component
            ORDER BY size DESC, component ASC LIMIT 1
        """,
        "cc_histogram": f"""
            WITH RECURSIVE {C},
            reach(id, lbl) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id
            ),
            comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
            SELECT component, count(*) AS size FROM comp GROUP BY component
        """,
        "label_propagation": f"""
            WITH RECURSIVE {C},
            nb(id, lbl, d) AS (
              SELECT id, id, 0 FROM vertices
              UNION
              SELECT s.dst, n.lbl, n.d + 1 FROM nb n JOIN sym s ON s.src = n.id
              WHERE n.d < {LP_ROUNDS}
            )
            SELECT id, min(lbl) AS label FROM nb GROUP BY id
        """,
        "bfs": f"""
            WITH RECURSIVE {C},
            r(id, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, r.d + 1 FROM r JOIN sym s ON s.src = r.id
              WHERE r.d < {BFS_MAXD}
            )
            SELECT id, CAST(min(d) AS INT) AS dist FROM r GROUP BY id
        """,
        "sssp": f"""
            WITH RECURSIVE {C},
            r(id, d) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION
              SELECT w.dst, r.d + w.w FROM r JOIN wedges w ON w.src = r.id
              WHERE r.d + w.w <= {SSSP_CAP}
            )
            SELECT id, min(d) AS dist FROM r GROUP BY id
        """,
        "sssp_delta_stepping": f"""
            WITH RECURSIVE {C},
            r(id, d) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION
              SELECT w.dst, r.d + w.w FROM r JOIN wedges w ON w.src = r.id
              WHERE r.d + w.w <= {SSSP_CAP}
            )
            SELECT id, min(d) AS dist FROM r GROUP BY id
        """,
        "sssp_rho_stepping": f"""
            WITH RECURSIVE {C},
            r(id, d) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION
              SELECT w.dst, r.d + w.w FROM r JOIN wedges w ON w.src = r.id
              WHERE r.d + w.w <= {SSSP_CAP}
            )
            SELECT id, min(d) AS dist FROM r GROUP BY id
        """,
        "triangle_count": f"""
            WITH {C},
            e AS (SELECT src, dst FROM sym WHERE src < dst)
            SELECT count(*) AS triangles
            FROM e a JOIN e b ON b.src = a.dst
            JOIN e c ON c.src = a.src AND c.dst = b.dst
        """,
        "symmetrize": f"""
            WITH {C} SELECT src, dst FROM sym
        """,
        "in_degree": f"""
            WITH {C}
            SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY dst
        """,
        "reachability": f"""
            WITH RECURSIVE {C},
            r(id) AS (
              SELECT CAST(0 AS BIGINT)
              UNION
              SELECT e.dst FROM r JOIN edges e ON e.src = r.id
            )
            SELECT id FROM r
        """,
        "multi_reachability": f"""
            WITH RECURSIVE {C},
            r(id, source) AS (
              SELECT CAST(s AS BIGINT), CAST(s AS BIGINT)
              FROM (VALUES {", ".join(f"({s})" for s in MR_SOURCES)}) t(s)
              UNION
              SELECT e.dst, r.source FROM r JOIN edges e ON e.src = r.id
            )
            SELECT id, source FROM r
        """,
        "scc": f"""
            WITH RECURSIVE {C},
            reach(a, b) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
            )
            SELECT x.a AS id, min(x.b) AS scc
            FROM reach x JOIN reach y ON x.a = y.b AND x.b = y.a
            GROUP BY x.a
        """,
        # BCC oracle (canonical per-edge partition): two edges sharing vertex
        # v are in the same biconnected component iff their other endpoints
        # are connected in G - v (common-cycle criterion, the same
        # characterization the reference's Hopcroft-Tarjan oracle exploits,
        # src/BCC/hopcroft-tarjan.h:8-79). reachv computes, per directed
        # neighbor pair (v, x), x's reach set in G - v; rep collapses each
        # neighbor class of v to its minimum member; elbl is min-label CC
        # over the edge-link graph; the cluster label is the minimum
        # normalized edge key — exactly bcc_edges_canonical's labeling.
        "bcc": f"""
            WITH RECURSIVE {C},
            ssym AS (SELECT src, dst FROM sym WHERE {SPARSE_FILTER}),
            und AS (SELECT src AS a, dst AS b FROM ssym WHERE src < dst),
            nbr AS (SELECT src AS v, dst AS x FROM ssym),
            reachv(v, x, node) AS (
              SELECT v, x, x FROM nbr
              UNION
              SELECT r.v, r.x, s.dst FROM reachv r JOIN ssym s ON s.src = r.node
              WHERE s.dst <> r.v
            ),
            rep AS (
              SELECT r.v, r.x, min(n2.x) AS rx
              FROM reachv r JOIN nbr n2 ON n2.v = r.v AND n2.x = r.node
              GROUP BY r.v, r.x
            ),
            links AS (
              SELECT least(v, x) * 4294967296 + greatest(v, x) AS s,
                     least(v, rx) * 4294967296 + greatest(v, rx) AS t
              FROM rep
            ),
            lsym AS (SELECT s, t FROM links UNION SELECT t, s FROM links),
            elbl(e, l) AS (
              SELECT a * 4294967296 + b, a * 4294967296 + b FROM und
              UNION
              SELECT ls.t, el.l FROM elbl el JOIN lsym ls ON ls.s = el.e
            )
            SELECT CAST(e // 4294967296 AS BIGINT) AS src,
                   CAST(e % 4294967296 AS BIGINT) AS dst,
                   min(l) AS bcc
            FROM elbl GROUP BY e
        """,
        "bcc_summary": f"""
            WITH RECURSIVE {C},
            ssym AS (SELECT src, dst FROM sym WHERE {SPARSE_FILTER}),
            und AS (SELECT src AS a, dst AS b FROM ssym WHERE src < dst),
            nbr AS (SELECT src AS v, dst AS x FROM ssym),
            reachv(v, x, node) AS (
              SELECT v, x, x FROM nbr
              UNION
              SELECT r.v, r.x, s.dst FROM reachv r JOIN ssym s ON s.src = r.node
              WHERE s.dst <> r.v
            ),
            rep AS (
              SELECT r.v, r.x, min(n2.x) AS rx
              FROM reachv r JOIN nbr n2 ON n2.v = r.v AND n2.x = r.node
              GROUP BY r.v, r.x
            ),
            links AS (
              SELECT least(v, x) * 4294967296 + greatest(v, x) AS s,
                     least(v, rx) * 4294967296 + greatest(v, rx) AS t
              FROM rep
            ),
            lsym AS (SELECT s, t FROM links UNION SELECT t, s FROM links),
            elbl(e, l) AS (
              SELECT a * 4294967296 + b, a * 4294967296 + b FROM und
              UNION
              SELECT ls.t, el.l FROM elbl el JOIN lsym ls ON ls.s = el.e
            ),
            part AS (SELECT e, min(l) AS bcc FROM elbl GROUP BY e),
            per AS (SELECT bcc, count(*) AS n_edges FROM part GROUP BY bcc),
            creach(id, lbl) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT s.dst, r.lbl FROM creach r JOIN ssym s ON s.src = r.id
            ),
            comp AS (SELECT id, min(lbl) AS c FROM creach GROUP BY id)
            SELECT (SELECT count(DISTINCT c) FROM comp) AS n_cc,
                   (SELECT count(*) FROM per) AS n_bcc,
                   (SELECT max(n_edges) FROM per) AS largest_bcc_edges,
                   (SELECT count(*) FROM per WHERE n_edges = 1) AS n_bridges
        """,
        "ldd": f"""
            WITH RECURSIVE {C},
            ssym AS (SELECT src, dst FROM sym WHERE {SPARSE_FILTER}),
            hv AS (SELECT id,
                   CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                   FROM vertices),
            sv AS (SELECT id,
                   CASE WHEN h % 16 = 0 THEN 0 WHEN h % 8 = 0 THEN 1
                        WHEN h % 4 = 0 THEN 2 WHEN h % 2 = 0 THEN 3
                        ELSE 4 END AS strt
                   FROM hv),
            walk(id, key) AS (
              SELECT id, CAST(strt AS BIGINT) * 4294967296 + id FROM sv
              UNION
              SELECT s.dst, w.key + 4294967296 FROM walk w JOIN ssym s ON s.src = w.id
              WHERE w.key + 4294967296 < {LDD_RADIUS_CAP + 1} * 4294967296
            )
            SELECT id, CAST(min(key) % 4294967296 AS BIGINT) AS label,
                   CAST(min(key) // 4294967296 AS BIGINT) AS cost
            FROM walk GROUP BY id
        """,
        "articulation_points": f"""
            WITH RECURSIVE {C},
            ssym AS (SELECT src, dst FROM sym WHERE {SPARSE_FILTER}),
            nbr AS (SELECT src AS v, dst AS u FROM ssym),
            cand AS (SELECT v, min(u) AS seed FROM nbr GROUP BY v HAVING count(*) >= 2),
            reach(v, id) AS (
              SELECT v, seed FROM cand
              UNION
              SELECT r.v, s.dst FROM reach r JOIN ssym s ON s.src = r.id
              WHERE s.dst <> r.v
            )
            SELECT DISTINCT c.v AS id
            FROM cand c JOIN nbr n ON n.v = c.v
            LEFT JOIN reach r ON r.v = c.v AND r.id = n.u
            WHERE r.id IS NULL
        """,
        "spanning_forest_size": f"""
            WITH RECURSIVE {C},
            reach(id, lbl) AS (
              SELECT id, id FROM vertices
              UNION
              SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id
            ),
            comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
            sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
            SELECT component, sz - 1 AS tree_edges FROM sizes WHERE sz > 1
        """,
        "approx_diameter": f"""
            WITH RECURSIVE {C},
            b1(id, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, b1.d + 1 FROM b1 JOIN sym s ON s.src = b1.id
              WHERE b1.d < 60
            ),
            d1 AS (SELECT id, min(d) AS d FROM b1 GROUP BY id),
            far AS (SELECT id FROM d1 ORDER BY d DESC, id ASC LIMIT 1),
            b2(id, d) AS (
              SELECT id, 0 FROM far
              UNION
              SELECT s.dst, b2.d + 1 FROM b2 JOIN sym s ON s.src = b2.id
              WHERE b2.d < 60
            ),
            d2 AS (SELECT id, min(d) AS d FROM b2 GROUP BY id)
            SELECT (SELECT id FROM far) AS far_vertex,
                   CAST((SELECT max(d) FROM d2) AS INT) AS diameter
        """,
        "approx_diameter_directed": (
            f"WITH RECURSIVE {C},\n"
            + ",\n".join(
                f"""
            src{i} AS (SELECT CAST(({i} * 2654435761 + 7)
                       % (SELECT n FROM graph_params) AS BIGINT) AS s),
            b{i}a(id, d) AS (
              SELECT s, 0 FROM src{i}
              UNION
              SELECT e.dst, b{i}a.d + 1 FROM b{i}a JOIN edges e ON e.src = b{i}a.id
              WHERE b{i}a.d < {AD_MAXD}
            ),
            d{i}a AS (SELECT id, min(d) AS d FROM b{i}a GROUP BY id),
            far{i} AS (SELECT id, d FROM d{i}a ORDER BY d DESC, id ASC LIMIT 1),
            b{i}b(id, d) AS (
              SELECT id, 0 FROM far{i}
              UNION
              SELECT e.dst, b{i}b.d + 1 FROM b{i}b JOIN edges e ON e.src = b{i}b.id
              WHERE b{i}b.d < {AD_MAXD}
            ),
            d{i}b AS (SELECT max(md) AS d FROM
                      (SELECT id, min(d) AS md FROM b{i}b GROUP BY id))
                """
                for i in range(AD_SOURCES)
            )
            + "\nSELECT CAST(greatest("
            + ", ".join(
                f"(SELECT d FROM far{i}), (SELECT d FROM d{i}b)"
                for i in range(AD_SOURCES)
            )
            + ") AS INT) AS diameter"
        ),
        "extract_links": f"""
            WITH {PAGES_CTE}
            SELECT url AS src_url,
                   unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS dst_url
            FROM pages
        """,
        "extract_text": f"""
            WITH {PAGES_CTE}
            SELECT url, regexp_replace(html, '<[^>]*>', '', 'g') AS text FROM pages
        """,
        "page_link_degree": f"""
            WITH {PAGES_CTE},
            links AS (
              SELECT url AS src_url,
                     unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS dst_url
              FROM pages
            ),
            pe AS (
              SELECT DISTINCT
                     CAST(regexp_extract(src_url, '/p/(\\d+)$', 1) AS BIGINT) AS src,
                     CAST(regexp_extract(dst_url, '/p/(\\d+)$', 1) AS BIGINT) AS dst
              FROM links
            )
            SELECT src, count(*) AS out_links FROM pe WHERE src <> dst GROUP BY src
        """,
    }
    # Tarjan-Vishkin produces the identical canonical edge partition, so it
    # is checked against the same oracle as the FAST-BCC `bcc` query.
    out["bcc_tarjan_vishkin"] = out["bcc"]
    return out
