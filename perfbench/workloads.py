"""The benchmark's workloads: inputs, timed calls and their correctness checks.

Each workload is a closed loop: one client makes its calls one after another
in a fixed order. Every timed call goes through one public function of one
package module and ends when the result is on the driver (time to result).
A check compares the result with a reference computed outside timing and
returns an error message, or None when the result is right.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

import inputs
import oracles
from pasgal_spark.functions import dedup, similarity
from pasgal_spark.graph import build_graph, kernels
from pasgal_spark.graph.builder import load_views
from pasgal_spark.plans import CheckpointedPageRank
from pasgal_spark.plans.checkpoints import RunManifest
from pasgal_spark.sources.edgelist import read_edges, write_edges
from pasgal_spark.sources.extract import extract_links, extract_text, links_to_edges
from pasgal_spark.sources.pages import synthesize_pages

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 16  # bench.py's max(cpus, 16) at 4 cores
INGEST_PARTITIONS = 8  # bench.py's max(cpus // 2, 8) at 4 cores
PR_TOL = 1e-6
# fixed-superstep budget above the sf0.1 CC fast path's 2 * max_residual,
# so the forced twin runs the distributed shrink rounds
CC_FORCED_M_UPPER = 2 * 4_000_000 + 1


@dataclass
class Call:
    name: str  # per-layer name: "<module>.<function>"
    run: Callable[[], Any]  # the timed call; returns the materialised result
    check: Callable[[Any], str | None]
    # per-superstep walls of the call just made, read after it returns
    steps: Callable[[Any], list[float]] | None = None
    counts: dict | None = None  # per-layer counts known from the reference
    # made only in traced runs: per-layer figures, but outside the untraced
    # pass that gives the end-to-end ones (see perfbench/README.md)
    traced_only: bool = False


def _labels(pdf, n: int, col: str) -> np.ndarray:
    out = np.full(n, -1, dtype=np.int64)
    out[pdf["id"].to_numpy()] = pdf[col].to_numpy()
    return out


def _exact(name: str, got: np.ndarray, want: np.ndarray) -> str | None:
    if got.shape != want.shape:
        return f"{name}: {got.shape[0]} rows, want {want.shape[0]}"
    bad = np.flatnonzero(got != want)
    if len(bad):
        i = bad[0]
        return f"{name}: {len(bad)} wrong, first id {i}: {got[i]} want {want[i]}"
    return None


def _ranks_close(name: str, got: np.ndarray, want: np.ndarray, atol: float) -> str | None:
    if got.shape != want.shape:
        return f"{name}: {got.shape[0]} ranks, want {want.shape[0]}"
    err = float(np.abs(got - want).max())
    return None if err <= atol else f"{name}: max |rank - oracle| = {err:.3g} > {atol}"


def _rows(name: str, pdf, want: list[tuple]) -> str | None:
    got = sorted(map(tuple, pdf.itertuples(index=False, name=None)))
    if got == want:
        return None
    return f"{name}: {len(got)} rows, want {len(want)}; first diff " + next(
        (f"{g} vs {w}" for g, w in zip(got, want) if g != w), "in length"
    )


class GraphWorkload:
    """Seeded customer/orders tables at ``scale`` x sf0.1 -> ``build_graph``
    -> the graph kernels. Per-vertex state is tiny here, so each superstep's
    fixed cost (driver planning, job launch, the overlapped compile)
    dominates the kernels' walls."""

    tables = ("customer", "orders")

    def __init__(self, name: str, scale: float) -> None:
        self.name, self.scale = name, scale

    def prepare(self, data_dir: str, seed: int) -> dict:
        self.data_dir = data_dir
        rows = inputs.write_tables(data_dir, self.scale, seed, self.tables)
        g = oracles.graph_tables(data_dir)
        n, sym = g["n"], g["sym"]
        self.n, self.m = n, g["edges"].shape[1]
        self.ref = {
            "pagerank": oracles.pagerank(n, g["edges"], PR_TOL),
            "cc": oracles.min_label(n, sym, None),
            "lpa": oracles.min_label(n, sym, 4),
            "bfs": oracles.bfs(n, sym, 0, 30),
            "triangles": oracles.triangles(sym),
        }
        return {"rows": rows, "vertices": n, "edges": self.m, "sym_edges": sym.shape[1]}

    def setup(self, spark, tracer, group) -> None:
        with tracer.span("builder.build_graph", group=group("builder.build_graph")):
            self.g = build_graph(spark, self.data_dir, partitions=INGEST_PARTITIONS)

    def references(self) -> dict:
        return {}

    def calls(self, tracer, workdir: str) -> list[Call]:
        g, n, ref = self.g, self.n, self.ref
        step = lambda *_: tracer.superstep()  # noqa: E731
        iterative = tracer.supersteps

        def pagerank():
            return kernels.pagerank(g.edges, g.vertices, tol=PR_TOL, on_superstep=step).toPandas()

        def check_pagerank(pdf):
            got = np.full(n, np.nan)
            got[pdf["id"].to_numpy()] = pdf["rank"].to_numpy()
            return _ranks_close("pagerank", got, ref["pagerank"][0], PR_TOL)

        def labels(name, col, want):
            return lambda pdf: _exact(name, _labels(pdf, n, col), want)

        def bfs_check(pdf):
            return _exact("bfs", _labels(pdf, n, "dist"), ref["bfs"])

        def tri_check(rows):
            got = rows[0][0]
            return None if got == ref["triangles"] else f"triangles {got} want {ref['triangles']}"

        return [
            Call(
                "kernels.cc_two_phase",
                lambda: kernels.connected_components_two_phase(
                    g.sym, g.vertices, on_round=step
                ).toPandas(),
                labels("cc_two_phase", "component", ref["cc"]),
                iterative,
            ),
            Call(
                "kernels.cc_two_phase_forced",
                lambda: kernels.connected_components_two_phase(
                    g.sym, g.vertices, on_round=step, m_upper=CC_FORCED_M_UPPER
                ).toPandas(),
                labels("cc_two_phase_forced", "component", ref["cc"]),
                iterative,
            ),
            Call(
                "kernels.connected_components",
                lambda: kernels.connected_components(g.sym, g.vertices, on_round=step).toPandas(),
                labels("connected_components", "component", ref["cc"]),
                iterative,
                traced_only=True,
            ),
            Call(
                "kernels.label_propagation",
                lambda: kernels.label_propagation(g.sym, g.vertices, rounds=4).toPandas(),
                labels("label_propagation", "label", ref["lpa"]),
                traced_only=True,
            ),
            Call(
                "kernels.bfs",
                lambda: kernels.bfs(
                    g.sym, 0, max_depth=30, vertices=g.vertices, on_superstep=step
                ).toPandas(),
                bfs_check,
                iterative,
            ),
            Call(
                "kernels.triangle_count",
                lambda: kernels.triangle_count(g.sym).collect(),
                tri_check,
            ),
            # last: its per-layer superstep figures are then those of a JVM
            # the other kernels have warmed
            Call("kernels.pagerank", pagerank, check_pagerank, iterative),
        ]


class CrawlWebtextWorkload:
    """The crawl pipeline of ``jobs/pagerank_job.py`` plus the text functions.

    Seeded pages -> ``extract_text``; ``extract_links`` -> ``links_to_edges``
    -> ``write_edges`` -> ``read_edges`` -> ``CheckpointedPageRank`` stopped
    at a fixed superstep and resumed from its manifest; then near-dup,
    cosine top-k and bucketed ANN over seeded documents and embeddings. Time
    here goes to parquet writes on the resumable driver and to Arrow Python
    workers (``mapInPandas``), not to in-memory supersteps."""

    tables = ("documents", "embeddings")
    # The run stops at its first checkpoint and the resume ends at the
    # second: going on to 1e-6 takes ~22 supersteps at ~1.5 s each, which the
    # benchmark's time budget cannot carry on every run.
    STOP_AT, RESUME_TO = 3, 6

    def __init__(self, name: str, scale: float, pages: int) -> None:
        self.name, self.scale, self.n_pages = name, scale, pages

    def prepare(self, data_dir: str, seed: int) -> dict:
        self.data_dir, self.seed = data_dir, seed
        rows = inputs.write_tables(data_dir, self.scale, seed, self.tables)
        self.ref = oracles.text_queries(data_dir, ("cosine_topk", "bucketed_ann"))
        self.ref["near_dup"], self.ref["candidate_pairs"] = oracles.near_dups(data_dir)
        return {
            "rows": rows,
            "pages": self.n_pages,
            "docs": rows["documents"],
            "vectors": rows["embeddings"],
        }

    def setup(self, spark, tracer, group) -> None:
        self.spark = spark
        with tracer.span("pages.synthesize_pages", group=group("pages.synthesize_pages")):
            self.pages = synthesize_pages(spark, self.n_pages, seed=self.seed).cache()
            self.pages.count()
            load_views(spark, self.data_dir, ["documents", "embeddings"])
            self.corpus = dedup.corpus(spark, self.data_dir)
            self.emb = spark.table("embeddings")

    def references(self) -> dict:
        """Tag-strip text and href edges of the pages, by Python ``re`` over
        the collected html (untimed, once per run), and the PageRank of the
        edge set."""
        pdf = self.pages.select("url", "html").toPandas()
        html = [bytes(h).decode("utf-8") for h in pdf["html"]]
        tag, href = re.compile(r"<[^>]*>"), re.compile(r'href="[^"]*/p/(\d+)"')
        self.text_ref = sorted(zip(pdf["url"], (tag.sub("", h) for h in html)))
        url_id = pdf["url"].str.extract(r"/p/(\d+)$")[0].astype(np.int64).to_numpy()
        pairs = {
            (int(s), int(d))
            for s, h in zip(url_id, html)
            for d in href.findall(h)
            if int(s) != int(d)
        }
        e = np.array(sorted(pairs), dtype=np.int64).T
        self.edges_ref = e
        ids, inv = np.unique(e, return_inverse=True)
        ranks, steps = oracles.pagerank(
            len(ids), inv.reshape(e.shape), PR_TOL, max_steps=self.RESUME_TO
        )
        self.pr_ref = (ids, ranks, steps)
        self.m = e.shape[1]
        return {"crawl_edges": self.m, "crawl_vertices": len(ids), "pr_supersteps": steps}

    def calls(self, tracer, workdir: str) -> list[Call]:
        spark, ref = self.spark, self.ref
        pages, corpus, emb = self.pages, self.corpus, self.emb
        stop_at, resume_to = self.STOP_AT, self.RESUME_TO
        edges_path = os.path.join(workdir, "edges")
        pr_dir = os.path.join(workdir, "pagerank")
        state = {}

        def check_text(pdf):
            got = sorted(zip(pdf["url"], pdf["text"]))
            return None if got == self.text_ref else "extract_text: text differs from tag strip"

        def read():
            for key in ("edges", "vertices"):  # the previous pass's
                if key in state:
                    state[key].unpersist()
            edges = read_edges(spark, edges_path, partitions=INGEST_PARTITIONS).cache()
            vertices = (
                edges.select(F.col("src").alias("id"))
                .unionByName(edges.select(F.col("dst").alias("id")))
                .distinct()
                .cache()
            )
            state["edges"], state["vertices"] = edges, vertices
            return edges.count(), vertices.count()

        def check_edges(counts):
            pdf = state["edges"].toPandas()
            got = np.array(sorted(zip(pdf["src"], pdf["dst"])), dtype=np.int64).T
            if got.shape != self.edges_ref.shape or not np.array_equal(got, self.edges_ref):
                return f"edges: {got.shape[-1]} edges, want {self.edges_ref.shape[1]}"
            return None

        def pr_run():
            # a fresh run, not a resume of the previous pass's manifest
            shutil.rmtree(pr_dir, ignore_errors=True)
            pr = CheckpointedPageRank(
                spark, state["edges"], state["vertices"], pr_dir, checkpoint_every=stop_at
            )
            state["pr"] = pr
            return pr.run(tol=PR_TOL, max_supersteps=stop_at).count()

        def check_stop(_):
            man = RunManifest.load(pr_dir)
            if man is None or man.superstep != stop_at:
                return f"checkpointed run: manifest at {man and man.superstep}, want {stop_at}"
            return None

        def pr_resume():
            pr = CheckpointedPageRank(
                spark, state["edges"], state["vertices"], pr_dir, checkpoint_every=stop_at
            )
            state["pr"] = pr
            return pr.run(tol=PR_TOL, max_supersteps=resume_to).toPandas()

        def check_ranks(pdf):
            ids, want, steps = self.pr_ref
            got = pdf.set_index("id")["rank"].reindex(ids).to_numpy()
            done = len(recorded_steps())
            if done != steps:
                return f"resumed run took {done} supersteps, uninterrupted {steps}"
            # resumed == uninterrupted: the oracle is the uninterrupted power
            # iteration, so the ranks agree to rounding, far inside PR_TOL
            return _ranks_close("resumed pagerank", got, want, 1e-9)

        def recorded_steps() -> list[float]:
            """Per-superstep walls (s) the resumable driver recorded itself."""
            rows = state["pr"].metrics().select("superstep", "wall_ms").distinct().collect()
            return [r["wall_ms"] / 1000.0 for r in sorted(rows)]

        def near_dup():
            return dedup.near_dup_pipeline(corpus).toPandas()

        def check_near_dup(pdf):
            return _rows("near_dup_pipeline", pdf[["a", "b", "jaccard"]], ref["near_dup"])

        return [
            Call("extract.extract_text", lambda: extract_text(pages).toPandas(), check_text),
            Call(
                "edgelist.write_edges",
                lambda: write_edges(links_to_edges(extract_links(pages)), edges_path),
                lambda _: None,  # checked through read_edges below
            ),
            Call("edgelist.read_edges", read, check_edges),
            Call(
                "dedup.near_dup_pipeline", near_dup, check_near_dup,
                counts={
                    "candidate_pairs": ref["candidate_pairs"],
                    "dup_pairs": len(ref["near_dup"]),
                },
                traced_only=True,
            ),
            Call(
                "similarity.cosine_topk",
                lambda: similarity.cosine_topk(emb).toPandas(),
                lambda pdf: _rows("cosine_topk", pdf, ref["cosine_topk"]),
            ),
            Call(
                "similarity.bucketed_ann",
                lambda: similarity.bucketed_ann(emb).toPandas(),
                lambda pdf: _rows("bucketed_ann", pdf, ref["bucketed_ann"]),
            ),
            # last: their per-layer superstep figures are then those of a
            # JVM the other calls have warmed
            Call(
                "checkpoints.pagerank_run", pr_run, check_stop,
                lambda _: recorded_steps()[: stop_at],
            ),
            Call(
                "checkpoints.pagerank_resume", pr_resume, check_ranks,
                lambda _: recorded_steps()[stop_at:],
            ),
        ]


WORKLOADS = {
    "graph_sf0.1": lambda: GraphWorkload("graph_sf0.1", 1),
    "crawl_webtext": lambda: CrawlWebtextWorkload("crawl_webtext", 1, 25_000),
}
