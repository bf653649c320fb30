"""Sequential reference answers, computed once per seed outside timing.

The graph references are NumPy twins of ``tests/oracles.py`` (same
definitions: canonical min-id CC labels, synchronous min-label LPA, hop-BFS,
power-iteration PageRank with dangling mass, oriented triangle count); they
are vectorised so the sf0.1 references take seconds, not minutes. The edge
tables themselves are derived by DuckDB from the same parquet with the
engine's portable ``GRAPH_CTE``, and the dedup/similarity references are the
DuckDB queries of ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import decimal
import hashlib
import itertools
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from __spark_entry__ import oracle_sql
from pasgal_spark.functions import dedup
from pasgal_spark.graph.builder import GRAPH_CTE


def graph_tables(data_dir: str) -> dict[str, np.ndarray]:
    """(n, edges, sym) of the canonical link graph, derived by DuckDB."""
    con = duckdb.connect()
    try:
        for t in ("customer", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        n = con.execute("SELECT count(*) FROM customer").fetchone()[0]
        edges = con.execute(f"WITH {GRAPH_CTE} SELECT src, dst FROM edges").fetchnumpy()
        sym = con.execute(f"WITH {GRAPH_CTE} SELECT src, dst FROM sym").fetchnumpy()
    finally:
        con.close()
    return {
        "n": n,
        "edges": np.stack([edges["src"], edges["dst"]]).astype(np.int64),
        "sym": np.stack([sym["src"], sym["dst"]]).astype(np.int64),
    }


def pagerank(
    n: int, edges: np.ndarray, tol: float, damping: float = 0.85, max_steps: int | None = None
):
    """(ranks, supersteps) of power iteration run until max |delta| < tol or
    for ``max_steps`` supersteps, whichever comes first."""
    src, dst = edges
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    steps = 0
    while True:
        contrib = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        new = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
        delta = np.abs(new - rank).max()
        rank = new
        steps += 1
        if delta < tol or steps == max_steps:
            return rank, steps


def min_label(n: int, sym: np.ndarray, rounds: int | None) -> np.ndarray:
    """Synchronous min over the closed neighbourhood: ``rounds`` rounds
    (label propagation), or until fixpoint with ``rounds=None`` (connected
    components; the fixpoint is the min id of each component)."""
    src, dst = sym
    label = np.arange(n, dtype=np.int64)
    r = 0
    while rounds is None or r < rounds:
        new = label.copy()
        np.minimum.at(new, src, label[dst])
        if rounds is None:
            new = new[new]  # pointer jump: same fixpoint, fewer rounds
        r += 1
        if np.array_equal(new, label):
            break
        label = new
    return label


def bfs(n: int, sym: np.ndarray, source: int, max_depth: int) -> np.ndarray:
    """Hop distance from ``source``; -1 where unreached within max_depth."""
    src, dst = sym
    order = np.argsort(src, kind="stable")
    src, dst = src[order], dst[order]
    starts = np.searchsorted(src, np.arange(n + 1))
    dist = np.full(n, -1, dtype=np.int64)
    dist[source] = 0
    frontier = np.array([source])
    d = 0
    while len(frontier) and d < max_depth:
        d += 1
        nbrs = np.concatenate([dst[starts[u]:starts[u + 1]] for u in frontier])
        nbrs = np.unique(nbrs)
        frontier = nbrs[dist[nbrs] < 0]
        dist[frontier] = d
    return dist


def triangles(sym: np.ndarray) -> int:
    con = duckdb.connect()
    try:
        src, dst = sym
        o = src < dst
        con.register("e", pa.table({"u": src[o], "v": dst[o]}))
        return con.execute(
            "SELECT count(*) FROM e a JOIN e b ON a.v = b.u "
            "JOIN e c ON c.u = a.u AND c.v = b.v"
        ).fetchone()[0]
    finally:
        con.close()


def near_dups(data_dir: str) -> tuple[list[tuple], int]:
    """(rows, candidate pair count) of ``dedup.near_dup_pipeline`` over the
    ``dedup.corpus`` view of the documents table: 3-token shingles, MinHash
    over ``portable_hash``, LSH bands with the bucket-size cap, then exact
    Jaccard of the candidates rounded half-up to 4 places, kept if >= 0.7.
    A sequential twin of the DuckDB ``jaccard_dedup`` oracle query, which
    takes ~14 s at 5k documents."""
    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    corpus = list(zip(ids, texts)) + [(i + len(ids), t) for i, t in zip(ids, texts) if i % 10 == 0]

    split = re.compile("[^a-z0-9]+")
    shingles = {}
    for doc_id, text in corpus:
        t = [w for w in split.split(text.lower()) if w]
        if len(t) >= 3:
            shingles[doc_id] = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
    h0 = {
        s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % dedup.MINHASH_P
        for s in set().union(*shingles.values())
    }
    k = np.arange(dedup.NUM_HASHES, dtype=np.int64)
    rpb = dedup.NUM_HASHES // dedup.BANDS
    buckets: dict[tuple, list[int]] = {}
    for doc_id, sh in shingles.items():
        h = np.fromiter((h0[s] for s in sh), np.int64, len(sh))
        sig = ((2 * k + 1) * h[:, None] + k * dedup.MINHASH_B) % dedup.MINHASH_P
        sig = sig.min(axis=0)
        for b in range(dedup.BANDS):
            key = "_".join(str(v) for v in sig[b * rpb : (b + 1) * rpb])
            buckets.setdefault((b, hashlib.md5(key.encode()).hexdigest()), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) <= dedup.MAX_BUCKET:
            members.sort()
            pairs.update(itertools.combinations(members, 2))
    rows = []
    q = decimal.Decimal("0.0001")
    for a, b in pairs:
        inter = len(shingles[a] & shingles[b])
        jac = inter / (len(shingles[a]) + len(shingles[b]) - inter)
        jac = float(decimal.Decimal(repr(jac)).quantize(q, decimal.ROUND_HALF_UP))
        if jac >= 0.7:
            rows.append((a, b, jac))
    return sorted(rows), len(pairs)


def text_queries(data_dir: str, names: tuple[str, ...]) -> dict[str, list[tuple]]:
    """Sorted result rows of ``__spark_entry__.oracle_sql()[name]`` run by
    DuckDB over the documents/embeddings parquet."""
    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: sorted(con.execute(sql[name]).fetchall()) for name in names}
    finally:
        con.close()
