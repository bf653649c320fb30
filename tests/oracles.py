"""Pure-Python sequential oracles (the reference's verification pattern:
parallel result must equal the sequential textbook algorithm, SURVEY.md §5;
e.g. BFS vs Seq_BFS /root/reference/src/BFS/seq-bfs.h:8-42, SSSP vs Dijkstra
/root/reference/src/SSSP/dijkstra.h:8-51)."""

from __future__ import annotations

import heapq
from collections import defaultdict, deque


def adj(sym_edges):
    a = defaultdict(set)
    for u, v in sym_edges:
        a[u].add(v)
        a[v].add(u)
    return a


def cc_oracle(n_vertices, sym_edges):
    """vertex -> min id in its component."""
    a = adj(sym_edges)
    label = {}
    for s in range(n_vertices):
        if s in label:
            continue
        comp = [s]
        seen = {s}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in a[u]:
                if v not in seen:
                    seen.add(v)
                    comp.append(v)
                    dq.append(v)
        m = min(comp)
        for u in comp:
            label[u] = m
    return label


def bfs_oracle(sym_edges, source, max_depth=10**9):
    a = adj(sym_edges)
    dist = {source: 0}
    dq = deque([source])
    while dq:
        u = dq.popleft()
        if dist[u] >= max_depth:
            continue
        for v in a[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    return dist


def dijkstra_oracle(wedges, source, cap=10**9):
    """wedges: iterable of (u, v, w) directed. Returns dist<=cap map."""
    g = defaultdict(list)
    for u, v, w in wedges:
        g[u].append((v, w))
    dist = {source: 0}
    pq = [(0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 10**18):
            continue
        for v, w in g[u]:
            nd = d + w
            if nd <= cap and nd < dist.get(v, 10**18):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def lpa_oracle(n_vertices, sym_edges, rounds):
    """synchronous min-label adoption for `rounds` rounds."""
    a = adj(sym_edges)
    label = {u: u for u in range(n_vertices)}
    for _ in range(rounds):
        new = {}
        for u in range(n_vertices):
            vals = [label[u]] + [label[v] for v in a[u]]
            new[u] = min(vals)
        label = new
    return label


def pagerank_oracle(n, edges, iters=None, damping=0.85, tol=None):
    """Power iteration matching the engine's formula exactly."""
    out_deg = defaultdict(int)
    for u, _ in edges:
        out_deg[u] += 1
    rank = {u: 1.0 / n for u in range(n)}
    it = 0
    while True:
        dangling = sum(rank[u] for u in range(n) if out_deg[u] == 0)
        contrib = defaultdict(float)
        for u, v in edges:
            contrib[v] += rank[u] / out_deg[u]
        new = {
            u: (1.0 - damping) / n + damping * (contrib[u] + dangling / n)
            for u in range(n)
        }
        delta = max(abs(new[u] - rank[u]) for u in range(n))
        rank = new
        it += 1
        if iters is not None and it >= iters:
            break
        if tol is not None and delta < tol:
            break
    return rank


def triangle_oracle(sym_edges):
    a = adj(sym_edges)
    count = 0
    for u in a:
        for v in a[u]:
            if v <= u:
                continue
            for w in a[v]:
                if w <= v:
                    continue
                if w in a[u]:
                    count += 1
    return count


def bcc_oracle(n_vertices, sym_edges):
    """Hopcroft-Tarjan biconnected components (iterative DFS with an edge
    stack — sequential oracle matching the reference's
    /root/reference/src/BCC/hopcroft-tarjan.h:8-79). Returns a set of
    frozensets; each frozenset holds the (min, max)-normalized edges of
    one biconnected component."""
    a = adj(sym_edges)
    norm = lambda u, v: (min(u, v), max(u, v))  # noqa: E731
    disc = {}
    low = {}
    groups = []
    timer = [0]
    for s in range(n_vertices):
        if s in disc or not a[s]:
            continue
        disc[s] = low[s] = timer[0]
        timer[0] += 1
        stack = [(s, -1, iter(sorted(a[s])))]
        estack = []
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w not in disc:
                    estack.append(norm(v, w))
                    disc[w] = low[w] = timer[0]
                    timer[0] += 1
                    stack.append((w, v, iter(sorted(a[w]))))
                    advanced = True
                    break
                elif w != parent and disc[w] < disc[v]:
                    estack.append(norm(v, w))
                    low[v] = min(low[v], disc[w])
            if advanced:
                continue
            stack.pop()
            if stack:
                u = stack[-1][0]
                low[u] = min(low[u], low[v])
                if low[v] >= disc[u]:
                    grp = set()
                    while estack[-1] != norm(u, v):
                        grp.add(estack.pop())
                    grp.add(estack.pop())
                    groups.append(frozenset(grp))
    return set(groups)


def articulation_oracle(n_vertices, sym_edges):
    """Articulation points = vertices incident to >= 2 BCC edge groups."""
    groups = bcc_oracle(n_vertices, sym_edges)
    from collections import Counter

    cnt = Counter()
    for grp in groups:
        members = set()
        for u, v in grp:
            members.add(u)
            members.add(v)
        for m in members:
            cnt[m] += 1
    return {v for v, c in cnt.items() if c >= 2}


def kruskal_keys(xs, ys, keys):
    """Keys of the minimum spanning forest of the pairs (xs[i], ys[i])
    under their distinct keys: Kruskal, pairs in ascending key order over a
    path-halving union-find."""
    parent = {}

    def find(a):
        r = parent.setdefault(a, a)
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    chosen = []
    for k, x, y in sorted(zip(keys, xs, ys)):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
            chosen.append(k)
    return chosen
