"""Correctness checks for the benchmark, computed apart from the program.

Every oracle here is written from the definition of its method with NumPy,
pandas or DuckDB.  None calls the package's driver twins
(``operators/_smallgraph.py``), its validator (``operators/validate.py``)
or a stored copy of its output.  Each ``check_*`` function returns a list
of failure messages; an empty list means the output passed.

The triangle count of the scale-16 Graph500 graph is cached in
``triangles.json`` because the DuckDB count takes several seconds.
Recompute it with::

    python3 perfbench/checks.py --recompute-triangles
"""

from __future__ import annotations

import json
import sys
from functools import cached_property
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
TRIANGLE_CACHE = HERE / "triangles.json"

# Graph500 reference checksum: generated edge slots reached from a root of
# the giant component, scale 16, edgefactor 16, seeds 2/3
# (reference mpi/utils.hpp pf_nedge table).
PF_NEDGE_S16 = 1_048_570


class Graph:
    """Undirected simple graph over an edge-slot list: self-loops and
    duplicate slots are dropped, vertex ids are mapped to dense indices.
    The vertex set is every endpoint of a non-loop slot."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        keep = src != dst
        src, dst = src[keep], dst[keep]
        self.verts = np.unique(np.concatenate([src, dst]))
        self.n = len(self.verts)
        si = np.searchsorted(self.verts, src)
        di = np.searchsorted(self.verts, dst)
        key = np.unique(np.concatenate([si * self.n + di, di * self.n + si]))
        self.head, self.tail = key // self.n, key % self.n
        self.indptr = np.searchsorted(self.head, np.arange(self.n + 1))
        self._levels: dict[int, np.ndarray] = {}  # BFS levels per root index

    def index(self, ids) -> np.ndarray:
        """Dense indices of vertex ids; -1 for ids not in the graph."""
        ids = np.asarray(ids, dtype=np.int64)
        if self.n == 0:
            return np.full(ids.shape, -1)
        pos = np.searchsorted(self.verts, ids).clip(0, self.n - 1)
        return np.where(self.verts[pos] == ids, pos, -1)

    def has_edge(self, u: np.ndarray, v: np.ndarray) -> np.ndarray:
        key = np.asarray(u) * self.n + np.asarray(v)
        sorted_keys = self.head * self.n + self.tail
        pos = np.searchsorted(sorted_keys, key).clip(0, len(sorted_keys) - 1)
        return sorted_keys[pos] == key

    def bfs_levels(self, root_idx: int) -> np.ndarray:
        """Level of every vertex from ``root_idx`` (-1 if unreached)."""
        if root_idx not in self._levels:
            self._levels[root_idx] = self._bfs(root_idx)
        return self._levels[root_idx]

    def _bfs(self, root_idx: int) -> np.ndarray:
        level = np.full(self.n, -1, dtype=np.int64)
        level[root_idx] = 0
        frontier = np.array([root_idx])
        depth = 0
        while frontier.size:
            starts, ends = self.indptr[frontier], self.indptr[frontier + 1]
            counts = ends - starts
            offs = np.repeat(starts - np.cumsum(counts) + counts, counts)
            nbrs = self.tail[offs + np.arange(counts.sum())]
            nbrs = np.unique(nbrs[level[nbrs] < 0])
            depth += 1
            level[nbrs] = depth
            frontier = nbrs
        return level

    @cached_property
    def components(self) -> np.ndarray:
        """Union-find: dense index of each vertex's component root, where
        the root is the component's smallest vertex id."""
        parent = list(range(self.n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(self.head[self.head < self.tail].tolist(),
                        self.tail[self.head < self.tail].tolist()):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return np.array([find(x) for x in range(self.n)], dtype=np.int64)


def visit_count(slot_src: np.ndarray, reached_ids: np.ndarray) -> int:
    """Graph500 edge-visit count: generated slots, self-loops and duplicates
    included, whose endpoints the root reaches (a slot's source is reached
    iff its target is)."""
    return int(np.isin(slot_src, reached_ids).sum())


def check_pf_nedge(g: Graph, roots: list[int], visits: list[int], want: int) -> list[str]:
    """Every root in the giant component visits ``want`` edge slots (the
    Graph500 pf_nedge checksum, which holds for any such root)."""
    comp = g.components
    giant = np.bincount(comp).argmax()
    errs = [f"bfs_root[{r}]: {v} edge visits != pf_nedge {want}"
            for r, v in zip(roots, visits) if comp[g.index([r])[0]] == giant and v != want]
    if all(comp[g.index([r])[0]] != giant for r in roots):
        errs.append("no root in the giant component")
    return errs


def check_bfs(g: Graph, root: int, out: pd.DataFrame, name: str) -> list[str]:
    """``out`` is (v, parent, level) over the reached vertices."""
    errs = []
    ri = g.index([root])[0]
    if ri < 0:
        return [f"{name}: root {root} not in graph"]
    want = g.bfs_levels(ri)
    vi = g.index(out["v"].to_numpy())
    if (vi < 0).any() or len(np.unique(vi)) != len(vi):
        return [f"{name}: unknown or repeated vertices in result"]
    got = np.full(g.n, -1, dtype=np.int64)
    got[vi] = out["level"].to_numpy()
    bad = int((got != want).sum())
    if bad:
        errs.append(f"{name}: {bad} vertices with a level unlike the NumPy BFS")
    pi = g.index(out["parent"].to_numpy())
    lv = out["level"].to_numpy()
    is_root = vi == ri
    if not (pi[is_root] == ri).all():
        errs.append(f"{name}: root is not its own parent")
    nr = ~is_root
    ok = (pi[nr] >= 0)
    ok &= np.where(ok, got[np.maximum(pi[nr], 0)] == lv[nr] - 1, False)
    ok &= np.where(ok, g.has_edge(np.maximum(pi[nr], 0), vi[nr]), False)
    if not ok.all():
        errs.append(f"{name}: {int((~ok).sum())} parents are not neighbours one level up")
    return errs


def pagerank_oracle(g: Graph, damping: float, iters: int) -> np.ndarray:
    """Power iteration over the directed slots of a symmetric edge table;
    the rank of vertices without out-edges is spread uniformly."""
    src, dst = g.head, g.tail
    outdeg = np.bincount(src, minlength=g.n).astype(float)
    r = np.full(g.n, 1.0 / g.n)
    for _ in range(iters):
        share = np.bincount(dst, weights=r[src] / outdeg[src], minlength=g.n)
        dangling = r[outdeg == 0].sum()
        r = (1.0 - damping) / g.n + damping * (share + dangling / g.n)
    return r


def check_pagerank(g: Graph, out: pd.DataFrame, iters: int, name: str = "pagerank") -> list[str]:
    errs = []
    vi = g.index(out["v"].to_numpy())
    if len(vi) != g.n or (vi < 0).any() or len(np.unique(vi)) != g.n:
        return [f"{name}: result does not cover the vertex set exactly"]
    got = np.empty(g.n)
    got[vi] = out["score"].to_numpy()
    want = pagerank_oracle(g, 0.85, iters)
    if not np.allclose(got, want, rtol=0, atol=1e-6):
        errs.append(f"{name}: max |score - oracle| = {np.abs(got - want).max():.3g}")
    if abs(got.sum() - 1.0) > 1e-6:
        errs.append(f"{name}: scores sum to {got.sum():.9f}")
    return errs


def check_components(g: Graph, out: pd.DataFrame, name: str = "cc") -> list[str]:
    vi = g.index(out["v"].to_numpy())
    if len(vi) != g.n or (vi < 0).any() or len(np.unique(vi)) != g.n:
        return [f"{name}: result does not cover the vertex set exactly"]
    got = np.empty(g.n, dtype=np.int64)
    got[vi] = out["component"].to_numpy()
    want = g.verts[g.components]
    bad = int((got != want).sum())
    return [f"{name}: {bad} labels differ from the union-find minimum id"] if bad else []


def lpa_oracle(g: Graph, rounds: int) -> np.ndarray:
    """Synchronous label propagation: every vertex takes its neighbours'
    most frequent label, the smallest label on ties; labels start as ids."""
    lab = np.arange(g.n)  # labels as dense indices, which sort like the ids
    for _ in range(rounds):
        # votes: one per (vertex, neighbour label) pair, counted
        pair, votes = np.unique(g.head * g.n + lab[g.tail], return_counts=True)
        v, l = pair // g.n, pair % g.n
        # per vertex, most votes first, then the smallest label
        order = np.lexsort((l, -votes, v))
        first = order[np.r_[True, v[order][1:] != v[order][:-1]]]
        lab[v[first]] = l[first]
    return g.verts[lab]


def check_lpa(g: Graph, out: pd.DataFrame, rounds: int, name: str = "lpa") -> list[str]:
    vi = g.index(out["v"].to_numpy())
    if len(vi) != g.n or (vi < 0).any() or len(np.unique(vi)) != g.n:
        return [f"{name}: result does not cover the vertex set exactly"]
    got = np.empty(g.n, dtype=np.int64)
    got[vi] = out["label"].to_numpy()
    bad = int((got != lpa_oracle(g, rounds)).sum())
    return [f"{name}: {bad} labels differ from synchronous LPA"] if bad else []


def sssp_weight(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """The symmetric integer weight the benchmark gives edge (u, v)."""
    return (np.mod(u, 7) + np.mod(v, 7)) % 7 + 1


def check_sssp(g: Graph, root: int, out: pd.DataFrame, name: str = "sssp") -> list[str]:
    """Optimality certificate for shortest distances from ``root``."""
    errs = []
    ri = g.index([root])[0]
    vi = g.index(out["v"].to_numpy())
    if ri < 0 or (vi < 0).any() or len(np.unique(vi)) != len(vi):
        return [f"{name}: root or result vertices not in graph"]
    inf = np.iinfo(np.int64).max // 4
    dist = np.full(g.n, inf, dtype=np.int64)
    dist[vi] = out["dist"].to_numpy()
    if dist[ri] != 0:
        errs.append(f"{name}: dist(root) = {dist[ri]}")
    u, v = g.head, g.tail
    w = sssp_weight(g.verts[u], g.verts[v])
    reached_u = dist[u] < inf
    if (dist[v][reached_u] > dist[u][reached_u] + w[reached_u]).any():
        errs.append(f"{name}: an edge can still be relaxed")
    tight = np.zeros(g.n, dtype=bool)
    tight[v[reached_u & (dist[v] == dist[u] + w)]] = True
    untight = (dist < inf) & ~tight
    untight[ri] = False
    if untight.any():
        errs.append(f"{name}: {int(untight.sum())} reached vertices have no tight in-edge")
    comp = g.components
    if not np.array_equal(dist < inf, comp == comp[ri]):
        errs.append(f"{name}: reached set is not the root's component")
    return errs


def triangles_duckdb(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles over the degree-oriented canonical edges, counted by DuckDB."""
    import duckdb

    slots = pd.DataFrame({"s": np.asarray(src, np.int64), "d": np.asarray(dst, np.int64)})
    con = duckdb.connect()
    con.register("slots", slots)
    return int(con.execute("""
        WITH canon AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                       FROM slots WHERE s <> d),
             deg AS (SELECT v, count(*) AS k FROM
                       (SELECT a AS v FROM canon UNION ALL SELECT b FROM canon) GROUP BY v),
             o AS (SELECT CASE WHEN (da.k, c.a) < (db.k, c.b) THEN c.a ELSE c.b END AS x,
                          CASE WHEN (da.k, c.a) < (db.k, c.b) THEN c.b ELSE c.a END AS y
                   FROM canon c JOIN deg da ON da.v = c.a JOIN deg db ON db.v = c.b)
        SELECT count(*) FROM o o1 JOIN o o2 ON o1.y = o2.x
                             JOIN o o3 ON o3.x = o1.x AND o3.y = o2.y
    """).fetchone()[0])


def cached_triangles(scale: int) -> int:
    return int(json.loads(TRIANGLE_CACHE.read_text())[f"scale{scale}"])


def check_triangles(got: int, want: int, name: str = "triangles") -> list[str]:
    return [] if int(got) == int(want) else [f"{name}: {got} != oracle {want}"]


def transcript_counts(tx: pd.DataFrame) -> tuple[int, int]:
    """(edges, vertices) that edge derivation must produce from a transcript
    table: consecutive turn pairs + tool calls + distinct (conv, role)
    pairs; distinct conversations + roles + tools."""
    turns = tx.groupby("conv_id").size()
    n_edges = int((turns - 1).sum()) + int(tx["tool"].notna().sum()) + len(
        tx[["conv_id", "role"]].drop_duplicates()
    )
    n_vertices = tx["conv_id"].nunique() + tx["role"].nunique() + tx["tool"].dropna().nunique()
    return n_edges, int(n_vertices)


def check_counts(got: tuple[int, int], want: tuple[int, int], name: str = "derive") -> list[str]:
    return [] if tuple(got) == tuple(want) else [f"{name}: (edges, vertices) {got} != {want}"]


def _recompute_triangles(scale: int = 16) -> None:
    sys.path.insert(0, str(HERE.parent))
    from graph500_bfs_spark.sources.mrg import graph500_edge_batch

    src, dst = graph500_edge_batch(np.arange(16 << scale, dtype=np.int64), scale)
    cache = json.loads(TRIANGLE_CACHE.read_text()) if TRIANGLE_CACHE.exists() else {}
    cache[f"scale{scale}"] = triangles_duckdb(src, dst)
    TRIANGLE_CACHE.write_text(json.dumps(cache, indent=1) + "\n")
    print(json.dumps(cache))


if __name__ == "__main__":
    if sys.argv[1:] != ["--recompute-triangles"]:
        sys.exit("usage: python3 perfbench/checks.py --recompute-triangles")
    _recompute_triangles()
