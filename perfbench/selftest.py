"""Self-test of the benchmark's checks; needs neither Spark nor the program.

    python3 perfbench/selftest.py

First each oracle is held to answers worked out by hand on tiny graphs.
Then, on a small random multigraph with self-loops, duplicate slots and
two components, correct outputs are built and must pass every check, and
corrupting one value of each kind of output must make its check fail.
Exits 1 if any case goes the wrong way.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

import checks

FAILURES: list[str] = []


def expect(label: str, errs: list[str], should_fail: bool) -> None:
    ok = bool(errs) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {errs[:1] if errs else 'passes'}")
    if not ok:
        FAILURES.append(label)


def known_answers() -> None:
    path = checks.Graph(np.array([0, 1, 2, 3]), np.array([1, 2, 3, 4]))
    expect("oracle: path BFS levels", [] if list(path.bfs_levels(0)) == [0, 1, 2, 3, 4]
           else ["wrong levels"], False)
    k4 = np.array([(a, b) for a in range(4) for b in range(4) if a < b])
    expect("oracle: K4 has 4 triangles",
           checks.check_triangles(checks.triangles_duckdb(k4[:, 0], k4[:, 1]), 4), False)
    two = checks.Graph(np.array([5, 6, 10, 11, 12]), np.array([6, 7, 11, 12, 10]))
    expect("oracle: union-find minimum ids",
           [] if list(two.verts[two.components]) == [5, 5, 5, 10, 10, 10] else ["wrong"], False)
    # star 0-{1,2,3} plus edge 3-4: round 1 gives 0 -> min(1,2,3)=1, leaves -> 0,
    # 3 -> min(0,4)=0, 4 -> 3
    star = checks.Graph(np.array([0, 0, 0, 3]), np.array([1, 2, 3, 4]))
    expect("oracle: one LPA round", [] if list(checks.lpa_oracle(star, 1)) == [1, 0, 0, 0, 3]
           else [str(checks.lpa_oracle(star, 1))], False)
    tx = pd.DataFrame({"conv_id": ["a", "a", "a", "b", "b"],
                       "role": ["user", "assistant", "user", "system", "assistant"],
                       "tool": [None, "search", None, None, None]})
    # 2 + 1 turn pairs, 1 tool call, 4 (conv, role) pairs; 2 convs, 3 roles, 1 tool
    expect("oracle: transcript recount", checks.check_counts(checks.transcript_counts(tx), (8, 6)),
           False)


def bfs_output(g: checks.Graph, root_idx: int) -> pd.DataFrame:
    """Levels with each vertex's smallest-index parent one level up."""
    level = g.bfs_levels(root_idx)
    parent = np.full(g.n, -1)
    up = level[g.head] == level[g.tail] - 1
    for h, t in zip(g.head[up][::-1], g.tail[up][::-1]):
        parent[t] = h
    parent[root_idx] = root_idx
    reached = np.flatnonzero(level >= 0)
    return pd.DataFrame({"v": g.verts[reached], "parent": g.verts[parent[reached]],
                         "level": level[reached]})


def sssp_output(g: checks.Graph, root_idx: int) -> pd.DataFrame:
    """Bellman-Ford distances with the benchmark's edge weights."""
    inf = np.iinfo(np.int64).max // 4
    dist = np.full(g.n, inf)
    dist[root_idx] = 0
    w = checks.sssp_weight(g.verts[g.head], g.verts[g.tail])
    for _ in range(g.n):
        cand = np.where(dist[g.head] < inf, dist[g.head] + w, inf)
        new = dist.copy()
        np.minimum.at(new, g.tail, cand)
        if np.array_equal(new, dist):
            break
        dist = new
    keep = dist < inf
    return pd.DataFrame({"v": g.verts[keep], "dist": dist[keep]})


def with_value(df: pd.DataFrame, col: str, row: int, value) -> pd.DataFrame:
    out = df.copy()
    out.loc[out.index[row], col] = value
    return out


def corruptions() -> None:
    rng = np.random.default_rng(7)
    a = rng.integers(0, 60, 300)
    b = rng.integers(0, 60, 300)
    src = np.concatenate([a, [3, 3, 100, 101, 102]])       # self-loop, duplicate,
    dst = np.concatenate([b, [3, 3, 101, 102, 100]])       # second component
    src, dst = src * 7 + 1000, dst * 7 + 1000              # sparse, non-dense ids
    g = checks.Graph(src, dst)
    root = int(g.verts[0])
    ri = 0

    bfs = bfs_output(g, ri)
    expect("bfs correct", checks.check_bfs(g, root, bfs, "bfs"), False)
    deep = int(np.flatnonzero(bfs["level"].to_numpy() >= 2)[0])
    expect("bfs level +1", checks.check_bfs(
        g, root, with_value(bfs, "level", deep, bfs["level"].iloc[deep] + 1), "bfs"), True)
    expect("bfs parent not a neighbour one level up", checks.check_bfs(
        g, root, with_value(bfs, "parent", deep, root), "bfs"), True)
    expect("bfs reached vertex dropped", checks.check_bfs(g, root, bfs.drop(bfs.index[deep]),
                                                          "bfs"), True)

    visits = checks.visit_count(src, bfs["v"].to_numpy())
    expect("pf_nedge correct", checks.check_pf_nedge(g, [root], [visits], visits), False)
    expect("pf_nedge count -1", checks.check_pf_nedge(g, [root], [visits - 1], visits), True)

    pr = pd.DataFrame({"v": g.verts, "score": checks.pagerank_oracle(g, 0.85, 10)})
    expect("pagerank correct", checks.check_pagerank(g, pr, 10), False)
    expect("pagerank score +1e-5", checks.check_pagerank(
        g, with_value(pr, "score", 5, pr["score"].iloc[5] + 1e-5), 10), True)
    expect("pagerank 9 iterations instead of 10", checks.check_pagerank(
        g, pr.assign(score=checks.pagerank_oracle(g, 0.85, 9)), 10), True)

    cc = pd.DataFrame({"v": g.verts, "component": g.verts[g.components]})
    expect("cc correct", checks.check_components(g, cc), False)
    expect("cc label changed", checks.check_components(
        g, with_value(cc, "component", len(cc) - 1, root)), True)

    lpa = pd.DataFrame({"v": g.verts, "label": checks.lpa_oracle(g, 5)})
    expect("lpa correct", checks.check_lpa(g, lpa, 5), False)
    expect("lpa label changed", checks.check_lpa(
        g, with_value(lpa, "label", 3, lpa["label"].iloc[3] + 7), 5), True)

    dist = sssp_output(g, ri)
    expect("sssp correct", checks.check_sssp(g, root, dist), False)
    far = int(dist["dist"].to_numpy().argmax())
    expect("sssp distance -1", checks.check_sssp(
        g, root, with_value(dist, "dist", far, dist["dist"].iloc[far] - 1)), True)
    expect("sssp distance +1", checks.check_sssp(
        g, root, with_value(dist, "dist", far, dist["dist"].iloc[far] + 1)), True)
    expect("sssp vertex of another component reached", checks.check_sssp(
        g, root, pd.concat([dist, pd.DataFrame({"v": [int(g.verts[-1])], "dist": [1]})])), True)

    tri = checks.triangles_duckdb(src, dst)
    expect("triangles correct", checks.check_triangles(tri, tri), False)
    expect("triangles +1", checks.check_triangles(tri + 1, tri), True)

    expect("derive counts correct", checks.check_counts((8, 6), (8, 6)), False)
    expect("derive edge count +1", checks.check_counts((9, 6), (8, 6)), True)
    expect("derive vertex count -1", checks.check_counts((8, 5), (8, 6)), True)


if __name__ == "__main__":
    known_answers()
    corruptions()
    print(f"{len(FAILURES)} self-test cases went the wrong way")
    sys.exit(1 if FAILURES else 0)
