"""The benchmark's two workloads.

Each workload function runs one timed round through the program's public
functions under a :class:`spans.Recorder`, then returns a ``verify``
callable.  ``verify`` runs after timing: it collects the outputs, checks
them against ``checks.py`` and returns ``(errors, metrics)``, where the
metrics are those that need checked outputs (Graph500 TEPS needs the
edge-visit count of the checked levels).

* ``kronecker_s16`` — the bit-exact Graph500 graph at scale 16, built and
  searched on the driver path: generator kernels, msbfs and the driver
  twins do the work.
* ``transcripts_dist`` — the shipped ``jobs/linkgraph_job.py`` run
  in-process over synthetic transcripts with the driver budget at 0, so
  every operator runs its distributed loop and writes its tables.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
from pathlib import Path

import numpy as np
import pandas as pd

import checks

SCALE = 16
N_ROOTS = 4
# the derive-edges job, the whole of build_s on transcripts, jitters by up
# to a quarter from run to run as one call, so build_s is a median of two
DERIVE_REPEATS = 2
PAGERANK_ITERS = 10
LPA_ROUNDS = 5
N_CONVS = 1000
JOB_PAGERANK_ITERS = 5
JOB_LPA_ROUNDS = 3

# call -> the program modules it exercises (for the per-layer table)
MODULES = {
    "gen": "sources.kronecker",
    "symmetrize": "operators.prep",
    "degrees": "operators.prep",
    "csr_export": "operators.msbfs",
    "roots": "operators.graph500",
    "bfs_root": "operators.msbfs",
    "bfs_batch": "operators.msbfs",
    "derive": "sources.edges+plans.warehouse",
    "bfs": "operators.bfs",
    "pagerank": "operators.pagerank",
    "cc": "operators.components",
    "lpa": "operators.label_propagation",
    "sssp": "operators.sssp",
    "triangles": "operators.triangles",
}
KRONECKER_BUILD = ("gen", "symmetrize", "degrees", "csr_export", "roots")
ANALYTICS = ("bfs", "pagerank", "cc", "lpa", "sssp", "triangles")


def _cached(df):
    """Cache ``df`` and materialize it; returns (df, row count)."""
    df = df.cache()
    return df, df.count()


def _hmean_teps(visits: list[int], walls: list[float]) -> float:
    return len(visits) / sum(w / v for v, w in zip(visits, walls))


def kronecker_s16(spark, rec, work: Path, seed: int):
    from pyspark.sql import functions as F

    from graph500_bfs_spark.operators.bfs import bfs
    from graph500_bfs_spark.operators.components import connected_components
    from graph500_bfs_spark.operators.graph500 import sample_roots_spec
    from graph500_bfs_spark.operators.label_propagation import label_propagation
    from graph500_bfs_spark.operators.msbfs import bfs_multi, export_blocks_indexed
    from graph500_bfs_spark.operators.pagerank import pagerank
    from graph500_bfs_spark.operators.prep import out_degrees, symmetrize
    from graph500_bfs_spark.operators.sssp import sssp
    from graph500_bfs_spark.operators.triangles import triangle_count
    from graph500_bfs_spark.sources.kronecker import kronecker_edges

    os.environ.pop("SPARK_GRAFT_DRIVER_GRAPH_ROWS", None)  # default driver budget
    blocks = str(work / "blocks")
    nblocks = 2 * spark.sparkContext.defaultParallelism  # as many as shuffle partitions

    g, _ = rec.call("gen", lambda: _cached(kronecker_edges(spark, SCALE)))
    (es, m), (ed, _) = rec.call(
        "symmetrize", lambda: (_cached(symmetrize(g, dedup=False)), _cached(symmetrize(g))))

    def degrees():
        deg = out_degrees(es).cache()
        dp = deg.orderBy("v").toPandas()
        return deg, dp["v"].to_numpy(np.int64), dp["deg"].to_numpy(np.int64)

    deg, dvs, ddeg = rec.call("degrees", degrees)
    rec.call("csr_export", lambda: export_blocks_indexed(es, nblocks, blocks, dvs))
    # the workload seed picks the root sample; generator seeds stay 2/3
    roots = rec.call("roots", lambda: sample_roots_spec(deg, SCALE, N_ROOTS, r1=seed, r2=seed))
    build_s = sum(rec.wall(c) for c in KRONECKER_BUILD)

    def msbfs(rs):
        return bfs_multi(spark, blocks, nblocks, rs, (dvs, ddeg), m)

    per_root, root_walls = [], []
    for r in roots:
        per_root.append(rec.call("bfs_root", lambda: msbfs([r])))
        root_walls.append(rec.spans[-1].wall_s)
    batch = rec.call("bfs_batch", lambda: msbfs(roots))

    # each analytics call is timed to its result collected on the driver
    bfs_out = rec.call("bfs", lambda: bfs(ed, roots[0])[0].toPandas())
    pr_out = rec.call(
        "pagerank", lambda: pagerank(ed, max_iter=PAGERANK_ITERS, tol=None).toPandas())
    cc_out = rec.call("cc", lambda: connected_components(ed).toPandas())
    lpa_out = rec.call("lpa", lambda: label_propagation(ed, max_iter=LPA_ROUNDS).toPandas())

    def run_sssp():
        w = (F.pmod("src", F.lit(7)) + F.pmod("dst", F.lit(7))) % 7 + 1
        dist, iters = sssp(ed.withColumn("w", w), roots[0])
        return dist.toPandas(), iters

    sssp_out, sssp_iters = rec.call("sssp", run_sssp)
    n_tri = rec.call("triangles", lambda: triangle_count(ed))

    metrics = {"build_s": build_s, "analytics_s": sum(rec.wall(c) for c in ANALYTICS)}
    counts = {
        "bfs_root.supersteps": sum(len(met.supersteps) for _, met in per_root),
        "bfs_batch.supersteps": len(batch[1].supersteps),
        "sssp.iterations": sssp_iters,
    }

    def verify():
        slots = g.toPandas()
        src, dst = slots["src"].to_numpy(), slots["dst"].to_numpy()
        graph = checks.Graph(src, dst)
        errs, visits = [], []
        for r, (res, _) in zip(roots, per_root):
            out = res[r].toPandas()
            errs += checks.check_bfs(graph, r, out, f"bfs_root[{r}]")
            visits.append(checks.visit_count(src, out["v"].to_numpy()))
        errs += checks.check_pf_nedge(graph, roots, visits, checks.PF_NEDGE_S16)
        batch_visits = 0
        for r in roots:
            out = batch[0][r].toPandas()
            errs += checks.check_bfs(graph, r, out, f"bfs_batch[{r}]")
            batch_visits += checks.visit_count(src, out["v"].to_numpy())
        errs += checks.check_bfs(graph, roots[0], bfs_out, "bfs")
        errs += checks.check_pagerank(graph, pr_out, PAGERANK_ITERS)
        errs += checks.check_components(graph, cc_out)
        errs += checks.check_lpa(graph, lpa_out, LPA_ROUNDS)
        errs += checks.check_sssp(graph, roots[0], sssp_out)
        errs += checks.check_triangles(n_tri, checks.cached_triangles(SCALE))
        return errs, {
            "g500_hmean_teps": _hmean_teps(visits, root_walls),
            "g500_batch_teps": batch_visits / rec.wall("bfs_batch"),
        }

    return metrics, counts, verify


def transcripts_dist(spark, rec, work: Path, seed: int):
    from graph500_bfs_spark.sources.transcripts import synthesize_transcripts

    jobs = str(checks.HERE.parent / "jobs")
    if jobs not in sys.path:
        sys.path.insert(0, jobs)
    import linkgraph_job

    tx = str(work / "transcripts")
    wh = work / "warehouse"
    edges = str(wh / "edges")
    # input synthesis is outside timing
    synthesize_transcripts(spark, n_convs=N_CONVS, seed=seed).write.mode("overwrite").parquet(tx)
    os.environ["SPARK_GRAFT_DRIVER_GRAPH_ROWS"] = "0"  # every operator distributed

    def job(call, *argv):
        def run():
            # the job prints its result line; keep stdout for ours
            with contextlib.redirect_stdout(sys.stderr):
                return linkgraph_job.main([*argv, "--warehouse", str(wh)])
        return rec.call(call, run)

    # the second derivation overwrites the first's tables
    derived = [job("derive", "derive-edges", "--transcripts", tx) for _ in range(DERIVE_REPEATS)]
    bfs_res = job("bfs", "bfs", "--edges", edges, "--checkpoint-dir", str(work / "ck_bfs"))
    job("pagerank", "pagerank", "--edges", edges, "--checkpoint-dir", str(work / "ck_pagerank"),
        "--max-iter", str(JOB_PAGERANK_ITERS))
    job("cc", "cc", "--edges", edges)
    job("lpa", "lpa", "--edges", edges, "--max-iter", str(JOB_LPA_ROUNDS))
    tri_res = job("triangles", "triangles", "--edges", edges)
    # fails on every run: the job's endpoint-sum weight overflows int64 on
    # hashed entity ids under ANSI mode (see README)
    job("sssp", "sssp", "--edges", edges)

    metrics = {
        "build_s": statistics.median(s.wall_s for s in rec.spans if s.call == "derive"),
        "analytics_s": sum(rec.wall(c) for c in ANALYTICS),
    }
    counts = {"bfs_root.supersteps": 0, "bfs_batch.supersteps": 0, "sssp.iterations": 0}

    def verify():
        def table(name):
            return pd.read_parquet(wh / name)

        txp = pd.read_parquet(tx)
        e = table("edges")
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        graph = checks.Graph(src, dst)
        errs = checks.check_counts((len(e), len(table("vertices"))),
                                   checks.transcript_counts(txp))
        if any(d is None or d["n_edges"] != len(e) for d in derived):
            errs.append("derive: job did not report the edge count it wrote")
        root = bfs_res["root"]
        deg = np.diff(graph.indptr)
        if deg[graph.index([root])[0]] != deg.max():
            errs.append(f"bfs: root {root} is not a maximum-degree vertex")
        bfs_out = table("bfs_result")
        errs += checks.check_bfs(graph, root, bfs_out, "bfs")
        errs += checks.check_pagerank(graph, table("pagerank"), JOB_PAGERANK_ITERS)
        errs += checks.check_components(graph, table("components"))
        errs += checks.check_lpa(graph, table("labels"), JOB_LPA_ROUNDS)
        errs += checks.check_triangles(tri_res["n_triangles"], checks.triangles_duckdb(src, dst))
        # one root in one call: per-root and batch TEPS coincide here
        teps = checks.visit_count(src, bfs_out["v"].to_numpy()) / rec.wall("bfs")
        return errs, {"g500_hmean_teps": teps, "g500_batch_teps": teps}

    return metrics, counts, verify


WORKLOADS = {"kronecker_s16": kronecker_s16, "transcripts_dist": transcripts_dist}
