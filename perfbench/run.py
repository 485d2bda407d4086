"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kronecker_s16 --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, on ``local[<cores>]`` with a
driver heap sized for a small machine.  A run starts the Spark session,
JVM included, once and reports that time as ``setup_s``; every further
start would add ~10 s to a run of 45-70 s.  It then times whole rounds
of the workload until ``--seconds`` have passed (at least one round),
checks every round's outputs, and reports the median of each metric over
rounds.

``--trace 1`` starts the session with Spark's event log on and reports the
per-layer split of every call instead (see ``spans.py``).  All files the
run writes go under ``.perfbench_work/`` in the checkout and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "4g"

END_TO_END_UNITS = {
    "setup_s": "s", "build_s": "s", "g500_hmean_teps": "TEPS", "g500_batch_teps": "TEPS",
    "analytics_s": "s", "run_s": "s", "driver_peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, event_dir: Path | None):
    """get_spark with the benchmark's machine settings; (spark, seconds)."""
    from graph500_bfs_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _table(workload: str, layers: dict[str, dict[str, float]], run_s: float) -> str:
    from spans import MEASURES

    from workloads import MODULES

    head = f"{'call':<11} {'module':<30}" + "".join(f"{m:>20}" for m in MEASURES)
    rows = [f"per-layer split, {workload}", head]
    for call, m in layers.items():
        rows.append(f"{call:<11} {MODULES[call]:<30}" + "".join(f"{m[k]:>20.4g}" for k in MEASURES))
    total = sum(m["wall_s"] for m in layers.values())
    rows.append(f"sum of call wall_s {total:.3f} s of run_s {run_s:.3f} s "
                f"({100 * total / run_s:.1f}%)")
    return "\n".join(rows)


def run(workload: str, seed: int, seconds: float, traced: bool, work: Path) -> dict:
    import spans as tracing

    from workloads import MODULES, WORKLOADS

    event_dir = work / "events" if traced else None
    if event_dir:
        event_dir.mkdir(parents=True)
    spark, setup_s = start_session(work, event_dir)
    rounds, errors, attempted, failed = [], [], 0, 0
    t_start = time.perf_counter()
    try:
        while not rounds or time.perf_counter() - t_start < seconds:
            rec = tracing.Recorder(spark)
            rdir = work / f"round{len(rounds)}"
            rdir.mkdir()
            metrics, counts, verify = WORKLOADS[workload](spark, rec, rdir, seed)
            run_s = rec.body_s()
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            t1 = time.perf_counter()
            try:
                errs, more = verify()
            except Exception as exc:  # a crashing check is a failed check
                errs, more = [f"check raised {exc!r}"], {}
            print(f"[perfbench] round {len(rounds)}: body {run_s:.1f} s, "
                  f"checks {time.perf_counter() - t1:.1f} s; calls: "
                  + ", ".join(f"{s.call} {s.wall_s:.3f}" for s in rec.spans), file=sys.stderr)
            errors += errs
            spark.catalog.clearCache()
            shutil.rmtree(rdir, ignore_errors=True)
            attempted += rec.attempted
            failed += rec.failed
            rounds.append({"metrics": {**metrics, **more, "run_s": run_s,
                                       "driver_peak_rss_mb": rss_mb},
                           "counts": counts, "spans": rec.spans})
    finally:
        stop_session(spark)
    for e in errors:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)

    if traced:
        (log,) = event_dir.iterdir()
        per_round = []
        for r in rounds:
            layers = tracing.per_call(log, r["spans"])
            print(_table(workload, layers, r["metrics"]["run_s"]))
            flat = {f"{c}.{k}": 0 for c in MODULES for k in tracing.MEASURES}
            flat.update({f"{c}.{k}": v for c, m in layers.items() for k, v in m.items()})
            flat.update(r["counts"])
            flat["body.run_s"] = r["metrics"]["run_s"]
            flat["body.calls_wall_s"] = sum(m["wall_s"] for m in layers.values())
            per_round.append(flat)
        values = {k: statistics.median(p[k] for p in per_round) for k in per_round[0]}
        units = {k: _layer_unit(k) for k in values}
    else:
        values = {k: statistics.median(r["metrics"][k] for r in rounds)
                  for k in END_TO_END_UNITS if k != "setup_s"}
        values["setup_s"] = setup_s
        units = END_TO_END_UNITS
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def _layer_unit(name: str) -> str:
    measure = name.split(".", 1)[1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_bytes"):
        return "bytes"
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("kronecker_s16", "transcripts_dist"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "graph500_bfs_spark" / "session.py").is_file() or not (
        ROOT / "jobs" / "linkgraph_job.py"
    ).is_file():
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    tempfile.tempdir = str(work / "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_SHUFFLE": str(2 * _cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
