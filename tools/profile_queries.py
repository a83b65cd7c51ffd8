"""Per-query job and stage profile from Spark's status store.

Runs each named registry query to the noop sink on the bench session
(``get_spark``), each repetition in its own job group
(``profile:<query>#<rep>``), and prints per repetition: wall seconds,
the run's jobs in submission order (``bench.query_jobs``: id, seconds,
stages, tasks, call site), and the top-5 stages by executor run time.
The status store is live with ``spark.ui.enabled=false``, so no event
log is written or parsed.

Usage:
    python tools/profile_queries.py [--sf-dir DIR] [--reps 1] [--cpus N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from ecommerce_lakehouse_platform_spark import registry  # noqa: E402
from ecommerce_lakehouse_platform_spark.session import get_spark  # noqa: E402


def top_stages(spark, job_ids: list[int], n: int = 5) -> list[tuple]:
    """(executor run ms, stage id, tasks, name) of the ``n`` stages
    with the most executor run time among those ``job_ids`` ran."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = {sid for j in job_ids for sid in tracker.getJobInfo(j).stageIds}
    ran = []
    for sid in stage_ids:
        d = store.lastStageAttempt(sid)
        if d.status().toString() != "SKIPPED":
            ran.append((d.executorRunTime(), sid, d.numTasks(), d.name()))
    return sorted(ran, reverse=True)[:n]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=bench.graft_cpus())
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark(
        app_name="profile", cpus=args.cpus, shuffle_partitions=args.cpus
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for name in args.queries:
        if name not in registry.QUERIES:
            print(f"[profile] unknown query {name}", file=sys.stderr)
            continue
        for rep in range(args.reps):
            group = f"profile:{name}#{rep}"
            spark.catalog.clearCache()
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, args.sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            wall = time.perf_counter() - t0
            sc._jsc.clearJobGroup()
            jobs = bench.query_jobs(spark, group)
            print(
                f"\n=== {name} rep={rep} wall={wall:.3f}s jobs={len(jobs)} "
                f"stages={sum(j['stages'] for j in jobs)} "
                f"tasks={sum(j['tasks'] for j in jobs)} ==="
            )
            for j in jobs:
                print(
                    f"  job {j['id']}: {j['sec']:.3f}s stages={j['stages']} "
                    f"tasks={j['tasks']} {j['name']}"
                )
            print("  top stages by executor run time:")
            for run_ms, sid, tasks, sname in top_stages(
                spark, [j["id"] for j in jobs]
            ):
                print(f"  stage {sid}: run={run_ms}ms tasks={tasks} {sname[:100]}")
    spark.stop()


if __name__ == "__main__":
    main()
