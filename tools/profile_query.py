"""Profile catalog queries: wall time + Spark job/stage/task counts.

At sf0.1 the base tables are single-digit MB, so per-query wall time is
dominated by fixed costs — number of jobs (driver round-trips), stages
(shuffle boundaries), and tasks (scheduling overhead) — rather than
data-proportional compute.  This tool makes those counts visible per
query so optimization targets the structure, not guesses.  Jobs are
those in the query's job group plus the ungrouped jobs started while
it ran (pool threads do not inherit the group).

Usage: python tools/profile_query.py <sf_dir> [--repeat N] <name> [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qaapi_spark.plans.catalog import CATALOG  # noqa: E402
from qaapi_spark.session import get_spark, release_kernel_caches  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0)
    repeat = 1
    if args and args[0] == "--repeat":
        args.pop(0)
        repeat = int(args.pop(0))
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_gc = sc._jvm.System.gc
    tracker = sc.statusTracker()
    for r in range(repeat):
        for name in args:
            group = f"prof_{name}_{r}"
            ungrouped = set(tracker.getJobIdsForGroup(None))
            sc.setJobGroup(group, name)
            t0 = time.time()
            n = len(CATALOG[name].fn(spark, sf_dir).collect())
            dt = time.time() - t0
            sc.setJobGroup(None, None)
            # pool threads (e.g. run_batch's per-table reconciles) do not
            # inherit the job group: count the ungrouped jobs the query
            # started too
            job_ids = sorted(
                set(tracker.getJobIdsForGroup(group))
                | (set(tracker.getJobIdsForGroup(None)) - ungrouped)
            )
            n_stages = 0
            n_tasks = 0
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            print(
                f"[{r}] {name}: {dt:.3f}s rows={n} jobs={len(job_ids)} "
                f"stages={n_stages} tasks={n_tasks}",
                flush=True,
            )
            release_kernel_caches()
            jvm_gc()


if __name__ == "__main__":
    main()
