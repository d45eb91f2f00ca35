"""Profile catalog queries: wall time + Spark job/stage/task counts.

At sf0.1 the base tables are single-digit MB, so per-query wall time is
dominated by fixed costs — number of jobs (driver round-trips), stages
(shuffle boundaries), and tasks (scheduling overhead) — rather than
data-proportional compute.  This tool makes those counts visible per
query so optimization targets the structure, not guesses.  Jobs are
those in the query's job group plus the ungrouped jobs started while
it ran (pool threads do not inherit the group).  Stages that ran and
stages that were skipped print separately, and tasks count completed
tasks (see ``stage_counts``).

Usage: python tools/profile_query.py <sf_dir> [--repeat N] <name> [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qaapi_spark.plans.catalog import CATALOG  # noqa: E402
from qaapi_spark.session import get_spark, release_kernel_caches  # noqa: E402


def stage_counts(tracker, job_ids) -> tuple[int, int, int]:
    """(stages run, stages skipped, tasks completed) over ``job_ids``.

    A job lists every stage of its lineage, but a stage whose shuffle
    output already exists is skipped and completes no task, so counting
    listed stages and their ``numTasks`` follows lineage depth, not
    work done."""
    ran = skipped = tasks = 0
    for jid in job_ids:
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is None:
                continue
            if si.numCompletedTasks > 0:
                ran += 1
                tasks += si.numCompletedTasks
            else:
                skipped += 1
    return ran, skipped, tasks


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
            ran, skipped, n_tasks = stage_counts(tracker, job_ids)
            print(
                f"[{r}] {name}: {dt:.3f}s rows={n} jobs={len(job_ids)} "
                f"stages_run={ran} stages_skipped={skipped} tasks={n_tasks}",
                flush=True,
            )
            release_kernel_caches()
            jvm_gc()


if __name__ == "__main__":
    main()
