"""Job-level decomposition of one streaming twin's epoch callbacks.

profile_stream.py says WHICH epoch is slow; this says WHY: it times
every blocking driver action (collect/count/toPandas/parquet write)
issued inside each epoch callback, with the action's plan description
truncated, and counts Spark jobs per epoch via job groups, with stages
run and skipped counted apart and tasks counted as completed tasks
(profile_query.stage_counts).  Its one streaming patch point is the
epoch runner's ``_epoch`` (qaapi_spark/streaming/epochs.py); work an
epoch submits to driver threads (par_writes, guard probes) is
re-grouped inside the pool thread so overlapped jobs are counted too.

Usage: python tools/profile_epoch_jobs.py <sf_dir> <catalog_name>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: pyspark.sql.DataFrame is the abstract interface; live
# objects are the classic implementations — patch those.
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from profile_query import stage_counts  # noqa: E402  (tools/ is sys.path[0])
from qaapi_spark.plans.catalog import CATALOG  # noqa: E402
from qaapi_spark.session import get_spark  # noqa: E402

ACTIONS: list[tuple[str, str, float]] = []  # (phase, action desc, sec)
_PHASE = ["?"]


def _wrap_action(cls, name):
    orig = getattr(cls, name)

    def wrapped(self, *a, **kw):
        t0 = time.time()
        try:
            return orig(self, *a, **kw)
        finally:
            dt = time.time() - t0
            if dt > 0.005:
                desc = ""
                try:
                    df = self._df if isinstance(self, DataFrameWriter) else self
                    cols = df.columns
                    desc = ",".join(cols[:6]) + ("..." if len(cols) > 6 else "")
                except Exception:
                    pass
                ACTIONS.append((_PHASE[0], f"{name}({desc})", dt))

    setattr(cls, name, wrapped)


def main() -> None:
    sf_dir, name = sys.argv[1], sys.argv[2]
    spark = get_spark("profile-epoch-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    for act in ("collect", "count"):
        _wrap_action(DataFrame, act)
    _wrap_action(DataFrameWriter, "parquet")
    _wrap_action(DataFrameWriter, "save")

    from concurrent.futures import ThreadPoolExecutor

    from qaapi_spark.streaming import epochs

    # group every epoch's jobs, including its driver-thread work
    epoch_groups: list[tuple[str, float]] = []
    orig_epoch = epochs._epoch

    def grouped_epoch(fn, bdf, epoch_id):
        group = f"epoch_{int(epoch_id)}"
        _PHASE[0] = group
        sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            return orig_epoch(fn, bdf, epoch_id)
        finally:
            epoch_groups.append((group, time.time() - t0))
            sc.setJobGroup(None, None)
            _PHASE[0] = "?"

    orig_submit = ThreadPoolExecutor.submit

    def grouped_submit(self, fn, *a, **kw):
        group = _PHASE[0]
        if group == "?":
            return orig_submit(self, fn, *a, **kw)

        def run(*a2, **kw2):
            sc.setJobGroup(group, group + "_w")
            return fn(*a2, **kw2)

        return orig_submit(self, run, *a, **kw)

    epochs._epoch = grouped_epoch
    ThreadPoolExecutor.submit = grouped_submit

    t0 = time.time()
    rows = len(CATALOG[name].fn(spark, sf_dir).collect())
    total = time.time() - t0
    print(f"\n== {name}: total={total:.2f}s rows={rows}")
    for group, wall in epoch_groups:
        jids = sorted(tracker.getJobIdsForGroup(group))
        ran, skipped, n_tasks = stage_counts(tracker, jids)
        acts = [(a, dt) for ph, a, dt in ACTIONS if ph == group]
        acts_s = sum(dt for _, dt in acts)
        print(
            f"  {group}: wall={wall:.2f}s jobs={len(jids)} stages_run={ran} "
            f"stages_skipped={skipped} tasks={n_tasks} actions_sum={acts_s:.2f}s"
        )
        for a, dt in acts:
            print(f"      {dt:6.2f}s  {a}")
        if "--jobs" in sys.argv:
            for jid in jids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                names = []
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None:
                        done = si.numCompletedTasks
                        names.append(f"{si.name}[{done if done else 'skipped'}]")
                print(f"      job {jid}: {'; '.join(names)}")


if __name__ == "__main__":
    main()
