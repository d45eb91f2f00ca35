"""One benchmark run of one workload, in a fresh process.

Started by ``perfbench/run.py`` with the environment already pinned.
Usage: python perfbench/worker.py '<json settings>'

Phases: set-up (imports, input generation, session start, warm pass),
the timed closed loop between two sets of reference-job runs, then,
with Spark stopped, output checks and metrics.  The result is written as JSON to ``settings["result"]``.
"""

from __future__ import annotations

import time

T_START = time.time()

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 20."""
    n = len(latencies)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            xs = sorted(latencies)
            k = (n - 1) * p / 100.0
            lo = int(k)
            hi = min(lo + 1, n - 1)
            return p, xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return 100.0, max(latencies)


# the runtime SQL settings the reference job depends on, pinned while it
# runs so that the program's own session tuning (shuffle partitions, AQE)
# moves the ops but not the reference
REFERENCE_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
}


def reference_runs(spark, n: int, path: str | None) -> list[float]:
    """Walls of ``n`` runs of a fixed Spark job that runs no
    ``qaapi_spark`` code.  With a ``path``: 20k generated rows written as
    8 parquet files there, read back, aggregated through a shuffle and
    collected; without: two shuffles over 50k generated rows, collected.

    On a shared 4-vCPU VM, host speed drifts by up to half within minutes
    (other tenants), in CPU and in the file-system path alike; op
    latencies divided by this job's median time, measured in the same run
    before and after the timed loop, compare across runs where raw seconds
    do not.  Each workload takes the job closer to its ops: the file
    write for the write-heavy ETL, which the shuffle-only job tracked
    less well, and the shuffle-only job for the in-memory queries."""
    def once() -> float:
        t0 = time.perf_counter()
        if path is None:
            (spark.range(0, 50_000, 1, 4).selectExpr("id % 97 AS k", "id")
             .groupBy("k").count().orderBy("k").collect())
        else:
            (spark.range(0, 20_000, 1, 8).selectExpr("id % 97 AS k", "id")
             .write.mode("overwrite").parquet(path))
            spark.read.parquet(path).groupBy("k").count().collect()
        return time.perf_counter() - t0

    saved = {k: spark.conf.get(k, None) for k in REFERENCE_CONF}
    for k, v in REFERENCE_CONF.items():
        spark.conf.set(k, v)
    try:
        return [once() for _ in range(n)]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def jvm_pids(root_pid: int) -> list[int]:
    """The driver JVM: ``java`` processes at or below the gateway's pid."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
            except (FileNotFoundError, IndexError, ValueError):
                continue
    out, stack = [], [root_pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    out.append(p)
        except FileNotFoundError:
            pass
        stack.extend(children.get(p, []))
    return out


def main(settings: dict) -> dict:
    sys.path.insert(0, settings["root"])
    from perfbench import trace as tr
    from perfbench import workloads

    seed, seconds, traced = settings["seed"], settings["seconds"], settings["trace"]
    wl = workloads.WORKLOADS[settings["workload"]]()
    phases: dict[str, float] = {}

    t = time.time()
    if isinstance(wl, workloads.EtlWorkload):
        # one window for the warm pass, then three for each timed loop
        # (three loops when traced): enough for a 5 s loop until a batch
        # takes under 1.7 s
        wl.prepare(settings["data"], seed, n_windows=1 + (1 + 2 * traced) * 3)
    else:
        wl.prepare(settings["data"], seed)
    phases["generate_s"] = time.time() - t

    t = time.time()
    from qaapi_spark.session import get_spark, release_kernel_caches

    spark = get_spark(f"perfbench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_gc = spark.sparkContext._jvm.System.gc
    jvm_runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    live_heap: list[int] = []  # JVM heap in use after each op's GC
    phases["session_s"] = time.time() - t

    tracer = tr.Tracer()
    progress: list[dict] = []
    merges: list[dict] = []
    if traced:
        import qaapi_spark.operators.partitioned as part
        import qaapi_spark.pipeline as pipeline
        import qaapi_spark.transforms as transforms

        spark.streams.addListener(tr.make_listener(progress))
        for fn in ("forms_flatten", "contacts_curated", "evaluations_curated",
                   "scores_flatten", "comments_curated"):
            tracer.wrap(transforms, fn, f"transforms.{fn}")
        tracer.wrap(pipeline, "read_entity", "landing.read_entity")
        for fn in ("merge_insert_only", "merge_upsert", "delete_semi_anti"):
            tracer.wrap(pipeline, fn, f"maintain.{fn}")

        def _buckets(args, kwargs, result):
            # affected_buckets(target, batch, keys, key_col, n_buckets, ...)
            merges.append({"op": tracer.op_id, "batch": args[1], "key_col": args[3],
                           "n_buckets": args[4], "rewritten": len(result)})

        tracer.wrap(part, "merge_partitioned", "partitioned.merge")
        tracer.wrap(part, "affected_buckets", "partitioned.affected_buckets", after=_buckets)
    wl.start(spark, tracer)

    results: list = []
    op_windows: list[dict] = []
    scratch_roots = [os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"]]
    warehouse = getattr(wl, "warehouse", None)

    def run(name: str, is_timed: bool) -> workloads.OpResult:
        res = workloads.OpResult(name)
        op_id = len(results)
        snap = traced and tracer.enabled
        tracer.op_id = op_id
        if snap:
            before_wh = tr.snapshot(warehouse) if warehouse else {}
            before_scratch = tr.snapshot(*scratch_roots)
        sid = tracer.open("op")
        res.start = time.time()
        t0 = time.perf_counter()
        try:
            wl.run_op(name, res)
        except Exception as e:  # an op that raises is a failed op, not a crash
            res.error = f"{type(e).__name__}: {str(e)[:500]}"
        res.latency_s = time.perf_counter() - t0
        res.end = time.time()
        tracer.close(sid)
        tracer.op_id = None
        results.append(res)
        # "traced": a timed op of the traced loop, the ops layer metrics cover
        win = {"op": op_id, "name": name, "traced": is_timed and snap, "start": res.start,
               "end": res.end, "span": sid}
        if snap:
            win["wh"] = tr.written(before_wh, tr.snapshot(warehouse)) if warehouse else (0, 0)
            win["scratch"] = tr.written(before_scratch, tr.snapshot(*scratch_roots))
            if isinstance(wl, workloads.EtlWorkload):
                win["landed"] = wl.landed_bytes(wl.applied - 1)
        op_windows.append(win)
        # between ops, off the clock: drop the op's scratch caches and let
        # the driver reclaim dead broadcast blocks (as bench.py does)
        release_kernel_caches()
        jvm_gc()
        live_heap.append(jvm_runtime.totalMemory() - jvm_runtime.freeMemory())
        return res

    def loop() -> tuple[list, float]:
        """Whole passes over the workload's ops until ``seconds`` have
        gone (at least one pass); returns (op results, wall)."""
        done: list = []
        t_loop = time.time()
        while names := wl.op_names():
            done += [run(name, True) for name in names]
            if time.time() - t_loop >= seconds:
                break
        return done, time.time() - t_loop

    t = time.time()
    for name in wl.warm_ops():
        run(name, False)
    phases["warm_s"] = time.time() - t
    n_warm = len(results)
    setup_s = time.time() - T_START

    ref_path = os.path.join(settings["data"], "reference") if wl.writes_files else None
    reference_runs(spark, 1, ref_path)  # codegen
    # both sides of the loop: a slow spell during one side moves the
    # median of the six runs less than it moves either side's
    ref = reference_runs(spark, 3, ref_path)
    if not traced:
        timed, loop_wall = loop()
    else:
        # untraced, traced, untraced: the untraced loops (spans, listener
        # attribution and file counts off) give the wall the overhead is
        # measured against, and the symmetric order cancels a steady drift
        # (JIT warm-up, a growing warehouse) between loops
        tracer.enabled = False
        base, _ = loop()
        tracer.enabled = True
        timed, loop_wall = loop()
        tracer.enabled = False
        base += loop()[0]
        tracer.enabled = True
    ref += reference_runs(spark, 3, ref_path)
    ref_s = statistics.median(ref)

    if traced:
        # progress events reach Python asynchronously: wait for quiet
        n, quiet_since, t_wait = -1, time.time(), time.time()
        while time.time() - quiet_since < 0.5 and time.time() - t_wait < 5:
            if len(progress) != n:
                n, quiet_since = len(progress), time.time()
            time.sleep(0.1)
        # buckets each merged batch holds (jobs run after every op window)
        from qaapi_spark.operators.partitioned import bucket_of

        for m in merges:
            m["useful"] = m["batch"].select(
                bucket_of(m["key_col"], m["n_buckets"]).alias("b")).distinct().count()
            del m["batch"]
        tracer.unwrap_all()

    gw = spark.sparkContext._gateway
    py_kb = vm_hwm_kb(os.getpid())
    rss_kb = py_kb + sum(vm_hwm_kb(p) for p in jvm_pids(gw.proc.pid))
    calib = None
    if traced:
        # host speed at the time of the run, from the repository harness's
        # own probes (called, not changed)
        import bench

        calib = {"cpu_s": bench._calib_cpu(), "io_s": bench._calib_io(),
                 "mt_s": bench._calib_mt(), "spark_s": bench._calib_spark(spark)}
    t = time.time()
    spark.stop()
    phases["stop_s"] = time.time() - t

    t = time.time()
    bad = wl.check(results)
    phases["check_s"] = time.time() - t
    failed = [r for r in results if wl.failed(r, bad)]
    lat = [r.latency_s for r in timed]
    p_tail, v_tail = tail(lat)
    out = {
        "workload": wl.name,
        "seed": seed,
        "seconds": seconds,
        "trace": traced,
        "describe": wl.describe(),
        "input_sizes": wl.sizes,
        "setup_phases": phases,
        "attempted": len(results),
        "failed": len(failed),
        "failures": {r.name: r.error or bad.get(r.name) or str(bad) for r in failed},
        "timed_ops": len(timed),
        "loop_wall_s": loop_wall,
        "op_latencies": [[r.name, r.latency_s] for r in timed],
        "warm_latencies": [[r.name, r.latency_s] for r in results[:n_warm]],
        "reference_s": ref_s,
        "reference_runs_s": ref,
        "seconds_metrics": {
            "ops_per_s": len(timed) / sum(lat),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": v_tail,
        },
        "metrics": {
            "setup_s": setup_s,
            "ops_per_ref": len(timed) / sum(lat) * ref_s,
            "op_p50_ref": statistics.median(lat) / ref_s,
            "ok_ops_share": 1.0 - len(failed) / len(results),
            "live_mem_mb": py_kb / 1024.0 + max(live_heap) / 2**20,
        },
        # reported, not declared: with the program's growable driver heap,
        # the JVM's peak RSS follows the collector's sizing choices, which
        # react to host speed, and spread by up to a fifth between runs
        "peak_rss_mb": rss_kb / 1024.0,
        "live_mem_parts_mb": {"python_hwm": py_kb / 1024.0,
                              "jvm_live_heap": max(live_heap) / 2**20},
        "failed_ops_share": len(failed) / len(results),
        # the tail is reported, not declared: a run times one to eight
        # ops, so it is the slowest of those, not a tail latency
        "op_tail_percentile": p_tail,
        "op_tail_samples": len(lat),
        "op_tail_ref": v_tail / ref_s,
    }
    out.update(wl.finish())
    if traced:
        out["host_calibration"] = calib
        out["layers"] = layer_metrics(settings, wl, results, op_windows, tracer, progress,
                                      merges, out.get("store_bytes_per_input_byte", 0.0))
        mean = lambda rs: sum(r.latency_s for r in rs) / len(rs)  # noqa: E731
        out["layers"]["metrics"]["trace.overhead_share"] = mean(timed) / mean(base) - 1.0
        out["layers"]["metrics"]["memory.peak_rss_mb"] = out["peak_rss_mb"]
        tracer.write(settings["spans"])
    return out


def layer_metrics(settings, wl, results, op_windows, tracer, progress, merges,
                  store_ratio) -> dict:
    """Per-layer metrics over the timed ops, each as a mean per op
    unless its name says otherwise."""
    from perfbench import trace as tr

    jobs, tasks = tr.parse_event_log(settings["eventlog"])
    timed = [w for w in op_windows if w["traced"]]
    n = len(timed)
    spans = tracer.spans

    # streaming triggers become spans under the op's build span
    for ev in progress:
        d = ev["durations"]
        end = ev["start"] + d.get("triggerExecution", 0) / 1000.0
        for w in op_windows:
            if w["start"] <= ev["start"] <= w["end"]:
                builds = [s for s in spans if s["op"] == w["op"] and s["name"] == "plans.build"]
                parent = builds[0]["id"] if builds else w["span"]
                tracer.add_span("streaming.trigger", ev["start"], min(end, w["end"]), parent,
                                w["op"])
                ev["op"] = w["op"]
                break

    tot: dict[str, float] = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    layer_self: dict[str, float] = {}
    wall = 0.0
    unattributed = 0.0
    out_rows = 0
    for w in timed:
        sp = tr.spark_per_op(jobs, tasks, w["start"], w["end"])
        for k, v in sp.items():
            add("spark." + k, v)
        # rows an op returns; for the pipeline, the rows it writes
        rows = wl.output_rows(results[w["op"]])
        out_rows += sp["output_records"] if rows is None else rows
        mine = [s for s in spans if s["op"] == w["op"] and s["end"] is not None]
        op_span = spans[w["span"]]
        wall += op_span["end"] - op_span["start"]
        for k, v in tr.self_times(spans, op_span).items():
            layer_self[k] = layer_self.get(k, 0.0) + v
        # op wall outside every layer span: what the wrappers do not see
        lo, hi = op_span["start"], op_span["end"]
        inner = [(max(s["start"], lo), min(s["end"], hi)) for s in mine if s["id"] != w["span"]]
        unattributed += (hi - lo) - tr.union_length([(a, b) for a, b in inner if b > a])

        def dur(name):
            return sum(s["end"] - s["start"] for s in mine if s["name"] == name)

        def union(prefix):
            return tr.union_length([(s["start"], s["end"]) for s in mine
                                    if s["name"].startswith(prefix)])

        add("plans.build_s", dur("plans.build"))
        add("plans.collect_s", dur("plans.collect"))
        add("pipeline.run_batch_s", dur("pipeline.run_batch"))
        add("transforms.build_s", union("transforms."))
        add("partitioned.merge_s", union("partitioned.merge"))
        wh_b, wh_f = w.get("wh", (0, 0))
        sc_b, sc_f = w.get("scratch", (0, 0))
        add("warehouse.bytes_written", wh_b)
        add("warehouse.files_written", wh_f)
        add("landed_bytes", w.get("landed", 0))
        add("scratch.bytes_written", sc_b)
        add("scratch.files_written", sc_f)
        evs = [e for e in progress if e.get("op") == w["op"]]
        add("streaming.triggers", len(evs))
        add("streaming.add_batch_s", sum(e["durations"].get("addBatch", 0) for e in evs) / 1e3)
        add("streaming.engine_s", sum(e["durations"].get(p, 0) for e in evs
                                      for p in tr.ENGINE_PHASES) / 1e3)
        if evs:
            add("stream_jobs", sp["jobs"])

    timed_ops = {w["op"] for w in timed}
    mine_merges = [m for m in merges if m["op"] in timed_ops]
    per_op = lambda k: tot.get(k, 0.0) / n  # noqa: E731
    m = {k: per_op(k) for k in (
        "spark.jobs", "spark.tasks", "spark.busy_s", "spark.driver_gap_s",
        "plans.build_s", "plans.collect_s", "pipeline.run_batch_s", "transforms.build_s",
        "partitioned.merge_s", "warehouse.bytes_written", "warehouse.files_written",
        "scratch.bytes_written", "scratch.files_written", "streaming.triggers",
        "streaming.add_batch_s", "streaming.engine_s")}
    m.update({
        "spark.executor_run_s": per_op("spark.run_s"),
        "spark.executor_cpu_s": per_op("spark.cpu_s"),
        "spark.jvm_gc_s": per_op("spark.gc_s"),
        "spark.shuffle_write_bytes": per_op("spark.shuffle_write_bytes"),
        "spark.shuffle_read_bytes": per_op("spark.shuffle_read_bytes"),
        "spark.spill_bytes": per_op("spark.spill_bytes"),
        "spark.shuffle_records_per_output_row":
            tot.get("spark.shuffle_records", 0.0) / max(1, out_rows),
        "spark.input_bytes": per_op("spark.input_bytes"),
        "spark.output_bytes": per_op("spark.output_bytes"),
        "spark.failed_tasks": tot.get("spark.failed_tasks", 0.0),
        "pipeline.self_s": layer_self.get("pipeline.run_batch", 0.0) / n,
        "partitioned.bucket_useful_ratio":
            sum(x["useful"] for x in mine_merges) / sum(x["rewritten"] for x in mine_merges)
            if mine_merges else 0.0,
        "warehouse.write_amp":
            tot.get("warehouse.bytes_written", 0.0) / tot["landed_bytes"]
            if tot.get("landed_bytes") else 0.0,
        "warehouse.store_bytes_per_input_byte": store_ratio,
        "streaming.jobs_per_trigger":
            tot.get("stream_jobs", 0.0) / tot["streaming.triggers"]
            if tot.get("streaming.triggers") else 0.0,
        "trace.unattributed_share": unattributed / wall if wall else 0.0,
    })
    self_out = {f"self.{k}_s": v / n for k, v in sorted(layer_self.items())}
    return {"metrics": m, "self_times": self_out}


if __name__ == "__main__":
    settings = json.loads(sys.argv[1])
    try:
        result = main(settings)
    except Exception:
        traceback.print_exc()
        sys.exit(3)
    with open(settings["result"], "w") as f:
        json.dump(result, f, indent=1)
