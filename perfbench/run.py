"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Pins the environment (cores, driver
memory, ``PYTHONPATH``, scratch and Spark local dirs, a bench-owned
``SPARK_CONF_DIR``), runs the workload in a fresh process
(``perfbench/worker.py``), prints a readable report, and ends with one
JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a traced run (Spark event log, streaming listener,
spans around calls into ``qaapi_spark``); the traced run also writes
its spans to ``.perfbench/results/``.  Everything the run writes stays
under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_ref": "1/ref",
    "op_p50_ref": "ref",
    "ok_ops_share": "ratio",
    "live_mem_mb": "MB",
}
SECONDS = {"ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s"}

# budget for one worker; the whole command must end within 180 s
WORKER_TIMEOUT_S = 165
# the driver heap limit; get_spark's default (24g) does not fit a small host
DRIVER_MEM = "2g"

LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stdout.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_worker(workload: str, seed: int, seconds: int, traced: bool, out_dir: str,
               deadline: float) -> dict:
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-{seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "conf", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d)
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as f:
        f.write(LOG4J)
    conf = ["spark.ui.showConsoleProgress false"]
    if traced:
        # one plain-text log per application, readable line by line
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{dirs['eventlog']}",
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_CONF_DIR": dirs["conf"],
        "PYTHONHASHSEED": str(seed),
    })
    tag = f"{workload}-seed{seed}-trace{int(traced)}"
    settings = {
        "root": ROOT, "workload": workload, "seed": seed, "seconds": seconds,
        "trace": traced, "data": dirs["data"], "eventlog": dirs["eventlog"],
        "result": os.path.join(run_dir, "result.json"),
        "spans": os.path.join(out_dir, f"spans-{tag}.json"),
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(settings)],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc)
    try:
        if code != 0:
            raise RuntimeError(f"{workload} worker {'timed out' if code is None else f'exited {code}'}")
        with open(settings["result"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    return result


def stop_group(proc: subprocess.Popen) -> None:
    """Stop what is left of the worker's session (the driver JVM, Python
    workers) and wait until it has gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        for _ in range(100):
            time.sleep(0.05)
            if proc.poll() is not None:
                try:
                    os.killpg(proc.pid, 0)
                except ProcessLookupError:
                    return
    proc.wait()


def report(result: dict) -> None:
    """Every end-to-end metric by name and unit, plus the context a
    reader needs to trust it."""
    m = result["metrics"]
    print(f"# workload {result['workload']}  seed {result['seed']}  "
          f"closed loop, 1 client, local[{cores()}]")
    print(f"#   input sizes: {json.dumps(result['input_sizes'])}")
    for k, unit in END_TO_END.items():
        print(f"#   {k:<22} {m[k]:.6g} {unit}")
    print(f"#   {'reference_s':<22} {result['reference_s']:.6g} s  (1 ref)")
    for k, unit in SECONDS.items():
        print(f"#   {k:<22} {result['seconds_metrics'][k]:.6g} {unit}")
    print(f"#   {'failed_ops_share':<22} {result['failed_ops_share']:.6g} ratio")
    print(f"#   {'peak_rss_mb':<22} {result['peak_rss_mb']:.6g} MB  (driver JVM + Python VmHWM)")
    print(f"#   {'op_tail_ref':<22} {result['op_tail_ref']:.6g} ref  (p{result['op_tail_percentile']:g} "
          f"of {result['op_tail_samples']} timed ops)")
    if "store_bytes_per_input_byte" in result:
        print(f"#   {'store_bytes_per_input_byte':<22} "
              f"{result['store_bytes_per_input_byte']:.6g} B/B")
    for name, why in result.get("failures", {}).items():
        print(f"#   FAILED {name}: {why}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "qaapi_spark")):
        print("perfbench: no qaapi_spark package next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    t0 = time.time()
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)

    result = run_worker(a.workload, a.seed, a.seconds, bool(a.trace), out_dir,
                        t0 + WORKER_TIMEOUT_S)
    report(result)
    if not a.trace:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    else:
        layers = result["layers"]
        print("#   self time per layer, s/op: " + json.dumps(
            {k: round(v, 4) for k, v in layers["self_times"].items()}))
        print(f"#   spans: .perfbench/results/spans-{a.workload}-seed{a.seed}-trace1.json")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers["metrics"].items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def unit_of(metric: str) -> str:
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s/op" if not metric.startswith("trace.") else "s"
    if metric.endswith("_bytes") or metric.endswith("bytes_written"):
        return "B/op"
    if metric.endswith(("_ratio", "_share", "_amp", "per_output_row", "per_input_byte",
                        "per_trigger")):
        return "ratio"
    if metric == "spark.failed_tasks":
        return "count"
    return "count/op"


if __name__ == "__main__":
    sys.exit(main())
