"""Tracing for the benchmark's traced run, all of it from outside the
program: spans around calls into ``qaapi_spark``'s public functions,
Spark's own event log, a ``StreamingQueryListener``, and file counts
taken from the filesystem.

Spans (name, start, end, parent, op id) stay in memory and are written
out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._main: list[int] = []  # open spans of the main thread
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # off: wrappers call straight through and record nothing
        self.enabled = True

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        # a span opened on a worker thread of the pipeline's pool is
        # caused by the innermost span the main thread has open
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": time.time(), "end": None,
                               "parent": parent, "op": self.op_id})
        stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self.open(name)
        try:
            yield
        finally:
            self.close(sid)

    def add_span(self, name: str, start: float, end: float, parent: int | None, op: int) -> None:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                               "parent": parent, "op": op})

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``after(args,
        kwargs, result)`` runs after the span closes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            sid = self.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(sid)
            if after is not None:
                after(args, kwargs, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict], op_span: dict) -> dict[str, float]:
    """Split an op span's wall time over its layers, exactly.

    Each instant of the op goes to the deepest spans open at that
    instant; parallel spans (the pipeline's per-table threads) share
    it equally.  The returned seconds therefore sum to the op's wall.
    """
    mine = [s for s in spans if s["op"] == op_span["op"] and s["end"] is not None]
    lo, hi = op_span["start"], op_span["end"]
    mine = [dict(s, start=max(s["start"], lo), end=min(s["end"], hi)) for s in mine]
    mine = [s for s in mine if s["end"] > s["start"] or s["id"] == op_span["id"]]
    by_id = {s["id"]: s for s in mine}

    def ancestors(s):
        out = set()
        p = s["parent"]
        while p is not None and p in by_id:
            out.add(p)
            p = by_id[p]["parent"]
        return out

    anc = {s["id"]: ancestors(s) for s in mine}
    cuts = sorted({lo, hi, *(s["start"] for s in mine), *(s["end"] for s in mine)})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [s for s in mine if s["start"] <= a and s["end"] >= b]
        covered = set().union(*(anc[s["id"]] for s in active)) if active else set()
        leaves = [s for s in active if s["id"] not in covered] or [op_span]
        for s in leaves:
            out[layer_of(s["name"])] += (b - a) / len(leaves)
    return dict(out)


def layer_of(span_name: str) -> str:
    """``transforms.forms_flatten`` -> ``transforms``; other names are
    their own layer."""
    head = span_name.split(".", 1)[0]
    return head if head in ("transforms", "maintain", "landing") else span_name


# -- Spark event log --------------------------------------------------------


def parse_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the one uncompressed, non-rolling log in
    ``log_dir``; times are epoch seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                elif kind == "SparkListenerJobEnd":
                    if (j := jobs.get(ev["Job ID"])) is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    tasks.append({
                        "end": info.get("Finish Time", 0) / 1000.0,
                        "failed": bool(info.get("Failed"))
                        or ev.get("Task End Reason", {}).get("Reason") != "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_records": sw.get("Shuffle Records Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "output_records": m.get("Output Metrics", {}).get("Records Written", 0),
                    })
    return [j for j in jobs.values() if j["end"] is not None], tasks


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_per_op(jobs: list[dict], tasks: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Engine counters for one op, by wall-time window: a job belongs to
    the op whose window holds its submission, a task to the op whose
    window holds its finish (threads the program starts do not inherit
    a job group, so time is the only attribution that sees them)."""
    mine = [j for j in jobs if lo <= j["start"] <= hi]
    ts = [t for t in tasks if lo <= t["end"] <= hi]
    busy = union_length([(max(j["start"], lo), min(j["end"], hi)) for j in mine])
    out = {
        "jobs": float(len(mine)),
        "tasks": float(len(ts)),
        "busy_s": busy,
        "driver_gap_s": max(0.0, (hi - lo) - busy),
        "failed_tasks": float(sum(t["failed"] for t in ts)),
    }
    for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_records",
              "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
              "output_records"):
        out[k] = float(sum(t[k] for t in ts))
    return out


# -- Structured Streaming ---------------------------------------------------


def make_listener(sink: list):
    """A ``StreamingQueryListener`` appending (trigger start, duration
    dict) for every progress event to ``sink``."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            sink.append({
                "start": (start - datetime(1970, 1, 1)).total_seconds(),
                "durations": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


ENGINE_PHASES = ("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")


# -- filesystem -------------------------------------------------------------


def snapshot(*roots: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every regular file under roots."""
    out = {}
    stack = [r for r in roots if os.path.isdir(r)]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except FileNotFoundError:
            continue
        with it:
            for e in it:
                try:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.is_file(follow_symlinks=False):
                        st = e.stat(follow_symlinks=False)
                        out[e.path] = (st.st_size, st.st_mtime_ns, st.st_ino)
                except FileNotFoundError:
                    continue
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present in ``after`` that are new or changed."""
    files = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in files), len(files)


def dir_bytes(root: str) -> int:
    return sum(v[0] for v in snapshot(root).values())
