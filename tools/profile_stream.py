"""Phase-level profile of the streaming catalog queries.

The streaming twins cost nearly the same at sf0.001 as at sf0.1
(bench_history), so their wall time is fixed per-epoch machinery, not
data.  This tool decomposes one query's wall time into phases by
wrapping the two patch points of the shared epoch runner
(qaapi_spark/streaming/epochs.py) with timestamped wrappers:

  stream    - `_drain`: stream wall (trigger+checkpoint machinery plus
              the epochs inside it), once per stream
  epoch[i]  - `_epoch`: each epoch callback (routing included)
  setup     - query start to the first stream start (staging, bounds)
  final     - plan build + collect of the returned relation

Usage: python tools/profile_stream.py <sf_dir> [--repeat N] <name>...
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
    spark = get_spark("profile-stream")
    spark.sparkContext.setLogLevel("ERROR")

    from qaapi_spark.streaming import epochs

    phases: list[tuple[str, float, float]] = []  # (tag, start, seconds)
    drain, epoch = epochs._drain, epochs._epoch

    def timed(tag_fn, orig):
        def wrapped(*a, **kw):
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                phases.append((tag_fn(*a), t0, time.time() - t0))

        return wrapped

    epochs._drain = timed(lambda *a: "stream", drain)
    epochs._epoch = timed(lambda fn, bdf, e: f"epoch[{e}]", epoch)

    for r in range(repeat):
        for name in args:
            phases.clear()
            t0 = time.time()
            df = CATALOG[name].fn(spark, sf_dir)
            t_build = time.time() - t0
            t1 = time.time()
            n = len(df.collect())
            t_collect = time.time() - t1
            total = time.time() - t0
            print(f"[{r}] {name}: total={total:.3f}s rows={n}")
            starts = [t for k, t, _ in phases if k == "stream"]
            if starts:
                print(f"      {'setup':>14}: {min(starts) - t0:.3f}s")
            for k, _, d in phases:
                print(f"      {k:>14}: {d:.3f}s")
            # billed-to-stream = stream wall minus the epochs inside it
            # (trigger/checkpoint/listing overhead)
            stream_wall = sum(d for k, _, d in phases if k == "stream")
            epochs_s = sum(d for k, _, d in phases if k.startswith("epoch"))
            if stream_wall:
                print(f"      {'engine_overhead':>14}: "
                      f"{stream_wall - epochs_s:.3f}s  (stream - epochs)")
            print(f"      build={t_build:.3f}s final_collect={t_collect:.3f}s")
            release_kernel_caches()
            spark.sparkContext._jvm.System.gc()

    epochs._drain, epochs._epoch = drain, epoch


if __name__ == "__main__":
    main()
