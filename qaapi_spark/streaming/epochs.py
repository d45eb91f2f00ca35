"""The epoch machinery every streaming twin runs on.

A twin stages its input as slices, replays them through Structured
Streaming one file per trigger, and folds each micro-batch (an
*epoch*) into parquet stores it owns.  This module is the one
implementation of each piece:

- `range_slices` + `stage_slices`: the stager — one partitionBy write
  of every slice, then strictly increasing mtimes in slice order;
- `run_epochs` / `foreach_epoch` / `run_to_memory`: the availableNow
  runners, and `session_conf`, the only place streaming code sets and
  restores session conf;
- `EpochStore`: recover, read-before-epoch, epoch-keyed write,
  whole-store replace-and-swap, and the schema memo with its drift
  check;
- `Guards`: the async ordered-ingest and tombstone-reinsert guards;
- `par_writes`: overlapped independent epoch writes.

The directory-level pieces a store stands on — the crash-safe `swap`
and `recover`, the file lister and the footer readers — live in
``sources/tables.py``, shared with the curated tables and compaction.

Epoch contract (every store, every twin):

- **Epoch-keyed overwrite.**  Epoch N writes only ``root/epoch=N`` (or
  replaces a whole store via ``root.next`` + rename), in overwrite
  mode, so a replayed epoch replaces its own earlier output instead
  of appending a second copy.
- **Reads filter ``epoch < N``.**  Epoch N reads only strictly
  earlier deltas (or the newest snapshot before N), so a replay never
  meets its own output — e.g. a near-dup screen re-reading epoch N's
  kept docs would drop every batch doc against itself.
- **Retry idempotence** follows: foreachBatch is at-least-once, and an
  epoch that is a function of (earlier state, batch) written by
  overwrite yields the same bytes however often it runs.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qaapi_spark.session import register_ephemeral_cache, scratch_dir
from qaapi_spark.sources.tables import footer_min_max, parquet_files, recover, swap

# Session conf of the streams that chain many small jobs per epoch.
# AQE's per-shuffle materialize-then-replan adds serial latency to
# each of ~8-10 per-epoch jobs with nothing to re-plan at micro-batch
# sizes (stream_neardup_dedup measured 6.8 -> 4.8 s for its two-epoch
# replay at sf0.1 with it off), and at session width (32) every
# micro-batch shuffle pays 4x the task overhead.  Results are
# partitioning-invariant (deterministic windows/joins, 1-file epoch
# writes).  A deployment with large micro-batches, where AQE's
# coalescing and skew handling pay for their latency, would key this
# on expected batch volume.
ORDERED_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}
# Stateful streams and mergeable-state twins: each shuffle partition
# owns a state store (or a merge task) whose open/commit cost is paid
# per partition per batch, so over-partitioning a modest per-batch key
# volume is pure overhead (stream_dedup_events 2.7 -> 1.7 s and the
# interval join ~9 -> ~4 s at sf0.1 going 32 -> 8).  Size it to
# keys-per-batch / ~500k on a real cluster.
STATE_CONF = {"spark.sql.shuffle.partitions": "8"}


# --- staging ------------------------------------------------------------


def range_slices(
    df: DataFrame, col: str, n_splits: int, src: str | None = None, src_col=None
):
    """``n_splits`` contiguous ranges of integer ``col``: slice i holds
    ``[lo + i*step, lo + (i+1)*step)`` and the last one is open-ended.
    Returns ``(slices, lo, step)``.

    Bounds come from ``src``'s parquet footer (column ``src_col``,
    default ``col``; exact, no Spark job) when the caller names the
    file ``df`` reads, else from one min/max aggregate job."""
    mm = footer_min_max(src, src_col or col) if src else None
    lo, hi = mm if mm else df.agg(F.min(col), F.max(col)).collect()[0]
    lo = int(lo)
    step = max(1, (int(hi) - lo + n_splits) // n_splits)
    slices = [
        df.filter(
            (F.col(col) >= lo + i * step)
            & (F.col(col) < lo + (i + 1) * step + ((1 << 60) if i == n_splits - 1 else 0))
        )
        for i in range(n_splits)
    ]
    return slices, lo, step


def stage_slices(prefix: str, slices: list, sort_cols: tuple = ("doc_id",)):
    """Stage ``slices`` (DataFrames of one column set) in a fresh
    scratch dir as ``slice=j`` directories, one sorted file each, with
    ONE partitionBy write: the slices union with their index and
    repartition by it (one shuffle partition per slice value -> one
    file per slice dir).  An empty slice writes no directory.  Then
    `stage_monotonic_mtimes`, so delivery order is slice order.

    Returns ``(stage_dir, schema)`` — the schema, for `run_epochs`, is
    the union's (driver-side, no job)."""
    stage_dir = scratch_dir(prefix)
    u = None
    for j, sl in enumerate(slices):
        tagged = sl.withColumn("slice", F.lit(j))
        u = tagged if u is None else u.unionByName(tagged)
    (
        u.repartition("slice")
        .sortWithinPartitions("slice", *sort_cols)
        .write.mode("overwrite")
        .partitionBy("slice")
        .parquet(stage_dir)
    )
    stage_monotonic_mtimes(stage_dir)
    return stage_dir, u.drop("slice").schema


def stage_monotonic_mtimes(stage_dir: str) -> None:
    """Make FileStreamSource's delivery order EXPLICIT (ADVICE r9 #3):
    the source sorts discovered files by modification time, so a
    timestamp tie or a coarse-mtime filesystem could reorder ``slice=0
    .. slice=N`` micro-batches — silently violating the ordered-ingest
    contract of stream_pack_chunks / stream_scd2_history (wrong offsets
    / intervals, no error).  Stamp every staged file with strictly
    increasing mtimes in slice-index order so the sort key IS the
    intended order on any filesystem."""
    t = 946684800.0  # fixed past epoch (2000-01-01): only ORDER matters
    for d in sorted(
        (e for e in os.listdir(stage_dir) if e.startswith("slice=")),
        key=lambda e: int(e.split("=", 1)[1]),
    ):
        p = os.path.join(stage_dir, d)
        for f in sorted(os.listdir(p)):
            t += 2.0
            os.utime(os.path.join(p, f), (t, t))


# --- runners ------------------------------------------------------------


@contextlib.contextmanager
def session_conf(spark: SparkSession, conf: dict | None):
    """Set ``conf`` for the duration of the block, then restore every
    key (unset when it was unset) — the only place the streaming twins
    set session conf.  A stream reads its conf once, at start.

    NOTE (ADVICE r7 #4): spark.conf is SESSION-global — a query planned
    concurrently on this SparkSession sees the toggles until the block
    exits.  The catalog and bench runners are single-threaded per
    session; ``spark.newSession()`` would isolate them but drops
    `tune_session`'s runtime settings, so it is not a drop-in."""
    conf = conf or {}
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _drain(writer, spark: SparkSession, conf: dict | None) -> None:
    """Run ``writer`` with the availableNow trigger to completion under
    ``conf`` (a profiler's patch point for stream wall time)."""
    with session_conf(spark, conf):
        writer.trigger(availableNow=True).start().awaitTermination()


def _epoch(fn, bdf: DataFrame, epoch_id: int) -> None:
    """One epoch of any twin (a profiler's patch point per epoch)."""
    fn(bdf, epoch_id)


def foreach_epoch(
    stream: DataFrame, fn, conf: dict | None = None, checkpoint: str | None = None
) -> None:
    """Drain ``stream`` through ``foreachBatch(fn)`` with the
    availableNow trigger; ``fn(bdf, epoch_id)`` gets an int epoch."""
    writer = stream.writeStream.foreachBatch(
        lambda bdf, e: _epoch(fn, bdf, int(e))
    ).option("checkpointLocation", checkpoint or scratch_dir("epochs_ckpt_"))
    _drain(writer, stream.sparkSession, conf)


def run_epochs(
    spark: SparkSession, schema, stage_dir: str, fn, conf: dict | None = None
) -> None:
    """Replay `stage_slices` output one file per trigger — one slice
    per epoch, in slice order — through ``fn(bdf, epoch_id)``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir + "/slice=*")
    )
    foreach_epoch(stream, fn, conf)


def run_to_memory(df: DataFrame, mode: str, conf: dict | None = None) -> DataFrame:
    """Drain streaming ``df`` into a memory sink (output ``mode``) and
    return the sink's table as a batch DataFrame."""
    name = "stream_" + uuid.uuid4().hex[:8]
    writer = df.writeStream.outputMode(mode).format("memory").queryName(name)
    _drain(writer, df.sparkSession, conf)
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def par_writes(*thunks) -> None:
    """Run an epoch's INDEPENDENT write jobs concurrently from driver
    threads, so one job's single-task tail doesn't leave 31 cores idle.

    The epoch stores' per-write cost is almost entirely fixed latency
    (job scheduling + a 1-task coalesce(1) stage + commit, ~0.15-0.5 s
    each on sf0.1-sized epoch relations — r15 profile_writes
    decomposition), so N sequential writes cost the SUM of their
    latencies while overlapped they cost roughly the MAX.

    Safe because write order within an epoch is not load-bearing (the
    module's epoch contract): no consumer can observe a
    partially-ordered epoch, and a replayed epoch overwrites whatever
    subset landed.  Shared persisted inputs are materialized once under
    the BlockManager's per-block get-or-compute locks.  Exceptions
    propagate after all writes settle, so a failed write still fails
    the stream (and the engine's retry) exactly as a sequential form
    would."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    for f in futures:
        f.result()


def at_width(df: DataFrame, width: int | None) -> DataFrame:
    """coalesce(1) when width is 1 (the certified single-file plan);
    repartition otherwise — coalesce cannot WIDEN (AQE has usually
    already coalesced the tiny upstream shuffle to one partition), and
    the opt-in path wants exactly ``width`` evenly-sized files.  None
    keeps the plan's own partitioning (one file per task)."""
    if width is None:
        return df
    return df.coalesce(1) if int(width) <= 1 else df.repartition(int(width))


# --- stores -------------------------------------------------------------


# store root -> schema of the data it holds (epoch column excluded).
# Set by the first write, or by the first read of a store this process
# did not write; cleared between harness queries.
_SCHEMAS: dict = {}
register_ephemeral_cache(_SCHEMAS)


def _shape(schema) -> list:
    # nullability-blind: a parquet round trip makes every field nullable
    return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)


class EpochStore:
    """A parquet store under one root, in the module's epoch contract:
    ``root/epoch=N`` holds epoch N's delta or snapshot, or — for a
    whole-store state such as an HLL register set — the root itself is
    the state, replaced wholesale per epoch via ``root.next`` + `swap`.

    Every un-schema'd parquet read costs a 1-task Spark job to infer
    the schema from a footer, and epoch bodies read their stores 2-5
    times per epoch (r16 job profile: about half an insert epoch's
    jobs).  So the store remembers the schema of what it writes and
    reads with it explicitly (zero jobs); a write whose columns or
    types differ from the remembered ones raises instead of landing a
    file later reads would silently drop or null (driver-side check,
    no job)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root

    def path(self, epoch: int) -> str:
        return os.path.join(self.root, f"epoch={int(epoch)}")

    def epochs(self, before: int | None = None) -> list:
        """Sorted epoch numbers present, only those < ``before`` when
        given — after `recover`, so every reader of the store sees a
        swap-stranded store restored instead of an empty one."""
        if not recover(self.root):
            return []
        es = []
        for d in os.listdir(self.root):
            if d.startswith("epoch="):
                try:
                    e = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                if before is None or e < int(before):
                    es.append(e)
        return sorted(es)

    def has_epochs(self) -> bool:
        """`recover`, then whether any ``epoch=`` delta exists.  Scratch
        roots are pre-created empty by mkdtemp, so a bare isdir would
        read an empty directory (UNABLE_TO_INFER_SCHEMA); and a bare
        check after a swap-crash would discard the stranded state
        (ADVICE r11 #1)."""
        return bool(self.epochs())

    # writes

    def _check(self, df: DataFrame) -> None:
        want = _SCHEMAS.setdefault(self.root, df.schema)
        if _shape(df.schema) != _shape(want):
            raise ValueError(
                f"schema drift in epoch store {self.root}: writing "
                f"{df.schema.simpleString()} over {want.simpleString()}"
            )

    def write(self, df: DataFrame, epoch: int, width: int | None = 1) -> None:
        """Overwrite epoch ``epoch`` with ``df`` (``width`` files, see `at_width`)."""
        self.writer(df, epoch, width)()

    def writer(self, df: DataFrame, epoch: int, width: int | None = 1):
        """`write` as a thunk for `par_writes` (the drift check runs now)."""
        self._check(df)
        return lambda: at_width(df, width).write.mode("overwrite").parquet(
            self.path(epoch)
        )

    def replace(self, df: DataFrame) -> None:
        """Whole-store state: write ``root.next`` in one file, then `swap`."""
        self._check(df)
        df.coalesce(1).write.mode("overwrite").parquet(self.root + ".next")
        swap(self.root)

    # reads

    def _schema(self, sample: str):
        sch = _SCHEMAS.get(self.root)
        if sch is None:
            sch = self.spark.read.parquet(sample).schema
            _SCHEMAS[self.root] = sch
        return sch

    def read(self, before: int | None = None) -> DataFrame | None:
        """Every delta with epoch < ``before`` (all when None), with the
        ``epoch`` column; None when no such delta exists."""
        es = self.epochs(before)
        if not es:
            return None
        from pyspark.sql.types import IntegerType, StructField, StructType

        sch = self._schema(self.path(es[0]))
        df = self.spark.read.schema(
            StructType(sch.fields + [StructField("epoch", IntegerType())])
        ).parquet(self.root)
        return df if before is None else df.filter(F.col("epoch") < int(before))

    def latest(self, before: int | None, empty: str) -> DataFrame:
        """The newest snapshot with epoch < ``before`` (the newest overall
        when None), or an empty relation of DDL schema ``empty`` when
        there is none.  Twins that interleave delete epochs skip epochs
        that wrote no snapshot, so the predecessor is the latest earlier
        one, not ``before - 1``."""
        es = self.epochs(before)
        if not es:
            return self.spark.createDataFrame([], empty)
        p = self.path(es[-1])
        return self.spark.read.schema(self._schema(p)).parquet(p)

    def current(self) -> DataFrame | None:
        """A whole-store state, or None before its first `replace`."""
        if not recover(self.root):
            return None
        return self.spark.read.schema(self._schema(self.root)).parquet(self.root)

    def max_before(self, col: str, before: int):
        """Max ``col`` over the deltas with epoch < ``before`` — the
        ordered-ingest frontier.  From footer statistics (driver-side,
        no job: the guard runs every epoch); one Spark aggregate if any
        file lacks them.  None when no such delta exists."""
        files = [f for e in self.epochs(before) for f in parquet_files(self.path(e))]
        if not files:
            return None
        mm = footer_min_max(files, col)
        if mm is not None:
            return mm[1]
        return self.read(before).agg(F.max(col)).collect()[0][0]


def tombstones(spark, del_root: str | None, before: int | None = None, key_col="doc_id"):
    """The retracted subject keys recorded in tombstone store
    ``del_root`` (one ``key_col`` column — doc_id for the corpus
    streams, user_id for SCD2 erasure) with epoch < ``before`` (all when
    None: the final-result read), or None when there are none."""
    if del_root is None:
        return None
    df = EpochStore(spark, del_root).read(before)
    return None if df is None else df.select(key_col)


# --- guards -------------------------------------------------------------


class Guards:
    """An epoch's async guards, overlapped with its real work: each guard's
    one probe job runs on a driver thread while the epoch body works,
    and every probe is checked when the ``with`` block exits — after
    the body's writes, before foreachBatch commits the batch.

    Deferring the raise is safe: the batch still fails inside
    foreachBatch with the identical exception, and whatever the epoch
    wrote meanwhile is an epoch-keyed overwrite no reader consumes,
    because a failed query's final relation is never built.  Every
    probe future is read on exit, also when the body raised: the
    body's exception then propagates unchanged, after the probe jobs
    settled."""

    def __init__(self):
        self._pending: list = []

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        errors = []
        for fut, check in self._pending:
            try:
                check(fut.result())
            except Exception as e:  # noqa: BLE001 - re-raised below
                errors.append(e)
        self._pending.clear()
        if exc is None and errors:
            raise errors[0]
        return False

    def start(self, probe: DataFrame, check) -> None:
        """Collect ``probe`` on a driver thread; ``check(rows)`` at exit."""
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        self._pending.append((pool.submit(probe.collect), check))
        pool.shutdown(wait=False)

    def frontier(self, bdf: DataFrame, prev_max, msg_fn) -> None:
        """Ordered-ingest guard: the batch's min(doc_id) must exceed
        ``prev_max`` (no-op when None); ``msg_fn(batch_min)`` words the
        error."""
        if prev_max is None:
            return

        def check(rows) -> None:
            batch_min = rows[0][0]
            if batch_min is not None and int(batch_min) <= int(prev_max):
                raise ValueError(msg_fn(batch_min))

        self.start(bdf.agg(F.min("doc_id")), check)

    def no_reinsert(self, bdf: DataFrame, tomb: DataFrame | None) -> None:
        """Reject a batch doc_id that was already RETRACTED (ADVICE r12
        #1): tombstones filter every standing-store read, so a
        re-inserted retracted doc would take part in within-batch
        greedy/edge decisions (blocking a live near-dup, or becoming a
        component's min label) and then silently vanish from later
        reads — corrupting survivors instead of erroring.  ``tomb`` is
        the `tombstones` read before this epoch (None: nothing to
        check), so a replayed insert epoch never trips on tombstones
        written after it."""
        if tomb is None:
            return

        def check(hits) -> None:
            if hits:
                raise ValueError(
                    "re-insert of tombstoned doc_id(s) "
                    f"{sorted(r[0] for r in hits)}: retracted ids are "
                    "permanent (GDPR-shaped) — tombstones filter "
                    "standing-store reads, so a re-inserted doc would "
                    "silently corrupt the maintained relation instead "
                    "of erroring"
                )

        self.start(
            bdf.select("doc_id").join(F.broadcast(tomb), "doc_id", "left_semi").limit(3),
            check,
        )
