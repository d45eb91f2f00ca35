"""Pipeline assembly (reference EP1/EP2, SURVEY.md §3): landing ->
bronze -> curated with the reference's four maintenance strategies.

The reference runs a trailing-window extraction (re-pull the last
16/30 days) and reconciles with MERGE/DELETE; ``run_batch`` is that
reconciliation as one deterministic function:

  forms        full replace                  (S14, Update...sql:6)
  contacts     insert-only merge on id       (J2,  Update...sql:62-79,
               all_contacts_*.json -> t_contacts)
  qa contacts  insert-only merge on id       (J2,  Update...sql:36-59,
               contacts_*.json -> t_qa_contacts — the reference's
               all_contacts=False flow lands this separate staging
               route, same merge shape)
  evaluations  delete-vanished + upsert      (J5+J3, Update...sql:85-134)
  scores       delete-then-insert by eval    (S15, Update...sql:140-170)
  comments     delete-then-insert by contact (S15, Update...sql:176-215)

Scale notes: targets are plain parquet dirs.  Every merged table is
laid out in contact-id hash buckets, and every merge commits the same
way (``operators/partitioned.py``): the affected buckets are written to
``<table>.next``, the untouched ones are hard-linked into it, and the
crash-safe ``sources.tables.swap`` promotes it.  The full replace of
forms writes ``<table>.next`` whole and swaps too.  Every crash point
leaves the new table or the old one (under its trash name) on disk,
and ``read`` recovers the latter before anything reads the table.
That is one writer per table; Delta MERGE is the multi-writer upgrade
path, SURVEY §4.3.  The batch side of every join is broadcast — it is
a bounded trailing window by construction.

Each landed batch is parsed once: ``run_batch`` computes each curated
batch relation (contacts, QA contacts, evaluations, scores, comments)
into executor memory before the merges that read it, and frees it when
the batch returns, failed or not.  The bucket probes, broadcasts and
merge plans then scan those rows instead of re-parsing and
re-deduplicating the landed JSON.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qaapi_spark import transforms as T
# a module reference, so wrappers installed on merge_partitioned are seen
from qaapi_spark.operators import partitioned as bucketed
from qaapi_spark.operators.maintain import delete_semi_anti, merge_insert_only, merge_upsert
from qaapi_spark.sources.landing import read_entity
from qaapi_spark.sources.tables import swap

CURATED = [
    "t_qa_forms",
    "t_contacts",
    "t_qa_contacts",
    "t_qa_evaluations",
    "t_qa_evaluation_scores",
    "t_qa_evaluation_comments",
]


def _future_exc(f) -> "BaseException | None":
    """Block on a future and return its exception instead of raising
    (so a multi-table reconcile can report every failure, not just the
    first)."""
    try:
        f.result()
        return None
    except BaseException as e:  # noqa: BLE001 - gathered, then re-raised
        return e


def _materialize(df: DataFrame, cached: list) -> DataFrame:
    """``df`` computed once into executor memory and read back as a
    frame over the cached rows.  The cached JVM RDD goes on ``cached``
    before it is filled, so the caller frees it even if this fails.

    Not ``persist()``: AQE wraps each scan of a cached relation in a
    query stage of its own, so no exchange above one is reused, and
    every broadcast of the batch in a merge plan runs as a separate job.
    Not ``localCheckpoint()``: freeing a checkpoint drops the only copy
    of its rows, so a frame derived from it fails if computed later.
    These rows keep their lineage: once freed, they recompute from the
    landing files.  The frame carries no size estimate, so a join that
    should broadcast it must say so (every batch-side join here does).
    """
    rows = df._jdf.javaRDD().cache()
    cached.append(rows)
    rows.count()
    session = df.sparkSession
    return DataFrame(session._jsparkSession.createDataFrame(rows, df._jdf.schema()), session)


class CalabrioPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        output_partitions: int | None = None,
        partitioned: bool = False,
        n_buckets: int = 8,
    ):
        """``output_partitions``: coalesce curated tables to this many
        files on write.  Set it when batches are small (fixtures, tests:
        1 file beats 32 near-empty ones); leave None at scale so the
        write keeps the plan's parallelism.

        ``partitioned``: spread each merged table over ``n_buckets``
        contact-id hash buckets, so a trailing-window batch reads and
        rewrites only the buckets it touches and hard-links the rest
        (``operators/partitioned.py``) — the 100 TB maintenance shape,
        where a batch must not pay a full-table write (VERDICT r2 #4).
        Without it a table is one bucket, merged and committed by the
        same code.  Both give the same logical result (oracle-checked).
        """
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.output_partitions = output_partitions
        self.partitioned = partitioned
        self.n_buckets = n_buckets
        os.makedirs(warehouse_dir, exist_ok=True)

    # -- table io --------------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse_dir, table)

    def read(self, table: str) -> DataFrame | None:
        return bucketed.read_partitioned(self.spark, self._path(table))

    def _swap_write(self, df: DataFrame, table: str) -> None:
        """Write ``<table>.next``, then `swap` it in, so a target is
        never read and overwritten in the same plan (self-overwrite
        corruption) and a crash never leaves the table missing."""
        final = self._path(table)
        if self.output_partitions is not None:
            df = df.coalesce(self.output_partitions)
        df.write.mode("overwrite").parquet(final + ".next")
        swap(final)

    def _reconcile(
        self,
        table: str,
        batch: DataFrame,
        keys: list[str],
        merge_fn,
        key_col: str = "contact_id",
        scope_df: DataFrame | None = None,
    ) -> None:
        """One table's batch reconciliation: ``merge_fn(target, batch)``
        over the contact-id buckets the batch touches, committed by one
        `swap` (``partitioned.merge_partitioned``)."""
        bucketed.merge_partitioned(
            self.spark,
            self._path(table),
            batch,
            keys,
            merge_fn,
            key_col=key_col,
            n_buckets=self.n_buckets if self.partitioned else 1,
            coalesce=self.output_partitions,
            scope_df=scope_df,
        )

    def _delete_insert(self, table: str, batch: DataFrame, scope: DataFrame) -> None:
        """S15 delete-then-insert: drop the target rows of every
        ``scope`` contact, then append ``batch``.  The delete scope can
        shrink buckets the inserted rows never touch, so it widens the
        bucket probe too."""
        self._reconcile(
            table,
            batch,
            ["contact_id"],
            lambda t, b: t.join(F.broadcast(scope), "contact_id", "left_anti").unionByName(b),
            scope_df=scope,
        )

    # -- one incremental batch ------------------------------------------
    def run_batch(self, landing_dir: str, collect_counts: bool = True) -> dict[str, int]:
        """One trailing-window batch.  An entity whose landing file is
        absent is SKIPPED (its curated table keeps its prior state) —
        the reference's partial flows (`Start.py:14-32` lands only
        contacts) stage nothing for the other tables, so their merges
        see an empty staging relation and no-op; skipping is the
        engine-side equivalent that also cannot wipe a full-replace
        table with an accidental empty batch."""
        import glob as _glob

        spark = self.spark

        def _landed(pattern: str) -> bool:
            return bool(_glob.glob(f"{landing_dir}/{pattern}"))

        forms = contacts = qa_contacts = evals = comments = None
        if _landed("forms.json"):
            forms = read_entity(spark, f"{landing_dir}/forms.json", "forms")
        if _landed("all_contacts_*.json"):
            contacts = read_entity(
                spark, f"{landing_dir}/all_contacts_*.json", "all_contacts"
            )
        if _landed("contacts_*.json"):
            # the reference's all_contacts=False (QA) flow: a separate
            # staging route into its own curated table (X4 table_pairs
            # 'contacts_1.json' -> qa_contacts staging,
            # qa_api_handler.py:43-50; merge Update...sql:36-59)
            qa_contacts = read_entity(
                spark, f"{landing_dir}/contacts_*.json", "contacts"
            )
        if _landed("fix_eval_raw.json"):
            evals = read_entity(spark, f"{landing_dir}/fix_eval_raw.json", "evaluations")
        if _landed("fix_comments_raw.json"):
            comments = read_entity(
                spark, f"{landing_dir}/fix_comments_raw.json", "comments"
            )

        # The curated batch relations, each materialized once below
        # (`_materialize`) and read by every plan of the tables that use
        # it, the delete scopes included.
        batches: dict[str, DataFrame] = {}
        # contacts: batch-internal duplicates collapse before the merge
        if contacts is not None:
            batches["contacts"] = T.contacts_curated(contacts).dropDuplicates(["contact_id"])
        if qa_contacts is not None:
            batches["qa_contacts"] = T.contacts_curated(qa_contacts).dropDuplicates(["contact_id"])
        if evals is not None:
            batches["evals"] = T.evaluations_curated(evals)
            batches["scores"] = T.scores_flatten(evals)
        # the reference scopes the comments delete by the QA contacts
        # staging ids (Update...sql:181); when only the qa route landed
        # (all_contacts=False flow), use it — the all_contacts route
        # keeps priority for the mixed-fixture case the oracle queries pin
        scope = next((n for n in ("contacts", "qa_contacts") if n in batches), None)
        if comments is not None and scope is not None:
            batches["comments"] = T.comments_curated(comments)

        # per table: (the batch relations it reads, its reconcile over
        # their materialized frames)
        work: list[tuple[tuple[str, ...], Callable[..., None]]] = []

        # forms: full replace (S14) — inherently a whole-table write
        if forms is not None:
            work.append(((), lambda: self._swap_write(T.forms_flatten(forms), "t_qa_forms")))

        # contacts: insert-only merge (J2) — existing rows keep their
        # original values
        for name, table in (("contacts", "t_contacts"), ("qa_contacts", "t_qa_contacts")):
            if name in batches:
                work.append(((name,), lambda batch, table=table: self._reconcile(
                    table,
                    batch,
                    ["contact_id"],
                    lambda t, b: merge_insert_only(t, b, ["contact_id"]),
                )))

        # evaluations: delete evals whose contact is in this batch but
        # which vanished upstream (J5), then upsert the batch (J3).
        # The matched-update column list excludes evaluated_date,
        # mirroring Update...sql:128-130.
        def _merge_evals(t: DataFrame, b: DataFrame) -> DataFrame:
            t = delete_semi_anti(
                t,
                scope=b.select("contact_id"),
                scope_keys=["contact_id"],
                keep=b.select("evaluation_id"),
                keep_keys=["evaluation_id"],
            )
            return merge_upsert(
                t,
                b,
                ["evaluation_id"],
                update_cols=[
                    "form_id", "contact_id", "agent_id", "evaluator_id",
                    "eval_type", "response_state", "raw_score", "final_score",
                ],
            )

        if "evals" in batches:
            work.append((("evals",), lambda b: self._reconcile(
                "t_qa_evaluations", b, ["evaluation_id"], _merge_evals
            )))

            # scores: delete-then-insert per contact in batch (S15/J5);
            # the delete scope (batch contacts) can shrink buckets the
            # inserted rows never touch, so it rides along as scope_df
            work.append((("evals", "scores"), lambda e, b: self._delete_insert(
                "t_qa_evaluation_scores", b, e.select("contact_id")
            )))

        # comments: delete-then-insert per contact in batch (S15,
        # Update...sql:176-182 "to address the possibility that a
        # comment was deleted")
        if "comments" in batches:
            work.append(((scope, "comments"), lambda c, b: self._delete_insert(
                "t_qa_evaluation_comments", b, c.select("contact_id")
            )))

        # Independent tables reconcile CONCURRENTLY: each target is its
        # own directory and no table's merge reads another's output
        # within a batch.  Each batch relation materializes on its own
        # thread, and each table's chain (bucket probe, staged write,
        # link and swap) starts as soon as the relations it reads are
        # ready — no barrier across tables.  A batch is a few dozen
        # small jobs, so overlapping them hides scheduler latency: the
        # lever the reference pulls with thread-per-pipeline (X1,
        # Start.py); on a cluster the scheduler interleaves stages from
        # concurrent jobs across executors (FIFO pools).
        def _chain(needs: tuple[str, ...], reconcile: Callable[..., None]) -> None:
            reconcile(*[ready[name].result() for name in needs])

        cached: list = []
        try:
            with ThreadPoolExecutor(max_workers=max(1, len(batches) + len(work))) as pool:
                ready = {n: pool.submit(_materialize, df, cached) for n, df in batches.items()}
                chains = [pool.submit(_chain, *w) for w in work]
                # wait for ALL tables, then surface every failure —
                # raising on the first future would silently drop
                # exceptions from the others (they still ran; their
                # writes are per-table idempotent reconciles).  A failed
                # materialization also fails every table that reads it:
                # report it once.
                errs = list(dict.fromkeys(
                    e
                    for f in [*ready.values(), *chains]
                    if (e := _future_exc(f)) is not None
                ))
        finally:
            # free every cached batch, whatever failed
            for rows in cached:
                rows.unpersist(False)
        if len(errs) == 1:
            raise errs[0]
        if errs:
            # BaseExceptionGroup: _future_exc gathers BaseException
            # (a worker can raise KeyboardInterrupt/SystemExit),
            # which plain ExceptionGroup rejects with a TypeError
            # that would mask the real failures.  It downgrades
            # itself to ExceptionGroup when all members are
            # Exception subclasses.
            raise BaseExceptionGroup("reconcile failures", errs)

        if not collect_counts:
            return {}
        return {
            t: (df.count() if (df := self.read(t)) is not None else 0)
            for t in CURATED
        }
