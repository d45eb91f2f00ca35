"""The benchmark's workloads.

Each workload generates its inputs from the seed, warms up, then runs
ops in a closed loop (one client; each op is issued when the previous
one has returned).  An op's output is checked after the timed region,
against a DuckDB oracle or model that shares no code with the op.
"""

from __future__ import annotations

import os

from perfbench import datagen

class OpResult:
    __slots__ = ("name", "latency_s", "start", "end", "cols", "rows", "error")

    def __init__(self, name: str):
        self.name = name
        self.latency_s = 0.0
        self.start = self.end = 0.0
        self.cols: list[str] | None = None
        self.rows: list[tuple] | None = None
        self.error: str | None = None


# ---------------------------------------------------------------------------
# curation_tail


class CurationWorkload:
    """The ROADMAP's stream and dedup tail, cut to what one run can warm
    and time within the benchmark's budget: a streaming twin built on the
    epoch-store primitives (recover, read, foreachBatch merge), and the
    dedup, similarity and sketch kernels.  Catalog queries over generated
    tables, in a fixed order, checked against their DuckDB oracles
    (``qaapi_spark.testing``)."""

    name = "curation_tail"
    writes_files = False
    ops = ("stream_hll_running_users", "dedup_exact_substring_apply",
           "dedup_embedding_cosine_broadcast", "sketch_kmv_user_overlap")
    sf = 0.002
    n_docs = 200

    def __init__(self):
        self.sizes: dict = {}

    def describe(self) -> dict:
        return {"ops": list(self.ops), "sf": self.sf, "documents": self.n_docs}

    def prepare(self, data_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(data_dir, "tables")
        self.sizes = datagen.write_tables(self.data_dir, seed, self.sf, self.n_docs)

    def start(self, spark, tracer) -> None:
        from qaapi_spark.plans import CATALOG

        self.spark = spark
        self.tracer = tracer
        self.catalog = CATALOG

    def warm_ops(self) -> list[str]:
        # two passes: op latencies still fall ~20% from their second run
        # to their third, and timing the second run tripled the spread
        # between runs
        return list(self.ops) * 2

    def op_names(self) -> list[str]:
        return list(self.ops)

    def run_op(self, name: str, res: OpResult) -> None:
        spec = self.catalog[name]
        with self.tracer.span("plans.build"):
            df = spec.fn(self.spark, self.data_dir)
        with self.tracer.span("plans.collect"):
            rows = df.collect()
        res.cols = list(df.columns)
        res.rows = [tuple(r) for r in rows]

    def output_rows(self, res: OpResult) -> int:
        return len(res.rows or [])

    def check(self, results: list[OpResult]) -> dict[str, str]:
        """Mismatch description per failing op name (oracles once each)."""
        from qaapi_spark.testing import compare, duck_connection, run_oracle

        con = duck_connection(self.data_dir)
        oracles: dict[str, tuple | str] = {}
        bad: dict[str, str] = {}
        for res in results:
            if res.error is not None:
                continue
            if res.name not in oracles:
                sql = self.catalog[res.name].oracle
                oracles[res.name] = "no oracle" if sql is None else run_oracle(con, sql)
            want = oracles[res.name]
            if isinstance(want, str):
                problems = [want] if not res.rows else []
            else:
                problems = compare(res.cols, res.rows, *want)
            if problems:
                bad.setdefault(res.name, "; ".join(problems))
        con.close()
        return bad

    def failed(self, res: OpResult, bad: dict[str, str]) -> bool:
        return res.error is not None or res.name in bad

    def finish(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# etl_batches


class EtlWorkload:
    """Initial load, then overlapping trailing-window re-extracts, each
    fed to ``CalabrioPipeline(..., partitioned=True).run_batch``.  The
    final warehouse is checked against ``etl_model.EtlModel``."""

    name = "etl_batches"
    writes_files = True

    def __init__(self):
        self.sizes: dict = {}

    def describe(self) -> dict:
        return {"ops": ["run_batch(trailing 16-day window, 2-day chunks)"],
                "contacts_per_day": datagen.CONTACTS_PER_DAY,
                "initial_days": datagen.INITIAL_DAYS}

    def prepare(self, data_dir: str, seed: int, n_windows: int) -> None:
        corpus = datagen.CalabrioCorpus(seed)
        self.warehouse = os.path.join(data_dir, "warehouse")
        self.batches: list[tuple[str, int]] = []  # (landing dir, landed bytes)
        d0 = os.path.join(data_dir, "landing", "000")
        self.batches.append((d0, corpus.initial_landing(d0)))
        self.sizes["initial"] = corpus.sizes()
        for i in range(1, n_windows + 1):
            d = os.path.join(data_dir, "landing", f"{i:03d}")
            self.batches.append((d, corpus.next_window(d)))
        self.sizes["after_all_windows"] = corpus.sizes()
        self.sizes["window_landed_bytes"] = self.batches[1][1] if n_windows else 0
        self.applied = 0

    def start(self, spark, tracer) -> None:
        from qaapi_spark.pipeline import CalabrioPipeline

        self.tracer = tracer
        self.pipe = CalabrioPipeline(spark, self.warehouse, partitioned=True)

    def warm_ops(self) -> list[str]:
        # the initial load writes every table; the first window is the
        # first pass through the partition-scoped merges
        return ["initial_load", "window"]

    def op_names(self) -> list[str]:
        return ["window"] if self.applied < len(self.batches) else []

    def run_op(self, name: str, res: OpResult) -> None:
        landing, _ = self.batches[self.applied]
        self.applied += 1
        with self.tracer.span("pipeline.run_batch"):
            self.pipe.run_batch(landing, collect_counts=False)

    def landed_bytes(self, index: int) -> int:
        return self.batches[index][1]

    def output_rows(self, res: OpResult) -> None:
        return None  # read from the rows Spark's writes record

    def check(self, results: list[OpResult]) -> dict[str, str]:
        from perfbench.etl_model import EtlModel

        model = EtlModel()
        try:
            for landing, _ in self.batches[: self.applied]:
                model.apply_batch(landing)
            diff = model.mismatches(self.warehouse)
            self.model_rows = model.row_counts()
        finally:
            model.close()
        wrong = {t: n for t, n in diff.items() if n != 0}
        # the model checks the final warehouse, which every batch built:
        # a mismatch fails them all
        return {"window": f"warehouse differs from model: {wrong}"} if wrong else {}

    def failed(self, res: OpResult, bad: dict[str, str]) -> bool:
        return res.error is not None or bool(bad)

    def finish(self) -> dict:
        from perfbench.trace import dir_bytes

        landed = sum(b for _, b in self.batches[: self.applied])
        return {
            "store_bytes_per_input_byte": dir_bytes(self.warehouse) / landed,
            "model_rows": getattr(self, "model_rows", {}),
            "batches_applied": self.applied,
        }


WORKLOADS = {"etl_batches": EtlWorkload, "curation_tail": CurationWorkload}
