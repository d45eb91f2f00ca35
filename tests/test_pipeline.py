"""End-to-end incremental pipeline test: two batches with the
reference's reconciliation edge cases (SURVEY.md §5.2 item 2-3).

Batch 1 = the committed fixture corpus.  Batch 2 = a trailing-window
re-extract where, upstream:
  - a new contact (99) with one evaluation appears
  - contact 7's evaluation 1071 was DELETED (J5 victim: contact in
    batch, eval vanished) while 1070 survives with an updated score
  - contact 5's comment text was edited (delete-then-insert refresh)
  - contacts outside the window (e.g. 20s) are untouched
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from qaapi_spark.pipeline import CalabrioPipeline

FIX = "/root/repo/fixtures"


def _load(name):
    with open(f"{FIX}/{name}") as f:
        return json.load(f)


@pytest.fixture(scope="module")
def batch2_dir():
    """The committed batch-2 fixtures (tools/gen_batch2.py); assert the
    committed files still equal the deterministic generator output."""
    sys_path_root = "/root/repo"
    import sys

    if sys_path_root not in sys.path:
        sys.path.insert(0, sys_path_root)
    from tools.gen_batch2 import build_batch2

    for name, docs in build_batch2(FIX).items():
        assert _load(f"batch2/{name}") == docs, f"stale fixture: batch2/{name}"
    return f"{FIX}/batch2"


def test_two_batch_reconciliation(spark, tmp_path, batch2_dir):
    pipe = CalabrioPipeline(spark, str(tmp_path / "warehouse"))
    counts1 = pipe.run_batch(FIX)
    assert counts1["t_qa_forms"] == 69
    assert counts1["t_contacts"] == 40
    assert counts1["t_qa_evaluations"] == 33

    counts2 = pipe.run_batch(batch2_dir)

    contacts = pipe.read("t_contacts")
    # new contact inserted; previously-loaded contacts survive untouched
    assert contacts.filter(F.col("contact_id") == 99).count() == 1
    assert counts2["t_contacts"] == counts1["t_contacts"] + 1

    evals = pipe.read("t_qa_evaluations")
    # 1071 deleted (contact 7 in batch, eval vanished upstream)
    assert evals.filter(F.col("evaluation_id") == 1071).count() == 0
    # 1070 re-scored via upsert; evaluated_date preserved from batch 1
    row = evals.filter(F.col("evaluation_id") == 1070).collect()[0]
    assert row["final_score"] == 91.25
    # evaluations of contacts OUTSIDE the window are untouched
    # (contact 21 has 2 evals: cid % 7 == 0 in the fixture generator)
    assert evals.filter(F.col("contact_id") == 21).count() == 2
    # new contact's eval inserted
    assert evals.filter(F.col("evaluation_id") == 1990).count() == 1

    comments = pipe.read("t_qa_evaluation_comments")
    edited = comments.filter(F.col("contact_id") == 5).select("text").collect()
    assert edited and all(r["text"].endswith("(edited)") for r in edited)
    # comments of out-of-window contacts survive
    assert comments.filter(F.col("contact_id") > 9).count() > 0


def test_evaluated_date_preserved_on_upsert(spark, tmp_path, batch2_dir):
    pipe = CalabrioPipeline(spark, str(tmp_path / "warehouse2"))
    pipe.run_batch(FIX)
    before = {
        r["evaluation_id"]: r["evaluated_date"]
        for r in pipe.read("t_qa_evaluations").collect()
    }
    pipe.run_batch(batch2_dir)
    after = {
        r["evaluation_id"]: r["evaluated_date"]
        for r in pipe.read("t_qa_evaluations").collect()
    }
    # mirrors Update...sql:128-130: matched rows keep the OLD evaluated_date
    assert after[1070] == before[1070]


def test_multi_table_reconcile_failures_all_surface(spark, tmp_path, monkeypatch):
    """Round-6 (ADVICE r5): when several concurrent per-table
    reconciles fail, every exception must surface (ExceptionGroup),
    not just whichever future happened to be examined first."""
    pipe = CalabrioPipeline(spark, str(tmp_path / "warehouse3"))
    real = pipe._reconcile
    fail_tables = {"t_contacts", "t_qa_evaluations"}

    def flaky(table, *a, **kw):
        if table in fail_tables:
            raise RuntimeError(f"boom:{table}")
        return real(table, *a, **kw)

    monkeypatch.setattr(pipe, "_reconcile", flaky)
    with pytest.raises(ExceptionGroup) as ei:
        pipe.run_batch(FIX)
    got = {str(e) for e in ei.value.exceptions}
    assert got == {f"boom:{t}" for t in fail_tables}


def test_contacts_replace_crash_keeps_prior_table(spark, tmp_path, monkeypatch, batch2_dir):
    """A crash while a batch lands a curated table must leave that
    table's previous state recoverable: the old write path removed the
    table before moving the new one into place, so dying in between
    lost every row.  Each rename/replace whose destination is
    ``t_contacts`` raises once during batch 2; a fresh pipeline must
    then read batch 1's rows, and rerunning batch 2 must land the same
    table an uninterrupted run does."""
    import os

    def rows(pipe):
        return sorted(map(tuple, pipe.read("t_contacts").collect()))

    wh = str(tmp_path / "crash_wh")
    CalabrioPipeline(spark, wh).run_batch(FIX, collect_counts=False)
    before = rows(CalabrioPipeline(spark, wh))

    armed = [True]

    def crashing(real):
        def op(src, dst, *a, **kw):
            if armed[0] and os.fspath(dst).rstrip("/").endswith(os.sep + "t_contacts"):
                armed[0] = False
                raise OSError("simulated crash while landing t_contacts")
            return real(src, dst, *a, **kw)

        return op

    monkeypatch.setattr(os, "replace", crashing(os.replace))
    monkeypatch.setattr(os, "rename", crashing(os.rename))
    with pytest.raises(OSError, match="simulated crash"):
        CalabrioPipeline(spark, wh).run_batch(batch2_dir, collect_counts=False)
    assert not armed[0], "the t_contacts replace was never reached"
    monkeypatch.undo()

    fresh = CalabrioPipeline(spark, wh)
    assert fresh.read("t_contacts") is not None
    assert rows(fresh) == before

    fresh.run_batch(batch2_dir, collect_counts=False)
    clean = CalabrioPipeline(spark, str(tmp_path / "clean_wh"))
    clean.run_batch(FIX, collect_counts=False)
    clean.run_batch(batch2_dir, collect_counts=False)
    assert rows(CalabrioPipeline(spark, wh)) == rows(clean)


@pytest.mark.parametrize("partitioned", [True, False], ids=["buckets", "one_bucket"])
def test_seeded_corpus_matches_etl_model(spark, tmp_path, monkeypatch, partitioned):
    """A seeded Calabrio corpus (duplicates, non-SCORED states, null
    evaluators, vanished evaluations, re-scores, deleted and edited
    comments, edited and new contacts) through an initial load and two
    trailing windows must land exactly the rows of an independent
    DuckDB replay of the four merge rules, in both bucket layouts, and
    leave no staged or trash table behind.  Every batch, the failed one
    included, frees the batch relations it cached, and every bucket of
    every merged table is one data file."""
    import glob
    import os

    from perfbench.datagen import CalabrioCorpus
    from perfbench.etl_model import TABLES, EtlModel
    from qaapi_spark.operators import partitioned as bucketed
    from qaapi_spark.sources.tables import parquet_files

    corpus = CalabrioCorpus(2)
    landings = [str(tmp_path / "landing" / f"{i:03d}") for i in range(3)]
    corpus.initial_landing(landings[0])
    for d in landings[1:]:
        corpus.next_window(d)

    wh = str(tmp_path / "wh")
    pipe = CalabrioPipeline(spark, wh, partitioned=partitioned)
    cached = spark.sparkContext._jsc.getPersistentRDDs

    def failing_merge(*a, **kw):
        raise RuntimeError("merge failed")

    model = EtlModel()
    try:
        for i, d in enumerate(landings):
            n_cached = cached().size()
            if partitioned and i == len(landings) - 1:
                # every merge raises once the batches it reads are cached
                # (layout-independent, so checked in one layout)
                with monkeypatch.context() as m:
                    m.setattr(bucketed, "merge_partitioned", failing_merge)
                    with pytest.raises(ExceptionGroup):
                        pipe.run_batch(d, collect_counts=False)
                assert cached().size() == n_cached
            pipe.run_batch(d, collect_counts=False)
            assert cached().size() == n_cached
            model.apply_batch(d)
            buckets = glob.glob(os.path.join(wh, "*", f"{bucketed.PCOL}=*"))
            assert buckets
            assert {b: len(parquet_files(b)) for b in buckets} == {b: 1 for b in buckets}
        assert model.mismatches(wh) == {t: 0 for t in TABLES}
    finally:
        model.close()
    assert not [n for n in os.listdir(wh) if n.endswith((".next", ".__swap_old__"))]
