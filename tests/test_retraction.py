"""Round-12 retraction tests (VERDICT r11 next #2): component SPLITS
and label re-election for the CC-label stream, canonical re-election
for the ExactSubstr stream, tombstone-filtered inserts after deletes,
delete-epoch retry-idempotence, and the op-routing contract."""

from __future__ import annotations

import os

import pytest

# 20 distinct words -> 19 distinct bigrams
_BASE = " ".join(f"b{i}" for i in range(20))
_EXT = [f"e{i}" for i in range(6)]
# chain corpus: J(A,B)=19/22=.8636, J(B,C)=22/25=.88, J(A,C)=19/25=.76
_A = _BASE
_B = _BASE + " " + " ".join(_EXT[:3])
_C = _BASE + " " + " ".join(_EXT)

_PASSAGE = " ".join(f"w{i}" for i in range(12))  # 12 tokens >= min_len 10
_FILLER = " ".join(f"f{i}" for i in range(12))


def _mk_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def _labels(df):
    return {r["doc_id"]: r["comp"] for r in df.collect()}


# --- CC labels under retraction -------------------------------------


def test_cc_delete_splits_component(spark, tmp_path):
    """1-3-2 is one component only through bridge doc 3 (A~B, C~B but
    A!~C); retracting 3 after all three are ingested must SPLIT it
    into {1} and {2}."""
    from qaapi_spark.streaming.retraction import stream_cc_labels_with_deletes

    docs = str(tmp_path / "docs.parquet")
    # staging (n_splits=2, lo=1 hi=21 step=11): ins{1,2,3}, del{3},
    # ins{21} — the retraction lands after the whole component is
    # ingested, so the survivor re-screen must find the split
    _mk_docs(spark, docs, [(1, _A), (2, _C), (3, _B), (21, _FILLER)])
    got = _labels(
        stream_cc_labels_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        )
    )
    assert got == {1: 1, 2: 2, 21: 21}


def test_cc_delete_reelects_min_label_and_filters_store(spark, tmp_path):
    """Docs 3,5 identical -> comp 3; retracting min-id member 3 must
    re-elect the label UPWARD to 5; doc 7 (identical, inserted AFTER
    the delete) must edge to 5 through the tombstone-filtered band
    store — never to the retracted 3."""
    from qaapi_spark.streaming.retraction import stream_cc_labels_with_deletes

    docs = str(tmp_path / "docs.parquet")
    # staging: ins{3,5}, del{3}, ins{7}
    _mk_docs(spark, docs, [(3, _A), (5, _A), (7, _A)])
    got = _labels(
        stream_cc_labels_with_deletes(
            spark, docs, n_splits=2, del_mod=100, del_rem=3
        )
    )
    assert got == {5: 5, 7: 5}


def _live_rows(rows, del_mod=10, del_rem=3, n_splits=2):
    """The post-stream live set under the staged single-retraction
    contract: predicate docs ingested BEFORE the mid-stream retraction
    batch (doc_id < mid_bound) are tombstoned."""
    ids = [i for i, _ in rows]
    lo, hi = min(ids), max(ids)
    step = max(1, (hi - lo + n_splits) // n_splits)
    mid = lo + (n_splits // 2) * step
    return [
        (i, t)
        for i, t in rows
        if not (i % del_mod == del_rem and i < mid)
    ]


def test_cc_stream_with_deletes_matches_batch_union_find(spark, tmp_path):
    """Mixed corpus (two near-dup groups + uniques), the retraction
    hitting a group member: final labels equal an independent Python
    union-find over exact bigram-Jaccard edges of the LIVE corpus
    (which keeps the high-half predicate doc 13 — it arrives after the
    retraction batch)."""
    from qaapi_spark.streaming.retraction import stream_cc_labels_with_deletes

    rows = [
        (0, _BASE),
        (1, _BASE + " x0"),
        (2, _BASE + " x0 x1"),
        (3, _BASE + " x0 x1 x2"),
        (4, "q " + _FILLER),
        (5, "q " + _FILLER),
        (6, " ".join(f"u6w{i}" for i in range(15))),
        (13, " ".join(f"u13w{i}" for i in range(15))),
    ]
    docs = str(tmp_path / "docs.parquet")
    _mk_docs(spark, docs, rows)
    got = _labels(
        stream_cc_labels_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        )
    )

    live = _live_rows(rows)
    assert {i for i, _ in live} == {0, 1, 2, 4, 5, 6, 13}  # 3 out, 13 kept

    def bigrams(t):
        w = t.lower().split()
        return set(zip(w, w[1:]))

    parent = {i: i for i, _ in live}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, ti in live:
        for j, tj in live:
            if i >= j:
                continue
            si, sj = bigrams(ti), bigrams(tj)
            if not si or not sj:
                continue
            jac = round(len(si & sj) / len(si | sj), 4)
            if jac >= 0.8:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    want = {i: find(i) for i, _ in live}
    assert got == want


def test_cc_delete_epoch_retry_idempotent(spark, tmp_path):
    """A replayed retraction epoch reproduces the identical label
    delta and tombstone set (reads filter epoch < N, writes epoch-keyed
    overwrite)."""
    from qaapi_spark.streaming.incremental import _cc_labels_epoch
    from qaapi_spark.streaming.retraction import _cc_rt_delete_epoch

    store = str(tmp_path / "store")
    labels = str(tmp_path / "labels")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _cc_labels_epoch(mk([(1, _A), (3, _B)]), 0, store, labels, 0.8, 64, 16,
                     del_root=delr)
    _cc_labels_epoch(mk([(4, _C)]), 1, store, labels, 0.8, 64, 16,
                     del_root=delr)
    ddf = spark.createDataFrame([(3,)], "doc_id long")
    _cc_rt_delete_epoch(ddf, 2, store, labels, delr, 0.8)
    first = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(labels, "epoch=2")).collect()
    )
    assert first == [(1, 1), (4, 4)]  # the split, as the epoch delta
    _cc_rt_delete_epoch(ddf, 2, store, labels, delr, 0.8)  # replay
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(labels, "epoch=2")).collect()
    )
    assert again == first
    dels = spark.read.parquet(os.path.join(delr, "epoch=2")).collect()
    assert [r["doc_id"] for r in dels] == [3]


# --- ExactSubstr under retraction -----------------------------------


def test_exsub_delete_reelects_canonical(spark, tmp_path):
    """Doc 3 owns the canonical passage, doc 4's copy is cut; after
    both are ingested, retracting 3 must PROMOTE doc 4's occurrence —
    its row is re-emitted with the passage restored."""
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_with_deletes,
    )

    docs = str(tmp_path / "docs.parquet")
    # staging: ins{3,4}, del{3}, ins{21}
    _mk_docs(
        spark,
        docs,
        [(3, _PASSAGE + " t0 t1"), (4, "pre fix " + _PASSAGE), (21, _FILLER)],
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in stream_exact_substring_apply_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        ).collect()
    }
    assert set(got) == {4, 21}  # retracted doc gone
    assert got[4] == (14, 14, ("pre fix " + _PASSAGE).lower())
    assert got[21] == (12, 12, _FILLER)


def test_exsub_insert_after_delete_recanonicalizes(spark, tmp_path):
    """Every occurrence of the passage is retracted before doc 21
    arrives: the live index no longer contains those digests, so doc
    21's copy is canonical again and kept intact."""
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_with_deletes,
    )

    docs = str(tmp_path / "docs.parquet")
    # staging: ins{3}, del{3}, ins{21}
    _mk_docs(spark, docs, [(3, _PASSAGE), (21, _PASSAGE + " tail")])
    got = {
        r["doc_id"]: (r["n_kept"], r["text_dedup"])
        for r in stream_exact_substring_apply_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        ).collect()
    }
    assert got == {21: (13, _PASSAGE + " tail")}


def test_exsub_matches_batch_apply_on_live_corpus(spark, tmp_path):
    """Stream-with-deletes equals the batch apply on the post-delete
    corpus, on a corpus mixing canonical deletion, surviving
    borrowers, and clean docs."""
    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_with_deletes,
    )

    rows = [
        (0, _PASSAGE + " a0 a1"),
        (3, "p3 " + _PASSAGE),
        (4, "p4 q4 " + _PASSAGE),
        (6, _FILLER),
        (13, _FILLER + " z"),
        (20, "tail copy " + _PASSAGE),
    ]
    docs = str(tmp_path / "docs.parquet")
    _mk_docs(spark, docs, rows)
    got = sorted(
        tuple(r)
        for r in stream_exact_substring_apply_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        ).collect()
    )
    live = spark.createDataFrame(
        _live_rows(rows), "doc_id long, text string"
    )
    want = sorted(tuple(r) for r in exact_substring_apply(live, 10).collect())
    assert got == want


def test_exsub_delete_epoch_retry_idempotent(spark, tmp_path):
    """A replayed ExactSubstr retraction epoch re-emits the identical
    re-elected rows."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(
        mk([(0, _PASSAGE), (1, "x " + _PASSAGE)]), 0, occ, out, delr, 10
    )
    _exsub_rt_insert_epoch(mk([(20, _FILLER)]), 1, occ, out, delr, 10)
    # epoch 0 left doc 1 trimmed to its unique prefix
    e0 = {
        r["doc_id"]: r["n_kept"]
        for r in spark.read.parquet(os.path.join(out, "epoch=0")).collect()
    }
    assert e0 == {0: 12, 1: 1}
    pub = lambda rows: sorted(
        (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"]) for r in rows
    )
    ddf = spark.createDataFrame([(0,)], "doc_id long")
    _exsub_rt_delete_epoch(ddf, 2, occ, out, delr, 10)
    first = pub(spark.read.parquet(os.path.join(out, "epoch=2")).collect())
    assert first == [(1, 13, 13, ("x " + _PASSAGE).lower())]
    _exsub_rt_delete_epoch(ddf, 2, occ, out, delr, 10)  # replay
    again = pub(spark.read.parquet(os.path.join(out, "epoch=2")).collect())
    assert again == first


def test_retraction_stores_compact_cleanly(spark, tmp_path):
    """The retraction stores are compactable epoch stores like the
    insert-only ones: folding occ ('distinct'), out ('latest' by
    doc_id), and tombstones ('distinct') between epochs leaves the
    delete epoch's re-election — and the final relation — identical."""
    from qaapi_spark.streaming.incremental import compact_epoch_store
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    batches = [[(0, _PASSAGE), (1, "x " + _PASSAGE)], [(20, _FILLER)]]

    def run(compact: bool, sub: str):
        occ = str(tmp_path / sub / "occ")
        out = str(tmp_path / sub / "out")
        delr = str(tmp_path / sub / "deleted")
        for i, rows in enumerate(batches):
            _exsub_rt_insert_epoch(mk(rows), i, occ, out, delr, 10)
        if compact:
            assert compact_epoch_store(
                spark, occ, "distinct", upto=1, key_cols=("h",)
            ) == 2
            assert compact_epoch_store(
                spark, out, "latest", upto=1, key_cols=("doc_id",)
            ) == 2
        _exsub_rt_delete_epoch(
            spark.createDataFrame([(0,)], "doc_id long"), 2, occ, out, delr, 10
        )
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
        dels = spark.read.parquet(delr).select("doc_id")
        return sorted(
            (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"])
            for r in (
                spark.read.parquet(out)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .join(dels, "doc_id", "left_anti")
                .select("doc_id", "n_toks", "n_kept", "text_dedup")
            ).collect()
        )

    plain = run(False, "plain")
    folded = run(True, "folded")
    assert folded == plain
    # the re-election happened in both: doc 1 restored to full text
    assert (1, 13, 13, ("x " + _PASSAGE).lower()) in plain


# --- contracts ------------------------------------------------------


def test_exsub_rejects_out_of_order_ingest(spark, tmp_path):
    """VERDICT r11 next #6: a batch arriving behind the standing
    doc_id frontier would silently produce a different relation —
    the epoch must REJECT it, while in-order (and replayed) epochs
    still pass."""
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    occ, out = str(tmp_path / "occ"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    def epoch(rows, e):
        _exsub_rt_insert_epoch(mk(rows), e, occ, out, None, 10)

    epoch([(20, _PASSAGE)], 0)
    with pytest.raises(ValueError, match="out-of-order ingest"):
        epoch([(5, _FILLER)], 1)
    # a retry of epoch 0 reads the frontier at epoch < 0 — no false trip
    epoch([(20, _PASSAGE)], 0)
    # and the in-order successor is accepted
    epoch([(21, _FILLER)], 1)


def test_exsub_insert_epoch_job_budget(spark, tmp_path, monkeypatch):
    """The ExactSubstr insert epoch both twins run must not spend more
    Spark jobs per epoch than the insert-only epoch it replaced did on
    the same two-batch input.  That epoch, measured under the stream's
    ORDERED_CONF with driver-thread jobs counted: 3 jobs in epoch 0
    and 6 in epoch 1.  Batches are parquet scans, as in the stream: a
    join fusing ``text`` back into the trimmed rows broadcasts that
    scan in one more job (4 in epoch 0)."""
    from concurrent.futures import ThreadPoolExecutor

    from qaapi_spark.streaming.epochs import ORDERED_CONF, session_conf
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    sc = spark.sparkContext
    group = ["?"]
    submit = ThreadPoolExecutor.submit

    def grouped_submit(self, fn, *a, **kw):
        # par_writes and the guards run jobs on pool threads, which do
        # not inherit the caller's job group
        g = group[0]

        def run(*a2, **kw2):
            sc.setJobGroup(g, g)
            return fn(*a2, **kw2)

        return submit(self, run, *a, **kw)

    monkeypatch.setattr(ThreadPoolExecutor, "submit", grouped_submit)
    occ, out = str(tmp_path / "occ"), str(tmp_path / "out")
    batches = [
        [(0, _PASSAGE + " tail zero"), (1, _FILLER)],
        [(20, "x " + _PASSAGE), (21, _FILLER + " y")],
    ]
    jobs = []
    for e, rows in enumerate(batches):
        path = str(tmp_path / f"batch{e}")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
        bdf = spark.read.schema("doc_id long, text string").parquet(path)
        group[0] = f"exsub_budget_{os.getpid()}_{id(tmp_path)}_{e}"
        sc.setJobGroup(group[0], group[0])
        try:
            with session_conf(spark, ORDERED_CONF):
                _exsub_rt_insert_epoch(bdf, e, occ, out, None, 10)
        finally:
            sc.setJobGroup(None, None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group[0])))
    assert jobs[0] <= 3 and jobs[1] <= 6, jobs
    trimmed = {
        r["doc_id"]: r["n_kept"] for r in spark.read.parquet(out).collect()
    }
    assert trimmed == {0: 14, 1: 12, 20: 1, 21: 1}


def test_exsub_rt_rejects_reinsert_of_tombstoned_id(spark, tmp_path):
    """The retraction variant's frontier counts RETRACTED docs: a
    tombstoned id is permanent, so re-inserting it (or any id behind
    the frontier) raises instead of becoming silently invisible."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(mk([(3, _PASSAGE)]), 0, occ, out, delr, 10)
    ddf = spark.createDataFrame([(3,)], "doc_id long")
    _exsub_rt_delete_epoch(ddf, 1, occ, out, delr, 10)
    with pytest.raises(ValueError, match="out-of-order ingest"):
        _exsub_rt_insert_epoch(mk([(3, _PASSAGE)]), 2, occ, out, delr, 10)
    # the next fresh id is accepted
    _exsub_rt_insert_epoch(mk([(4, _FILLER)]), 2, occ, out, delr, 10)


def test_route_op_batch_rejects_mixed(spark):
    from qaapi_spark.streaming.retraction import _route_op_batch

    bdf = spark.createDataFrame(
        [(1, "t", "i"), (2, "", "d")], "doc_id long, text string, op string"
    )
    with pytest.raises(ValueError, match="mixed insert\\+delete"):
        _route_op_batch(bdf, 0, lambda b, e: None, lambda d, e: None)


def test_route_op_batch_ops_map_skips_probe(spark):
    """r15: with the stager's per-epoch op map supplied, dispatch is
    driver-side — authoritative over the batch contents (no probe job
    runs, so a mixed batch at a mapped epoch would not even be
    scanned) — and an epoch beyond the map falls back to the probe."""
    from qaapi_spark.streaming.retraction import _route_op_batch

    calls = []
    ins = spark.createDataFrame(
        [(1, "t", "i")], "doc_id long, text string, op string"
    )
    dele = spark.createDataFrame(
        [(2, "", "d")], "doc_id long, text string, op string"
    )
    ops = ["i", "d", "i"]
    _route_op_batch(
        ins, 0,
        lambda b, e: calls.append(("i", e, sorted(b.columns))),
        lambda d, e: calls.append(("d", e, sorted(d.columns))),
        ops=ops,
    )
    _route_op_batch(
        dele, 1,
        lambda b, e: calls.append(("i", e, sorted(b.columns))),
        lambda d, e: calls.append(("d", e, sorted(d.columns))),
        ops=ops,
    )
    # beyond the map: falls back to the probe (still dispatches right)
    _route_op_batch(
        ins, 99,
        lambda b, e: calls.append(("i", e, sorted(b.columns))),
        lambda d, e: calls.append(("d", e, sorted(d.columns))),
        ops=ops,
    )
    assert calls == [
        ("i", 0, ["doc_id", "text"]),
        ("d", 1, ["doc_id"]),
        ("i", 99, ["doc_id", "text"]),
    ]


def test_staged_slice_ops_indexes_existing_dirs(tmp_path):
    """Empty slices stage no directory, so the per-epoch op list must
    be indexed by the slice dirs that EXIST, in slice-index order."""
    from qaapi_spark.streaming.retraction import _staged_slice_ops

    for j in (0, 1, 3):  # slice 2 was empty -> no dir
        os.makedirs(tmp_path / f"slice={j}")
    assert _staged_slice_ops(str(tmp_path), ["i", "d", "i", "i"]) == [
        "i", "d", "i",
    ]


def test_stage_ops_with_deletes_returns_delivery_ops(spark):
    """The stager's returned op list matches the staged files' op
    column in mtime (delivery) order — the contract the probe-free
    routing relies on."""
    from qaapi_spark.streaming.retraction import _stage_ops_with_deletes

    raw = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    stage, ops, _ = _stage_ops_with_deletes(spark, raw, 3, 1, 2)
    staged = spark.read.parquet(stage)
    by_slice = {
        r["slice"]: r["op"]
        for r in staged.select("slice", "op").distinct().collect()
    }
    assert ops == [by_slice[j] for j in sorted(by_slice)]


def test_par_writes_runs_all_and_propagates():
    from qaapi_spark.streaming.epochs import par_writes as _par_writes

    hits = []
    _par_writes(lambda: hits.append(1), lambda: hits.append(2))
    assert sorted(hits) == [1, 2]
    _par_writes(lambda: hits.append(3))
    assert hits[-1] == 3

    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        _par_writes(lambda: hits.append(4), boom)
    assert 4 in hits  # sibling writes still ran (idempotent overwrites)


def test_delete_oracle_lift_is_well_defined():
    """The textual 'FROM documents -> FROM documents WHERE live'
    lift behind the *_with_deletes oracles is sound only while the
    source fragments contain exactly ONE corpus scan each — pin it."""
    from qaapi_spark.plans.llm_dedup import (
        _DD_JACCARD_PAIRS,
        _DEL_WHERE,
        _EXSUB_APPLY_ORACLE,
    )
    from qaapi_spark.plans import CATALOG

    assert _DD_JACCARD_PAIRS.count("FROM documents") == 1
    assert _EXSUB_APPLY_ORACLE.count("FROM documents") == 1
    cc = CATALOG["stream_cc_labels_with_deletes"].oracle
    ex = CATALOG["stream_exsub_apply_with_deletes"].oracle
    # every corpus scan in the lifted oracles carries the live filter
    # (each lift adds one extra "FROM documents" inside the mid-bound
    # min/max scalar subquery)
    live = f"FROM documents WHERE {_DEL_WHERE}"
    assert cc.count(live) == 2  # pairs + recursive seed
    assert cc.count("FROM documents") == 4
    assert ex.count(live) == 1
    assert ex.count("FROM documents") == 2
    # the r13 reverse-staged lift (unordered x deletes)
    from qaapi_spark.plans.llm_dedup import _DEL_WHERE_HI

    un = CATALOG["stream_exsub_unordered_with_deletes"].oracle
    assert un.count(f"FROM documents WHERE {_DEL_WHERE_HI}") == 1
    assert un.count("FROM documents") == 2
    # the r13 SCD2 subject-erasure lift (events table)
    from qaapi_spark.plans.mining import _SCD2_DEL_WHERE, _SCD2_ORACLE

    assert _SCD2_ORACLE.count("FROM events") == 1
    sc = CATALOG["stream_scd2_with_deletes"].oracle
    assert sc.count(f"FROM events WHERE {_SCD2_DEL_WHERE}") == 1
    assert sc.count("FROM events") == 2


# --- order-independent (unordered) ExactSubstr ----------------------


def test_unordered_late_canonical_demotes(spark, tmp_path):
    """Doc 20 arrives FIRST (kept whole as the interim canonical);
    doc 3 arrives later with the EARLIER occurrence — the standing
    canonical is demoted: doc 20's row is re-emitted with the passage
    cut, doc 3 keeps it.  Final relation = the batch apply."""
    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_unordered,
    )

    docs = str(tmp_path / "docs.parquet")
    rows = [(3, _PASSAGE + " t0 t1"), (20, "x y " + _PASSAGE)]
    _mk_docs(spark, docs, rows)
    got = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in stream_exact_substring_apply_unordered(
            spark, docs, n_splits=2
        ).collect()
    }
    assert got[3] == (14, 14, (_PASSAGE + " t0 t1").lower())
    assert got[20] == (14, 2, "x y")
    batch = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in exact_substring_apply(spark.read.parquet(docs), 10).collect()
    }
    assert got == batch


@pytest.mark.slow  # 63 s all-permutation replay
def test_unordered_equals_batch_for_every_permutation(spark, tmp_path):
    """Three batches carrying interlocking duplicates, driven through
    the epoch function directly in ALL SIX arrival permutations: every
    final relation equals the batch apply on the full corpus."""
    import itertools

    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.streaming.retraction import _exsub_uo_epoch
    from pyspark.sql import Window

    batches = [
        [(0, _PASSAGE + " a0"), (1, _FILLER)],
        [(10, "m0 m1 " + _PASSAGE)],
        [(20, _PASSAGE), (21, _FILLER + " z0 z1")],
    ]
    rows = [r for b in batches for r in b]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(tuple(r) for r in exact_substring_apply(corpus, 10).collect())

    mk = lambda rs: spark.createDataFrame(rs, "doc_id long, text string")
    for k, perm in enumerate(itertools.permutations(range(3))):
        occ = str(tmp_path / f"p{k}" / "occ")
        out = str(tmp_path / f"p{k}" / "out")
        for e, bi in enumerate(perm):
            _exsub_uo_epoch(mk(batches[bi]), e, occ, out, 10)
        from pyspark.sql import functions as F

        got = sorted(
            (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"])
            for r in (
                spark.read.parquet(out)
                .withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("doc_id", "n_toks", "n_kept", "text_dedup")
            ).collect()
        )
        assert got == want, f"permutation {perm} diverged"


def test_unordered_epoch_retry_idempotent(spark, tmp_path):
    """A replayed demoting epoch re-emits the identical rows."""
    from qaapi_spark.streaming.retraction import _exsub_uo_epoch

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_uo_epoch(mk([(20, "x " + _PASSAGE)]), 0, occ, out, 10)
    b1 = mk([(3, _PASSAGE)])
    _exsub_uo_epoch(b1, 1, occ, out, 10)
    pub = lambda rows: sorted(
        (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"]) for r in rows
    )
    first = pub(spark.read.parquet(os.path.join(out, "epoch=1")).collect())
    # the demoted doc 20 re-emitted trimmed + the new canonical doc 3
    assert first == [(3, 12, 12, _PASSAGE), (20, 13, 1, "x")]
    _exsub_uo_epoch(b1, 1, occ, out, 10)  # replay
    again = pub(spark.read.parquet(os.path.join(out, "epoch=1")).collect())
    assert again == first


# --- greedy near-dup under retraction --------------------------------


def _mk_docs_ls(spark, path, rows):
    """(doc_id, text) rows widened with the lang/source columns the
    neardup stream's public relation projects."""
    spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(path)


def test_neardup_delete_resurrects_dropped_doc(spark, tmp_path):
    """Epoch 0 ingests the chain 1~3~4 (1!~4): greedy keeps only 1 (3
    blocked by 1, 4 blocked by survivor 3).  Retracting 3 re-opens the
    component: 4 has no live smaller near-dup left and RESURRECTS."""
    from qaapi_spark.streaming.retraction import stream_neardup_with_deletes

    docs = str(tmp_path / "docs.parquet")
    # staging (lo=1 hi=21 step=11): ins{1,3,4}, del{3}, ins{21}
    _mk_docs_ls(spark, docs, [(1, _A), (3, _B), (4, _C), (21, _FILLER)])
    kept = sorted(
        r["doc_id"]
        for r in stream_neardup_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        ).collect()
    )
    assert kept == [1, 4, 21]


def test_neardup_resurrected_doc_blocks_later_insert(spark, tmp_path):
    """Doc 4 is dropped behind keeper 3; retracting 3 resurrects 4;
    doc 21 (near-dup of 4, NOT of 3) then arrives and must drop
    against the RESURRECTED keeper — the kept-store read after a
    delete epoch reflects the flipped decision."""
    from qaapi_spark.streaming.retraction import stream_neardup_with_deletes

    docs = str(tmp_path / "docs.parquet")
    # staging: ins{3,4}, del{3}, ins{21}; J(3,4)=.86, J(4,21)=.88,
    # J(3,21)=.76
    _mk_docs_ls(spark, docs, [(3, _A), (4, _B), (21, _C)])
    kept = sorted(
        r["doc_id"]
        for r in stream_neardup_with_deletes(
            spark, docs, n_splits=2, del_mod=10, del_rem=3
        ).collect()
    )
    assert kept == [4]


def test_neardup_delete_epoch_retry_idempotent(spark, tmp_path):
    """A replayed greedy-recompute epoch reproduces the identical
    decision delta (the fused store row carries the flipped kept flag
    plus the doc's bands/sets and its pinned arrival epoch)."""
    from qaapi_spark.streaming.retraction import (
        _nd_rt_delete_epoch,
        _nd_rt_insert_epoch,
    )

    bands = str(tmp_path / "bands")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _nd_rt_insert_epoch(
        mk([(1, _A), (3, _B), (4, _C)]), 0, bands, delr, 0.8, 64, 16
    )
    dec = lambda sub: sorted(
        (r["id"], r["kept"], r["arrival"])
        for r in spark.read.parquet(os.path.join(bands, sub))
        .select("id", "kept", "arrival")
        .collect()
    )
    assert dec("epoch=0") == [(1, True, 0), (3, False, 0), (4, False, 0)]
    ddf = spark.createDataFrame([(3,)], "doc_id long")
    _nd_rt_delete_epoch(ddf, 1, bands, delr, 0.8)
    first = dec("epoch=1")
    # 4 resurrected; arrival stays pinned at its insert epoch
    assert first == [(1, True, 0), (4, True, 0)]
    _nd_rt_delete_epoch(ddf, 1, bands, delr, 0.8)  # replay
    assert dec("epoch=1") == first


def test_purge_tombstoned_physically_erases(spark, tmp_path):
    """purge_tombstoned removes the retracted doc's rows from the
    stores ON DISK (GDPR erasure, not just logical filtering), leaves
    the maintained relation identical, keeps the next insert epoch
    working, and still rejects re-insert of the purged id (the
    frontier consults del_root, which the purge preserves)."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
        purge_tombstoned,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(
        mk([(0, _PASSAGE), (1, "x " + _PASSAGE)]), 0, occ, out, delr, 10
    )
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(0,)], "doc_id long"), 1, occ, out, delr, 10
    )

    def final():
        w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
        dels = spark.read.parquet(delr).select("doc_id")
        return sorted(
            (r["doc_id"], r["n_kept"], r["text_dedup"])
            for r in (
                spark.read.parquet(out)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .join(dels, "doc_id", "left_anti")
                .select("doc_id", "n_kept", "text_dedup")
            ).collect()
        )

    before = final()
    assert before == [(1, 13, ("x " + _PASSAGE).lower())]  # re-elected
    assert purge_tombstoned(spark, out, delr, key_col="doc_id") > 0
    assert purge_tombstoned(spark, occ, delr, key_col="doc_id") > 0
    # doc 0 is GONE from disk, not merely filtered
    assert spark.read.parquet(out).filter(F.col("doc_id") == 0).count() == 0
    assert spark.read.parquet(occ).filter(F.col("doc_id") == 0).count() == 0
    assert final() == before
    # re-insert of the purged id is still rejected...
    with pytest.raises(ValueError, match="out-of-order ingest"):
        _exsub_rt_insert_epoch(mk([(0, _PASSAGE)]), 2, occ, out, delr, 10)
    # ...and a fresh in-order insert still lands on the purged stores
    _exsub_rt_insert_epoch(mk([(2, _FILLER)]), 2, occ, out, delr, 10)
    assert final() == before + [(2, 12, _FILLER)]


def test_cc_insert_rejects_reinsert_of_tombstoned_id(spark, tmp_path):
    """ADVICE r12 #1: the CC insert path has no doc_id frontier, so a
    re-inserted retracted id would silently corrupt labels (it can
    become a component's min label, then vanish from every read) —
    the explicit tombstone semi-join guard must raise instead, while
    fresh ids and replayed pre-delete epochs still pass."""
    from qaapi_spark.streaming.incremental import _cc_labels_epoch
    from qaapi_spark.streaming.retraction import _cc_rt_delete_epoch

    store = str(tmp_path / "store")
    labels = str(tmp_path / "labels")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _cc_labels_epoch(mk([(1, _A)]), 0, store, labels, 0.8, 64, 16, del_root=delr)
    _cc_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"), 1, store, labels, delr, 0.8
    )
    with pytest.raises(ValueError, match="re-insert of tombstoned"):
        _cc_labels_epoch(
            mk([(1, _A)]), 2, store, labels, 0.8, 64, 16, del_root=delr
        )
    # a fresh id is accepted...
    _cc_labels_epoch(mk([(2, _C)]), 2, store, labels, 0.8, 64, 16, del_root=delr)
    # ...and a REPLAY of the pre-delete epoch reads tombstones at
    # epoch < 0 — no false trip (retry-idempotence)
    _cc_labels_epoch(mk([(1, _A)]), 0, store, labels, 0.8, 64, 16, del_root=delr)


def test_nd_insert_rejects_reinsert_of_tombstoned_id(spark, tmp_path):
    """Same guard on the greedy near-dup insert epoch: a re-inserted
    retracted doc could block a live near-dup inside the batch before
    later reads anti-join it away."""
    from qaapi_spark.streaming.retraction import (
        _nd_rt_delete_epoch,
        _nd_rt_insert_epoch,
    )

    band = str(tmp_path / "bands")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _nd_rt_insert_epoch(mk([(1, _A)]), 0, band, delr, 0.8, 64, 16)
    _nd_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"), 1, band, delr, 0.8
    )
    with pytest.raises(ValueError, match="re-insert of tombstoned"):
        _nd_rt_insert_epoch(mk([(1, _A)]), 2, band, delr, 0.8, 64, 16)
    _nd_rt_insert_epoch(mk([(2, _C)]), 2, band, delr, 0.8, 64, 16)
    _nd_rt_insert_epoch(mk([(1, _A)]), 0, band, delr, 0.8, 64, 16)


def test_purge_tombstoned_full_purge_and_accounting(spark, tmp_path):
    """ADVICE r12 #2: purging a store whose EVERY row is tombstoned
    must not write a schema-less root (the empty partitionBy write) —
    it erases the epoch dirs in place, returns the erased count, and
    the store behaves as never-written (readers guard on _has_epochs);
    a second purge is a 0-row no-op and fresh inserts still land."""
    from qaapi_spark.streaming.epochs import EpochStore
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
        purge_tombstoned,
    )
    from pyspark.sql import functions as F

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(mk([(0, _PASSAGE)]), 0, occ, out, delr, 10)
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(0,)], "doc_id long"), 1, occ, out, delr, 10
    )
    assert purge_tombstoned(spark, occ, delr) > 0
    assert not EpochStore(spark, occ).has_epochs()
    assert purge_tombstoned(spark, occ, delr) == 0  # idempotent no-op
    # the fused out store purges fully too (its only row was doc 0)
    assert purge_tombstoned(spark, out, delr) == 1
    assert not EpochStore(spark, out).has_epochs()
    # the frontier survives in del_root: reinsert rejected, fresh ok
    with pytest.raises(ValueError, match="out-of-order ingest"):
        _exsub_rt_insert_epoch(mk([(0, _PASSAGE)]), 2, occ, out, delr, 10)
    _exsub_rt_insert_epoch(mk([(2, _FILLER)]), 2, occ, out, delr, 10)
    assert (
        spark.read.parquet(out).filter(F.col("doc_id") == 2).count() == 1
    )


# --- Composed shard pipeline under retraction -------------------------


def _mk_src(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _c2s_rows(spark, out, tot, delr):
    from qaapi_spark.streaming.retraction import _c2s_final_rows

    return sorted(
        (r["source"], r["doc_id"], r["n_toks"], r["start_tok"])
        for r in _c2s_final_rows(spark, out, tot, delr).collect()
    )


def _uniq_text(prefix, n=12):
    return " ".join(f"{prefix}{i}" for i in range(n))


def _c2s_roots(tmp_path):
    return tuple(
        str(tmp_path / d) for d in ("bands", "deleted", "totals", "out")
    )


def test_c2s_delete_releases_quota_slot(spark, tmp_path):
    """VERDICT r12 next #2: retracting a packed doc must RELEASE its
    per-source quota slot — the doc that was capped out re-enters the
    rebuilt pack, and every later same-source doc's start_tok shifts."""
    from qaapi_spark.streaming.retraction import (
        _c2s_rt_delete_epoch,
        _c2s_rt_insert_epoch,
    )

    band, delr, tot, out = _c2s_roots(tmp_path)
    t1, t2, t3 = (_uniq_text(p) for p in ("a", "b", "c"))
    _c2s_rt_insert_epoch(
        _mk_src(spark, [(1, t1, "s"), (2, t2, "s"), (3, t3, "s")]),
        0, band, delr, tot, out,
        0.8, 64, 16, min_toks=4, budget=10, source_cap=2,
    )
    assert _c2s_rows(spark, out, tot, delr) == [
        ("s", 1, 12, 0), ("s", 2, 12, 12)
    ]  # doc 3 capped out
    _c2s_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"),
        1, band, delr, tot, out, 0.8, min_toks=4, budget=10, source_cap=2,
    )
    # slot released: doc 3 admitted, offsets rebuilt from zero
    assert _c2s_rows(spark, out, tot, delr) == [
        ("s", 2, 12, 0), ("s", 3, 12, 12)
    ]
    # and the released totals drive the NEXT insert's cap correctly:
    # source s is full again (2 kept), so doc 4 is capped out
    _c2s_rt_insert_epoch(
        _mk_src(spark, [(4, _uniq_text("d"), "s")]),
        2, band, delr, tot, out,
        0.8, 64, 16, min_toks=4, budget=10, source_cap=2,
    )
    assert _c2s_rows(spark, out, tot, delr) == [
        ("s", 2, 12, 0), ("s", 3, 12, 12)
    ]


def test_c2s_delete_resurrects_and_repacks(spark, tmp_path):
    """A doc dropped as the near-dup of a retracted keeper RESURRECTS
    into the pack, and the pack offsets of its source rebuild."""
    from qaapi_spark.streaming.retraction import (
        _c2s_rt_delete_epoch,
        _c2s_rt_insert_epoch,
    )

    band, delr, tot, out = _c2s_roots(tmp_path)
    _c2s_rt_insert_epoch(
        _mk_src(spark, [(1, _A, "s"), (2, _A, "s"), (3, _uniq_text("z"), "s")]),
        0, band, delr, tot, out,
        0.8, 64, 16, min_toks=4, budget=10, source_cap=None,
    )
    n_a = len(_A.split())
    before = _c2s_rows(spark, out, tot, delr)
    assert before == [("s", 1, n_a, 0), ("s", 3, 12, n_a)]  # 2 dropped
    _c2s_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"),
        1, band, delr, tot, out, 0.8, min_toks=4, budget=10,
        source_cap=None,
    )
    assert _c2s_rows(spark, out, tot, delr) == [
        ("s", 2, n_a, 0), ("s", 3, 12, n_a)
    ]


def test_c2s_delete_epoch_retry_idempotent(spark, tmp_path):
    """A replayed delete epoch (and a post-delete insert) reproduces the
    identical relation — reads filter epoch < N, writes are epoch-keyed
    overwrite."""
    from qaapi_spark.streaming.retraction import (
        _c2s_rt_delete_epoch,
        _c2s_rt_insert_epoch,
    )

    band, delr, tot, out = _c2s_roots(tmp_path)
    _c2s_rt_insert_epoch(
        _mk_src(spark, [(1, _uniq_text("a"), "s"), (2, _uniq_text("b"), "t")]),
        0, band, delr, tot, out,
        0.8, 64, 16, min_toks=4, budget=10, source_cap=None,
    )
    args = (1, band, delr, tot, out, 0.8)
    _c2s_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"), *args,
        min_toks=4, budget=10, source_cap=None,
    )
    once = _c2s_rows(spark, out, tot, delr)
    _c2s_rt_delete_epoch(
        spark.createDataFrame([(1,)], "doc_id long"), *args,
        min_toks=4, budget=10, source_cap=None,
    )
    assert _c2s_rows(spark, out, tot, delr) == once
    _c2s_rt_insert_epoch(
        _mk_src(spark, [(5, _uniq_text("e"), "s")]),
        2, band, delr, tot, out,
        0.8, 64, 16, min_toks=4, budget=10, source_cap=None,
    )
    after = _c2s_rows(spark, out, tot, delr)
    assert after == sorted(once + [("s", 5, 12, 0)])
    # untouched source t keeps its original row throughout
    assert ("t", 2, 12, 0) in after


# --- Unordered x deletes composition ----------------------------------


def test_uo_deletes_recanonicalize_after_full_retraction(spark, tmp_path):
    """Unordered x deletes (VERDICT r12 next #3): doc 10 holds the
    passage's canonical; retracting it empties the digest's live set,
    so a LATER arrival of the same text (doc 5 — also earlier-id, the
    demotion path) is canonical again and keeps its full text."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_uo_epoch,
    )

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_uo_epoch(mk([(10, _PASSAGE)]), 0, occ, out, 10, del_root=delr)
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(10,)], "doc_id long"), 1, occ, out, delr, 10
    )
    _exsub_uo_epoch(mk([(5, _PASSAGE)]), 2, occ, out, 10, del_root=delr)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
    dels = spark.read.parquet(delr).select("doc_id")
    got = sorted(
        (r["doc_id"], r["n_kept"])
        for r in (
            spark.read.parquet(out)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .join(dels, "doc_id", "left_anti")
            .select("doc_id", "n_kept")
        ).collect()
    )
    assert got == [(5, 12)]  # full text — canonical again, not cut


def test_uo_deletes_promote_then_demote(spark, tmp_path):
    """Promotion and demotion compose: 11 is cut by 10's canonical;
    retracting 10 PROMOTES 11 (row restored); a later-arriving earlier
    occurrence (doc 5) then DEMOTES 11 again through the tombstone-
    filtered index."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_uo_epoch,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    def final():
        w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
        dels = spark.read.parquet(delr).select("doc_id")
        return sorted(
            (r["doc_id"], r["n_kept"])
            for r in (
                spark.read.parquet(out)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .join(dels, "doc_id", "left_anti")
                .select("doc_id", "n_kept")
            ).collect()
        )

    _exsub_uo_epoch(mk([(10, _PASSAGE), (11, _PASSAGE)]), 0, occ, out, 10,
                    del_root=delr)
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(10,)], "doc_id long"), 1, occ, out, delr, 10
    )
    assert final() == [(11, 12)]  # promoted: 11 restored
    _exsub_uo_epoch(mk([(5, _PASSAGE)]), 2, occ, out, 10, del_root=delr)
    assert final() == [(5, 12), (11, 0)]  # 5 canonical, 11 re-cut


def test_uo_rejects_reinsert_of_tombstoned_id(spark, tmp_path):
    """The unordered stream has no frontier, so the explicit tombstone
    guard carries the retracted-ids-are-permanent contract; any OTHER
    id (earlier or later) still inserts fine."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_uo_epoch,
    )

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_uo_epoch(mk([(10, _PASSAGE)]), 0, occ, out, 10, del_root=delr)
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(10,)], "doc_id long"), 1, occ, out, delr, 10
    )
    with pytest.raises(ValueError, match="re-insert of tombstoned"):
        _exsub_uo_epoch(mk([(10, _PASSAGE)]), 2, occ, out, 10, del_root=delr)
    _exsub_uo_epoch(mk([(3, _FILLER)]), 2, occ, out, 10, del_root=delr)
    # replay of the pre-delete epoch: tombstones at epoch < 0 — no trip
    _exsub_uo_epoch(mk([(10, _PASSAGE)]), 0, occ, out, 10, del_root=delr)


# --- SCD2 history under subject erasure --------------------------------


def _scd2_final(spark, out, store, delr):
    from pyspark.sql import functions as F
    from qaapi_spark.streaming.epochs import EpochStore
    from qaapi_spark.streaming.retraction import _scd2_state_before

    hist = spark.read.parquet(out)
    if EpochStore(spark, delr).has_epochs():
        tomb = (
            spark.read.parquet(delr)
            .groupBy("user_id")
            .agg(F.max("epoch").alias("d"))
        )
        hist = (
            hist.join(tomb, "user_id", "left")
            .filter(F.col("epoch") > F.coalesce(F.col("d"), F.lit(-1)))
            .drop("d")
        )
    rows = [
        (r["user_id"], r["status"], r["valid_from_us"], r["valid_to_us"])
        for r in hist.select(
            "user_id", "status", "valid_from_us", "valid_to_us"
        ).collect()
    ]
    rows += [
        (r["user_id"], r["status"], r["valid_from_us"], None)
        for r in _scd2_state_before(spark, store).collect()
    ]
    return sorted(rows, key=lambda t: (t[0], t[2]))


def _mk_ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, status string, event_id long, us long"
    )


def test_scd2_erasure_drops_history_and_enables_resubscription(spark, tmp_path):
    """Erasing user 3 removes their emitted history rows AND their open
    interval; a later event for user 3 re-opens a FRESH history (the
    cleansed state makes the next event a change), while user 1's
    history is untouched throughout."""
    from qaapi_spark.streaming.retraction import (
        _scd2_rt_delete_epoch,
        _scd2_rt_insert_epoch,
    )

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    delr = str(tmp_path / "deleted")
    _scd2_rt_insert_epoch(
        _mk_ev(spark, [(1, "a", 10, 100), (3, "a", 11, 100), (3, "b", 12, 200)]),
        0, store, out,
    )
    assert _scd2_final(spark, out, store, delr) == [
        (1, "a", 100, None), (3, "a", 100, 200), (3, "b", 200, None)
    ]
    _scd2_rt_delete_epoch(
        spark.createDataFrame([(3,)], "user_id long"), 1, store, delr
    )
    assert _scd2_final(spark, out, store, delr) == [(1, "a", 100, None)]
    # re-subscription: user 3 returns with the SAME status their erased
    # open row had — still a change (no standing row), fresh interval
    _scd2_rt_insert_epoch(_mk_ev(spark, [(3, "b", 13, 300)]), 2, store, out)
    assert _scd2_final(spark, out, store, delr) == [
        (1, "a", 100, None), (3, "b", 300, None)
    ]


def test_scd2_second_erasure_drops_revived_rows_too(spark, tmp_path):
    """Epoch-scoped tombstones: a SECOND erasure of the re-subscribed
    user drops the revived rows (epochs before the newest erasure) but
    a third incarnation survives it."""
    from qaapi_spark.streaming.retraction import (
        _scd2_rt_delete_epoch,
        _scd2_rt_insert_epoch,
    )

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    delr = str(tmp_path / "deleted")
    _scd2_rt_insert_epoch(_mk_ev(spark, [(3, "a", 1, 100)]), 0, store, out)
    _scd2_rt_delete_epoch(
        spark.createDataFrame([(3,)], "user_id long"), 1, store, delr
    )
    _scd2_rt_insert_epoch(
        _mk_ev(spark, [(3, "b", 2, 300), (3, "c", 3, 400)]), 2, store, out
    )
    _scd2_rt_delete_epoch(
        spark.createDataFrame([(3,)], "user_id long"), 3, store, delr
    )
    assert _scd2_final(spark, out, store, delr) == []
    _scd2_rt_insert_epoch(_mk_ev(spark, [(3, "d", 4, 500)]), 4, store, out)
    assert _scd2_final(spark, out, store, delr) == [(3, "d", 500, None)]


def test_scd2_delete_epoch_retry_idempotent(spark, tmp_path):
    """A replayed erasure epoch reproduces identical state + tombstone
    bytes (reads the latest snapshot strictly before N)."""
    from qaapi_spark.streaming.retraction import (
        _scd2_rt_delete_epoch,
        _scd2_rt_insert_epoch,
    )

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    delr = str(tmp_path / "deleted")
    _scd2_rt_insert_epoch(
        _mk_ev(spark, [(1, "a", 1, 100), (3, "a", 2, 100)]), 0, store, out
    )
    ddf = spark.createDataFrame([(3,)], "user_id long")
    _scd2_rt_delete_epoch(ddf, 1, store, delr)
    once = _scd2_final(spark, out, store, delr)
    _scd2_rt_delete_epoch(ddf, 1, store, delr)  # replay
    assert _scd2_final(spark, out, store, delr) == once == [(1, "a", 100, None)]


def test_purge_tombstoned_user_key_on_scd2_store(spark, tmp_path):
    """purge_tombstoned generalizes to the SCD2 stores via
    key_col='user_id': the erased user's rows leave the out store ON
    DISK, the maintained relation is unchanged, and the tombstones
    survive for the read-side epoch filter."""
    from pyspark.sql import functions as F
    from qaapi_spark.streaming.retraction import (
        _scd2_rt_delete_epoch,
        _scd2_rt_insert_epoch,
        purge_tombstoned,
    )

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    delr = str(tmp_path / "deleted")
    _scd2_rt_insert_epoch(
        _mk_ev(
            spark,
            [(1, "a", 1, 100), (1, "b", 2, 300),
             (3, "a", 3, 100), (3, "b", 4, 200)],
        ),
        0, store, out,
    )
    _scd2_rt_delete_epoch(
        spark.createDataFrame([(3,)], "user_id long"), 1, store, delr
    )
    before = _scd2_final(spark, out, store, delr)
    assert purge_tombstoned(spark, out, delr, key_col="user_id") == 1
    assert spark.read.parquet(out).filter(F.col("user_id") == 3).count() == 0
    assert spark.read.parquet(out).filter(F.col("user_id") == 1).count() == 1
    assert _scd2_final(spark, out, store, delr) == before == [
        (1, "a", 100, 300), (1, "b", 300, None)
    ]


def test_purge_tombstoned_id_keyed_band_store(spark, tmp_path):
    """ADVICE r13 #1: the band/fused stores key rows ``id`` while their
    tombstones are recorded as ``doc_id`` — purge_tombstoned must still
    physically erase them (key_col names the store column, del_key_col
    the tombstone column).  r13's single-key signature selected 'id'
    from the del store, which has no such column, so the GDPR
    physical-erasure path silently failed for every band store."""
    from pyspark.sql import functions as F
    from qaapi_spark.streaming.retraction import (
        _nd_rt_delete_epoch,
        _nd_rt_insert_epoch,
        purge_tombstoned,
    )

    bands = str(tmp_path / "bands")
    delr = str(tmp_path / "deleted")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _nd_rt_insert_epoch(
        mk([(1, _A), (3, _B), (4, _C)]), 0, bands, delr, 0.8, 64, 16
    )
    _nd_rt_delete_epoch(
        spark.createDataFrame([(3,)], "doc_id long"), 1, bands, delr, 0.8
    )

    def live():
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(F.desc("epoch"))
        dels = spark.read.parquet(delr).select(F.col("doc_id").alias("id"))
        return sorted(
            (r["id"], r["kept"])
            for r in spark.read.parquet(bands)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .join(dels, "id", "left_anti")
            .select("id", "kept")
            .collect()
        )

    before = live()
    assert before == [(1, True), (4, True)]  # 4 resurrected by the delete
    assert (
        purge_tombstoned(
            spark, bands, delr, key_col="id", del_key_col="doc_id"
        )
        > 0
    )
    # doc 3's rows are GONE from disk (both its insert row and the
    # delete epoch's decision-delta row), not merely filtered
    assert spark.read.parquet(bands).filter(F.col("id") == 3).count() == 0
    assert live() == before


def test_stage_ops_reverse_odd_splits_tombstones_only_ingested(spark):
    """ADVICE r13 #2: with reverse=True the retraction batch may only
    tombstone ids from the slices staged BEFORE it.  For odd n_splits
    the r13 bound (mid_bound) reached into the un-ingested middle
    slice, so the later insert slice tripped
    _reject_tombstoned_reinsert and killed the stream."""
    from pyspark.sql import functions as F
    from qaapi_spark.streaming.retraction import _stage_ops_with_deletes

    raw = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
    )
    for n_splits in (2, 3, 5):
        stage, _ops, _ = _stage_ops_with_deletes(
            spark, raw, 3, 1, n_splits, reverse=True
        )
        staged = spark.read.parquet(stage)
        slices = sorted(
            r["slice"] for r in staged.select("slice").distinct().collect()
        )
        del_slice = [
            r["slice"]
            for r in staged.filter(F.col("op") == "d")
            .select("slice")
            .distinct()
            .collect()
        ]
        assert len(del_slice) == 1
        ingested_before = {
            r["doc_id"]
            for r in staged.filter(
                (F.col("op") == "i") & (F.col("slice") < del_slice[0])
            ).collect()
        }
        tombstoned = {
            r["doc_id"]
            for r in staged.filter(F.col("op") == "d").collect()
        }
        assert tombstoned, f"n_splits={n_splits}: empty retraction batch"
        assert tombstoned <= ingested_before, (
            f"n_splits={n_splits}: tombstones reach un-ingested ids "
            f"{sorted(tombstoned - ingested_before)}"
        )
        # every insert slice AFTER the delete batch is disjoint from the
        # tombstones (no _reject_tombstoned_reinsert trip)
        after = {
            r["doc_id"]
            for r in staged.filter(
                (F.col("op") == "i") & (F.col("slice") > del_slice[0])
            ).collect()
        }
        assert not (after & tombstoned)


# ---- bounded per-digest occurrence state (r14, VERDICT r13 next #4) ----


def _exsub_final(spark, out, delr):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
    res = (
        spark.read.parquet(out)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    if os.path.isdir(delr) and any(
        n.startswith("epoch=") for n in os.listdir(delr)
    ):
        dels = spark.read.parquet(delr).select("doc_id")
        res = res.join(dels, "doc_id", "left_anti")
    return sorted(
        (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in res.select("doc_id", "n_toks", "n_kept", "text_dedup").collect()
    )


def _occ_state_bound_holds(spark, occ_root, k):
    """Per (h, epoch): at most k real occurrence rows + 1 marker
    (pos=-1) + 1 refresh boundary (pos=-2, recovery deltas only)."""
    from pyspark.sql import functions as F

    bad_real = (
        spark.read.parquet(occ_root)
        .filter(F.col("pos") >= 0)
        .groupBy("h", "epoch")
        .count()
        .filter(F.col("count") > k)
        .count()
    )
    bad_meta = (
        spark.read.parquet(occ_root)
        .filter(F.col("pos") < 0)
        .groupBy("h", "epoch", "pos")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    return bad_real == 0 and bad_meta == 0


def _run_boilerplate_ordered(spark, tmp_path, tag, occ_k):
    """Boilerplate trio shares every _PASSAGE window; k=2 retains only
    docs 0 and 1 per shared digest, so deleting both EXHAUSTS the
    retained set and forces the marker-triggered scoped recompute."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    occ = str(tmp_path / f"occ_{tag}")
    out = str(tmp_path / f"out_{tag}")
    delr = str(tmp_path / f"del_{tag}")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(
        mk(
            [
                (0, _PASSAGE),
                (1, "x " + _PASSAGE),
                (2, "y z " + _PASSAGE),
                (3, _FILLER),
            ]
        ),
        0, occ, out, delr, 10, occ_k=occ_k,
    )
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(0,), (1,)], "doc_id long"),
        1, occ, out, delr, 10, occ_k=occ_k,
    )
    # post-recovery seen-ness: the passage still lives in doc 2, so a
    # new arrival must be cut, exactly as with the unbounded index
    _exsub_rt_insert_epoch(
        mk([(4, "q " + _PASSAGE)]), 2, occ, out, delr, 10, occ_k=occ_k
    )
    return occ, out, delr


def test_occ_bound_ordered_exhaustion_recovery_matches_unbounded(
    spark, tmp_path
):
    bocc, bout, bdel = _run_boilerplate_ordered(spark, tmp_path, "b", occ_k=2)
    uocc, uout, udel = _run_boilerplate_ordered(spark, tmp_path, "u", occ_k=None)
    got = _exsub_final(spark, bout, bdel)
    assert got == _exsub_final(spark, uout, udel)
    by_id = {r[0]: r for r in got}
    # doc 2 recovered canonical ownership: its row is fully restored
    assert by_id[2][1] == by_id[2][2]  # n_kept == n_toks
    # doc 4 arrived after the recovery and is still cut (seen-ness
    # survives exhaustion: the refreshed retained rows carry doc 2)
    assert by_id[4][2] < by_id[4][1]
    # the bound held on disk throughout
    assert _occ_state_bound_holds(spark, bocc, 2)
    # and the unbounded store genuinely exceeds it (the fixture is
    # boilerplate-heavy enough to prove the bound bites)
    assert not _occ_state_bound_holds(spark, uocc, 2)


def _occ_epochs(occ_root):
    return sorted(
        n for n in os.listdir(occ_root) if n.startswith("epoch=")
    ) if os.path.isdir(occ_root) else []


def test_occ_bound_partial_orphan_elects_true_canonical(spark, tmp_path):
    """ADVICE r14 high: retention is per-batch, so exhaustion must
    trigger per (h, epoch).  Epoch 0 inserts docs 0-3 sharing the
    passage (k=2 retains 0,1 + marker); epoch 1 inserts doc 4 (its own
    retained row, no marker).  Deleting {0,1} kills ALL of epoch 0's
    retained rows while epoch 1's survives — a global null-first_live
    trigger would silently promote doc 4; the true earliest live
    occurrence is doc 2's."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    def run(tag, occ_k):
        occ = str(tmp_path / f"po_occ_{tag}")
        out = str(tmp_path / f"po_out_{tag}")
        delr = str(tmp_path / f"po_del_{tag}")
        mk = lambda rows: spark.createDataFrame(
            rows, "doc_id long, text string"
        )
        _exsub_rt_insert_epoch(
            mk(
                [
                    (0, _PASSAGE),
                    (1, "x " + _PASSAGE),
                    (2, "y z " + _PASSAGE),
                    (3, "y z w " + _PASSAGE),
                ]
            ),
            0, occ, out, delr, 10, occ_k=occ_k,
        )
        _exsub_rt_insert_epoch(
            mk([(4, "a b c " + _PASSAGE)]), 1, occ, out, delr, 10,
            occ_k=occ_k,
        )
        _exsub_rt_delete_epoch(
            spark.createDataFrame([(0,), (1,)], "doc_id long"),
            2, occ, out, delr, 10, occ_k=occ_k,
        )
        return occ, out, delr

    bocc, bout, bdel = run("b", 2)
    _, uout, udel = run("u", None)
    got = _exsub_final(spark, bout, bdel)
    assert got == _exsub_final(spark, uout, udel)
    by_id = {r[0]: r for r in got}
    # doc 2 (epoch 0's first live-but-unretained occurrence) owns the
    # passage — the partial-orphan recovery elected it, not doc 4
    assert by_id[2][1] == by_id[2][2]
    assert by_id[4][2] < by_id[4][1]
    assert _occ_state_bound_holds(spark, bocc, 2)


def test_occ_bound_refresh_boundary_voids_stale_markers(spark, tmp_path):
    """VERDICT r14 wrong #3 + ADVICE r14 low #2: a recovery refresh
    supersedes older epochs' markers (boundary row), and a delete
    epoch with an empty exhausted set skips the archived-text scan
    entirely — proven by the ABSENCE of an occurrence delta for that
    epoch (bounded mode writes one iff the recovery arm ran)."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    def run(tag, occ_k):
        occ = str(tmp_path / f"rb_occ_{tag}")
        out = str(tmp_path / f"rb_out_{tag}")
        delr = str(tmp_path / f"rb_del_{tag}")
        mk = lambda rows: spark.createDataFrame(
            rows, "doc_id long, text string"
        )
        _exsub_rt_insert_epoch(
            mk(
                [
                    (0, _PASSAGE),
                    (1, "x " + _PASSAGE),
                    (2, "y z " + _PASSAGE),
                    (3, "y z w " + _PASSAGE),
                ]
            ),
            0, occ, out, delr, 10, occ_k=occ_k,
        )
        # exhausts epoch 0's retained set -> recovery refresh at epoch 1
        # (global live min-k {2,3} + marker + boundary voiding epoch 0)
        _exsub_rt_delete_epoch(
            spark.createDataFrame([(0,), (1,)], "doc_id long"),
            1, occ, out, delr, 10, occ_k=occ_k,
        )
        # non-exhausting delete: doc 3 dies but the refresh epoch's
        # retained doc 2 survives, and epoch 0's marker is void
        _exsub_rt_delete_epoch(
            spark.createDataFrame([(3,)], "doc_id long"),
            2, occ, out, delr, 10, occ_k=occ_k,
        )
        return occ, out, delr

    bocc, bout, bdel = run("b", 2)
    _, uout, udel = run("u", None)
    assert _exsub_final(spark, bout, bdel) == _exsub_final(spark, uout, udel)
    # epoch 1 recovered (delta with refreshed rows + boundary); epoch 2
    # did NOT rescan — no delta written, the stale-marker trap is shut
    assert _occ_epochs(bocc) == ["epoch=0", "epoch=1"]
    from pyspark.sql import functions as F

    e1 = spark.read.parquet(os.path.join(bocc, "epoch=1"))
    assert e1.filter(F.col("pos") == -2).count() > 0
    assert _occ_state_bound_holds(spark, bocc, 2)


def test_occ_bound_dead_digest_boundary_stops_rescans(spark, tmp_path):
    """A digest whose EVERY occurrence is retracted gets only the
    boundary row from recovery (nothing live to refresh); its orphaned
    epoch-0 marker must not re-trigger the corpus scan on every later
    delete, and the next arrival of that text is canonical again."""
    from qaapi_spark.streaming.retraction import (
        _exsub_rt_delete_epoch,
        _exsub_rt_insert_epoch,
    )

    occ = str(tmp_path / "dd_occ")
    out = str(tmp_path / "dd_out")
    delr = str(tmp_path / "dd_del")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(
        mk(
            [
                (0, _PASSAGE),
                (1, "x " + _PASSAGE),
                (2, "y z " + _PASSAGE),
                (3, _FILLER),
            ]
        ),
        0, occ, out, delr, 10, occ_k=2,
    )
    # kill every passage holder: recovery fires once, finds nothing
    # live, writes boundary-only delta
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(0,), (1,), (2,)], "doc_id long"),
        1, occ, out, delr, 10, occ_k=2,
    )
    e1 = spark.read.parquet(os.path.join(occ, "epoch=1"))
    assert e1.filter("pos >= 0").count() == 0
    assert e1.filter("pos = -2").count() > 0
    # fully-retracted text is canonical again on re-arrival
    _exsub_rt_insert_epoch(
        mk([(4, "q " + _PASSAGE)]), 2, occ, out, delr, 10, occ_k=2
    )
    # a later unrelated delete: epoch 0's marker is void, epoch 2 has
    # no marker -> exhausted empty -> no scan, no delta
    _exsub_rt_delete_epoch(
        spark.createDataFrame([(3,)], "doc_id long"),
        3, occ, out, delr, 10, occ_k=2,
    )
    assert _occ_epochs(occ) == ["epoch=0", "epoch=1", "epoch=2"]
    by_id = {r[0]: r for r in _exsub_final(spark, out, delr)}
    assert set(by_id) == {4}
    assert by_id[4][1] == by_id[4][2]  # doc 4 owns the passage whole


def test_occ_bound_unordered_demotion_matches_unbounded(spark, tmp_path):
    """Reverse arrival under the bound: the demoted owner re-trims from
    its ARCHIVED TEXT (the store no longer holds its unretained
    windows) and the final relation matches the unbounded run."""
    from qaapi_spark.streaming.retraction import _exsub_uo_epoch

    def run(tag, occ_k):
        occ = str(tmp_path / f"occ_{tag}")
        out = str(tmp_path / f"out_{tag}")
        mk = lambda rows: spark.createDataFrame(
            rows, "doc_id long, text string"
        )
        # high ids first — each later epoch demotes standing canonicals
        _exsub_uo_epoch(
            mk([(10, _PASSAGE), (11, "x " + _PASSAGE), (12, "y z " + _PASSAGE)]),
            0, occ, out, 10, occ_k=occ_k,
        )
        _exsub_uo_epoch(
            mk([(1, "q r " + _PASSAGE)]), 1, occ, out, 10, occ_k=occ_k
        )
        return occ, out

    bocc, bout = run("duo_b", 2)
    _, uout = run("duo_u", None)
    got = _exsub_final(spark, bout, str(tmp_path / "nodel"))
    assert got == _exsub_final(spark, uout, str(tmp_path / "nodel"))
    by_id = {r[0]: r for r in got}
    assert by_id[1][1] == by_id[1][2]  # late-but-earliest doc owns all
    assert by_id[10][2] < by_id[10][1]  # demoted owner re-trimmed
    assert _occ_state_bound_holds(spark, bocc, 2)


def test_occ_bound_stream_end_to_end_matches_unbounded(spark):
    """The full unordered x deletes stream at sf0.001 with occ_k=4
    equals the certified unbounded run row for row."""
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_unordered_with_deletes,
    )

    docs = "/root/testdata/sf0.001/documents.parquet"
    rows = lambda df: sorted(
        tuple(r) for r in df.select(
            "doc_id", "n_toks", "n_kept", "text_dedup"
        ).collect()
    )
    bounded = rows(
        stream_exact_substring_apply_unordered_with_deletes(
            spark, docs, occ_k=4
        )
    )
    unbounded = rows(
        stream_exact_substring_apply_unordered_with_deletes(spark, docs)
    )
    assert bounded == unbounded


# ---- parameterized epoch-store write width (r14, VERDICT r13 wrong #2) ----


def test_scd2_snapshot_write_width_gt1(spark, tmp_path):
    """rows_per_file opts the SCD2 state snapshot out of coalesce(1):
    with 6 open users and rows_per_file=2 the next snapshot lands in
    ceil(6/2)=3 files, and the maintained relation is unchanged."""
    import glob

    from qaapi_spark.streaming.retraction import (
        _scd2_rt_delete_epoch,
        _scd2_rt_insert_epoch,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    delr = str(tmp_path / "deleted")
    ev = _mk_ev(
        spark, [(u, "a", u * 10 + 1, 100) for u in range(1, 7)]
    )
    _scd2_rt_insert_epoch(ev, 0, store, out)  # default: one file
    assert len(glob.glob(store + "/epoch=0/*.parquet")) == 1
    ev2 = _mk_ev(
        spark, [(u, "b", u * 10 + 2, 300) for u in range(1, 7)]
    )
    _scd2_rt_insert_epoch(ev2, 1, store, out, rows_per_file=2)
    assert len(glob.glob(store + "/epoch=1/*.parquet")) == 3
    # delete epoch honors the width too
    _scd2_rt_delete_epoch(
        spark.createDataFrame([(1,)], "user_id long"), 2, store, delr,
        rows_per_file=2,
    )
    assert len(glob.glob(store + "/epoch=2/*.parquet")) == 3
    assert _scd2_final(spark, out, store, delr) == [
        (u, s, t, e)
        for u in range(2, 7)
        for s, t, e in [("a", 100, 300), ("b", 300, None)]
    ]


def test_c2s_pack_rebuild_write_width_gt1(spark, tmp_path):
    """The whole-source pack rebuild width derives from the affected
    sources' kept counts in the totals snapshot; rows_per_file=1 with
    3 kept docs rebuilds into 3 files, same relation as width 1."""
    import glob

    from qaapi_spark.streaming.retraction import (
        _c2s_rt_delete_epoch,
        _c2s_rt_insert_epoch,
    )

    def run(tag, rpf):
        band = str(tmp_path / f"band_{tag}")
        delr = str(tmp_path / f"del_{tag}")
        tot = str(tmp_path / f"tot_{tag}")
        outr = str(tmp_path / f"out_{tag}")
        docs = spark.createDataFrame(
            [
                (1, "s1", " ".join(f"a{i}" for i in range(20))),
                (2, "s1", " ".join(f"b{i}" for i in range(20))),
                (3, "s1", " ".join(f"c{i}" for i in range(20))),
                (4, "s1", " ".join(f"d{i}" for i in range(20))),
            ],
            "doc_id long, source string, text string",
        )
        _c2s_rt_insert_epoch(
            docs, 0, band, delr, tot, outr, 0.8, 64, 16, 16, 128, None
        )
        _c2s_rt_delete_epoch(
            spark.createDataFrame([(4,)], "doc_id long"),
            1, band, delr, tot, outr, 0.8, 16, 128, None,
            rows_per_file=rpf,
        )
        rows = sorted(
            (r["doc_id"], r["start_tok"])
            for r in spark.read.parquet(outr + "/epoch=1").collect()
        )
        return rows, len(glob.glob(outr + "/epoch=1/*.parquet"))

    rows_w, nf_w = run("w", 1)
    rows_1, nf_1 = run("one", None)
    assert rows_w == rows_1
    assert nf_1 == 1
    assert nf_w == 3  # ceil(3 kept docs / 1 row per file)


def test_footer_min_max_matches_aggregate(spark, tmp_path):
    """_footer_min_max must be BIT-IDENTICAL to the Spark min/max
    aggregate wherever it answers (the stagers' slice boundaries, and
    through them the catalog oracles' lifted mid_bound predicates,
    depend on exact equality), and must decline (None) rather than
    guess when statistics are absent or the column is not integer."""
    from pyspark.sql import functions as F

    from qaapi_spark.sources.tables import footer_min_max as _footer_min_max

    # real corpus file (single file path)
    docs = "/root/testdata/sf0.001/documents.parquet"
    got = _footer_min_max(docs, "doc_id")
    exp = tuple(
        spark.read.parquet(docs)
        .agg(F.min("doc_id"), F.max("doc_id"))
        .collect()[0]
    )
    assert got == exp

    # directory of parts (multi-file union of row-group stats)
    d = str(tmp_path / "multi")
    spark.createDataFrame(
        [(i,) for i in (7, -3, 42, 0)], "doc_id long"
    ).repartition(2).write.mode("overwrite").parquet(d)
    assert _footer_min_max(d, "doc_id") == (-3, 42)

    # non-integer column and missing column -> None (caller falls back)
    assert _footer_min_max(docs, "text") is None
    assert _footer_min_max(docs, "no_such_col") is None

    # stats-less file -> None: write without statistics via pyarrow
    import pyarrow as pa
    import pyarrow.parquet as pq

    nostats = str(tmp_path / "nostats.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3], pa.int64())}),
        nostats,
        write_statistics=False,
    )
    assert _footer_min_max(nostats, "doc_id") is None


def test_footer_readers_partitioned_and_empty_dirs(spark, tmp_path):
    """VERDICT r15 next #7 + ADVICE r15: the footer readers must (a)
    find data files inside PARTITIONED layouts (the flat glob silently
    fell back / under-counted), (b) return None — never 0 — for a dir
    with no parquet files, and (c) stay bit-identical to the Spark
    aggregate on what they report."""
    from pyspark.sql import functions as F

    from qaapi_spark.sources.tables import footer_rows, parquet_files
    from qaapi_spark.sources.tables import footer_min_max as _footer_min_max

    part = str(tmp_path / "part_dir")
    spark.createDataFrame(
        [(i, i % 3) for i in range(11, 31)], "doc_id long, epoch int"
    ).write.mode("overwrite").partitionBy("epoch").parquet(part)

    df = spark.read.parquet(part)
    assert footer_rows(part) == df.count() == 20
    assert _footer_min_max(part, "doc_id") == tuple(
        df.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    )
    # partition markers are not data files
    assert all("_SUCCESS" not in f for f in parquet_files(part))

    empty = tmp_path / "empty_dir"
    empty.mkdir()
    assert footer_rows(str(empty)) is None
    assert _footer_min_max(str(empty), "doc_id") is None
    assert parquet_files(str(empty)) == []


def test_stage_ops_footer_path_equals_aggregate_path(spark, tmp_path):
    """Staging with src_path (footer-stat boundaries) must produce the
    same slices and op order as the aggregate path."""
    from qaapi_spark.streaming.retraction import _stage_ops_with_deletes

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    raw = spark.read.parquet(src)

    stage_a, ops_a, _ = _stage_ops_with_deletes(spark, raw, 3, 1, 2)
    stage_f, ops_f, _ = _stage_ops_with_deletes(
        spark, raw, 3, 1, 2, src_path=src
    )
    assert ops_a == ops_f
    rows_a = sorted(
        spark.read.parquet(stage_a).select("slice", "op", "doc_id").collect()
    )
    rows_f = sorted(
        spark.read.parquet(stage_f).select("slice", "op", "doc_id").collect()
    )
    assert rows_a == rows_f


def test_footer_ts_min_max_us_matches_aggregate(spark, tmp_path):
    """VERDICT r15 next #8: the SCD2 stagers' (lo, hi) boundary must be
    BIT-IDENTICAL whether read from footer raw stats or the Spark
    unix_micros aggregate, across the ts vintages the testdata has
    shipped; unprovable cases decline (None -> caller aggregates)."""
    from pyspark.sql import functions as F

    from qaapi_spark.sources.tables import events_stream_spec
    from qaapi_spark.sources.tables import footer_min_max

    # real events table (timestamp[us] vintage in current testdata)
    events = "/root/testdata/sf0.001/events.parquet"
    raw_schema, normalize_ts = events_stream_spec(spark, events)
    narrow = normalize_ts(spark.read.schema(raw_schema).parquet(events)).select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    exp = tuple(narrow.agg(F.min("us"), F.max("us")).collect()[0])
    assert footer_min_max(events, "ts") == exp

    # timestamp[ns] vintage: write with pyarrow, read through the same
    # nanosAsLong + div-1000 normalize path the stagers use
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_file = str(tmp_path / "events_ns.parquet")
    ns_vals = [1704067798778549123, 1704067200000000000, 1704070000123456789]
    pq.write_table(
        pa.table({"ts": pa.array(ns_vals, pa.timestamp("ns")),
                  "user_id": pa.array([1, 2, 3], pa.int64())}),
        ns_file,
    )
    raw_schema2, normalize_ts2 = events_stream_spec(spark, ns_file)
    narrow2 = normalize_ts2(
        spark.read.schema(raw_schema2).parquet(ns_file)
    ).select(F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    exp2 = tuple(narrow2.agg(F.min("us"), F.max("us")).collect()[0])
    assert footer_min_max(ns_file, "ts") == exp2 == (
        min(ns_vals) // 1000, max(ns_vals) // 1000
    )

    # decline cases: missing column, empty dir; an integer column
    # reports its own values (one reader serves both column kinds)
    assert footer_min_max(ns_file, "no_such") is None
    assert footer_min_max(ns_file, "user_id") == (1, 3)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert footer_min_max(str(empty), "ts") is None
