"""Round-11 streaming ExactSubstr apply tests: canonical immutability
(an old doc's text never changes when later docs duplicate it), exact
equality with the batch apply, and epoch retry-idempotence."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

_PASSAGE = " ".join(f"w{i}" for i in range(12))  # 12 tokens >= min_len 10
_FILLER = " ".join(f"f{i}" for i in range(12))
# the public relation's columns (the out store also carries the text)
_PUBLIC = ("doc_id", "n_toks", "n_kept", "text_dedup")


def _mk_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def test_canonical_stays_late_copy_trims(spark, tmp_path):
    """Doc 0 (epoch 0) owns the passage; doc 20 (epoch 1) repeats it.
    The stream must leave doc 0 INTACT and cut the passage from doc 20
    — and match the batch apply exactly."""
    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.streaming.retraction import stream_exact_substring_apply

    docs = str(tmp_path / "docs.parquet")
    rows = [
        (0, _PASSAGE + " unique tail zero"),
        (1, _FILLER),
        (20, "late copy prefix " + _PASSAGE),
    ]
    _mk_docs(spark, docs, rows)
    got = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in stream_exact_substring_apply(spark, docs, n_splits=2).collect()
    }
    # canonical doc intact
    assert got[0][1] == got[0][0] == 15
    assert got[0][2] == (_PASSAGE + " unique tail zero").lower()
    # clean doc intact
    assert got[1][1] == got[1][0] == 12
    # late copy loses exactly the 12 duplicated tokens
    assert got[20][0] == 15 and got[20][1] == 3
    assert got[20][2] == "late copy prefix"
    batch = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in exact_substring_apply(
            spark.read.parquet(docs), 10
        ).collect()
    }
    assert got == batch


def test_within_batch_first_occurrence_is_canonical(spark, tmp_path):
    """Two copies arriving in the SAME epoch: the lower (doc_id, pos)
    keeps the passage, the other is cut — the batch tiebreak."""
    from qaapi_spark.streaming.retraction import stream_exact_substring_apply

    docs = str(tmp_path / "docs.parquet")
    _mk_docs(
        spark, docs, [(0, _PASSAGE), (1, _PASSAGE)],
    )
    got = {
        r["doc_id"]: r["n_kept"]
        for r in stream_exact_substring_apply(spark, docs, n_splits=1).collect()
    }
    assert got == {0: 12, 1: 0}


def test_exsub_epoch_retry_idempotent(spark, tmp_path):
    """A replayed epoch reproduces identical trimmed rows: reads filter
    epoch < N (the replay never meets its own digests), writes are
    epoch-keyed overwrite."""
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    occ = str(tmp_path / "occ")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([(0, _PASSAGE)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(20, "x " + _PASSAGE)], "doc_id long, text string"
    )

    def rows(epoch):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(out, f"epoch={epoch}"))
            .select(*_PUBLIC)
            .collect()
        )

    _exsub_rt_insert_epoch(b0, 0, occ, out, None, 10)
    _exsub_rt_insert_epoch(b1, 1, occ, out, None, 10)
    first = rows(1)
    assert first == [(20, 13, 1, "x")]
    _exsub_rt_insert_epoch(b1, 1, occ, out, None, 10)  # replay
    assert rows(1) == first
    # the canonical epoch-0 row is untouched
    assert rows(0) == [(0, 12, 12, _PASSAGE.lower())]


def test_compact_digest_store_preserves_trim(spark, tmp_path):
    """Folding the digest-keyed occurrence store's epochs into one
    distinct delta must leave the next epoch's trim identical."""
    from qaapi_spark.streaming.incremental import compact_epoch_store
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    def run(compact: bool, sub: str):
        occ = str(tmp_path / sub / "occ")
        out = str(tmp_path / sub / "out")
        batches = [
            [(0, _PASSAGE)],
            [(5, _FILLER)],
            [(20, "x " + _PASSAGE + " y " + _FILLER)],
        ]
        for i, rows in enumerate(batches):
            if compact and i == 2:
                n = compact_epoch_store(
                    spark, occ, "distinct", upto=1, key_cols=("h",)
                )
                assert n == 2
            b = spark.createDataFrame(rows, "doc_id long, text string")
            _exsub_rt_insert_epoch(b, i, occ, out, None, 10)
        return sorted(
            tuple(r)
            for r in spark.read.parquet(out + "/epoch=*").select(*_PUBLIC).collect()
        )

    assert run(False, "plain") == run(True, "compacted")
