"""Round-9 regression tests for the ADVICE r8 fixes: the streaming
weighted-sample merge must be retry-idempotent, the streaming state
stores must fail loudly on non-first-epoch read errors, compact_files
must self-heal a crash between its two renames, the dense-Jaccard
kernel must bound the vocabulary collect and unpersist on guard
failure, and the vocab ceiling must fail fast."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _store(prefix: str) -> str:
    return os.path.join(tempfile.mkdtemp(prefix=prefix), "topk")


def test_stream_weighted_sample_merge_retry_idempotent(spark):
    """ADVICE r8 #1: replaying the SAME micro-batch (a foreachBatch
    retry after the store already merged it) must leave the store
    bit-identical — duplicated (grp,id,es_key) rows must not count
    twice toward the k smallest and evict legitimate ids."""
    from qaapi_spark.streaming.incremental import _merge_weighted_sample_batch

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    store = _store("wrs_retry_")

    _merge_weighted_sample_batch(half, store, k=5, seed="t9")
    once = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    # replay the identical batch (simulated retry)
    _merge_weighted_sample_batch(half, store, k=5, seed="t9")
    twice = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    assert once == twice and len(once) > 0

    # and a genuinely new batch still merges (k smallest overall win)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    _merge_weighted_sample_batch(other, store, k=5, seed="t9")
    merged = {r["id"] for r in spark.read.parquet(store).collect()}
    full_store = _store("wrs_full_")
    _merge_weighted_sample_batch(docs, full_store, k=5, seed="t9")
    full = {r["id"] for r in spark.read.parquet(full_store).collect()}
    assert merged == full


def test_stream_weighted_sample_merge_propagates_store_corruption(spark):
    """ADVICE r8 #2: a store-read error other than the first-epoch
    missing path must raise, not silently discard all state."""
    from qaapi_spark.streaming.incremental import _merge_weighted_sample_batch

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    store = _store("wrs_corrupt_")
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet")
    with pytest.raises(Exception):
        _merge_weighted_sample_batch(docs, store, k=5, seed="t9")


def test_compact_files_recovers_stranded_trash(spark, tmp_path):
    """ADVICE r8 #3: a crash between rename(path->trash) and
    rename(next->path) strands the dataset in the shared swap trash
    (.__swap_old__); a rerun must recover it and complete the
    compaction."""
    from qaapi_spark.operators.maintain import compact_files

    path = str(tmp_path / "tbl")
    spark.range(0, 1000).withColumn("v", F.col("id") * 2).repartition(8).write.parquet(
        path
    )
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    # simulate the crash window: data staged aside, path absent
    shutil.move(path, path + ".__swap_old__")
    assert not os.path.exists(path)
    stats = compact_files(spark, path, target_file_bytes=1 << 30)
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert stats["files_after"] == 1
    assert not os.path.exists(path + ".__swap_old__")


def test_dense_vocab_collect_bounded(spark):
    """VERDICT r8 wrong #1: a direct dense-kernel call on an
    open-vocabulary corpus must fail fast BEFORE collecting the
    distinct-shingle array to the driver."""
    import qaapi_spark.operators.dedup as dd

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    orig = dd._DENSE_VOCAB_MAX
    dd._DENSE_VOCAB_MAX = 10  # force the ceiling below the real vocab
    try:
        with pytest.raises(ValueError, match="vocabulary"):
            dd.ngram_jaccard_pairs(docs, 0.5)
    finally:
        dd._DENSE_VOCAB_MAX = orig


def test_dense_guard_failure_unpersists_sets(spark):
    """ADVICE r8 #4: when a dense-kernel guard raises, the inline-built
    persisted shingle relation must not leak for the session."""
    import qaapi_spark.operators.dedup as dd

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    orig = dd._DENSE_VOCAB_MAX
    dd._DENSE_VOCAB_MAX = 10
    try:
        with pytest.raises(ValueError):
            dd.ngram_jaccard_pairs(docs, 0.5)
    finally:
        dd._DENSE_VOCAB_MAX = orig
    assert jsc.getPersistentRDDs().size() == before

    # same leak check on the byte-bound guard (original ADVICE site)
    orig_b = dd._DENSE_PACK_MAX_BYTES
    dd._DENSE_PACK_MAX_BYTES = 1
    try:
        with pytest.raises(ValueError, match="driver bound"):
            dd.ngram_jaccard_pairs(docs, 0.5)
    finally:
        dd._DENSE_PACK_MAX_BYTES = orig_b
    assert jsc.getPersistentRDDs().size() == before


def test_weighted_sample_return_annotation():
    """ADVICE r8 #5: the A-ES sampler's annotation is DataFrame."""
    import inspect

    from qaapi_spark.operators.sampling import weighted_sample_wor_per_group

    sig = inspect.signature(weighted_sample_wor_per_group)
    assert "DataFrame" == str(sig.return_annotation).split(".")[-1].strip("'>")
