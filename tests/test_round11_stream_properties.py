"""Hypothesis equality laws for the round-11 incremental streams: on
ANY corpus, processing it as ordered epochs must reproduce the batch
relation exactly — ExactSubstr apply (canonical = earliest occurrence)
and CC labels (order-independent components).  Epoch steps are invoked
directly (no streaming machinery) so each example runs in seconds."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

# tiny vocabulary + 4-12-token docs with min_len=3 windows => dense
# window-collision structure across random docs
_WORDS = ["aa", "bb", "cc", "dd"]
_texts = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join)
_corpora = st.lists(_texts, min_size=1, max_size=8)

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _epoch_batches(spark, texts, n_splits):
    rows = [(i, t) for i, t in enumerate(texts)]
    step = max(1, -(-len(rows) // n_splits))
    out = []
    for k in range(0, len(rows), step):
        out.append(
            spark.createDataFrame(rows[k : k + step], "doc_id long, text string")
        )
    return rows, out


@given(texts=_corpora, n_splits=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_stream_exsub_equals_batch_apply(spark, tmp_path_factory, texts, n_splits):
    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    rows, batches = _epoch_batches(spark, texts, n_splits)
    base = tmp_path_factory.mktemp("exsub")
    occ, out = str(base / "occ"), str(base / "out")
    for i, b in enumerate(batches):
        _exsub_rt_insert_epoch(b, i, occ, out, None, 3)
    streamed = sorted(
        (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in spark.read.parquet(out + "/epoch=*")
        .select("doc_id", "n_toks", "n_kept", "text_dedup")
        .collect()
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(
        (r["doc_id"], r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in exact_substring_apply(df, 3).collect()
    )
    assert streamed == batch


@given(texts=_corpora, n_splits=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_stream_cc_equals_batch_components(spark, tmp_path_factory, texts, n_splits):
    """threshold=1.0 keeps the law UNIVERSAL: qualifying pairs have
    identical shingle sets, hence identical minhash signatures, hence
    a certain band collision — no data-dependent LSH-miss flake (at
    lower thresholds a true pair missing all 16 bands is legitimate
    behavior, covered by the deterministic coverage assertion in
    test_round11_fixes instead)."""
    from qaapi_spark.operators.dedup import ngram_jaccard_pairs_sparse
    from qaapi_spark.operators.graph import connected_components
    from qaapi_spark.streaming.incremental import _cc_labels_epoch

    rows, batches = _epoch_batches(spark, texts, n_splits)
    base = tmp_path_factory.mktemp("cc")
    store, labels = str(base / "store"), str(base / "labels")
    for i, b in enumerate(batches):
        _cc_labels_epoch(b, i, store, labels, 1.0, 64, 16)
    w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
    streamed = sorted(
        (r["doc_id"], r["comp"])
        for r in spark.read.parquet(labels)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs_sparse(df, 1.0, n=2)
    batch = sorted(
        (r["node"], r["comp"])
        for r in connected_components(
            df.select(F.col("doc_id").alias("node")),
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        ).collect()
    )
    assert streamed == batch
