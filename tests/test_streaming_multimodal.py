"""Streaming reconcile + multimodal plumbing tests."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import functions as F

from qaapi_spark.operators.multimodal import decode_features, sample_frames, synthesize_media
from qaapi_spark.operators.partitioned import read_partitioned
from qaapi_spark.sources.tables import read_table
from qaapi_spark.streaming.incremental import stream_landing_reconcile

FIX = "/root/repo/fixtures"


def test_stream_landing_reconcile_insert_only(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{FIX}/all_contacts_1.json", landing / "all_contacts_1.json")
    shutil.copy(f"{FIX}/all_contacts_2.json", landing / "all_contacts_2.json")
    wh = str(tmp_path / "wh")

    out = stream_landing_reconcile(spark, str(landing), wh)
    assert out["t_contacts"] == 40  # 30 + 16 with 6 cross-file dups

    # a later micro-batch with one new + one duplicate contact
    (landing / "all_contacts_3.json").write_text(
        json.dumps(
            [
                {"id": 1, "startTime": 999, "assocCallId": "DUP"},
                {"id": 77, "startTime": 1_709_300_000_000, "assocCallId": "CALL-00077"},
            ]
        )
    )
    out2 = stream_landing_reconcile(spark, str(landing), wh)
    assert out2["t_contacts"] == 41  # insert-only: dup id 1 ignored

    t = read_partitioned(spark, wh + "/t_contacts")
    # existing row kept its original value (insert-only semantics)
    assert t.filter(F.col("contact_id") == 1).collect()[0]["cjp_session_id"] == "CALL-00001"


def test_multimodal_feature_shape(spark, sf_dir):
    m = synthesize_media(read_table(spark, sf_dir, "documents"))
    f = decode_features(m)
    rows = f.collect()
    assert len(rows) == 500
    assert all(len(r["features"]) == 8 for r in rows)
    # histogram is L1-normalized (each bucket rounded to 6dp => sum
    # can drift by up to 8 * 5e-7)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-5 for r in rows)
    # deterministic across runs
    again = decode_features(m).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_multimodal_frame_sample_bounds(spark, sf_dir):
    m = synthesize_media(read_table(spark, sf_dir, "documents"))
    s = sample_frames(m, stride=10)
    bad = s.filter((F.col("frame_idx") < 0) | (F.col("frame_idx") >= F.col("n_frames")))
    assert bad.count() == 0


def test_stream_neardup_drops_cross_batch_duplicate(spark, tmp_path):
    """A near-identical copy arriving in a LATER micro-batch must be
    dropped by the accumulated band-key store; unique docs survive."""
    from qaapi_spark.streaming.retraction import stream_neardup_dedup

    # every "unique" doc is built from id-derived tokens only (no shared
    # template words — shared bigrams would make them true near-dups)
    rows = []
    for i in range(0, 40, 2):  # even ids -> batch 0
        rows.append((i, " ".join(f"w{i}t{j}" for j in range(12))))
    # odd ids -> batch 1: 41 is a verbatim copy of 40's text (cross-batch
    # near-dup); the rest are unique
    rows.append((40, "the quick brown fox jumps over the lazy dog again and again tonight"))
    rows.append((41, "the quick brown fox jumps over the lazy dog again and again tonight"))
    for i in range(43, 60, 2):
        rows.append((i, " ".join(f"x{i}t{j}" for j in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s"))
    path = str(tmp_path / "docs.parquet")
    df.write.mode("overwrite").parquet(path)

    kept = {r.doc_id for r in stream_neardup_dedup(spark, path).collect()}
    assert 40 in kept and 41 not in kept  # later-batch copy dropped
    assert all(i in kept for i in range(0, 40, 2))  # uniques survive
    assert all(i in kept for i in range(43, 60, 2))


def test_streaming_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop/restart a file-source stream against the SAME checkpoint:
    the restarted query must process only the files that arrived while
    it was down — no reprocessing, no duplicates (the §2.9 recovery
    contract an unbounded deployment relies on)."""
    import os

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    spark.range(0, 10).coalesce(1).write.parquet(src + "/batch_a")
    for f in os.listdir(src + "/batch_a"):
        if f.endswith(".parquet"):
            os.rename(src + f"/batch_a/{f}", src + "/a.parquet")

    def run_once():
        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 10

    spark.range(100, 105).coalesce(1).write.parquet(src + "/batch_b")
    for f in os.listdir(src + "/batch_b"):
        if f.endswith(".parquet"):
            os.rename(src + f"/batch_b/{f}", src + "/b.parquet")

    run_once()  # resume from the same checkpoint
    rows = sorted(r.id for r in spark.read.parquet(sink).collect())
    # batch_a rows exactly once (not re-emitted on resume) + batch_b
    assert rows == list(range(0, 10)) + list(range(100, 105))


def test_stream_ivf_assign_equals_batch_assignment(spark):
    """Incremental IVF indexing: the epoch-accumulated assignment store
    must equal the one-shot batch assignment row-for-row — a batch's
    assignment depends only on the batch and the fixed broadcast
    codebook, so streaming in two micro-batches changes nothing."""
    from pyspark.sql import functions as F

    from qaapi_spark.operators.similarity import nearest_broadcast
    from qaapi_spark.streaming.incremental import stream_ivf_assign
    from tests.conftest import SF_SMOKE

    path = f"{SF_SMOKE}/embeddings.parquet"
    got = sorted(
        map(tuple, stream_ivf_assign(spark, path).collect())
    )

    corpus = spark.read.parquet(path)
    cents = corpus.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    want = sorted(
        map(
            tuple,
            nearest_broadcast(
                corpus, cents, 1, ref_id="centroid_id", ref_vec="cvec"
            )
            .select("query_id", "cand_id", "cosine")
            .collect(),
        )
    )
    assert got == want
    assert len(got) == corpus.count()  # every vector indexed exactly once
