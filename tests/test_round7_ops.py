"""Round-7 operator invariants beyond the oracle gate: sign-bit
packing edge cases, binary-Hamming screen recall against brute-force
cosine, and hash-negative sampling.  (The probe-stripe containment test
lives in tests/test_dedup_pairs.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_sign_bits_packs_all_64_dims(spark):
    """Bit i tracks vec[i] >= 0, including -0.0 (IEEE: >= 0) and the
    two's-complement sign bit for dim 63."""
    from qaapi_spark.operators.similarity import sign_bits

    rows = [
        ([1.0] * 64, -1),  # all bits set = two's-complement -1
        ([-1.0] * 64, 0),
        ([-0.0] * 64, -1),  # -0.0 >= 0 is true under IEEE
        ([1.0] + [-1.0] * 63, 1),  # only bit 0
        ([-1.0] * 63 + [1.0], -(1 << 63)),  # only bit 63
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(rows)], "id long, v array<float>"
    )
    got = {
        r["id"]: r["bits"]
        for r in df.select("id", sign_bits(F.col("v")).alias("bits")).collect()
    }
    for i, (_, want) in enumerate(rows):
        assert got[i] == want, (i, got[i], want)


def test_hamming_topk_exact_on_smoke(spark):
    """End-to-end sanity on real fixtures: k results per query, pool
    ordering deterministic, hamming consistent with a driver-side
    recomputation of the sign patterns."""
    import numpy as np

    from qaapi_spark.operators.similarity import hamming_topk_binary

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    out = hamming_topk_binary(qs, e, 5, rerank_pool=32).collect()
    rows = e.select("vec_id", "embedding").collect()
    signs = {r["vec_id"]: (np.asarray(r["embedding"]) >= 0) for r in rows}
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        want = int((signs[r["query_id"]] != signs[r["cand_id"]]).sum())
        assert r["hamming"] == want, (r, want)
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert all(r["cand_id"] != q for r in rs)


def test_hash_negative_samples_invariants(spark):
    """k negatives per query, never self, never same-source, ranks
    dense 1..k, and the sample is identical across runs (determinism
    is the whole point)."""
    from qaapi_spark.operators.sampling import hash_negative_samples

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src = {r["doc_id"]: r["source"] for r in d.select("doc_id", "source").collect()}
    out1 = sorted(map(tuple, hash_negative_samples(d).collect()))
    out2 = sorted(map(tuple, hash_negative_samples(d).collect()))
    assert out1 == out2 and len(out1) > 0
    by_q = {}
    for q, neg, attempt, rank in out1:
        assert neg != q
        assert src[neg] != src[q]
        by_q.setdefault(q, []).append(rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4], (q, ranks)
