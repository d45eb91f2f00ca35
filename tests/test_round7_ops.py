"""Round-7 operator invariants beyond the oracle gate: hash-negative
sampling.  (The probe-stripe containment test lives in
tests/test_dedup_pairs.py; the sign-bit packing and binary-Hamming
tests in tests/test_retrieval.py.)"""

from __future__ import annotations

from tests.conftest import SF_SMOKE


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
