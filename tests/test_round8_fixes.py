"""Round-8 regression test for the ADVICE r7 fixes: the binary-Hamming
screen must enforce its query-side driver/executor ceiling instead of
assuming it.  (The memoized-shingle containment tests live in
tests/test_dedup_pairs.py.)"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def test_hamming_query_ceiling_enforced(spark):
    """A query relation larger than _HAMMING_QUERY_MAX must fail fast
    before the collect/broadcast, not exhaust the driver."""
    import qaapi_spark.operators.similarity as sim

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = sim._HAMMING_QUERY_MAX
    sim._HAMMING_QUERY_MAX = 3
    try:
        with pytest.raises(ValueError, match="query vectors"):
            sim.hamming_topk_binary(e.limit(10), e, 5)
        # at or under the ceiling still works
        sim._HAMMING_QUERY_MAX = 10_000
        out = sim.hamming_topk_binary(e.limit(4), e, 3).collect()
        assert len(out) == 12
    finally:
        sim._HAMMING_QUERY_MAX = old
