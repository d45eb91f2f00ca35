"""Round-6 operator invariants beyond the oracle gate: streamed moment
store equals the batch covariance bit-for-bit (addition-mergeability).
(The filtered-ANN and MMR tests live in tests/test_retrieval.py.)"""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_stream_covariance_equals_batch(spark):
    """Summed per-epoch integer moment partials must close to the same
    covariance as the one-shot batch aggregate — exactly, not
    approximately: integer sums are grouping-independent."""
    from qaapi_spark.operators.linalg import covariance_upper
    from qaapi_spark.streaming.incremental import stream_covariance_update

    streamed = sorted(
        map(
            tuple,
            stream_covariance_update(spark, f"{SF_SMOKE}/embeddings.parquet").collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            covariance_upper(spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")).collect(),
        )
    )
    assert streamed == batch and len(streamed) > 0
