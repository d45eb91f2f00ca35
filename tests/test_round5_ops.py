"""Round-5 operator invariants beyond the oracle gate: streamed-store
equivalence for the PQ code index, triangle counts against an
independent python recomputation, and the unit-variance property
whitening exists to provide.  (IVFADC determinism lives in
tests/test_retrieval.py.)"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_stream_pq_encode_equals_batch_encode(spark):
    """The epoch-keyed streamed code store must equal the batch encode
    relation row-for-row — the property that makes incremental index
    maintenance sound (a vector's codes depend only on the fixed
    broadcast codebook)."""
    from qaapi_spark.operators.retrieval import pq_codebook, pq_encode
    from qaapi_spark.streaming.incremental import stream_pq_encode

    streamed = sorted(
        map(tuple, stream_pq_encode(spark, f"{SF_SMOKE}/embeddings.parquet").collect())
    )
    corpus = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cb = pq_codebook(corpus, train_iters=0)
    batch = sorted(
        map(
            tuple,
            pq_encode(corpus, cb)
            .select("id", F.posexplode("codes").alias("j", "code"))
            .collect(),
        )
    )
    assert streamed == batch and len(streamed) > 0


def test_triangles_match_python_recount(spark):
    """Triangle counts and clustering coefficients from the ordered-
    wedge join must match an independent set-based recount of the same
    pairs relation."""
    from qaapi_spark.plans.llm_dedup import jaccard_pairs_kernel
    from qaapi_spark.plans import CATALOG

    pairs = [
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_kernel(spark, SF_SMOKE).select("id_a", "id_b").collect()
    ]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b in pairs:
        for c in adj[a] & adj[b]:
            # count each triangle once per member via its (a,b) edges:
            # every triangle has exactly 3 edges, and for edge (a,b)
            # the common neighbor c closes it — so summing over edges
            # triple-counts; instead credit c for this edge's closure
            tri[c] += 1
    # tri[c] counted the triangle once per opposite edge => each
    # triangle credited each member exactly once overall
    got = {
        r["doc_id"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in CATALOG["graph_triangles_neardup"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(adj)
    for n, (deg, t, cc) in got.items():
        assert deg == len(adj[n]), (n, deg, len(adj[n]))
        assert t == tri[n], (n, t, tri[n])
        want_cc = round(2.0 * tri[n] / (deg * (deg - 1)), 4) if deg >= 2 else 0.0
        assert abs(cc - want_cc) < 1e-9


def test_whitening_axes_have_unit_variance(spark):
    """w_k = pc_k / sqrt(lambda_k): the whitened axes must come out
    with (population) variance ~1 — the property the operator exists
    to provide (lambda_k IS the pc_k variance)."""
    from qaapi_spark.plans import CATALOG

    rows = CATALOG["emb_whiten2d"].fn(spark, SF_SMOKE).collect()
    w1 = np.array([r["w1"] for r in rows])
    w2 = np.array([r["w2"] for r in rows])
    assert abs(w1.var() - 1.0) < 0.05, w1.var()
    assert abs(w2.var() - 1.0) < 0.05, w2.var()
