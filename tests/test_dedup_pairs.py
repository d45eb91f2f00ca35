"""Set-similarity pair kernels (operators/dedup.py): the exact Jaccard
and containment kernels, the MinHash-LSH set kernel, the simhash pair
stage, and the shared LSH pieces they are built from (`_minhash_sig`,
`_collision_pairs`, `_verify_jaccard`)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# the scale-factor-0.01 corpus next to the smoke one
SF_GATE = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


# ------------------------------------------------ jaccard / containment

def test_containment_sparse_stripe_equals_full_restricted(spark):
    """The probe-stripe sparse containment must equal the unrestricted
    relation filtered to the stripe (the stripe only prunes the src
    side, never changes a surviving pair's score)."""
    from qaapi_spark.operators.dedup import containment_pairs_sparse

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    full = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs_sparse(d, 0.4).collect()
        if r["src"] % 25 == 0
    }
    striped = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs_sparse(d, 0.4, src_mod=25).collect()
    }
    assert striped == full and len(striped) > 0


def test_containment_sparse_accepts_memoized_sets(spark):
    """Passing a precomputed `_sets` relation must give the identical
    pair set as the inline tokenize path (the auto selector hands its
    persisted pricing relation through to the sparse route)."""
    from qaapi_spark.operators.dedup import (
        _hashed_shingle_sets,
        containment_pairs_sparse,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    inline = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs_sparse(d, 0.4).collect()
    }
    sets = _hashed_shingle_sets(d, 2, "text", "doc_id").persist()
    try:
        memoized = {
            (r["src"], r["dst"]): r["containment"]
            for r in containment_pairs_sparse(d, 0.4, _sets=sets).collect()
        }
    finally:
        sets.unpersist()
    assert inline == memoized and len(inline) > 0


def test_containment_auto_reuses_sets_on_sparse_route(spark):
    """Force the sparse regime (dense_max_vocab=0) and verify the auto
    selector's output still matches the direct sparse call — i.e. the
    handed-through `_sets` relation computes the same pairs."""
    from qaapi_spark.operators.dedup import (
        containment_pairs_auto,
        containment_pairs_sparse,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    via_auto = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs_auto(d, 0.4, dense_max_vocab=0).collect()
    }
    direct = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs_sparse(d, 0.4).collect()
    }
    assert via_auto == direct and len(direct) > 0


def test_dense_jaccard_inline_sets_single_tokenize(spark):
    """Direct dense-kernel call (no _sets) still returns the exact
    pair relation after the persist-for-the-guard fix."""
    from qaapi_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_sparse,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dense = {
        (r[0], r[1]): r[2] for r in ngram_jaccard_pairs(d, 0.3).collect()
    }
    sparse = {
        (r[0], r[1]): r[2] for r in ngram_jaccard_pairs_sparse(d, 0.3).collect()
    }
    assert dense == sparse and len(dense) > 0


# ------------------------------------------------------- minhash-LSH

def _span_sets(spark):
    from qaapi_spark.plans.llm_text import _spark_spans

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return _spark_spans(d).groupBy("doc_id").agg(
        F.collect_set("span_key").alias("sh")
    )


def test_minhash_spans_equals_exact_span_jaccard(spark):
    """The banded+verified output must equal the exact all-pairs
    span-Jaccard relation (banding escape probability at j>=0.8 with
    r=2 over 32 bands is ~7e-15, so any divergence is a bug, not
    LSH variance)."""
    from qaapi_spark.operators.dedup import minhash_lsh_verified_pairs_from_sets

    sets = _span_sets(spark).persist()
    try:
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_verified_pairs_from_sets(
                sets, 0.8, num_hashes=64, n_bands=32, id_col="doc_id"
            ).collect()
        }
        a = sets.select(
            F.col("doc_id").alias("id_a"),
            F.col("sh").alias("sh_a"),
            F.size("sh").alias("na"),
        )
        b = sets.select(
            F.col("doc_id").alias("id_b"),
            F.col("sh").alias("sh_b"),
            F.size("sh").alias("nb"),
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "jaccard", F.round(inter / (F.col("na") + F.col("nb") - inter), 4)
            )
            .filter(F.col("jaccard") >= 0.8)
            .select("id_a", "id_b", "jaccard")
            .collect()
        }
    finally:
        sets.unpersist()
    assert got == exact and len(got) > 0


def test_minhash_from_sets_drops_empty_sets(spark):
    """Ids with an empty element set must drop (no signature is
    definable), not crash array_min or emit a pair."""
    from qaapi_spark.operators.dedup import minhash_lsh_verified_pairs_from_sets

    sets = spark.createDataFrame(
        [(1, [10, 20, 30]), (2, [10, 20, 30]), (3, [])],
        "doc_id long, sh array<long>",
    )
    rows = minhash_lsh_verified_pairs_from_sets(
        sets, 0.8, num_hashes=64, n_bands=32, id_col="doc_id"
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_GATE])
def test_lsh_candidates_cover_exact_pairs(spark, sf_dir):
    """ADVICE r10 #1: the stream dedup oracles model the minhash-LSH
    screen as EXACT all-pairs Jaccard — valid only while the LSH
    candidate set (64 hashes / 16 bands, the stream's config) covers
    every exact >=0.8 pair on the check corpora.  Assert it does."""
    from qaapi_spark.operators.dedup import (
        _hashed_shingle_sets,
        minhash_band_keys,
        ngram_jaccard_pairs_auto,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs_auto(d, 0.8, n=2).collect()
    }
    assert exact, "check corpus must contain true near-dup pairs"
    sets = _hashed_shingle_sets(d, 2, "text", "doc_id")
    signed = sets.filter(F.size("sh") > 0).select(
        "id",
        F.array(
            *[
                F.array_min(
                    F.transform(F.col("sh"), lambda v: F.xxhash64(F.lit(i), v))
                )
                for i in range(64)
            ]
        ).alias("sig"),
    )
    bands = minhash_band_keys(signed, 64, 16)
    cand = {
        (r["id_a"], r["id_b"])
        for r in bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert exact <= cand, f"LSH misses true pairs: {sorted(exact - cand)[:5]}"


def test_minhash_sig_equals_per_hash_reference(spark):
    """`_minhash_sig` (one nested expression over sequence(0, k-1)) must
    equal the per-hash form written out hash by hash:
    element i = array_min(transform(sh, v -> xxhash64(lit(i), v)))."""
    from qaapi_spark.operators.dedup import _hashed_shingle_sets, _minhash_sig

    k = 16
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sets = _hashed_shingle_sets(d, 2, "text", "doc_id").filter(F.size("sh") > 0)
    ref = F.array(
        *[
            F.array_min(F.transform(F.col("sh"), lambda v: F.xxhash64(F.lit(i), v)))
            for i in range(k)
        ]
    )
    rows = sets.select(
        (_minhash_sig(F.col("sh"), k) == ref).alias("same"),
        # the docstring's pitfall: a default-argument lambda is a
        # two-argument (element, index) lambda to PySpark
        (
            F.array(
                *[
                    F.array_min(
                        F.transform(F.col("sh"), lambda v, i=i: F.xxhash64(i, v))
                    )
                    for i in range(k)
                ]
            )
            == ref
        ).alias("pitfall_same"),
    ).collect()
    assert rows and all(r["same"] for r in rows)
    assert not all(r["pitfall_same"] for r in rows)


# ------------------------------------------------------------ simhash


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_GATE])
def test_simhash_pairs_equal_bruteforce_hamming(spark, sf_dir):
    """`simhash_near_dup_pairs`' band join must return exactly the
    all-pairs ``hamming <= 3`` relation over the same Spark-computed
    fingerprints (4 bands > 3 differing bits, so by pigeonhole every
    qualifying pair agrees on one band): a numpy brute force over the
    collected fingerprints is the reference.  Only the xxhash64
    fingerprint itself stays outside any oracle (DuckDB has no
    xxhash64)."""
    import numpy as np

    from qaapi_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )
    from qaapi_spark.session import release_kernel_caches

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = simhash_fingerprints(d).persist()
    try:
        got = sorted(
            tuple(r)
            for r in simhash_near_dup_pairs(d, max_hamming=3, fingerprints=fp).collect()
        )
        rows = sorted((r["id"], r["fp"]) for r in fp.collect())
    finally:
        release_kernel_caches()
        fp.unpersist()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    fps = np.array([r[1] for r in rows], dtype=np.int64).view(np.uint64)
    xor = fps[:, None] ^ fps[None, :]
    ham = np.unpackbits(xor.view(np.uint8).reshape(len(ids), len(ids), 8), axis=2).sum(axis=2)
    ia, ib = np.nonzero((ham <= 3) & (ids[:, None] < ids[None, :]))
    want = sorted(zip(ids[ia].tolist(), ids[ib].tolist(), ham[ia, ib].tolist()))
    assert want, "corpus must contain simhash near-dup pairs"
    assert got == want
