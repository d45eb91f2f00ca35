"""Property-based differential tests (hypothesis) — SURVEY §5 upgrade
beyond the fixed-fixture corpus.

The highest-risk algebra in the repo is the prefix-filtered sparse
Jaccard (a missed candidate is a silent wrong answer, and the fixture
corpora can't cover every set-size/threshold boundary), so the core
property is sparse == dense on arbitrary small corpora.  Merge
utilities get their algebraic laws (idempotence, target precedence).
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# small shared vocabulary => dense collision structure, the regime
# where prefix filtering has the least slack
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_texts = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(" ".join)
_corpora = st.lists(_texts, min_size=1, max_size=10)
# 0.07 / 0.14 / 0.35 sit exactly where t * |X| lands an epsilon above
# an integer in doubles (e.g. 0.07 * 100 = 7.000000000000001), the
# boundary the prefix-length epsilon guard exists for (ADVICE r2 #1)
_thresholds = st.sampled_from([0.07, 0.14, 0.25, 0.35, 0.4, 0.5, 0.75, 1.0])

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(texts=_corpora, threshold=_thresholds)
@_SETTINGS
def test_sparse_prefix_filter_equals_dense_kernel(spark, texts, threshold):
    """Prefix filtering must lose NO qualifying pair and add none:
    the sparse inverted-index kernel and the dense bitset kernel are
    both exact, so their outputs must be identical on any corpus."""
    from qaapi_spark.operators.dedup import ngram_jaccard_pairs, ngram_jaccard_pairs_sparse

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sparse = sorted(map(tuple, ngram_jaccard_pairs_sparse(df, threshold, n=2).collect()))
    dense = sorted(map(tuple, ngram_jaccard_pairs(df, threshold, n=2).collect()))
    assert sparse == dense


@given(
    target_keys=st.lists(st.integers(0, 6), min_size=0, max_size=6, unique=True),
    batch_keys=st.lists(st.integers(0, 6), min_size=0, max_size=6, unique=True),
)
@_SETTINGS
def test_merge_insert_only_laws(spark, target_keys, batch_keys):
    """Insert-only merge: target rows never change, result keys are the
    union, and the merge is idempotent (re-merging the batch is a
    no-op)."""
    from qaapi_spark.operators.maintain import merge_insert_only

    target = spark.createDataFrame([(k, f"t{k}") for k in target_keys], "id long, v string")
    batch = spark.createDataFrame([(k, f"b{k}") for k in batch_keys], "id long, v string")
    once = merge_insert_only(target, batch, ["id"])
    got = {r.id: r.v for r in once.collect()}
    assert set(got) == set(target_keys) | set(batch_keys)
    for k in target_keys:
        assert got[k] == f"t{k}"  # target version wins
    for k in set(batch_keys) - set(target_keys):
        assert got[k] == f"b{k}"
    twice = merge_insert_only(once, batch, ["id"])
    assert {(r.id, r.v) for r in twice.collect()} == set(got.items())


def test_band_arrays_explode_equals_band_keys(spark):
    """minhash_band_arrays (the nested form the streaming store
    persists) must explode to exactly minhash_band_keys (the inlined
    fused form the batch kernels use) — one relation, two layouts."""
    from pyspark.sql import functions as F

    from qaapi_spark.operators.dedup import (
        _hashed_shingle_sets,
        _minhash_sig,
        minhash_band_arrays,
        minhash_band_keys,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(20)],
        "doc_id long, text string",
    )
    signed = _hashed_shingle_sets(df, 2, "text", "doc_id").select(
        "id", _minhash_sig(F.col("sh"), 16).alias("sig")
    )
    keys = minhash_band_keys(signed, 16, 4)
    via_arrays = (
        minhash_band_arrays(signed, 16, 4)
        .select("id", F.explode("bands").alias("bk"))
        .select("id", "bk.band", "bk.bsig")
    )
    assert sorted(map(tuple, keys.collect())) == sorted(
        map(tuple, via_arrays.collect())
    )


_vec_lists = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=2,
    max_size=12,
)


@given(vecs=_vec_lists, split=st.integers(min_value=1, max_value=11))
@_SETTINGS
@pytest.mark.slow  # 208 s exhaustive property replay
def test_gram_partials_merge_invariance(spark, vecs, split):
    """Round-6 covariance contract: integer moment partials are
    addition-mergeable, so covariance computed over ANY partitioning of
    the rows equals the single-partition result exactly — the property
    that makes the streamed moment store share the batch oracle."""
    from qaapi_spark.operators.linalg import covariance_upper

    split = min(split, len(vecs) - 1) or 1
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(vecs)]
    schema = "vec_id long, embedding array<float>"
    one = spark.createDataFrame(rows, schema).coalesce(1)
    many = spark.createDataFrame(rows, schema).repartition(split, "vec_id")
    a = sorted(map(tuple, covariance_upper(one).collect()))
    b = sorted(map(tuple, covariance_upper(many).collect()))
    assert a == b and len(a) == 4 * 5 // 2


def test_gram_chunk_overflow_guard_trips(spark):
    """The per-chunk 2^53 exactness assert must fire rather than let an
    inexact BLAS partial through (huge quant forces the bound)."""
    import pytest

    from qaapi_spark.operators.linalg import covariance_upper

    df = spark.createDataFrame(
        [(i, [1.0, -1.0, 1.0, -1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="gram chunk overflow"):
        covariance_upper(df, quant=10**9).collect()


@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    )
)
@_SETTINGS
def test_sign_bits_matches_numpy_reference(spark, vec):
    """The 64-term JVM packing must equal a numpy sign-pattern pack on
    arbitrary float vectors (two's-complement bit 63 included)."""
    import numpy as np

    from pyspark.sql import functions as F

    from qaapi_spark.operators.similarity import sign_bits

    got = (
        spark.createDataFrame([(vec,)], "v array<float>")
        .select(sign_bits(F.col("v")).alias("b"))
        .collect()[0]["b"]
    )
    bits = np.asarray(vec, dtype=np.float32) >= 0
    want = int(np.packbits(bits, bitorder="little").view(np.int64)[0])
    assert got == want


@given(
    nd=st.integers(min_value=1, max_value=500_000),
    nv=st.integers(min_value=1, max_value=10_000),
    sum_df2=st.integers(min_value=0, max_value=10**12),
)
@_SETTINGS
def test_containment_regime_laws(nd, nv, sum_df2):
    """Regime selection laws: dense only within every budget AND above
    the sparse ceiling; monotone — growing sum_df2 can never flip
    dense back to sparse at fixed (nd, nv)."""
    from qaapi_spark.operators.dedup import (
        SPARSE_MAX_JOINED_ROWS,
        _containment_regime,
    )

    budgets = dict(
        dense_max_vocab=4096, dense_max_docs=200_000, dense_max_flop=2.5e12
    )
    r = _containment_regime(nd, nv, sum_df2, **budgets)
    dense_ok = (
        nv <= budgets["dense_max_vocab"]
        and nd <= budgets["dense_max_docs"]
        and nd * nd * nv <= budgets["dense_max_flop"]
    )
    if not dense_ok or sum_df2 <= SPARSE_MAX_JOINED_ROWS:
        assert r == "sparse"
    else:
        assert r == "dense"
        assert _containment_regime(nd, nv, sum_df2 * 2, **budgets) == "dense"


@given(
    data=st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=20,
    )
)
@_SETTINGS
@pytest.mark.slow  # 65 s reference replay
def test_hamming_topk_matches_python_reference(spark, data):
    """The per-batch partial-top-pool screen must lose nothing: for
    arbitrary small corpora the end-to-end result equals a python
    reference with identical tie-breaks ((hamming, cand) pool cut,
    (round4 cosine desc, cand) final)."""
    import numpy as np

    from qaapi_spark.operators.similarity import hamming_topk_binary

    ids = list(range(len(data)))
    # pad 8-dim vectors to 64 dims with a fixed negative tail so the
    # packing path sees full-width input
    vecs = [list(v) + [-1.0] * 56 for v in data]
    df = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    )
    qs = df.filter("vec_id % 2 = 0")
    k, pool = 3, 5
    got = sorted(
        map(tuple, hamming_topk_binary(qs, df, k, rerank_pool=pool).collect())
    )

    m = np.array(vecs, dtype=np.float32)
    signs = m >= 0
    unit = m.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    want = []
    for q in ids:
        if q % 2:
            continue
        hams = sorted(
            (int((signs[q] != signs[c]).sum()), c) for c in ids if c != q
        )[:pool]
        rer = sorted(
            (-round(float(unit[q] @ unit[c]), 4), c, h) for h, c in hams
        )[:k]
        for rank, (negcos, c, h) in enumerate(rer, 1):
            want.append((q, c, h, -negcos))
    assert got == sorted(want)


# --- banded range join: equivalence to the naive inequality join ------
#
# Second offsets drawn near band multiples so examples constantly land
# on gap boundaries and band edges; gap varies so the band width is
# not a constant of the test.
_rj_offsets = st.lists(
    st.integers(min_value=0, max_value=120), min_size=1, max_size=12
)
_rj_gaps = st.sampled_from([7, 10, 30])


@given(lsecs=_rj_offsets, rsecs=_rj_offsets, gap=_rj_gaps)
@_SETTINGS
@pytest.mark.slow  # 225 s exhaustive property replay
def test_banded_range_join_equals_naive_property(spark, lsecs, rsecs, gap):
    import datetime

    from pyspark.sql import functions as F

    from qaapi_spark.operators.joins import banded_range_join

    base = datetime.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, base + datetime.timedelta(seconds=s)) for i, s in enumerate(lsecs)],
        "lid long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1000 + i, base + datetime.timedelta(seconds=s)) for i, s in enumerate(rsecs)],
        "rid long, rts timestamp",
    )
    got = sorted(
        (r["lid"], r["rid"], r["delta_us"])
        for r in banded_range_join(left, right, "lts", "rts", gap).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"], r["delta_us"])
        for r in left.crossJoin(right)
        .withColumn("delta_us", F.unix_micros("rts") - F.unix_micros("lts"))
        .filter(F.abs(F.col("delta_us")) <= gap * 1_000_000)
        .collect()
    )
    assert got == naive


# ExactSubstr needs longer texts than the Jaccard corpora: windows are
# 10 tokens wide, so documents draw 12-30 tokens from a tiny shared
# vocabulary (guaranteeing both duplicated and unique windows).
_sub_texts = st.lists(
    st.sampled_from(_WORDS), min_size=0, max_size=30
).map(" ".join)
_sub_corpora = st.lists(_sub_texts, min_size=1, max_size=8)


def _py_exact_substring(texts, L=10):
    """Pure-python ExactSubstr reference: duplicated window positions
    (1-based) -> islands -> (doc, start, end, n_windows, range_len)."""
    from collections import Counter

    toks = {i: t.strip().lower().split() for i, t in enumerate(texts)}
    wins = {
        i: [tuple(w[p : p + L]) for p in range(len(w) - L + 1)]
        for i, w in toks.items()
    }
    counts = Counter(w for ws in wins.values() for w in ws)
    out = []
    for i, ws in wins.items():
        dup = [p + 1 for p, w in enumerate(ws) if counts[w] >= 2]
        if not dup:
            continue
        run = [dup[0]]
        for p in dup[1:]:
            if p == run[-1] + 1:
                run.append(p)
            else:
                out.append((i, run[0], run[-1] + L - 1, len(run), run[-1] - run[0] + L))
                run = [p]
        out.append((i, run[0], run[-1] + L - 1, len(run), run[-1] - run[0] + L))
    return sorted(out)


@given(texts=_sub_corpora)
@_SETTINGS
def test_exact_substring_ranges_match_python_reference(spark, texts):
    """The distributed sliding-window ExactSubstr kernel must agree
    with a direct python reference on arbitrary small corpora —
    including all-empty docs, all-duplicate corpora, and texts
    shorter than the window."""
    from qaapi_spark.operators.dedup import exact_substring_dup_ranges
    from qaapi_spark.session import release_kernel_caches

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    try:
        got = sorted(map(tuple, exact_substring_dup_ranges(df, 10).collect()))
    finally:
        release_kernel_caches()
    assert got == _py_exact_substring(texts, 10)
