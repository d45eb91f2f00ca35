"""Retrieval-wave invariants beyond the oracle gate: SRP-LSH recall
against the exact brute-force ranking, dedup-materialization
consistency with the component grouping, the vector kernels' recall and
exactness, and the broadcast-query kernel's bounded driver collect
(operators/similarity.py ``_collect_bounded``)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from qaapi_spark.operators import retrieval as ret
from qaapi_spark.operators import similarity as sim
from qaapi_spark.plans import CATALOG

from tests.conftest import SF_SMOKE


def test_srp_lsh_recall_on_planted_neighbors(spark):
    """LSH's design regime is strong similarity (near-dup search at
    cosine >= ~0.9) — the synthetic corpus's true top-k sit at cosine
    0.27-0.39 where *no* small LSH family has high recall (the s-curve
    is flat there).  So plant a perturbed twin (cosine ~0.95) for each
    query and assert the twin is recovered: p(bit agree) ~ 0.9 at 18
    degrees => p(>=1 of 4 four-bit bands collide) ~ 0.99."""
    import numpy as np

    from qaapi_spark.operators.retrieval import srp_lsh_topk
    from qaapi_spark.plans.catalog import t

    rows = t(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    base_ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(7)  # fixed seed: deterministic fixture
    noise = rng.standard_normal(mat.shape)
    norm = np.linalg.norm(mat, axis=1, keepdims=True)
    twins = mat + noise * (norm / np.linalg.norm(noise, axis=1, keepdims=True)) * 0.33
    twin_ids = base_ids + 1_000_000
    corpus = spark.createDataFrame(
        [
            (int(i), [float(x) for x in v])
            for i, v in zip(np.concatenate([base_ids, twin_ids]), np.vstack([mat, twins]))
        ],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("vec_id") < 1_000_000).limit(50)
    got = srp_lsh_topk(queries, corpus, k=3)
    hits = got.filter(F.col("cand_id") == F.col("query_id") + 1_000_000).count()
    total = queries.count()
    assert hits / total >= 0.8, f"planted-twin recall {hits}/{total}"


def test_srp_lsh_precision_is_exact(spark):
    """Rerank is exact cosine, so every returned (q, c, cosine) must
    agree with the brute-force score for that same pair."""
    exact = CATALOG["ann_topk_bruteforce"].fn(spark, SF_SMOKE)
    approx = CATALOG["ann_topk_srp_lsh"].fn(spark, SF_SMOKE).filter(
        F.col("query_id") != F.col("cand_id")
    )
    joined = approx.alias("a").join(
        exact.alias("e"), ["query_id", "cand_id"]
    )
    bad = joined.filter(F.col("a.cosine") != F.col("e.cosine")).count()
    assert bad == 0


def test_keep_representatives_matches_components(spark):
    comp = CATALOG["dedup_connected_components"].fn(spark, SF_SMOKE)
    kept = CATALOG["dedup_keep_representatives"].fn(spark, SF_SMOKE)
    n_components = comp.select("comp").distinct().count()
    assert kept.count() == n_components
    # every kept doc is its own component representative
    reps = comp.filter(F.col("doc_id") == F.col("comp")).select("doc_id")
    assert kept.select("doc_id").exceptAll(reps).count() == 0


def test_bm25_scores_only_matching_docs(spark):
    """BM25 output contains exactly docs containing >=1 query term."""
    from qaapi_spark.plans.llm_retrieval import _BM25_TERMS
    from qaapi_spark.operators.retrieval import bm25_scores
    from qaapi_spark.plans.catalog import t

    d = t(spark, SF_SMOKE, "documents")
    scores = bm25_scores(d, _BM25_TERMS)
    pat = "(^| )(" + "|".join(_BM25_TERMS) + ")( |$)"
    expected = d.filter(F.lower(F.col("text")).rlike(pat)).count()
    assert scores.count() == expected
    assert scores.filter(F.col("score") <= 0).count() == 0


def test_pq_topk_recall_vs_bruteforce(spark):
    """PQ-ADC with exact rerank: assert recall@5 against the exact
    brute-force top-5 on the real embeddings table, for both the
    deterministic-sample codebook and the Lloyd-trained one (VERDICT
    r2 next #8 tightened this bar from 0.7 to 0.9; it sits at 1.0
    since the self-match exclusion fix)."""
    from qaapi_spark.operators.retrieval import pq_topk
    from qaapi_spark.operators.similarity import cosine_topk_bruteforce
    from qaapi_spark.plans.catalog import t

    e = t(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.cand_id)
        for r in cosine_topk_bruteforce(qs, e, 5).collect()
    }
    for iters in (0, 10):
        approx = {
            (r.query_id, r.cand_id)
            for r in pq_topk(qs, e, 5, train_iters=iters).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"PQ recall@5 (train_iters={iters}) = {recall}"
        assert all(q != c for q, c in approx), "self-matches must be excluded"


def test_pq_precision_is_exact(spark):
    """The rerank stage recomputes true cosine, so every returned score
    must equal the exact cosine between the pair."""
    import numpy as np

    from qaapi_spark.operators.retrieval import pq_topk
    from qaapi_spark.plans.catalog import t

    e = t(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    got = pq_topk(qs, e, 5).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    for r in got:
        a, b = vecs[r.query_id], vecs[r.cand_id]
        want = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
        assert abs(r.cosine - want) < 1e-9


def test_pq_encode_is_compact_and_maponly(spark):
    from qaapi_spark.operators.retrieval import pq_codebook, pq_encode
    from qaapi_spark.plans.catalog import t

    e = t(spark, SF_SMOKE, "embeddings")
    cb = pq_codebook(e, m=8, ksub=16, seed_mod=2)
    assert cb.shape == (8, 16, 8)
    codes = pq_encode(e, cb)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: no shuffle to encode
    row = codes.first()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)


def test_ivfpq_topk_planted_twin_recall(spark):
    """IVFADC must recover a planted near-duplicate twin (cosine ~0.95)
    for >= 0.9 of queries — the twin's cell matches its original's, its
    residual code sits nearest in ADC space, and the exact rerank
    confirms it.  General top-5 recall is bounded by the COARSE
    quantizer, not PQ (measured: nprobe=3/rerank x64 equals plain-IVF
    nprobe=3 recall 0.52 at smoke scale; the catalog entry runs
    nprobe=5/rerank x32 -> 0.64), so the twin regime is the honest
    quality bar, matching test_ivf_trained_planted_twin_recall."""
    import numpy as np

    from qaapi_spark.operators.retrieval import ivfpq_topk
    from qaapi_spark.plans.catalog import t

    rows = t(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    base_ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(7)
    noise = rng.standard_normal(mat.shape)
    norm = np.linalg.norm(mat, axis=1, keepdims=True)
    twins = mat + noise * (norm / np.linalg.norm(noise, axis=1, keepdims=True)) * 0.33
    corpus = spark.createDataFrame(
        [
            (int(i), [float(x) for x in v])
            for i, v in zip(
                np.concatenate([base_ids, base_ids + 1_000_000]),
                np.vstack([mat, twins]),
            )
        ],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("vec_id") < 1_000_000).limit(50)
    got = ivfpq_topk(queries, corpus, 3, nprobe=5)
    hits = got.filter(F.col("cand_id") == F.col("query_id") + 1_000_000).count()
    total = queries.count()
    assert hits / total >= 0.9, f"IVFPQ twin recall {hits}/{total}"
    assert got.filter(F.col("cand_id") == F.col("query_id")).count() == 0


def test_ivfpq_precision_is_exact(spark):
    """IVFADC's rerank recomputes true cosine — every returned score
    equals the exact pair cosine."""
    import numpy as np

    from qaapi_spark.operators.retrieval import ivfpq_topk
    from qaapi_spark.plans.catalog import t

    e = t(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    got = ivfpq_topk(qs, e, 5).collect()
    assert len(got) > 0
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    for r in got:
        a, b = vecs[r.query_id], vecs[r.cand_id]
        want = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
        assert abs(r.cosine - want) < 1e-9


def test_tfidf_dense_overflow_guard_sees_corpus_side(spark):
    """Round-6 (ADVICE r5, medium): the 2^53 exactness guard must bind
    on the GLOBAL quantized weight max, not just the query stripe — a
    doc-only large weight would otherwise silently break the integer
    bound the DuckDB oracle's double sums rely on.  An absurd quant
    trips the bound for every corpus; the error must be a clear
    ValueError, not a hash mismatch downstream."""
    import pytest

    from qaapi_spark.operators.retrieval import tfidf_cosine_topk_dense
    from qaapi_spark.plans.catalog import t

    d = t(spark, SF_SMOKE, "documents").limit(50)
    with pytest.raises(ValueError, match="fixed-point dot overflow"):
        tfidf_cosine_topk_dense(d, query_mod=10, k_pool=5, quant=10**9)


def test_srp_lsh_default_recall_meets_serving_bar(spark):
    """Round-9 retune contract (VERDICT r8 wrong #2): the DEFAULT
    SRP-LSH parameterization (128 planes / 16 bands / 1-flip
    multi-probe) must measure recall@5 >= 0.8 against exact brute
    force on the full sf0.1 corpus — the serving bar the 16/4 default
    missed (0.40).  Uses the in-engine eval so the number asserted is
    the number the catalog reports."""
    from qaapi_spark.plans import CATALOG

    row = (
        CATALOG["ann_recall_eval_srp"].fn(spark, "/root/testdata/sf0.1").collect()[0]
    )
    assert row["recall_at_k"] >= 0.8, row


def test_corpus_rows_footer_matches_count(spark):
    """_corpus_rows (footer num_rows, no job) must equal the Spark
    count on the real corpus, and fall back to count() when the path
    does not exist."""
    from qaapi_spark.plans.llm_retrieval import _corpus_rows
    from qaapi_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    e = read_table(spark, sf, "embeddings")
    assert _corpus_rows(sf, e) == e.count()
    # missing path -> fallback consumes the passed relation
    assert _corpus_rows("/no/such/dir", e.limit(7)) == 7


def test_ivfpq_is_deterministic(spark):
    """Two independent runs must produce identical rows — the exact
    integer tie-breaks leave no room for run-to-run drift."""
    from qaapi_spark.operators.retrieval import ivfpq_topk
    from qaapi_spark.plans.catalog import t

    e = t(spark, SF_SMOKE, "embeddings")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, ivfpq_topk(qs, e, 5).collect()))
    b = sorted(map(tuple, ivfpq_topk(qs, e, 5).collect()))
    assert a == b and len(a) > 0


def test_filtered_ann_matches_per_label_bruteforce(spark):
    """Every filtered result shares its query's label, and the ranking
    equals unfiltered brute-force run on each label slice separately."""
    from qaapi_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_filtered,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    got = cosine_topk_filtered(qs, e, 5).collect()
    assert got, "query stripe must be non-empty"

    lab = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    for r in got:
        assert lab[r["query_id"]] == lab[r["cand_id"]], r

    want = []
    for lb in sorted({lab[r["query_id"]] for r in got}):
        sl = e.filter(F.col("label") == lb)
        want += [
            tuple(r)
            for r in cosine_topk_bruteforce(
                qs.filter(F.col("label") == lb), sl, 5
            ).collect()
        ]
    assert sorted(map(tuple, got)) == sorted(want)


def test_mmr_rank1_is_top1_and_diversifies(spark):
    """Rank-1 must equal the pure-relevance top-1; later ranks must
    maximize the lam*rel-(1-lam)*redundancy objective — verified by an
    independent python greedy over the same pool; and the planted
    near-duplicate twins force at least one divergence from pure
    top-k ordering somewhere in the query stripe."""
    import numpy as np

    from qaapi_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_topk,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % 100 == 0)
    got = mmr_topk(qs, e, k=5, pool=10).collect()
    assert got

    top = cosine_topk_bruteforce(qs, e, 10).collect()
    pool = {}
    for r in top:
        pool.setdefault(r["query_id"], []).append((r["cand_id"], r["cosine"]))
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in e.collect()}

    def greedy(qid):
        cands = sorted(pool[qid])
        cids = np.array([c for c, _ in cands])
        rel = np.array([s for _, s in cands])
        m = np.stack([vecs[c] for c in cids])
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 4)
        sel, out = [], []
        rem = list(range(len(cids)))
        while rem and len(sel) < 5:
            cur = rel if not sel else 0.5 * rel - 0.5 * sims[:, sel].max(axis=1)
            pick = min(rem, key=lambda i: (-cur[i], cids[i]))
            sel.append(pick)
            out.append((int(cids[pick]), float(np.round(cur[pick], 5)) + 0.0))
            rem.remove(pick)
        return out

    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"], r["mmr"]))
    diverged = False
    for qid, rows in by_q.items():
        rows.sort()
        want = greedy(qid)
        assert [(c, s) for _, c, s in rows] == want, (qid, rows, want)
        topk_ids = [c for c, _ in sorted(pool[qid], key=lambda cs: (-cs[1], cs[0]))[:5]]
        if [c for _, c, _ in rows] != topk_ids:
            diverged = True
    assert diverged, "MMR never diversified — pool has no redundancy?"


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


# Every operator with a bounded broadcast-side collect, called with
# (corpus, query stripe, documents).
_BOUNDED = {
    "nearest_broadcast": lambda e, qs, d: sim.nearest_broadcast(e, qs, 1),
    "cosine_topk_bruteforce": lambda e, qs, d: sim.cosine_topk_bruteforce(qs, e, 5),
    "cosine_topk_filtered": lambda e, qs, d: sim.cosine_topk_filtered(qs, e, 5),
    "cosine_topk_ivf": lambda e, qs, d: sim.cosine_topk_ivf(qs, e, 5),
    "hamming_topk_binary": lambda e, qs, d: sim.hamming_topk_binary(qs, e, 5),
    "embedding_near_dup_pairs": lambda e, qs, d: sim.embedding_near_dup_pairs(e, 0.9),
    "srp_lsh_topk": lambda e, qs, d: ret.srp_lsh_topk(qs, e, 5),
    "pq_topk": lambda e, qs, d: ret.pq_topk(qs, e, 5),
    "ivfpq_topk": lambda e, qs, d: ret.ivfpq_topk(qs, e, 5),
    "tfidf_cosine_topk_dense": lambda e, qs, d: ret.tfidf_cosine_topk_dense(d, 10, 5),
}


@pytest.mark.parametrize("op", sorted(_BOUNDED))
def test_query_side_collect_is_bounded(spark, monkeypatch, op):
    """A broadcast side larger than _QUERY_MAX must fail fast at the
    bounded collect, before the broadcast, not exhaust the driver (gate
    patched down to 3; the query stripe holds 5 rows)."""
    monkeypatch.setattr(sim, "_QUERY_MAX", 3)
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="more than 3 rows would be collected"):
        _BOUNDED[op](e, e.filter(F.col("vec_id") % 100 == 0), d)


@pytest.mark.parametrize(
    "op",
    [
        "cosine_topk_bruteforce",
        "cosine_topk_filtered",
        "srp_lsh_topk",
        "pq_topk",
        "ivfpq_topk",
        "hamming_topk_binary",
    ],
)
def test_empty_query_side_returns_no_rows(spark, op):
    """An empty query relation is a valid input: no rows, not a driver
    crash on a zero-row query matrix."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert _BOUNDED[op](e, e.filter("false"), None).collect() == []


def test_collect_bounded_gate_and_widening(spark):
    """The gate admits exactly ``max_rows`` rows; Arrow array<float>
    widens to the same float64 values as the Row path; an empty side is
    zero-length arrays."""
    import numpy as np

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    four = e.orderBy("vec_id").limit(4)
    ids, vecs = sim._collect_bounded(four, "four rows", 4)
    rows = four.collect()
    assert ids.dtype == np.int64 and ids.tolist() == [r[0] for r in rows]
    assert np.array_equal(
        np.stack(vecs).astype(np.float64), np.array([r[1] for r in rows], dtype=np.float64)
    )
    with pytest.raises(ValueError, match="four rows: more than 3 rows"):
        sim._collect_bounded(four, "four rows", 3)
    ids, vecs = sim._collect_bounded(e.filter("false"), "no rows")
    assert len(ids) == 0 and sim._unit_rows(vecs).shape == (0, 0)


_COLLECTS = {"collect", "toArrow", "toPandas"}


def driver_collects(source: str) -> list[str]:
    """``owner:line: .attr`` of every ``.collect``/``.toArrow``/
    ``.toPandas`` attribute in ``source`` (called or not), by line;
    ``owner`` is the top-level function or class it sits in, or
    ``<module>``."""
    hits = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in _COLLECTS:
                hits.append((node.lineno, f"{owner}:{node.lineno}: .{node.attr}"))
    return [h for _, h in sorted(hits)]


def test_driver_collects_detects_every_spelling():
    src = (
        "def _collect_bounded(df):\n    return df.limit(3).toArrow()\n"
        "def f(df):\n    rows = df.collect()\n"
        "    def g(x):\n        return x.toPandas()\n"
        "    take = df.collect\n"
        "    return F.collect_list('t'), df.first(), take\n"
        "top = spark.range(3).collect()\n"
    )
    assert driver_collects(src) == [
        "_collect_bounded:2: .toArrow",
        "f:4: .collect",
        "f:6: .toPandas",
        "f:7: .collect",
        "<module>:9: .collect",
    ]


def test_retrieval_modules_collect_only_through_the_bounded_collect():
    """Every driver collect in operators/similarity.py and
    operators/retrieval.py goes through ``_collect_bounded`` (bm25's
    one-row aggregate uses ``.first()``)."""
    hits = {
        mod.__name__: driver_collects(Path(mod.__file__).read_text()) for mod in (sim, ret)
    }
    assert hits[sim.__name__], "the scan no longer sees _collect_bounded's collect"
    offenders = {
        name: [h for h in hs if not h.startswith("_collect_bounded:")]
        for name, hs in hits.items()
    }
    assert not any(offenders.values()), (
        f"unbounded driver collects — use similarity._collect_bounded: {offenders}"
    )
