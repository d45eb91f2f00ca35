"""Round-9 composed-pipeline tests (VERDICT r8 next #7): the budgeted
two-stage SRP -> cross-encoder-style rerank pipeline and the
corpus-to-shards stages.  (The span-granularity document MinHash tests
live in tests/test_dedup_pairs.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_two_stage_ce_pool_containment_and_blend(spark):
    """Every reranked row must (a) come from the stage-1 SRP pool,
    (b) respect the per-query k bound, and (c) carry
    ce_score = round(cosine + tok_jaccard, 4)."""
    from qaapi_spark.plans.llm_retrieval import (
        _CE_POOL,
        _SRP_BANDS,
        _SRP_FLIPS,
        _SRP_PLANES,
        retrieval_two_stage_ce,
    )
    from qaapi_spark.operators.retrieval import srp_lsh_topk
    from qaapi_spark.plans.llm_similarity import _K, _QUERY_MOD

    out = retrieval_two_stage_ce(spark, SF_SMOKE).collect()
    assert len(out) > 0

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") % _QUERY_MOD == 0)
    pool = {
        (r["query_id"], r["cand_id"])
        for r in srp_lsh_topk(
            qs, e, _CE_POOL, n_planes=_SRP_PLANES, n_bands=_SRP_BANDS,
            n_probe_flips=_SRP_FLIPS,
        ).collect()
    }

    per_q: dict[int, int] = {}
    for r in out:
        assert (r["query_id"], r["cand_id"]) in pool
        assert abs(r["ce_score"] - round(r["cosine"] + r["tok_jaccard"], 4)) < 1e-12
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert max(per_q.values()) <= _K


def test_two_stage_ce_reranks_beyond_cosine_order(spark):
    """The pipeline is only a composition worth having if the lexical
    stage actually reorders something: the blended top-k must differ
    from pure-cosine top-k for at least one query at this SF (guards
    against the CE feature degenerating to a constant)."""
    from qaapi_spark.plans.llm_retrieval import retrieval_two_stage_ce

    out = retrieval_two_stage_ce(spark, SF_SMOKE).collect()
    reordered = 0
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        cos_order = sorted(rows, key=lambda r: (-r["cosine"], r["cand_id"]))
        if [r["cand_id"] for r in rows] != [r["cand_id"] for r in cos_order]:
            reordered += 1
    assert reordered > 0


def test_corpus_to_shards_stage_invariants(spark):
    """Every packed doc must be a CC representative, clear the
    quality gate, respect the per-source cap, and pack gaplessly."""
    from qaapi_spark.plans.llm_pipeline import (
        _SHARD_CAP,
        _SHARD_MIN_TOKS,
        pipeline_corpus_to_shards,
    )
    from qaapi_spark.plans.llm_dedup import cc_jaccard_labels

    rows = pipeline_corpus_to_shards(spark, SF_SMOKE).collect()
    assert len(rows) > 0

    reps = {
        r["node"]
        for r in cc_jaccard_labels(spark, SF_SMOKE)
        .filter(F.col("comp") == F.col("node"))
        .collect()
    }
    by_src: dict[str, list] = {}
    for r in rows:
        assert r["doc_id"] in reps
        assert r["n_toks"] >= _SHARD_MIN_TOKS
        by_src.setdefault(r["source"], []).append(r)
    for grp in by_src.values():
        assert len(grp) <= _SHARD_CAP
        expect = 0
        for r in sorted(grp, key=lambda r: r["doc_id"]):
            assert r["start_tok"] == expect
            expect += r["n_toks"]
