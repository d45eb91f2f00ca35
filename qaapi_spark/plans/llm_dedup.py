"""Deduplication queries over `documents` / `embeddings` (extended
surface): exact, ngram-Jaccard, MinHash-LSH, SimHash, embedding-cosine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from qaapi_spark.operators.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_auto,
    simhash_near_dup_pairs,
)
from qaapi_spark.operators.similarity import (
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_blocked,
)
from qaapi_spark.plans.catalog import query, t

_DD_WORDS = "string_split_regex(trim(lower(text)), '\\s+')"

_JACCARD_THRESHOLD = 0.8
_COSINE_THRESHOLD = 0.4

# Exact bigram-shingle Jaccard pairs >= threshold — the oracle for
# every operator whose output is (or provably equals) the exact pair
# relation: the ngram kernels AND verified minhash-LSH.
_JACCARD_PAIRS_SQL = f"""
    WITH words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM documents
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.id
    JOIN sizes sb ON i.id_b = sb.id
    WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) >= {_JACCARD_THRESHOLD}
    ORDER BY id_a, id_b
    """


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text ORDER BY keep_id
    """,
    doc="exact dedup: hash groupBy on text, min-id keeper (extension)",
)
def dedup_exact_docs(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return exact_dedup(d).orderBy("keep_id")


@query(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_PAIRS_SQL,
    doc="near-dup via exact bigram-shingle Jaccard, regime-auto kernel: "
    "prefix-filtered inverted-index join for open vocabularies (the "
    "unbounded-corpus shape, nothing driver-side), dense bitset/GEMM "
    "only when one observation pass shows a small bounded vocabulary "
    "(extension)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    return jaccard_pairs_kernel(spark, sf_dir).orderBy("id_a", "id_b")


def shingle_sets_kernel(spark, sf_dir, n=2):
    """SHARED kernel: hashed bigram shingle sets of the documents
    table — the base relation of the whole shingle-dedup family
    (jaccard pairs, containment, their regime selectors).  Memoizing
    it means the corpus is shingled+hashed ONCE per session no matter
    how many dedup queries run."""
    from qaapi_spark.operators.dedup import _hashed_shingle_sets
    from qaapi_spark.session import shared_kernel

    def build():
        d = t(spark, sf_dir, "documents")
        return _hashed_shingle_sets(
            d.repartition(spark.sparkContext.defaultParallelism), n, "text", "doc_id"
        ).localCheckpoint(eager=False)

    return shared_kernel(spark, ("shingle_sets", sf_dir, n), build)


def shingle_dfreq_kernel(spark, sf_dir, n=2):
    """SHARED kernel: shingle document frequencies (shingle, df) over
    `shingle_sets_kernel` — the vocabulary + selector statistics both
    regime selectors consume (dense pack dictionary, sparse prefix
    ranking, sum(df^2) sparse-cost estimate)."""
    from qaapi_spark.session import shared_kernel

    def build():
        return (
            shingle_sets_kernel(spark, sf_dir, n)
            .select(F.explode("sh").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .localCheckpoint(eager=False)
        )

    return shared_kernel(spark, ("shingle_dfreq", sf_dir, n), build)


def jaccard_pairs_kernel(spark, sf_dir):
    """Exact-Jaccard near-dup pairs at the module threshold, memoized
    per (application, sf_dir): dedup_ngram_jaccard and the
    connected-components kernel both consume this relation, so the
    prefix-filtered inverted-index join runs once per session (the
    cc_jaccard_labels pattern; plan-shape assertions live against the
    operator fn in tests/test_scale_defaults.py, not this memo)."""
    from qaapi_spark.session import shared_kernel

    def build():
        d = t(spark, sf_dir, "documents")
        return ngram_jaccard_pairs_auto(
            d,
            _JACCARD_THRESHOLD,
            n=2,
            _sets=shingle_sets_kernel(spark, sf_dir, 2),
            _dfreq=shingle_dfreq_kernel(spark, sf_dir, 2),
        ).localCheckpoint(eager=False)

    return shared_kernel(
        spark, ("jaccard_pairs", sf_dir, _JACCARD_THRESHOLD, 2), build
    )


@query(
    "dedup_ngram_jaccard_dense",
    oracle=f"""
    WITH words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM documents
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.id
    JOIN sizes sb ON i.id_b = sb.id
    WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) >= {_JACCARD_THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="opt-in small-vocabulary fast path: bitset/GEMM Jaccard kernel "
    "over a driver-collected corpus — bounded corpora only; identical "
    "output to dedup_ngram_jaccard (extension)",
)
def dedup_ngram_jaccard_dense(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, _JACCARD_THRESHOLD, n=2).orderBy("id_a", "id_b")


@query(
    "dedup_minhash_lsh",
    oracle=_JACCARD_PAIRS_SQL,
    doc="near-dup via minhash-LSH banding + EXACT Jaccard verification "
    "(the standard production pipeline): 64 map-only minhash remixes, "
    "16 bands of r=4 — a true pair at j=0.8 escapes all bands with "
    "p=(1-0.8^4)^16≈2.2e-4, and the verified output equals the exact "
    "all-pairs relation on every tested corpus, so it shares its "
    "oracle; false candidates die in the verify join, never in the "
    "output (extension; the same set kernel as dedup_minhash_spans, "
    "fed word-bigram shingle sets)",
)
def dedup_minhash_lsh(spark, sf_dir):
    from qaapi_spark.operators.dedup import minhash_lsh_verified_pairs

    d = t(spark, sf_dir, "documents")
    return minhash_lsh_verified_pairs(d, _JACCARD_THRESHOLD).orderBy("id_a", "id_b")


@query(
    "dedup_simhash",
    oracle=None,  # xxhash64 not available in DuckDB => rows-only check
    # (dedup_simhash_portable is the hash-verified md5 twin)
    doc="near-dup via 63-bit SimHash + band join + hamming filter (extension)",
)
def dedup_simhash(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


_SIMHASH_TOKS = (
    "unnest(list_distinct(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END))"
)


@query(
    "dedup_simhash_portable",
    # md5 token hashes => the ENTIRE simhash pipeline (per-bit majority,
    # bit-pack, banding, hamming verify, doc-pair expansion) reproduces
    # in DuckDB: an exact value-hash oracle for a hashing-based
    # near-dup operator (VERDICT r2 next #5).
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS id, {_SIMHASH_TOKS} AS tok FROM documents
    ),
    hashed AS (
        SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT id, j.j,
               SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 60)) AS j) j
        GROUP BY id, j.j
    ),
    fps AS (
        SELECT id,
               SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS fp
        FROM votes GROUP BY id
    ),
    ufp AS (SELECT DISTINCT fp FROM fps),
    bands AS (
        SELECT fp, b.band, (fp >> (15 * b.band)) & 32767 AS key
        FROM ufp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
    ),
    fp_pairs AS (
        SELECT fp_a, fp_b, bit_count(xor(fp_a, fp_b)) AS hamming FROM (
            SELECT DISTINCT a.fp AS fp_a, b.fp AS fp_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.fp < b.fp
        ) WHERE bit_count(xor(fp_a, fp_b)) <= 3
    ),
    cross_fp AS (
        SELECT LEAST(fa.id, fb.id) AS id_a,
               GREATEST(fa.id, fb.id) AS id_b, p.hamming
        FROM fp_pairs p
        JOIN fps fa ON fa.fp = p.fp_a
        JOIN fps fb ON fb.fp = p.fp_b
    ),
    same_fp AS (
        SELECT a.id AS id_a, b.id AS id_b, 0 AS hamming
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
    )
    SELECT id_a, id_b, hamming
    FROM (SELECT * FROM cross_fp UNION ALL SELECT * FROM same_fp)
    ORDER BY id_a, id_b
    """,
    doc="near-dup via engine-portable 60-bit SimHash (md5 token hashes, "
    "per-bit majority vote in the shared Arrow kernel) + band join + "
    "hamming verify — the hash-verified twin of dedup_simhash (extension)",
)
def dedup_simhash_portable(spark, sf_dir):
    from qaapi_spark.operators.dedup import simhash_fingerprints_portable

    d = t(spark, sf_dir, "documents")
    fp = simhash_fingerprints_portable(d, bits=60)
    return simhash_near_dup_pairs(
        d, max_hamming=3, fingerprints=fp, band_width=15
    ).orderBy("id_a", "id_b")


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH u AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt(list_dot_product(
                            list_transform(embedding, y -> CAST(y AS DOUBLE)),
                            list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS uv
        FROM embeddings
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(list_dot_product(a.uv, b.uv), 4) AS cosine
    FROM u a JOIN u b ON a.id < b.id
    WHERE ROUND(list_dot_product(a.uv, b.uv), 4) >= {_COSINE_THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="near-dup via exact pairwise embedding cosine >= threshold — "
    "default is the blocked block-pair-grid miner: applyInPandas GEMM "
    "per block pair, no corpus broadcast/collect, the unbounded-corpus "
    "shape (extension)",
)
def dedup_embedding_cosine(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_blocked(e, _COSINE_THRESHOLD, n_blocks=4).orderBy(
        "id_a", "id_b"
    )


_COSINE_ORACLE_BLOCKED = f"""
    WITH u AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt(list_dot_product(
                            list_transform(embedding, y -> CAST(y AS DOUBLE)),
                            list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS uv
        FROM embeddings
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(list_dot_product(a.uv, b.uv), 4) AS cosine
    FROM u a JOIN u b ON a.id < b.id
    WHERE ROUND(list_dot_product(a.uv, b.uv), 4) >= {_COSINE_THRESHOLD}
    ORDER BY id_a, id_b
    """


@query(
    "dedup_embedding_cosine_broadcast",
    oracle=_COSINE_ORACLE_BLOCKED,
    doc="opt-in bounded-corpus fast path: upper-triangle GEMM against a "
    "broadcast of the whole (collected) corpus matrix — small corpora "
    "only; identical output to dedup_embedding_cosine (extension)",
)
def dedup_embedding_cosine_broadcast(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, _COSINE_THRESHOLD).orderBy("id_a", "id_b")


# Shared DuckDB fragment: exact bigram-Jaccard near-dup pairs at the
# module threshold (same spec as dedup_ngram_jaccard's oracle).
_DD_JACCARD_PAIRS = f"""
    words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM documents
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.id
        JOIN sizes sb ON i.id_b = sb.id
        WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4)
              >= {_JACCARD_THRESHOLD}
    )
"""


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_DD_JACCARD_PAIRS},
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node
    ORDER BY doc_id
    """,
    doc="near-dup pairs -> dedup groups: connected components by "
    "iterative min-label propagation (operators/graph.py) over the "
    "exact-Jaccard edge set; comp = keeper id per group; the oracle "
    "mirrors it with a recursive CTE (extension: iterative algorithm)",
)
def dedup_connected_components(spark, sf_dir):
    comp = cc_jaccard_labels(spark, sf_dir)
    return comp.select(F.col("node").alias("doc_id"), "comp").orderBy("doc_id")


@query(
    "stream_cc_labels_incremental",
    # CC is order-independent, so the incremental stream hash-checks
    # against the SAME recursive CTE as the batch relation.  Edge
    # discovery is the LSH screen (16-band collisions, exact-Jaccard
    # verified): probabilistically complete (~2e-4 miss per true pair
    # — the stream_neardup assumption); the check corpora are asserted
    # fully band-covered by test, so the equivalence is exact there.
    oracle=f"""
    WITH RECURSIVE {_DD_JACCARD_PAIRS},
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node
    ORDER BY doc_id
    """,
    doc="INCREMENTALLY MAINTAINED dedup groups (VERDICT r10 next #7): "
    "the streaming twin of dedup_connected_components — near-dup "
    "component labels kept current as documents land, for the corpus "
    "owner who needs groups (attribution, canonical selection, "
    "takedown cascades), not just the greedy keep/drop decision.  A "
    "late edge that bridges two standing components MERGES them: per "
    "epoch the standing components contract to their label "
    "supernodes, min-label propagation runs on the contracted graph "
    "only (bounded by the batch's edges, never the corpus), and a "
    "label DELTA is written (latest epoch wins).  Order-independent "
    "by construction, so the result equals the batch CC relation and "
    "shares its recursive-CTE oracle (extension, SURVEY §2.9)",
)
def stream_cc_labels_incremental_q(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_cc_labels_incremental

    return stream_cc_labels_incremental(
        spark, f"{sf_dir}/documents.parquet", threshold=_JACCARD_THRESHOLD
    ).orderBy("doc_id")


# Retraction contract for the *_with_deletes streaming twins: the
# staged ingest (streaming/retraction._stage_ops_with_deletes,
# n_splits=2) runs insert(low half) -> retraction batch tombstoning
# doc_id % _DEL_MOD == _DEL_REM among the docs ingested so far ->
# insert(high half), so the post-stream live corpus — and therefore
# the oracle — is the batch relation under the complementary filter,
# with the low/high boundary expressed as a scalar min/max subquery
# (mirrors step = max(1, (hi - lo + 2) // 2), mid = lo + step).  The
# source fragments contain exactly ONE "FROM documents" each (asserted
# by test), so the textual lift is well-defined.
_DEL_MOD, _DEL_REM = 10, 3
_DEL_MID = (
    "(SELECT MIN(doc_id) + GREATEST(1, (MAX(doc_id) - MIN(doc_id) + 2) // 2)"
    " FROM documents)"
)
_DEL_WHERE = f"NOT (doc_id % {_DEL_MOD} = {_DEL_REM} AND doc_id < {_DEL_MID})"
# the REVERSE-staged variant (r13, unordered x deletes): slices arrive
# high-half-first, so the mid-stream retraction batch tombstones the
# predicate docs ALREADY ingested = the HIGH half — same mid boundary,
# flipped comparison.
_DEL_WHERE_HI = (
    f"NOT (doc_id % {_DEL_MOD} = {_DEL_REM} AND doc_id >= {_DEL_MID})"
)


@query(
    "stream_cc_labels_with_deletes",
    # batch CC relation on the POST-DELETE corpus: same recursive CTE,
    # documents filtered to the live set.
    oracle=f"""
    WITH RECURSIVE {_DD_JACCARD_PAIRS.replace(
        "FROM documents", f"FROM documents WHERE {_DEL_WHERE}")},
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents WHERE {_DEL_WHERE}
        UNION
        SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node
    ORDER BY doc_id
    """,
    doc="CC labels under streaming inserts AND retraction batches "
    "(VERDICT r11 next #2 — the streaming surface's deletion gap; the "
    "reference reconciles upstream deletes the same way, "
    "delete-then-merge, 'Update Calabrio Tables from Staging Tables "
    "(D_POST_INSTALL).sql':85-92 / J5): a tombstoned doc's vertex "
    "leaves the near-dup graph, so its component may SPLIT and the "
    "label (min member id) re-elects — the delete epoch re-screens "
    "ONLY the affected components' survivors from the standing band "
    "store and rewrites their label delta; inserts after deletes read "
    "through the tombstones.  Equals the batch CC relation on the "
    "live corpus (extension, SURVEY §2.9; "
    "streaming/retraction.stream_cc_labels_with_deletes)",
)
def stream_cc_labels_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_cc_labels_with_deletes

    return stream_cc_labels_with_deletes(
        spark,
        f"{sf_dir}/documents.parquet",
        threshold=_JACCARD_THRESHOLD,
        del_mod=_DEL_MOD,
        del_rem=_DEL_REM,
    ).orderBy("doc_id")


@query(
    "stream_neardup_with_deletes",
    # the stream_neardup two-phase greedy relation, reconstructed on
    # the LIVE corpus with the phases at the staged low/high boundary:
    # phase 0 = live docs below mid, phase 1 = the rest; within a
    # phase greedy min-id over true pairs (ANY smaller same-phase doc
    # blocks), across phases a doc drops iff a KEPT earlier doc is a
    # true near-dup.  Zero-shingle docs never appear (the operator
    # contract shared with stream_neardup_dedup_docs).
    oracle=f"""
    WITH live AS (
        SELECT doc_id, lang, source, text FROM documents
        WHERE {_DEL_WHERE}
    ),
    words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM live
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.id
        JOIN sizes sb ON i.id_b = sb.id
        WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4)
              >= {_JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    eligible AS (
        SELECT d.doc_id, d.lang, d.source
        FROM live d JOIN sizes s ON d.doc_id = s.id
        WHERE s.set_size >= 1
    ),
    b0 AS (SELECT * FROM eligible WHERE doc_id < {_DEL_MID}),
    b1 AS (SELECT * FROM eligible WHERE doc_id >= {_DEL_MID}),
    kept0 AS (
        SELECT * FROM b0 d WHERE NOT EXISTS (
            SELECT 1 FROM sym p JOIN b0 e ON p.a = e.doc_id
            WHERE p.b = d.doc_id AND e.doc_id < d.doc_id)
    ),
    surv1 AS (
        SELECT * FROM b1 d WHERE NOT EXISTS (
            SELECT 1 FROM sym p JOIN kept0 k ON p.a = k.doc_id
            WHERE p.b = d.doc_id)
    ),
    kept1 AS (
        SELECT * FROM surv1 d WHERE NOT EXISTS (
            SELECT 1 FROM sym p JOIN surv1 e ON p.a = e.doc_id
            WHERE p.b = d.doc_id AND e.doc_id < d.doc_id)
    )
    SELECT doc_id, lang, source FROM kept0
    UNION ALL SELECT doc_id, lang, source FROM kept1
    ORDER BY doc_id
    """,
    doc="greedy near-dup dedup under streaming inserts AND retraction "
    "— the third streaming dedup family to gain deletes (with CC "
    "labels and ExactSubstr, VERDICT r11 next #2's direction taken to "
    "completion): tombstoning a doc RE-OPENS its component's greedy "
    "decisions — a doc dropped because of the retracted keeper "
    "RESURRECTS, and a resurrected doc re-drops its own larger "
    "near-dups (the cascade).  The delete epoch discovers the "
    "tombstoned docs' components by band-join BFS (edges collected en "
    "route — influence travels along edges and none leave a "
    "component, so the scoped recompute is exact) and replays the "
    "layered greedy formula per arrival epoch; the band store keeps "
    "EVERY eligible doc (dropped ones may resurrect), decisions are "
    "latest-wins deltas.  Equals the batch two-phase greedy relation "
    "on the live corpus (extension, SURVEY §2.9; "
    "streaming/retraction.stream_neardup_with_deletes)",
)
def stream_neardup_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_neardup_with_deletes

    return stream_neardup_with_deletes(
        spark,
        f"{sf_dir}/documents.parquet",
        threshold=_JACCARD_THRESHOLD,
        del_mod=_DEL_MOD,
        del_rem=_DEL_REM,
    ).orderBy("doc_id")


def cc_jaccard_labels(spark, sf_dir):
    """Connected-component labels over the exact-Jaccard near-dup edge
    set, memoized per (application, sf_dir, threshold): both
    dedup_connected_components and dedup_keep_representatives derive
    from this relation, so the iterative propagation runs once per
    session instead of once per query (VERDICT r2 next-round #7)."""
    from qaapi_spark.operators.graph import connected_components
    from qaapi_spark.session import shared_kernel

    def build():
        d = t(spark, sf_dir, "documents")
        pairs = jaccard_pairs_kernel(spark, sf_dir)
        return connected_components(
            d.select("doc_id"),
            pairs,
            node_col="doc_id",
            src_col="id_a",
            dst_col="id_b",
        )

    return shared_kernel(
        spark, ("cc_jaccard_labels", sf_dir, _JACCARD_THRESHOLD), build
    )


_LEV_MAX = 3


@query(
    "dedup_fuzzy_part_names",
    oracle=f"""
    WITH names AS (
        SELECT DISTINCT p_name AS name,
               string_split(p_name, ' ')[-1] AS noun
        FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_LEV_MAX}
    ORDER BY name_a, name_b
    """,
    doc="fuzzy entity matching: near-identical part names by edit "
    "distance <= 3, blocked on the trailing noun so the quadratic "
    "kernel runs per block over the DISTINCT name vocabulary (row "
    "count never enters the join — the representative trick from "
    "simhash dedup) (extension: entity resolution)",
)
def dedup_fuzzy_part_names(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
    ).distinct()
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(b, (F.col("a.noun") == F.col("b.noun")) & (F.col("a.name") < F.col("b.name")))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .filter(F.col("dist") <= _LEV_MAX)
        .orderBy("name_a", "name_b")
    )


def _pagerank_oracle(iters: int, dp: int) -> str:
    """Unrolled PageRank over the near-dup pair graph.  Every float
    literal is CAST to DOUBLE so DuckDB's decimal literal arithmetic
    cannot diverge from Spark's IEEE evaluation (1.0 - 0.85 is
    0.15000000000000002 in doubles, 0.15 exactly in decimals)."""
    damp = "CAST(0.85 AS DOUBLE)"
    base = f"(CAST(1.0 AS DOUBLE) - {damp})"
    sql = f"""
    WITH {_DD_JACCARD_PAIRS},
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
    nn AS (SELECT COUNT(*) AS cnt FROM deg),
    r0 AS (
        SELECT a AS node, ROUND(CAST(1.0 AS DOUBLE)/cnt, {dp}) AS r
        FROM deg CROSS JOIN nn
    )"""
    prev = "r0"
    for it in range(1, iters + 1):
        sql += f""",
    r{it} AS (
        SELECT s.b AS node,
               ROUND({base}/nn.cnt + {damp} *
                     CAST(SUM(CAST(r.r/d.deg AS DECIMAL(28,14))) AS DOUBLE),
                     {dp}) AS r
        FROM sym s
        JOIN {prev} r ON r.node = s.a
        JOIN deg d ON d.a = s.a
        CROSS JOIN nn
        GROUP BY s.b, nn.cnt
    )"""
        prev = f"r{it}"
    sql += f"""
    SELECT node AS doc_id, r AS pagerank FROM {prev} ORDER BY doc_id"""
    return sql


_PR_ITERS = 5


@query(
    "graph_pagerank_neardup",
    oracle=_pagerank_oracle(_PR_ITERS, 8),
    doc="PageRank over the exact-Jaccard near-dup graph (duplication "
    "centrality: high-rank docs sit in dense duplicate neighborhoods) "
    "— reuses the memoized pairs kernel; per iteration ONE cached-edge "
    "join + one map-side-combining aggregate on the edge-node-sized "
    "rank relation (textbook distributed PageRank, corpus never "
    "touched); DECIMAL(28,14) contribution sums + per-iteration 8dp "
    "snapping make a THIRD iterative algorithm family (after Lloyd "
    "k-means and power-iteration PCA) fully value-hash-verifiable "
    "(extension: graph analytics)",
)
def graph_pagerank_neardup(spark, sf_dir):
    from qaapi_spark.operators.graph import pagerank

    prs = pagerank(jaccard_pairs_kernel(spark, sf_dir), iters=_PR_ITERS)
    return prs.select(
        F.col("node").alias("doc_id"), "pagerank"
    ).orderBy("doc_id")


@query(
    "dedup_minhash_mllib",
    doc="idiomatic-MLlib near-dup path (SURVEY §7.2-7: "
    "ml.feature.MinHashLSH): shingles -> binary HashingTF vectors "
    "(fixed 2^18 feature space) -> seeded MinHashLSH "
    "approxSimilarityJoin at Jaccard distance <= 0.2 — the "
    "banded-LSH candidate join runs inside MLlib; rows-only check "
    "(LSH recall < 1 by design, so the result is a high-recall "
    "SUBSET of the exact pair set; tests/test_mllib_lsh.py pins the "
    "subset + planted-twin recall properties); the custom "
    "dedup_minhash_lsh kernel remains the hash-verified default; "
    "benched at numHashTables=2 (VERDICT r3 #4: MLlib explodes a row "
    "per hash table before the self-join, so tables scale the "
    "candidate-join input linearly — 20.8 s at 4 tables was 7.6% of "
    "the whole suite for a variant demo; at near-dup similarity "
    ">= 0.8 two OR-amplified tables still give P(candidate) >= 0.96, "
    "see SCALE.md)",
)
def dedup_minhash_mllib(spark, sf_dir):
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from qaapi_spark.operators.textstats import word_ngrams

    d = t(spark, sf_dir, "documents")
    sets = (
        d.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(word_ngrams(F.lower(F.col("text")), 2)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        # the fixture corpus arrives as one file -> one partition, and
        # MLlib's explode + self-join inherit it: the whole demo ran on
        # a single task (7.7 s warm at sf0.1).  Spreading the persisted
        # feature relation lets the candidate join use every core
        # (2.5 s) — one extra shuffle, bounded by the corpus size.
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )
    from qaapi_spark.session import register_kernel_cache

    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # persist: the self-join consumes feat on BOTH sides, and MLlib's
    # approxSimilarityJoin additionally recomputes the hash columns per
    # side — without this the shingle+TF lineage runs four times.
    # Project the raw shingle-string array OFF before the join:
    # approxSimilarityJoin carries both sides' full row structs through
    # its exploded candidate join and the pair-distinct that follows,
    # so every surviving column is shuffled once per candidate pair —
    # for bigram arrays that is ~30x the bytes of (id, features).
    feat = tf.transform(sets).select("id", "features").persist()
    register_kernel_cache(feat)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=2, seed=42
    )
    model = lsh.fit(feat)
    pairs = (
        model.approxSimilarityJoin(feat, feat, 0.2, distCol="jdist")
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1.0 - F.col("jdist"), 4).alias("jaccard"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.orderBy("id_a", "id_b")


_CONTAINMENT_THRESHOLD = 0.8


# Shared by dedup_containment_pairs (regime-selected) and
# dedup_containment_sparse (forced posting join): both kernels compute
# the same directed containment relation, so one oracle serves both —
# which is the point of the second query: the gate SFs' hot vocabulary
# routes the selector to the dense GEMM, so without it the sparse
# posting path (the open-vocabulary 100 TB shape) would only ever be
# exercised by unit tests, never hash-verified by the driver.
_CONTAINMENT_ORACLE = f"""
    WITH words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM documents
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS src, b.id AS dst, COUNT(*) AS inter
        FROM posting a JOIN posting b
          ON a.shingle = b.shingle AND a.id <> b.id
        GROUP BY a.id, b.id
    )
    SELECT i.src, i.dst,
           ROUND(i.inter * 1.0 / s.set_size, 4) AS containment
    FROM inter i JOIN sizes s ON i.src = s.id
    WHERE ROUND(i.inter * 1.0 / s.set_size, 4) >= {_CONTAINMENT_THRESHOLD}
    ORDER BY src, dst
    """


@query(
    "dedup_containment_pairs",
    oracle=_CONTAINMENT_ORACLE,
    doc="DIRECTED containment similarity |A∩B|/|A| >= threshold over "
    "bigram shingles — catches near-SUBSET duplication (a doc quoted "
    "or wrapped inside another) that symmetric Jaccard misses when "
    "sizes differ; one inverted-index self-join with map-side "
    "combining on the (src,dst) count, divisor broadcast back "
    "(extension: dedup family; Broder 1997's containment measure)",
)
def dedup_containment_pairs(spark, sf_dir):
    from qaapi_spark.operators.dedup import containment_pairs_auto

    d = t(spark, sf_dir, "documents")
    return containment_pairs_auto(
        d,
        _CONTAINMENT_THRESHOLD,
        n=2,
        _sets=shingle_sets_kernel(spark, sf_dir, 2),
        _dfreq=shingle_dfreq_kernel(spark, sf_dir, 2),
    ).orderBy("src", "dst")


@query(
    "dedup_containment_sparse",
    # same relation as _CONTAINMENT_ORACLE restricted to the src probe
    # stripe (a.id % 25 = 0)
    oracle=f"""
    WITH words AS (
        SELECT doc_id AS id, {_DD_WORDS} AS w FROM documents
    ),
    sets AS (
        SELECT id,
               list_distinct(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
        FROM words
    ),
    sizes AS (SELECT id, len(sh) AS set_size FROM sets),
    posting AS (SELECT id, unnest(sh) AS shingle FROM sets),
    inter AS (
        SELECT a.id AS src, b.id AS dst, COUNT(*) AS inter
        FROM posting a JOIN posting b
          ON a.shingle = b.shingle AND a.id <> b.id
        WHERE a.id % 25 = 0
        GROUP BY a.id, b.id
    )
    SELECT i.src, i.dst,
           ROUND(i.inter * 1.0 / s.set_size, 4) AS containment
    FROM inter i JOIN sizes s ON i.src = s.id
    WHERE ROUND(i.inter * 1.0 / s.set_size, 4) >= {_CONTAINMENT_THRESHOLD}
    ORDER BY src, dst
    """,
    doc="probe-stripe containment on the FORCED sparse posting join "
    "(no regime selector): which corpus documents contain these probe "
    "documents — the open-vocabulary 100 TB shape, inverted-index "
    "join on the shingle key with map-side combining and an explicit "
    "join-key repartition so AQE's input-byte sizing can't starve the "
    "join fan-out of parallelism; gated separately because the test "
    "corpora's hot vocabulary routes the selector's full-relation "
    "query to the dense GEMM, which would otherwise leave the sparse "
    "path driver-unverified (extension)",
)
def dedup_containment_sparse(spark, sf_dir):
    from qaapi_spark.operators.dedup import containment_pairs_sparse

    d = t(spark, sf_dir, "documents")
    return containment_pairs_sparse(
        d,
        _CONTAINMENT_THRESHOLD,
        n=2,
        src_mod=25,
        _sets=shingle_sets_kernel(spark, sf_dir, 2),
    ).orderBy("src", "dst")


@query(
    "dedup_cluster_report",
    oracle=f"""
    WITH RECURSIVE {_DD_JACCARD_PAIRS},
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (
        SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node
    ),
    toks AS (
        SELECT doc_id,
               len(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(lower(text)), '\\s+') END)
                   AS n_tokens
        FROM documents
    )
    SELECT l.comp AS comp, COUNT(*) AS n_docs,
           MIN(l.doc_id) AS keeper_id,
           CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN l.doc_id <> l.comp THEN t.n_tokens ELSE 0 END)
               AS BIGINT) AS removable_tokens
    FROM labels l JOIN toks t ON t.doc_id = l.doc_id
    GROUP BY l.comp HAVING COUNT(*) > 1
    ORDER BY comp
    """,
    doc="near-dup cluster report: per connected component with >1 doc "
    "— member count, min-id keeper, total and removable token mass "
    "(what dedup would delete) — the artifact a curation run reviews "
    "before committing a dedup pass; reuses the memoized CC labels, "
    "adds one token-count join + aggregate (extension: dedup family)",
)
def dedup_cluster_report(spark, sf_dir):
    from qaapi_spark.operators.textstats import ws_tokens

    d = t(spark, sf_dir, "documents")
    labels = cc_jaccard_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "comp"
    )
    toks = d.select(
        "doc_id", F.size(ws_tokens(F.lower(F.col("text")))).alias("n_tokens")
    )
    return (
        labels.join(toks, "doc_id")
        .groupBy("comp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("doc_id") != F.col("comp"), F.col("n_tokens")).otherwise(0)
            ).alias("removable_tokens"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("comp")
    )


@query(
    "graph_triangles_neardup",
    oracle=f"""
    WITH {_DD_JACCARD_PAIRS},
    e AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
    tri AS (
        SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
        FROM e p1
        JOIN e p2 ON p1.id_b = p2.id_a
        JOIN e p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
    ),
    tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT id_a AS node FROM e
            UNION ALL SELECT id_b FROM e
        ) GROUP BY node
    )
    SELECT deg.node AS doc_id, deg.degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN ROUND(CAST(2 AS DOUBLE) * COALESCE(t.t, 0)
                           / (deg.degree * (deg.degree - 1)), 4)
                ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
    FROM deg LEFT JOIN tcnt t ON t.node = deg.node
    ORDER BY doc_id
    """,
    doc="triangle count + local clustering coefficient over the "
    "near-dup graph (the density diagnostic that separates tight "
    "duplicate cliques from loose chains before choosing keep-one vs "
    "cluster review): ordered-wedge join (a<b<c) over the memoized "
    "pairs relation — each triangle enumerated exactly once, shuffle "
    "keyed on the shared endpoint, never an open 2-hop expansion "
    "(extension: graph analytics)",
)
def graph_triangles_neardup(spark, sf_dir):
    pairs = jaccard_pairs_kernel(spark, sf_dir).select("id_a", "id_b")
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = p1.join(p2, "b").join(p3, ["a", "c"])
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    out = deg.join(tcnt, "node", "left").select(
        F.col("node").alias("doc_id"),
        "degree",
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ),
        ).otherwise(F.lit(0.0)).alias("clustering_coeff"),
    )
    return out.orderBy("doc_id")


# Portable soundex-style consonant skeleton: first letter + rest with
# vowels/H/W stripped, truncated to 4 — deliberately WITHOUT the
# classic repeat-collapse step (RE2-based oracles cannot express
# backreferences), which only makes blocks slightly coarser (more
# candidates, never fewer), the safe direction for a blocking key.
_PHONETIC_SQL = (
    "substr(upper(substr({c}, 1, 1)) || "
    "regexp_replace(upper(substr({c}, 2)), '[AEIOUYHW]', '', 'g'), 1, 4)"
)


@query(
    "dedup_phonetic_blocked_names",
    oracle=f"""
    WITH names AS (
        SELECT DISTINCT p_name AS name,
               string_split(p_name, ' ')[-1] AS noun
        FROM part
    ),
    coded AS (
        SELECT name, {_PHONETIC_SQL.format(c='noun')} AS blk FROM names
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM coded a JOIN coded b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_LEV_MAX}
    ORDER BY name_a, name_b
    """,
    doc="entity resolution with PHONETIC blocking: the block key is a "
    "soundex-style consonant skeleton of the trailing noun (first "
    "letter + vowel/H/W-stripped rest, 4 chars), so spelling variants "
    "of the blocking attribute itself still land in one block — the "
    "standard record-linkage upgrade over exact-key blocking "
    "(dedup_fuzzy_part_names), at the cost of coarser blocks; the "
    "quadratic levenshtein kernel still runs per block over the "
    "DISTINCT name vocabulary, never over row counts (extension: "
    "entity resolution)",
)
def dedup_phonetic_blocked_names(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    noun = F.element_at(F.split("p_name", " "), -1)
    skeleton = F.substring(
        F.concat(
            F.upper(F.substring(noun, 1, 1)),
            F.regexp_replace(
                F.upper(noun.substr(F.lit(2), F.length(noun))), "[AEIOUYHW]", ""
            ),
        ),
        1,
        4,
    )
    names = p.select(
        F.col("p_name").alias("name"), skeleton.alias("blk")
    ).distinct()
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .filter(F.col("dist") <= _LEV_MAX)
        .orderBy("name_a", "name_b")
    )


_SPAN_MH_THRESHOLD = 0.8


def _span_jaccard_oracle() -> str:
    from qaapi_spark.plans.llm_text import _DD_SPANS

    return f"""
    WITH {_DD_SPANS},
    span_sets AS (
        SELECT doc_id, list_distinct(list(span_key)) AS sh
        FROM spans GROUP BY doc_id
    ),
    ssizes AS (SELECT doc_id, len(sh) AS n FROM span_sets),
    sposting AS (SELECT doc_id, unnest(sh) AS k FROM span_sets),
    sinter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sposting a JOIN sposting b ON a.k = b.k AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 4) AS jaccard
    FROM sinter i
    JOIN ssizes sa ON i.id_a = sa.doc_id
    JOIN ssizes sb ON i.id_b = sb.doc_id
    WHERE ROUND(i.c * 1.0 / (sa.n + sb.n - i.c), 4) >= {_SPAN_MH_THRESHOLD}
    ORDER BY id_a, id_b
    """


@query(
    "dedup_minhash_spans",
    # Same oracle strategy as dedup_minhash_lsh: with r=2 over 32
    # bands a true pair at j=0.8 escapes every band with
    # (1-0.64)^32 ~= 7e-15, so the banded+verified output provably
    # equals the exact all-pairs span-Jaccard relation — plain SQL
    # over llm_text's shared _DD_SPANS fragment (md5 span keys,
    # engine-portable; the fragment's span_df CTE is unused here).
    oracle=_span_jaccard_oracle(),
    doc="document-level near-dup MinHash at SPAN granularity "
    "(VERDICT r8 next #7): the per-doc set universe is the md5 "
    "fingerprints of non-overlapping 10-token spans (the same spans "
    "relation the boilerplate/span-dedup queries share), so two "
    "documents match when they are built from the same long blocks "
    "even where local edits shift every word-shingle; 64 map-only "
    "minhash remixes over the span-key sets, 32 bands of r=2, exact "
    "span-Jaccard verify — banding recall ~1 at j>=0.8 makes the "
    "output equal the exact relation, so it hash-checks against "
    "plain SQL (extension: span-granular corpus dedup; composes "
    "_shared_spans with minhash_lsh_verified_pairs_from_sets)",
)
def dedup_minhash_spans(spark, sf_dir):
    from qaapi_spark.operators.dedup import minhash_lsh_verified_pairs_from_sets
    from qaapi_spark.plans.llm_text import _shared_spans

    spans, _ = _shared_spans(spark, sf_dir)
    sets = spans.groupBy("doc_id").agg(F.collect_set("span_key").alias("sh"))
    return minhash_lsh_verified_pairs_from_sets(
        sets, _SPAN_MH_THRESHOLD, num_hashes=64, n_bands=32, id_col="doc_id"
    ).orderBy("id_a", "id_b")


_SUBSTR_L = 10

# Production per-digest occurrence-state bound for the
# retraction-capable ExactSubstr streams (VERDICT r14 next #1: the
# r14 safety valve is now the CERTIFIED default — every delete-capable
# exsub catalog query runs the min-k + overflow-marker path, so the
# 100 TB boilerplate-state story carries a driver value-hash row).
# k=8: the r14 boilerplate probe measured 9 rows/digest/epoch at k=8
# vs ~250 unbounded on a boilerplate-heavy corpus, and the bound is
# inert on the non-boilerplate testdata corpus (bounded == unbounded
# row-for-row at sf0.001/sf0.01/sf0.1).
_OCC_K = 8

# Shared DuckDB fragment for the ExactSubstr family: every overlapping
# 10-token window keyed by md5, repeated keys mapped back to positions.
_DD_SUBSTR_DPOS = f"""
    stoks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w
        FROM documents
    ),
    spos AS (
        SELECT doc_id, w,
               CAST(unnest(range(1, len(w) - {_SUBSTR_L} + 2)) AS BIGINT) AS pos
        FROM stoks WHERE len(w) >= {_SUBSTR_L}
    ),
    swins AS (
        SELECT doc_id, pos,
               md5(array_to_string(
                   list_slice(w, pos, pos + {_SUBSTR_L - 1}), ' ')) AS h
        FROM spos
    ),
    sdup AS (SELECT h FROM swins GROUP BY h HAVING COUNT(*) >= 2),
    sdpos AS (
        SELECT w.doc_id, w.pos, w.h FROM swins w JOIN sdup USING (h)
    )"""


def _shared_substr_dpos(spark, sf_dir):
    """Memoized duplicated-window-position relation per (app, sf_dir):
    both ExactSubstr queries consume it (same sharing contract as
    _shared_spans / cc_jaccard_labels); the build cost bills to the
    alphabetically-first suite consumer (doc_stats)."""
    from qaapi_spark.operators.dedup import _dup_window_positions
    from qaapi_spark.session import shared_kernel

    return shared_kernel(
        spark,
        ("substr_dpos", sf_dir, _SUBSTR_L),
        lambda: _dup_window_positions(
            t(spark, sf_dir, "documents"), _SUBSTR_L, "text", "doc_id"
        ).persist(),
    )


@query(
    "dedup_exact_substring_ranges",
    # All-integer output (positions, counts, lengths), deterministic
    # gaps-and-islands grouping — hash-exact across engines.
    oracle=f"""
    WITH {_DD_SUBSTR_DPOS},
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM sdpos
    )
    SELECT doc_id,
           MIN(pos) AS start_pos,
           MAX(pos) + {_SUBSTR_L - 1} AS end_pos,
           COUNT(*) AS n_dup_windows,
           MAX(pos) - MIN(pos) + {_SUBSTR_L} AS range_len
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, start_pos
    """,
    doc="EXACT-SUBSTRING dedup ranges (Lee et al. ACL'22 ExactSubstr, "
    "reference criterion: a >=10-token passage occurring anywhere "
    "else in the corpus): every OVERLAPPING 10-token window — not "
    "just stride-aligned spans — keys by the md5 of its tokens; one "
    "corpus-sized hash aggregate finds repeated keys; consecutive "
    "duplicated positions merge per doc (gaps-and-islands) into the "
    "maximal ranges a dedup pass would cut.  Spark-first substitute "
    "for the paper's single-node suffix array: O(total_tokens) "
    "16-byte rows, two shuffles, no driver state, shards freely "
    "(extension: completes the dedup surface below span granularity)",
)
def dedup_exact_substring_ranges(spark, sf_dir):
    from qaapi_spark.operators.dedup import exact_substring_dup_ranges

    d = t(spark, sf_dir, "documents")
    return exact_substring_dup_ranges(
        d, _SUBSTR_L, _dpos=_shared_substr_dpos(spark, sf_dir)
    ).orderBy("doc_id", "start_pos")


@query(
    "dedup_exact_substring_doc_stats",
    oracle=f"""
    WITH {_DD_SUBSTR_DPOS},
    covered AS (
        SELECT DISTINCT d.doc_id, d.pos + f.range AS tok_pos
        FROM sdpos d, range(0, {_SUBSTR_L}) f
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_dup_toks FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_toks,
           CAST(COALESCE(p.n_dup_toks, 0) AS BIGINT) AS n_dup_toks,
           CASE WHEN len(t.w) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(COALESCE(p.n_dup_toks, 0) * 1.0 / len(t.w), 4)
           END AS dup_frac
    FROM stoks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
    doc="per-document duplicated-text fraction under the ExactSubstr "
    "criterion — the curation signal the ranges feed (trim or drop "
    "documents that are mostly duplicated text): duplicated windows "
    "explode into the token positions they cover and DISTINCT "
    "positions count, so overlapping ranges never double-count; the "
    "blowup is bounded to 10x the duplicated subset, never the "
    "corpus.  Every document appears — clean and sub-window docs "
    "carry n_dup_toks=0 / dup_frac=0.0, so corpus-wide fractions "
    "aggregate without a consumer-side left join (ADVICE r10 #3).  "
    "Integer counts + one rounded division (extension)",
)
def dedup_exact_substring_doc_stats(spark, sf_dir):
    from qaapi_spark.operators.dedup import exact_substring_doc_stats

    d = t(spark, sf_dir, "documents")
    return exact_substring_doc_stats(
        d, _SUBSTR_L, _dpos=_shared_substr_dpos(spark, sf_dir)
    ).orderBy("doc_id")


# Canonical pick = corpus-wide first (doc_id, pos) per window digest —
# the same partition whether the digest renders as md5 hex (DuckDB) or
# 16-byte binary (Spark), so the trimmed text is engine-exact string
# equality.  Shared by the batch apply AND its streaming twin (ordered
# ingest makes the stream exactly equal — see
# streaming/retraction.stream_exact_substring_apply).
_EXSUB_APPLY_ORACLE = f"""
    WITH {_DD_SUBSTR_DPOS},
    nc AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY h
                                      ORDER BY doc_id, pos) AS rn
            FROM sdpos
        ) WHERE rn >= 2
    ),
    cut AS (
        SELECT DISTINCT n.doc_id, n.pos + r.range AS tok_pos
        FROM nc n, range(0, {_SUBSTR_L}) r
    ),
    toks AS (
        SELECT doc_id, CAST(ti AS BIGINT) AS tok_pos, w[ti] AS tok
        FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS ti
              FROM stoks)
    ),
    kept AS (
        SELECT t.doc_id, t.tok_pos, t.tok FROM toks t
        WHERE NOT EXISTS (SELECT 1 FROM cut c
                          WHERE c.doc_id = t.doc_id
                            AND c.tok_pos = t.tok_pos)
    ),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tok_pos) AS text_dedup
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(len(s.w) AS BIGINT) AS n_toks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.text_dedup, '') AS text_dedup
    FROM stoks s LEFT JOIN reb r USING (doc_id)
    ORDER BY s.doc_id
    """


@query(
    "dedup_exact_substring_apply",
    oracle=_EXSUB_APPLY_ORACLE,
    doc="MATERIALIZED ExactSubstr dedup (Lee et al. ACL'22 §3 apply "
    "step, VERDICT r10 next #4): the trimmed corpus after cutting "
    "every duplicated >=10-token span, keeping exactly one canonical "
    "occurrence corpus-wide (first by (doc_id, pos) per window — "
    "deterministic, engine-independent).  A token is removed iff a "
    "NON-canonical duplicated window covers it; text_dedup is the "
    "kept tokens of the normalized text.  Only docs that lose tokens "
    "pay the posexplode+rebuild — clean docs pass through map-only, "
    "so at 100 TB the rebuild shuffle scales with duplicated text, "
    "not corpus size (extension: completes the ExactSubstr family "
    "ranges -> doc_stats -> apply)",
)
def dedup_exact_substring_apply(spark, sf_dir):
    from qaapi_spark.operators.dedup import exact_substring_apply

    d = t(spark, sf_dir, "documents")
    return exact_substring_apply(
        d, _SUBSTR_L, _dpos=_shared_substr_dpos(spark, sf_dir)
    ).orderBy("doc_id")


@query(
    "stream_exact_substring_apply",
    # EXACT equality with the batch apply relation under ordered
    # ingest — canonical = earliest occurrence, so the stream's
    # per-epoch occurrence-index screen reproduces the corpus-wide
    # first pick with no probabilistic caveat; the oracle is shared.
    oracle=_EXSUB_APPLY_ORACLE,
    doc="STREAMING ExactSubstr dedup (extension, SURVEY §2.9): the "
    "trimmed corpus maintained incrementally as documents land — each "
    "micro-batch trims against the standing occurrence index "
    "(h, doc_id, pos per window, epoch-keyed append; one digest "
    "semi-join per epoch) through the same insert epoch as "
    "stream_exsub_apply_with_deletes, with no tombstones, and its "
    "emitted rows are IMMUTABLE, because the canonical "
    "occurrence of any window is the earliest and can never be "
    "revoked by later arrivals.  The batch kernel re-aggregates the "
    "whole corpus per run; here a new epoch costs only its own "
    "windows + the digest lookup.  Exactly equals "
    "dedup_exact_substring_apply under ordered ingest (no LSH "
    "anywhere), so it shares the batch oracle; retry-idempotence "
    "unit-tested",
)
def stream_exact_substring_apply_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_exact_substring_apply

    return stream_exact_substring_apply(
        spark, f"{sf_dir}/documents.parquet", min_len=_SUBSTR_L
    ).orderBy("doc_id")


@query(
    "stream_exsub_apply_with_deletes",
    # batch apply relation on the POST-DELETE corpus: the shared
    # apply oracle with documents filtered to the live set (the one
    # "FROM documents" lives in the stoks CTE).
    oracle=_EXSUB_APPLY_ORACLE.replace(
        "FROM documents", f"FROM documents WHERE {_DEL_WHERE}"
    ),
    doc="streaming ExactSubstr dedup with RETRACTION + canonical "
    "re-election (VERDICT r11 next #2: the insert-only stream's "
    "docstring relied on 'canonicity can never be revoked' — this "
    "variant revokes it): a retraction batch tombstones its docs, and "
    "any duplicated window whose canonical occurrence they owned "
    "promotes its next-earliest surviving occurrence — the promoted "
    "owner re-trims from the corpus archive and re-emits its row as a "
    "delta (latest epoch wins).  Needs per-occurrence provenance "
    "(h, doc_id, pos — O(total windows), the honest cost of revocable "
    "canonicity) instead of the insert-only store's O(distinct "
    "digests).  Equals dedup_exact_substring_apply on the live corpus "
    "(extension, SURVEY §2.9; "
    "streaming/retraction.stream_exact_substring_apply_with_deletes)",
)
def stream_exsub_apply_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_with_deletes,
    )

    return stream_exact_substring_apply_with_deletes(
        spark,
        f"{sf_dir}/documents.parquet",
        min_len=_SUBSTR_L,
        del_mod=_DEL_MOD,
        del_rem=_DEL_REM,
        occ_k=_OCC_K,
    ).orderBy("doc_id")


@query(
    "stream_exsub_apply_unordered",
    # the SAME full-corpus batch oracle as the ordered stream: order
    # independence is the point — the staged ingest delivers the
    # corpus in REVERSE doc_id order and the relation must not care.
    oracle=_EXSUB_APPLY_ORACLE,
    doc="ORDER-INDEPENDENT streaming ExactSubstr dedup (the bounded-"
    "lateness arm of VERDICT r11 next #6, taken to arbitrary "
    "disorder): documents arrive in ANY order — here the adversarial "
    "REVERSE doc_id permutation, where every epoch carries occurrences "
    "earlier than all standing canonicals — and a late earlier "
    "occurrence DEMOTES the standing canonical (its owner's row is "
    "recomputed and re-emitted, latest epoch wins) instead of being "
    "rejected by the ordered stream's frontier guard.  Per batch "
    "digest, one groupBy derives the standing canonical vs the batch "
    "minimum; least() of the two is the new canonical — the batch "
    "apply's corpus-wide first once every doc has arrived, whatever "
    "the permutation, so the query shares the batch oracle VERBATIM.  "
    "Trade vs ordered: rows are not immutable (read latest-wins), "
    "state is the per-occurrence index (extension, SURVEY §2.9; "
    "streaming/retraction.stream_exact_substring_apply_unordered)",
)
def stream_exsub_apply_unordered_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_unordered,
    )

    return stream_exact_substring_apply_unordered(
        spark, f"{sf_dir}/documents.parquet", min_len=_SUBSTR_L,
        occ_k=_OCC_K,
    ).orderBy("doc_id")


@query(
    "stream_exsub_unordered_with_deletes",
    # batch apply relation on the POST-DELETE corpus under the
    # REVERSE-staged retraction contract (live = _DEL_WHERE_HI: the
    # mid-stream batch tombstones predicate docs of the already-
    # ingested HIGH half).
    oracle=_EXSUB_APPLY_ORACLE.replace(
        "FROM documents", f"FROM documents WHERE {_DEL_WHERE_HI}"
    ),
    doc="ORDER-INDEPENDENT streaming ExactSubstr COMPOSED with "
    "retraction (VERDICT r12 next #3: r12 shipped arbitrary arrival "
    "order and deletes separately; a real deployment needs both at "
    "once): documents arrive in REVERSE doc_id order — every insert "
    "epoch demotes standing canonicals — with a retraction batch "
    "mid-stream, so post-delete arrivals must demote through the "
    "tombstone-filtered index and re-canonicalize digests whose every "
    "occurrence was retracted.  The composition is one parameter, not "
    "new machinery: the demotion groupBy reads live occurrences only, "
    "the delete epoch's first_all/first_live re-election was already "
    "arrival-order-independent (pure lexicographic mins), and the "
    "tombstone guard replaces the frontier the unordered stream "
    "doesn't have.  Equals dedup_exact_substring_apply on the live "
    "corpus (extension, SURVEY §2.9; streaming/retraction."
    "stream_exact_substring_apply_unordered_with_deletes)",
)
def stream_exsub_unordered_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import (
        stream_exact_substring_apply_unordered_with_deletes,
    )

    return stream_exact_substring_apply_unordered_with_deletes(
        spark,
        f"{sf_dir}/documents.parquet",
        min_len=_SUBSTR_L,
        del_mod=_DEL_MOD,
        del_rem=_DEL_REM,
        occ_k=_OCC_K,
    ).orderBy("doc_id")


@query(
    "dedup_exact_substring_attribution",
    oracle=f"""
    WITH {_DD_SUBSTR_DPOS},
    ranked AS (
        SELECT doc_id, h,
               ROW_NUMBER() OVER (PARTITION BY h
                                  ORDER BY doc_id, pos) AS rn,
               FIRST_VALUE(doc_id) OVER (PARTITION BY h
                                         ORDER BY doc_id, pos) AS owner_doc
        FROM sdpos
    ),
    edges AS (SELECT doc_id, owner_doc, h FROM ranked WHERE rn >= 2)
    SELECT b.source AS borrower_source,
           o.source AS owner_source,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT e.h) AS BIGINT) AS n_distinct_windows,
           CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_borrower_docs,
           CAST(COUNT(DISTINCT e.owner_doc) AS BIGINT) AS n_owner_docs
    FROM edges e
    JOIN documents b ON e.doc_id = b.doc_id
    JOIN documents o ON e.owner_doc = o.doc_id
    GROUP BY b.source, o.source
    ORDER BY borrower_source, owner_source
    """,
    doc="cross-source duplicate ATTRIBUTION report (VERDICT r10 next "
    "#7 — the takedown/licensing question): every duplicated window "
    "occurrence ExactSubstr would cut is credited to the source "
    "owning the surviving canonical occurrence; one row per "
    "(borrower_source, owner_source) with window occurrences, "
    "distinct window contents, and doc counts on both sides "
    "(diagonal rows = intra-source duplication).  The rank window "
    "rides the kernel's existing digest shuffle; dimension joins "
    "touch the duplicated subset only; output is |sources|^2 rows "
    "(extension)",
)
def dedup_exact_substring_attribution(spark, sf_dir):
    from qaapi_spark.operators.dedup import exact_substring_attribution

    d = t(spark, sf_dir, "documents")
    return exact_substring_attribution(
        d, _SUBSTR_L, _dpos=_shared_substr_dpos(spark, sf_dir)
    ).orderBy("borrower_source", "owner_source")
