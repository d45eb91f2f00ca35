"""Similarity search over embedding columns (array<float>).

Physical strategy: dense vector math is the one place where built-in
expression folds lose badly to vectorized kernels, so the hot paths are
Arrow-batched numpy kernels inside ``mapInPandas`` (one matrix multiply
per Arrow batch — no per-row Python, no shuffle added).

Every broadcast-query top-k here and in operators/retrieval.py is one
kernel built from three helpers:

  - ``_collect_bounded``: the broadcast side (query set, centroid
    codebook, vocabulary) reaches the driver in ONE Arrow collect of at
    most ``_QUERY_MAX`` + 1 rows, and the operator fails loudly above
    the gate.  The gate bounds both sides: every kernel builds an
    (n_query x batch) score grid per Arrow batch.
  - ``_stream_topk``: stream the big side, broadcast the small one.
    Per Arrow batch an operator's scoring function builds the (query x
    candidate) score grid — GEMM, ADC lookup, popcount or fixed-point
    dot, masked cells -inf — one lexsort cut keeps each query's top k
    on (score desc, cand_id asc), and one ``topk_per_group`` reduces
    the partials.  The cut is lossless: a global top-k row is in its own
    batch's top-k under the same order.  Candidates can be arbitrarily
    large; queries must fit in a broadcast.
  - ``_exact_rerank``: approximate screens (IVF probes, SRP buckets,
    PQ and IVFADC codes) hand a (query_id, cand_id) candidate relation
    to one exact-cosine re-rank — filter, then refine, in one place.

Pair mining (cosine >= threshold) broadcasts the normalized corpus and
streams it against itself (upper triangle): a bounded-corpus operator,
with the block-pair variant for an unbounded corpus.

Expression-level ``dot``/``l2_norm`` (zip_with + aggregate) are kept
for row-at-a-time composition in other plans.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qaapi_spark.operators.dedup import _popcount_u64
from qaapi_spark.operators.windows import topk_per_group

_PAIR_SCHEMA = "query_id long, cand_id long, cosine double"

# Driver/executor ceiling for every broadcast-side collect here and in
# operators/retrieval.py: each kernel builds an (n_query x batch) score
# grid per Arrow batch, so n_query is the memory lever on BOTH sides.
# 8192 queries x ~10k-row batches = ~650 MB of transient grid per task
# — the practical edge on local[32]; catalog queries use a few hundred.
# A corpus-sized "query" relation would blow executor memory before it
# blew the driver, so fail fast with the fix (swap roles or shard the
# query set).
_QUERY_MAX: int = 8192


def _collect_bounded(
    df: DataFrame, what: str, max_rows: int | None = None
) -> tuple[np.ndarray, ...]:
    """One numpy array per column of ``df``, in select order, from ONE
    Arrow collect of at most ``max_rows`` (default ``_QUERY_MAX``) + 1
    rows; more rows than the gate raise before anything is broadcast.

    Scalar columns come back typed, list columns as object arrays of
    per-row arrays — what an Arrow batch's pandas column holds, so the
    same helpers read both sides.  An empty relation gives zero-length
    arrays."""
    cap = _QUERY_MAX if max_rows is None else max_rows
    tbl = df.limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        raise ValueError(
            f"{what}: more than {cap} rows would be collected to the driver "
            "and broadcast; shard the relation or raise the gate deliberately"
        )
    return tuple(col.to_numpy() for col in tbl.columns)


def _unit_rows(vectors) -> np.ndarray:
    """(n, d) float64 matrix of the L2-normalized vectors of a list
    column (an Arrow batch's pandas column or a ``_collect_bounded``
    one); float32 widens to float64 exactly, as the Row path does."""
    if not len(vectors):
        return np.zeros((0, 0))
    m = np.stack(vectors).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m


def _stream_topk(
    stream: DataFrame,
    side: tuple,
    score: Callable[[tuple, pd.DataFrame], Iterator[tuple]],
    k: int,
    schema: str = _PAIR_SCHEMA,
    reduce: bool = True,
) -> DataFrame:
    """Per-query top ``k`` of ``stream`` scored against the broadcast
    ``side``, a tuple led by the broadcast ids (empty: no rows).

    ``score(side, pdf)`` yields (query ids, cand ids, score grid) per
    Arrow batch — one grid, or one per IVFADC cell — with masked cells
    at -inf.  One lexsort cut on (-score, cand_id) keeps k rows per
    query per grid and drops non-finite cells; ``schema`` names the
    (query, cand, score) columns, and one ``topk_per_group`` reduces the
    partials unless ``reduce=False`` (each streamed row is a query)."""
    q_col, c_col, s_col = (f.split()[0] for f in schema.split(","))
    b = stream.sparkSession.sparkContext.broadcast(side)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        side_ = b.value
        if not len(side_[0]):
            return
        for pdf in batches:
            if not len(pdf):
                continue
            for q, c, s in score(side_, pdf):
                kk = min(k, s.shape[1])
                # rank by (-score, cand_id): lexsort is stable + deterministic
                order = np.lexsort((np.broadcast_to(c, s.shape), -s), axis=1)[:, :kk]
                cut = np.take_along_axis(s, order, axis=1).ravel()
                keep = np.isfinite(cut)
                yield pd.DataFrame(
                    {q_col: np.repeat(q, kk)[keep], c_col: c[order].ravel()[keep], s_col: cut[keep]}
                )

    partial = stream.mapInPandas(gen, schema)
    if not reduce:
        return partial
    return topk_per_group(partial, [q_col], [F.desc(s_col), F.asc(c_col)], k)


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    q_side: tuple[np.ndarray, np.ndarray],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact-cosine top ``k`` over a (query_id, cand_id) candidate
    relation: join each candidate's corpus vector, dot it with its
    query's row of the broadcast ``q_side`` = (ids, unit rows), round,
    and reduce on (cosine desc, cand_id asc).  Only candidate-sized
    relations touch the full-precision vectors."""
    b = cand.sparkSession.sparkContext.broadcast(q_side)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat = b.value
        by_id = np.argsort(q_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            qid = pdf["query_id"].to_numpy(dtype=np.int64)
            rows = by_id[np.searchsorted(q_ids, qid, sorter=by_id)]
            cos = np.round(np.einsum("ij,ij->i", q_mat[rows], _unit_rows(pdf["cv"])), round_to)
            yield pd.DataFrame({"query_id": qid, "cand_id": pdf["cand_id"], "cosine": cos})

    vecs = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    pairs = cand.join(vecs, "cand_id").select("query_id", "cand_id", "cv")
    scored = pairs.mapInPandas(score, _PAIR_SCHEMA)
    return topk_per_group(scored, ["query_id"], [F.desc("cosine"), F.asc("cand_id")], k)


def _no_pairs(df: DataFrame) -> DataFrame:
    """The empty (query_id, cand_id, cosine) result of an empty query side."""
    return df.sparkSession.createDataFrame([], _PAIR_SCHEMA)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays in double precision (sequential
    left fold => deterministic, engine-portable result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_unit_vector(df: DataFrame, vec_col: str, out_col: str = "unit_vec") -> DataFrame:
    """Pre-normalize so cosine == dot of unit vectors (normalize once,
    not once per pair)."""
    n = l2_norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    )


def nearest_broadcast(
    stream: DataFrame,
    ref: DataFrame,
    k: int,
    stream_id: str = "vec_id",
    stream_vec: str = "embedding",
    ref_id: str = "vec_id",
    ref_vec: str = "embedding",
    round_to: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """For every streamed row, its k nearest reference rows by cosine.

    The reference side is collected + broadcast (bounded: query sets,
    centroid codebooks); the streamed side is unbounded.  Output
    (query_id=stream id, cand_id=ref id, cosine), ranked
    deterministically on (rounded cosine desc, cand_id asc).  Each
    streamed row is its own query, so the per-batch cut is final.
    """
    r_ids, r_vecs = _collect_bounded(ref.select(ref_id, ref_vec), "nearest_broadcast reference")

    def score(side, pdf):
        ids, mat = side
        s_ids = pdf[stream_id].to_numpy(dtype=np.int64)
        sims = np.round(_unit_rows(pdf[stream_vec]) @ mat.T, round_to)  # (batch, n_ref)
        if exclude_self:
            sims[s_ids[:, None] == ids[None, :]] = -np.inf
        yield s_ids, ids, sims

    return _stream_topk(
        stream.select(stream_id, stream_vec), (r_ids, _unit_rows(r_vecs)), score, k, reduce=False
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k by cosine: stream candidates, broadcast queries.

    Per Arrow batch: GEMM + per-query partial top-k (at most k rows per
    query per batch leave the executor), then a global top-k reduce.
    Candidates can be arbitrarily large; queries must fit in a broadcast.
    """
    q_ids, q_vecs = _collect_bounded(queries.select(id_col, vec_col), "cosine_topk_bruteforce queries")

    def score(side, pdf):
        ids, mat = side
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        sims = np.round(mat @ _unit_rows(pdf[vec_col]).T, round_to)  # (n_query, batch)
        sims[ids[:, None] == c_ids[None, :]] = -np.inf  # self-match
        yield ids, c_ids, sims

    return _stream_topk(
        candidates.select(id_col, vec_col), (q_ids, _unit_rows(q_vecs)), score, k
    )


def cosine_topk_filtered(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """Metadata-filtered exact top-k by cosine — the vector-DB
    "search within my tenant/class" surface: each query ranks only
    candidates whose ``filter_col`` equals the query's own, scored
    and tie-broken exactly like :func:`cosine_topk_bruteforce`.

    Same scale shape as the unfiltered kernel (broadcast queries +
    their filter values, stream candidates, per-batch GEMM + partial
    top-k); the filter is a mask on the score grid, NOT a pre-shuffle
    — so a low-selectivity filter costs nothing extra and a
    high-selectivity one still never shuffles the corpus.
    """
    # one collect so ids/vectors/filter values share a row order
    q_ids, q_vecs, q_lab = _collect_bounded(
        queries.select(id_col, vec_col, filter_col), "cosine_topk_filtered queries"
    )

    def score(side, pdf):
        ids, mat, lab = side
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        c_lab = pdf[filter_col].to_numpy(dtype=np.int64)
        sims = np.round(mat @ _unit_rows(pdf[vec_col]).T, round_to)  # (n_query, batch)
        sims[ids[:, None] == c_ids[None, :]] = -np.inf  # self-match
        sims[lab[:, None] != c_lab[None, :]] = -np.inf  # filter
        yield ids, c_ids, sims

    return _stream_topk(
        candidates.select(id_col, vec_col, filter_col),
        (q_ids, _unit_rows(q_vecs), q_lab.astype(np.int64)),
        score,
        k,
    )


def mmr_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    pool: int = 10,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): per query, fetch a ``pool``-sized exact
    cosine candidate pool, then greedily select ``k`` — each step
    maximizing ``lam*rel - (1-lam)*max_sim_to_selected`` with
    deterministic (score desc, cand_id) ties.  Output
    (query_id, rank, cand_id, mmr) with the rank-1 score = relevance.

    Scale shape: the pool fetch is the brute-force kernel (broadcast
    queries, streamed corpus, per-batch partial top-k); the greedy
    re-rank touches only pool-sized groups — ``applyInPandas`` over
    (query, pool) islands, pool^2 sims per query, never the corpus.

    Exactness: relevance and pairwise sims are 4dp-rounded doubles
    (the bruteforce recipe), ``lam=0.5`` scales by a power of two, so
    every step's score arithmetic is bit-identical in DuckDB and the
    k greedy rounds unroll as chained CTEs (the Lloyd trick).
    """
    pool_df = cosine_topk_bruteforce(
        queries, candidates, pool, id_col=id_col, vec_col=vec_col, round_to=round_to
    )
    vecs = candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    grouped = pool_df.join(vecs, "cand_id")

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id", ignore_index=True)
        m = _unit_rows(pdf["cv"])
        sims = np.round(m @ m.T, round_to)
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        cids = pdf["cand_id"].to_numpy(dtype=np.int64)
        sel: list[int] = []
        scores_out: list[float] = []
        remaining = list(range(len(cids)))
        while remaining and len(sel) < k:
            if sel:
                cur = lam * rel - (1.0 - lam) * sims[:, sel].max(axis=1)
            else:
                cur = rel
            pick = min(remaining, key=lambda i: (-cur[i], cids[i]))
            sel.append(pick)
            # 5dp, not 4: an MMR score is HALF of a difference of
            # 4dp values, i.e. systematically AT 4dp midpoints where
            # np.round (half-even) and DuckDB ROUND (half-away)
            # disagree; at 5dp those values are exactly representable
            # and the round is midpoint-free on both engines
            scores_out.append(float(np.round(cur[pick], round_to + 1)) + 0.0)
            remaining.remove(pick)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "rank": np.arange(1, len(sel) + 1, dtype=np.int64),
                "cand_id": cids[sel],
                "mmr": scores_out,
            }
        )

    return grouped.groupBy("query_id").applyInPandas(
        mmr, "query_id long, rank long, cand_id long, mmr double"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold (exact).

    Streams the corpus against a broadcast of itself (upper-triangle
    GEMM), so the corpus is the broadcast side and ``_QUERY_MAX`` bounds
    it.  Bounded-corpus shape: for an unbounded corpus, grid the ids
    into blocks and run the same kernel per block pair.
    """
    a_ids, a_vecs = _collect_bounded(df.select(id_col, vec_col), "embedding_near_dup_pairs corpus")
    b = df.sparkSession.sparkContext.broadcast((a_ids, _unit_rows(a_vecs)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = b.value
        for pdf in batches:
            s_ids = pdf[id_col].to_numpy(dtype=np.int64)
            sims = np.round(_unit_rows(pdf[vec_col]) @ mat.T, round_to)
            ii, jj = np.nonzero((sims >= threshold) & (s_ids[:, None] < ids[None, :]))
            yield pd.DataFrame(
                {"query_id": s_ids[ii], "cand_id": ids[jj], "cosine": sims[ii, jj]}
            )

    return (
        df.select(id_col, vec_col)
        .mapInPandas(gen, _PAIR_SCHEMA)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("cand_id").alias("id_b"),
            "cosine",
        )
    )


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Blocked exact pair mining — the unbounded-corpus shape.

    Grid the ids into n_blocks by hash; each row is replicated to every
    block-pair it participates in (factor n_blocks), then one
    applyInPandas GEMM per (block_i, block_j) group.  No broadcast of
    the corpus: memory per task is two blocks, shuffle is keyed on the
    block pair.  Output identical to ``embedding_near_dup_pairs``.
    """
    blk = (F.col(id_col) % n_blocks).cast("int")
    tagged = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), blk.alias("blk"))
    # replicate each row to all block pairs (min(bi,bj), max(bi,bj))
    pairs_of = F.array(
        *[
            F.struct(
                F.least("blk", F.lit(o)).alias("bi"),
                F.greatest("blk", F.lit(o)).alias("bj"),
            )
            for o in range(n_blocks)
        ]
    )
    replicated = tagged.select(
        "id", "vec", "blk", F.explode(F.array_distinct(pairs_of)).alias("bp")
    ).select("id", "vec", "blk", F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj"))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        l_ids = left["id"].to_numpy(dtype=np.int64)
        r_ids = right["id"].to_numpy(dtype=np.int64)
        sims = np.round(_unit_rows(left["vec"]) @ _unit_rows(right["vec"]).T, round_to)
        if bi == bj:
            # same-block: matrix holds both orderings; count each once
            ii, jj = np.nonzero((sims >= threshold) & (l_ids[:, None] < r_ids[None, :]))
            return pd.DataFrame({"id_a": l_ids[ii], "id_b": r_ids[jj], "cosine": sims[ii, jj]})
        # cross-block: each unordered pair appears once; normalize order
        ii, jj = np.nonzero(sims >= threshold)
        a, b = l_ids[ii], r_ids[jj]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cosine": sims[ii, jj]}
        )

    return replicated.groupBy("bi", "bj").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )


def cosine_topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_centroids_mod: int = 37,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    train_iters: int = 0,
    n_centroids: int | None = None,
    train_rows: int = 4096,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: probe only the nprobe nearest
    centroid buckets per query.

    With ``train_iters == 0`` centroids are a deterministic sample of
    the corpus (vec_id % n_centroids_mod == 0) — seed-free AND
    SQL-reproducible, so this configuration carries a full DuckDB
    oracle.  With ``train_iters > 0`` the codebook is fitted with
    deterministic spherical k-means over a bounded training stripe
    (operators/kmeans.py) — better-balanced buckets and higher recall
    at the same nprobe, still rerun-stable, but no longer
    SQL-expressible (rows-only check + recall test).  Plan either way:
    (1) assign candidates to nearest centroid (broadcast codebook GEMM,
    map-only), (2) probe top-nprobe centroids per query, (3)
    shuffle-join probes x assignments on centroid_id and score only
    those pairs (``_exact_rerank``).

    A caller may hand in a prefit codebook relation
    (``cents``: centroid_id, cvec) — e.g. the engine-exact distributed
    Lloyd centroids (operators/kmeans.lloyd_centroids_distributed),
    which keeps the trained-codebook configuration SQL-reproducible.
    """
    if cents is None and train_iters > 0:
        from qaapi_spark.operators.kmeans import spherical_kmeans, training_sample

        sample = training_sample(candidates, train_rows, id_col, vec_col)
        k_cents = n_centroids or max(1, len(sample) // n_centroids_mod)
        fitted = spherical_kmeans(sample, k_cents, train_iters)
        cents = candidates.sparkSession.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(fitted)],
            "centroid_id long, cvec array<double>",
        )
    elif cents is None:
        cents = candidates.filter(F.col(id_col) % n_centroids_mod == 0).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    assigned = nearest_broadcast(
        candidates, cents, 1, stream_id=id_col, stream_vec=vec_col,
        ref_id="centroid_id", ref_vec="cvec", round_to=round_to,
    ).select(F.col("query_id").alias("cand_id"), F.col("cand_id").alias("centroid_id"))
    probes = nearest_broadcast(
        queries, cents, nprobe, stream_id=id_col, stream_vec=vec_col,
        ref_id="centroid_id", ref_vec="cvec", round_to=round_to,
    ).select(F.col("query_id"), F.col("cand_id").alias("centroid_id"))

    pairs = probes.join(assigned, "centroid_id").filter(F.col("query_id") != F.col("cand_id"))
    q_ids, q_vecs = _collect_bounded(queries.select(id_col, vec_col), "cosine_topk_ivf queries")
    return _exact_rerank(
        pairs, candidates, (q_ids, _unit_rows(q_vecs)), k, id_col, vec_col, round_to
    )


def sign_bits(vec: Column, d: int = 64) -> Column:
    """Pack the sign pattern of a <=64-dim float vector into ONE long:
    bit i set iff ``vec[i] >= 0`` (note -0.0 >= 0 is true under IEEE,
    identically in every engine).  Disjoint bits sum exactly in long
    arithmetic; bit 63's weight is the two's-complement negative so the
    packed value stays a valid signed 64-bit int.  All JVM-side — the
    binary quantization step never leaves whole-stage codegen."""
    if d > 64:
        raise ValueError(f"sign_bits packs at most 64 dims, got {d}")
    terms = [
        F.when(vec[i] >= 0, F.lit(w)).otherwise(F.lit(0)).cast("long")
        for i, w in ((i, (1 << i) if i < 63 else -(1 << 63)) for i in range(d))
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def hamming_topk_binary(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    rerank_pool: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Binary-quantized ANN: sign-bit vectors + Hamming-distance
    screen, exact-cosine rerank of the top ``rerank_pool`` candidates.

    The 100 TB memory play for vector search: a d<=64-dim float corpus
    compresses 32x into one int64 per vector (`sign_bits`, pure JVM
    expression), the query bit set is broadcast, and the screen is an
    Arrow kernel streaming the bit corpus: per batch one vectorized
    XOR+popcount matrix and a PER-BATCH partial top-pool, so at most
    queries x pool rows per batch ever reach the shuffle (any global
    top-pool row is in its batch's top-pool under the same (hamming,
    cand_id) order, so batch cuts are lossless — the
    cosine_topk_bruteforce lemma).  A window top-k over the raw
    queries x corpus grid instead shuffles the whole grid: 30 s vs
    ~3 s at 50k vectors x 500 queries.  Only pool-sized candidate
    sets ever touch the full-precision vectors again (the float
    corpus is joined, not broadcast).  Deterministic ranking:
    (hamming asc, cand_id) for the pool, (rounded cosine desc,
    cand_id) for the final k.  The rerank is a JVM sequential fold
    (``dot``), not ``_exact_rerank``'s numpy dot: it carries the pool's
    ``hamming`` column through, and its rounded cosines are the ones
    the oracle hash-checks.

    Contract: ``queries`` must be a subset (by ``id_col``) of
    ``candidates`` — the query bit vectors are read off the corpus
    packing, so an out-of-corpus query returns no rows.
    """
    cb = candidates.select(
        F.col(id_col).alias("cand_id"), sign_bits(F.col(vec_col), d).alias("cbits")
    )
    # Query bits come off the same corpus packing (queries are a
    # filtered view of the corpus in every catalog use) — one bounded
    # collect of the query stripe's packed ints, broadcast to the
    # screen kernel.
    q_ids, q_bits = _collect_bounded(
        cb.join(
            F.broadcast(queries.select(F.col(id_col).alias("cand_id"))),
            "cand_id",
            "left_semi",
        ),
        "hamming_topk_binary queries",
    )

    def screen(side, pdf):
        ids, bits = side
        c_ids = pdf["cand_id"].to_numpy(dtype=np.int64)
        c_bits = pdf["cbits"].to_numpy(dtype=np.int64).view(np.uint64)
        # (n_query, batch) XOR + popcount; the pool ranks distance
        # ascending, so the score is the negated distance
        neg = -_popcount_u64(bits[:, None] ^ c_bits[None, :]).astype(np.float64)
        neg[ids[:, None] == c_ids[None, :]] = -np.inf  # self
        yield ids, c_ids, neg

    pool = _stream_topk(
        cb,
        (q_ids, q_bits.view(np.uint64)),
        screen,
        rerank_pool,
        "query_id long, cand_id long, neg_hamming double",
    ).select("query_id", "cand_id", (-F.col("neg_hamming")).cast("long").alias("hamming"))
    uq = with_unit_vector(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit_vec").alias("uq")
    )
    # Semi-filter the corpus to pool members BEFORE normalizing: the
    # 64-term unit-vector fold runs on <= queries x pool rows, never
    # the full corpus (only the one-int64 sign bits touched everyone).
    uc = with_unit_vector(
        candidates.join(
            F.broadcast(pool.select(F.col("cand_id").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        ),
        vec_col,
    ).select(F.col(id_col).alias("cand_id"), F.col("unit_vec").alias("uc"))
    rr = (
        uc.join(F.broadcast(pool), "cand_id")
        .join(F.broadcast(uq), "query_id")
        .select(
            "query_id",
            "cand_id",
            "hamming",
            F.round(dot(F.col("uq"), F.col("uc")), round_to).alias("cosine"),
        )
    )
    return topk_per_group(
        rr, ["query_id"], [F.desc("cosine"), F.asc("cand_id")], k
    )
