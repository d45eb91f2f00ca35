"""Training-data pipeline operators, wave 2 (extended surface):
telemetry rate-thinning, bag-of-words canonical dedup, per-source
quota capping (RefinedWeb-style domain caps), leakage-safe dataset
splits (near-dup clusters never straddle train/holdout), and int8
embedding quantization.

All five are the day-2 operations of a large-scale corpus pipeline
that the reference's ELT surface (SURVEY §2) does not name but a user
switching from it at 100 TB immediately needs.  Scale posture per op:

- debounce: one window shuffle keyed on user_id (the natural
  high-cardinality partitioner), conditional aggregate after.
- bag-of-words dedup: map-side fingerprint (sorted distinct tokens →
  md5) then ONE hash aggregate — the exact-dedup shape, robust to
  token order / repetition, no pairwise work.
- quota cap: per-source row_number window; sources are the partition
  key so skewed mega-sources are the only hot partitions (salt or
  pre-aggregate candidates per source if a source exceeds an
  executor's memory).
- leakage-safe split: reuses the memoized connected-components labels
  (cc_jaccard_labels — computed once per session) and assigns the
  SPLIT from a hash of the component id, so every member of a
  near-dup cluster lands in the same split; map-only on top of CC.
- int8 quantization: pure per-row array expressions (transform/
  aggregate), no shuffle at all; floats widen to double before any
  arithmetic so the scale and codes are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from qaapi_spark.operators.sampling import frac_to_hex
from qaapi_spark.plans.catalog import query, t
from qaapi_spark.plans.llm_dedup import (
    _DD_JACCARD_PAIRS,
    _DD_SUBSTR_DPOS,
    _DEL_MID,
    _DEL_MOD,
    _DEL_REM,
    _DEL_WHERE,
    _SUBSTR_L,
    cc_jaccard_labels,
)

_DEBOUNCE_US = 6 * 3600 * 1_000_000  # 6 hours, in exact integer microseconds
_QUOTA_K = 10
_TRAIN_FRAC = 0.9


@query(
    "event_debounce_user_6h",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                 ) AS gap
        FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > {_DEBOUNCE_US}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN gap IS NOT NULL AND gap <= {_DEBOUNCE_US}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM g GROUP BY event_type ORDER BY event_type
    """,
    doc="telemetry rate-thinning (debounce): drop an event when the "
    "same user's previous event is within 6 hours — one lag window "
    "keyed on user_id (high-cardinality partitioner, no global sort) "
    "and one conditional aggregate; gaps compare as exact integer "
    "microseconds so both engines agree bit-for-bit (extension: "
    "event-stream thinning before feature extraction)",
)
def event_debounce_user_6h(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC by t(), so the cast
    # to TIMESTAMP is the same wall-clock instant DuckDB's epoch_us sees
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    keep = gap.isNull() | (gap > _DEBOUNCE_US)
    return (
        e.withColumn("keep", keep)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("event_type")
    )


@query(
    "dedup_bow_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS bow
        FROM documents
    )
    SELECT bow, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_id
    FROM fp GROUP BY bow HAVING COUNT(*) >= 2
    ORDER BY bow
    """,
    doc="bag-of-words canonical dedup: documents collapse to the md5 "
    "of their SORTED DISTINCT token set, so permutations and "
    "repetition-only variants of the same vocabulary group together "
    "— a one-aggregate middle ground between exact dedup (too "
    "strict) and pairwise Jaccard (quadratic-ish); fingerprints are "
    "computed map-side, the only shuffle is the hash aggregate on "
    "the 16-byte digest (extension: canonicalizing dedup)",
)
def dedup_bow_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bow = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+")
                )
            ),
            " ",
        )
    )
    return (
        d.select(F.col("doc_id"), bow.alias("bow"))
        .groupBy("bow")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("bow")
    )


@query(
    "curation_domain_quota_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, rk FROM ranked WHERE rk <= {_QUOTA_K}
    ORDER BY source, rk
    """,
    doc="per-source quota capping (RefinedWeb/C4-style domain caps): "
    "keep the top-10 documents per source by length (quality proxy), "
    "so no single domain dominates the training mix — one row_number "
    "window partitioned by source; at 100 TB a pathologically large "
    "source is the only hot partition and pre-filtering candidates "
    "per source (top-k via partial aggregation) bounds it "
    "(extension: corpus curation)",
)
def curation_domain_quota_cap(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _QUOTA_K)
        .orderBy("source", "rk")
    )


@query(
    "sample_split_leakage_safe",
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
    comp AS (SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node)
    SELECT doc_id, comp,
           CASE WHEN substr(md5(CAST(comp AS VARCHAR)), 1, 4)
                     < '{frac_to_hex(_TRAIN_FRAC)}'
                THEN 'train' ELSE 'holdout' END AS split
    FROM comp ORDER BY doc_id
    """,
    doc="leakage-safe train/holdout split: the split bucket hashes the "
    "near-dup COMPONENT id (memoized cc_jaccard_labels), not the "
    "doc id, so two near-duplicate documents can never straddle the "
    "split boundary and leak training text into holdout — the failure "
    "mode of naive per-doc splits that near-dup analysis exists to "
    "prevent; map-only on top of the shared CC relation (extension: "
    "contamination-safe splitting)",
)
def sample_split_leakage_safe(spark, sf_dir):
    labels = cc_jaccard_labels(spark, sf_dir)
    split = F.when(
        F.substring(F.md5(F.col("comp").cast("string")), 1, 4)
        < frac_to_hex(_TRAIN_FRAC),
        F.lit("train"),
    ).otherwise(F.lit("holdout"))
    return (
        labels.select(
            F.col("node").alias("doc_id"), "comp", split.alias("split")
        )
        .orderBy("doc_id")
    )


@query(
    "emb_quantize_int8",
    oracle="""
    WITH m AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   v -> abs(CAST(v AS DOUBLE)))) AS maxabs,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id,
               ROUND(maxabs / 127.0, 8) AS scale,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / maxabs + 0.5)
                             AS BIGINT)) AS codes
        FROM m WHERE maxabs > 0
    )
    SELECT vec_id, scale,
           CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           list_min(codes) AS min_code,
           list_max(codes) AS max_code,
           len(list_filter(codes, c -> c = 0)) AS n_zero
    FROM q ORDER BY vec_id
    """,
    doc="int8 embedding quantization (symmetric, per-vector absmax "
    "scale): codes = floor(x*127/absmax + 0.5), the storage/transport "
    "compression step before ANN at scale (4x smaller than float32, "
    "8x than float64) — pure per-row array expressions, NO shuffle; "
    "every float widens to double before arithmetic and rounding is "
    "floor(+0.5), so scale and codes are bit-identical across "
    "engines (extension: vector compression; PQ in "
    "operators/retrieval.py is the sub-vector generalization)",
)
def emb_quantize_int8(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    xd = lambda v: v.cast("double")  # noqa: E731
    m = e.select(
        "vec_id",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda v: F.abs(xd(v)))
        ).alias("maxabs"),
    ).filter(F.col("maxabs") > 0)
    codes = F.transform(
        "embedding",
        lambda v: F.floor(
            xd(v) * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)
        ),
    )
    q = m.select(
        "vec_id",
        F.round(F.col("maxabs") / F.lit(127.0), 8).alias("scale"),
        codes.alias("codes"),
    )
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(
            "codes", F.lit(0).cast("bigint"), lambda acc, c: acc + c
        ).alias("sum_codes"),
        F.array_min("codes").alias("min_code"),
        F.array_max("codes").alias("max_code"),
        F.size(F.filter("codes", lambda c: c == 0)).alias("n_zero"),
    ).orderBy("vec_id")


_SHARD_MIN_TOKS = 16
_SHARD_CAP = 15
_SHARD_BUDGET = 128


@query(
    "pipeline_corpus_to_shards",
    # Every stage is integer-exact (CC labels, token counts, window
    # ranks, running sums), so the WHOLE four-stage pipeline
    # hash-checks against one recursive-CTE SQL statement.
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
    comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
    kept AS (
        SELECT d.source, d.doc_id,
               len(string_split_regex(trim(lower(d.text)), '\\s+')) AS n_toks
        FROM documents d
        JOIN comp ON d.doc_id = comp.node AND comp.comp = comp.node
        WHERE trim(d.text) <> ''
          AND len(string_split_regex(trim(lower(d.text)), '\\s+'))
              >= {_SHARD_MIN_TOKS}
    ),
    capped AS (
        SELECT source, doc_id, n_toks FROM (
            SELECT source, doc_id, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn <= {_SHARD_CAP}
    ),
    p AS (
        SELECT source, doc_id, n_toks,
               COALESCE(SUM(n_toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM capped
    )
    SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               AS last_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               - CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) + 1
               AS n_chunks
    FROM p ORDER BY source, doc_id
    """,
    doc="the END-TO-END corpus-to-training-shards pipeline in ONE "
    "plan: (1) near-dup dedup keeps the min-id representative per "
    "connected component (memoized cc_jaccard_labels kernel), "
    "(2) a quality gate drops short documents (< 16 ws tokens), "
    "(3) RefinedWeb-style per-source quota capping (first 15 docs "
    "per source by doc_id), (4) concat-and-chunk packing into "
    "128-token training sequences per source shard.  All four stages "
    "are integer-exact, so the composition hash-checks against one "
    "recursive-CTE oracle.  100 TB: CC labels are the standing "
    "label-propagation kernel, the gate is a scan-level filter, cap "
    "and pack are per-source windows (shard-parallel) — no stage "
    "introduces a shuffle the isolated operators didn't already have "
    "(extension: the composed pipeline VERDICT r8 next #7 calls for "
    "on the curation side; composes cc_jaccard_labels + quota cap + "
    "pack_sequences)",
)
def pipeline_corpus_to_shards(spark, sf_dir):
    from qaapi_spark.operators.curation import pack_sequences
    from qaapi_spark.operators.textstats import ws_tokens

    d = t(spark, sf_dir, "documents")
    comp = cc_jaccard_labels(spark, sf_dir)
    keepers = comp.filter(F.col("comp") == F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    kept = (
        d.join(keepers, "doc_id", "left_semi")
        .select(
            "source", "doc_id",
            F.size(ws_tokens(F.lower(F.col("text")))).alias("n_toks"),
        )
        .filter(F.col("n_toks") >= _SHARD_MIN_TOKS)
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SHARD_CAP)
        .drop("rn")
    )
    return pack_sequences(capped, _SHARD_BUDGET).orderBy("source", "doc_id")


@query(
    "pipeline_corpus_to_shards_exactsubstr",
    # The oracle computes n_kept arithmetically (len(w) minus distinct
    # cut positions) — no text rebuild needed when only counts feed
    # the gate/cap/pack stages; the Spark side reuses the apply
    # operator because a real pipeline carries the trimmed TEXT into
    # the shards, not just its length.
    oracle=f"""
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
    nk AS (
        SELECT s.doc_id, len(s.w) - COALESCE(c.n_cut, 0) AS n_toks
        FROM stoks s LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_cut FROM cut GROUP BY doc_id
        ) c USING (doc_id)
    ),
    kept AS (
        SELECT d.source, n.doc_id, n.n_toks
        FROM nk n JOIN documents d USING (doc_id)
        WHERE n.n_toks >= {_SHARD_MIN_TOKS}
    ),
    capped AS (
        SELECT source, doc_id, n_toks FROM (
            SELECT source, doc_id, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM kept
        ) WHERE rn <= {_SHARD_CAP}
    ),
    p AS (
        SELECT source, doc_id, n_toks,
               COALESCE(SUM(n_toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM capped
    )
    SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               AS last_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               - CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) + 1
               AS n_chunks
    FROM p ORDER BY source, doc_id
    """,
    doc="the corpus-to-shards pipeline with ExactSubstr TRIMMING as "
    "the dedup stage (VERDICT r10 next #4: compose the apply step): "
    "(1) exact_substring_apply cuts every duplicated >=10-token span "
    "keeping one canonical occurrence corpus-wide — documents are "
    "TRIMMED, not dropped, so unique prose in a partially-duplicated "
    "doc survives to training (the Lee et al. ACL'22 argument for "
    "ExactSubstr over doc-level dedup), (2) the >=16-token quality "
    "gate applies to the KEPT tokens, (3) per-source quota cap, "
    "(4) concat-and-chunk packing of the trimmed lengths.  Alternative "
    "dedup stage to pipeline_corpus_to_shards' CC-keeper — same gate/"
    "cap/pack tail, so the two relations diff cleanly to show what "
    "span-level trimming saves vs whole-doc dropping (extension)",
)
def pipeline_corpus_to_shards_exactsubstr(spark, sf_dir):
    from qaapi_spark.operators.curation import pack_sequences
    from qaapi_spark.operators.dedup import exact_substring_apply
    from qaapi_spark.plans.llm_dedup import _SUBSTR_L, _shared_substr_dpos

    d = t(spark, sf_dir, "documents")
    trimmed = exact_substring_apply(
        d, _SUBSTR_L, _dpos=_shared_substr_dpos(spark, sf_dir)
    )
    kept = (
        trimmed.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "doc_id", F.col("n_kept").alias("n_toks"))
        .filter(F.col("n_toks") >= _SHARD_MIN_TOKS)
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SHARD_CAP)
        .drop("rn")
    )
    return pack_sequences(capped, _SHARD_BUDGET).orderBy("source", "doc_id")


@query(
    "stream_pipeline_corpus_to_shards",
    # The greedy dedup relation is deterministic under ordered ingest
    # (the stream_neardup_dedup_docs oracle construction, re-expressed
    # over id-RANGE batches), and the gate/pack stages are integer-
    # exact — so the whole composed stream hash-checks against one
    # batch SQL statement.  Batch split point mirrors the staging
    # arithmetic: step = greatest(1, (hi - lo + 2) // 2).
    # Probabilistic-superset assumption (inherited from
    # stream_neardup_dedup_docs, ADVICE r10 #1): the oracle screens
    # with EXACT all-pairs Jaccard while the stream screens via
    # minhash-LSH band collisions (64 hashes / 16 bands), so the
    # hash-check equivalence is data-dependent — a true >=0.8 pair
    # whose bands never collide (~2e-4 per pair) would survive the
    # stream but not the oracle.  test_lsh_candidates_cover_exact_pairs
    # (tests/test_round11_fixes.py) asserts the LSH candidate set
    # covers every exact pair on the check corpora.
    oracle=f"""
    WITH words AS (
        SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents
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
    npairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.id
        JOIN sizes sb ON i.id_b = sb.id
        WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) >= 0.8
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM npairs
        UNION ALL SELECT id_b, id_a FROM npairs
    ),
    bounds AS (
        SELECT MIN(doc_id) AS lo,
               MIN(doc_id) + GREATEST(1, (MAX(doc_id) - MIN(doc_id) + 2) // 2)
                   AS mid
        FROM documents
    ),
    eligible AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN sizes s ON d.doc_id = s.id
        WHERE s.set_size >= 1
    ),
    b0 AS (SELECT e.* FROM eligible e CROSS JOIN bounds WHERE e.doc_id < mid),
    b1 AS (SELECT e.* FROM eligible e CROSS JOIN bounds WHERE e.doc_id >= mid),
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
    ),
    keptall AS (
        SELECT doc_id, source, text FROM kept0
        UNION ALL SELECT doc_id, source, text FROM kept1
    ),
    gated AS (
        SELECT source, doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_toks
        FROM keptall
        WHERE len(string_split_regex(trim(lower(text)), '\\s+'))
              >= {_SHARD_MIN_TOKS}
    ),
    capped AS (
        SELECT source, doc_id, n_toks FROM (
            SELECT source, doc_id, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn <= {_SHARD_CAP}
    ),
    p AS (
        SELECT source, doc_id, n_toks,
               COALESCE(SUM(n_toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM capped
    )
    SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               AS last_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               - CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) + 1
               AS n_chunks
    FROM p ORDER BY source, doc_id
    """,
    doc="the STREAMING twin of pipeline_corpus_to_shards (VERDICT r9 "
    "next #5): new documents arrive in doc_id-ordered micro-batches "
    "and one foreachBatch pipeline screens each batch against the "
    "standing kept corpus (minhash-LSH band store + exact Jaccard "
    "verify), gates the survivors (>= 16 ws tokens), "
    "caps over-quota sources (first 15 per source — EXACT under "
    "ordered ingest: prev-epoch kept count + within-batch rank IS the "
    "global row_number), and appends the rest to training shards from "
    "an O(|sources|) totals+counts snapshot — the production ingest "
    "wave: no stage rescans history, dedup state is one row per "
    "ingested doc (band keys, shingle set, keep decision, source, "
    "n_toks), cap/pack state is |sources| rows — the insert epoch of "
    "stream_pipeline_shards_with_deletes, run with no tombstones.  "
    "Epoch-keyed overwrite writes + strictly-earlier-epoch store "
    "reads make every epoch retry-idempotent (replayed epochs "
    "reproduce identical bytes — unit-tested).  The one designed "
    "difference from the batch pipeline: greedy ordered-arrival dedup "
    "instead of global CC min-id — the only dedup a stream can decide "
    "without future knowledge (extension, SURVEY §2.9)",
)
def stream_pipeline_corpus_to_shards_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_pipeline_corpus_to_shards

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return stream_pipeline_corpus_to_shards(
            spark, f"{sf_dir}/documents.parquet",
            min_toks=_SHARD_MIN_TOKS, budget=_SHARD_BUDGET,
            source_cap=_SHARD_CAP,
        ).orderBy("source", "doc_id")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "stream_pipeline_shards_with_deletes",
    # the stream pipeline relation reconstructed on the LIVE corpus:
    # the stream_neardup_with_deletes two-phase greedy (phases at the
    # staged low/high boundary _DEL_MID) feeding the same gate/cap/pack
    # tail as the insert-only pipeline oracle — retraction must (1)
    # resurrect dedup-dropped docs, (2) release quota slots, and (3)
    # shift every later same-source doc's rank and start_tok, and all
    # three fall out of computing the batch formula over live docs.
    oracle=f"""
    WITH live AS (
        SELECT doc_id, source, text FROM documents WHERE {_DEL_WHERE}
    ),
    words AS (
        SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM live
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
    npairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.id
        JOIN sizes sb ON i.id_b = sb.id
        WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) >= 0.8
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM npairs
        UNION ALL SELECT id_b, id_a FROM npairs
    ),
    eligible AS (
        SELECT d.doc_id, d.source, d.text
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
    ),
    keptall AS (
        SELECT doc_id, source, text FROM kept0
        UNION ALL SELECT doc_id, source, text FROM kept1
    ),
    gated AS (
        SELECT source, doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_toks
        FROM keptall
        WHERE len(string_split_regex(trim(lower(text)), '\\s+'))
              >= {_SHARD_MIN_TOKS}
    ),
    capped AS (
        SELECT source, doc_id, n_toks FROM (
            SELECT source, doc_id, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn <= {_SHARD_CAP}
    ),
    p AS (
        SELECT source, doc_id, n_toks,
               COALESCE(SUM(n_toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM capped
    )
    SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               AS last_chunk,
           CAST(FLOOR((start_tok + n_toks - 1) / {_SHARD_BUDGET}.0) AS BIGINT)
               - CAST(FLOOR(start_tok / {_SHARD_BUDGET}.0) AS BIGINT) + 1
               AS n_chunks
    FROM p ORDER BY source, doc_id
    """,
    doc="the composed corpus-to-shards pipeline under streaming "
    "inserts AND retraction — the last insert-only streaming family "
    "to gain deletes (VERDICT r12 next #2; the reference's J5 "
    "delete-then-reconcile applied to a derived artifact, 'Update "
    "Calabrio Tables from Staging Tables (D_POST_INSTALL).sql':85-92): "
    "a tombstoned doc re-opens its component's greedy dedup decisions, "
    "RELEASES its per-source quota slot (the next capped-out doc is "
    "readmitted), and invalidates its packed chunks — the delete epoch "
    "rebuilds the AFFECTED SOURCES' packs from the fused store "
    "(bands + shingles + gate inputs per eligible doc) and resets "
    "their totals snapshots, so later inserts append with correct "
    "offsets and the final relation equals the batch gate/cap/pack "
    "over the live kept corpus (extension, SURVEY §2.9; "
    "streaming/retraction.stream_pipeline_corpus_to_shards_with_"
    "deletes)",
)
def stream_pipeline_shards_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import (
        stream_pipeline_corpus_to_shards_with_deletes,
    )

    # rows_per_file (VERDICT r14 next #1: the r14 write-width valve is
    # now the certified default on this query): 128 sizes the delete
    # epoch's whole-source pack rebuild to ~4 files at the certified
    # SFs — the multi-task write path carries the driver value-hash
    # row.  A deployment sets it to target-file-bytes / row-width.
    return stream_pipeline_corpus_to_shards_with_deletes(
        spark, f"{sf_dir}/documents.parquet",
        min_toks=_SHARD_MIN_TOKS, budget=_SHARD_BUDGET,
        source_cap=_SHARD_CAP, del_mod=_DEL_MOD, del_rem=_DEL_REM,
        rows_per_file=128,
    ).orderBy("source", "doc_id")
