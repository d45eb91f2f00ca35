"""Multimodal-column queries (extended surface): binary payloads +
typed metadata, decode/feature-extract/frame-sample plumbing, and the
streaming windowed aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from qaapi_spark import transforms as _T
from qaapi_spark.operators.multimodal import decode_features, sample_frames, synthesize_media
from qaapi_spark.plans.catalog import query, t
from qaapi_spark.session import scratch_dir as _scratch_dir


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
           octet_length(encode(text)) AS n_bytes,
           CAST(doc_id % 640 + 16 AS INTEGER) AS width,
           CAST(doc_id % 480 + 16 AS INTEGER) AS height,
           CAST(length(text) * 40 AS BIGINT) AS duration_ms
    FROM documents ORDER BY media_id
    """,
    doc="multimodal: binary payload + typed metadata projection (extension)",
)
def multimodal_metadata(spark, sf_dir):
    m = synthesize_media(t(spark, sf_dir, "documents"))
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    ).orderBy("media_id")


@query(
    "multimodal_decode_features",
    # The deterministic fake decode (L1-normalized byte histogram mod 8)
    # is byte-arithmetic over the utf-8 payload, which DuckDB can
    # replay from hex(encode(text)) — so even the decode stand-in gets
    # a value-hash oracle (VERDICT r2 next #5); a real codec would
    # revert this entry to rows-only + golden-file tests.
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    bytes AS (
        SELECT media_id, unnest(range(0, n_bytes)) AS i FROM media
    ),
    vals AS (
        SELECT b.media_id,
               CAST(('0x' || substr(m.hx, CAST(2 * b.i + 1 AS INT), 2)) AS INT) % 8 AS bucket
        FROM bytes b JOIN media m USING (media_id)
    ),
    hist AS (SELECT media_id, bucket, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
    tot AS (SELECT media_id, SUM(cnt) AS total FROM hist GROUP BY 1)
    SELECT m.media_id, m.kind, m.n_bytes,
           ROUND(CASE WHEN t.total IS NULL THEN 0.0
                      ELSE COALESCE(h0.cnt, 0) / t.total END, 6) AS f0,
           ROUND(CASE WHEN t.total IS NULL THEN 0.0
                      ELSE COALESCE(h7.cnt, 0) / t.total END, 6) AS f7
    FROM media m
    LEFT JOIN tot t USING (media_id)
    LEFT JOIN hist h0 ON h0.media_id = m.media_id AND h0.bucket = 0
    LEFT JOIN hist h7 ON h7.media_id = m.media_id AND h7.bucket = 7
    ORDER BY media_id
    """,
    doc="multimodal: Arrow-batched decode/feature-extract stub over binary "
    "payloads (real codecs gated behind import-try); the deterministic "
    "stand-in is hash-verified against a byte-level SQL oracle "
    "(extension)",
)
def multimodal_decode_features(spark, sf_dir):
    m = synthesize_media(t(spark, sf_dir, "documents"))
    f = decode_features(m)
    # project the vector to scalars so the rows-only hash is stable
    return f.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    ).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
        SELECT doc_id AS media_id,
               CAST(length(text) % 240 + 8 AS INTEGER) AS n_frames
        FROM documents WHERE (doc_id % 3) + 1 = 3
    )
    SELECT media_id, n_frames, unnest(range(0, n_frames, 10)) AS frame_idx
    FROM v ORDER BY media_id, frame_idx
    """,
    doc="multimodal: video frame-sampling plumbing (sequence+explode over "
    "typed metadata, payload untouched) (extension)",
)
def multimodal_frame_sample(spark, sf_dir):
    m = synthesize_media(t(spark, sf_dir, "documents"))
    return (
        sample_frames(m, stride=10)
        .select("media_id", "n_frames", F.col("frame_idx").cast("long").alias("frame_idx"))
        .orderBy("media_id", "frame_idx")
    )


@query(
    "stream_windowed_event_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Structured Streaming: watermarked tumbling-window agg over the event "
    "stream, complete-mode replay == batch group-by (extension, SURVEY §2.9)",
)
def stream_windowed_event_counts(spark, sf_dir):
    from qaapi_spark.streaming.incremental import events_windowed_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return events_windowed_counts(spark, f"{sf_dir}/events.parquet").orderBy(
        "window_start", "event_type"
    )


@query(
    "stream_sessionize_closed",
    # the closed-session set is DETERMINISTIC for a bounded input: every
    # session except each user's last (still open at end-of-input), with
    # exact microsecond gap arithmetic on both sides — so the streamed
    # result hashes against the batch lag+cumsum formulation directly
    # (VERDICT r2 next-round #5; batch-equivalence also asserted in
    # tests/test_scale_ops.py)
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           > INTERVAL 1800 SECOND
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    agg AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    ORDER BY user_id, session_start
    """,
    doc="custom stateful streaming operator: per-user sessionization via "
    "applyInPandasWithState, emitting closed sessions; hash-checked "
    "against the batch lag+cumsum oracle (extension, SURVEY §2.9)",
)
def stream_sessionize_closed(spark, sf_dir):
    from qaapi_spark.streaming.stateful import stream_sessionize

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return stream_sessionize(spark, f"{sf_dir}/events.parquet").orderBy(
        "user_id", "session_start"
    )


@query(
    "stream_landing_reconcile_contacts",
    oracle=f"""
    SELECT DISTINCT id AS contact_id,
           timezone('America/Denver', timezone('UTC', epoch_ms(startTime))) AS contact_start_time,
           '{_T.URL_PREFIX}' || CAST(id AS VARCHAR) || '/review' AS contact_url,
           assocCallId AS cjp_session_id
    FROM read_json('/root/repo/fixtures/all_contacts_*.json')
    ORDER BY contact_id
    """,
    doc="streaming landing reconcile (EP1 as a stream): contact batch files "
    "through readStream + foreachBatch insert-only merge into the curated "
    "table — final state equals the batch DISTINCT because duplicate ids "
    "carry identical documents (extension, SURVEY §2.9)",
)
def stream_landing_reconcile_contacts(spark, sf_dir):
    import glob as _glob
    import os
    import tempfile

    from qaapi_spark.operators.partitioned import read_partitioned
    from qaapi_spark.streaming.incremental import stream_landing_reconcile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # stage only the contact batch files (the fixtures dir also holds
    # other entities and the batch2 subdir — a directory stream must
    # see just this entity's files)
    land = _scratch_dir(prefix="stream_land_")
    for p in sorted(_glob.glob("/root/repo/fixtures/all_contacts_*.json")):
        os.symlink(p, os.path.join(land, os.path.basename(p)))
    wh = _scratch_dir(prefix="stream_wh_")
    stream_landing_reconcile(spark, land, wh)
    # curated tables are bucket dirs: the bucket reader drops the
    # physical bucket column
    return read_partitioned(spark, f"{wh}/t_contacts").orderBy("contact_id")


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id
    """,
    doc="streaming exact dedup: events land twice, watermark + "
    "dropDuplicates state recovers one row per event_id — bounded-state "
    "streaming dedup (extension, SURVEY §2.9)",
)
def stream_dedup_events_q(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_dedup_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return stream_dedup_events(spark, f"{sf_dir}/events.parquet").orderBy("event_id")


@query(
    "stream_neardup_dedup_docs",
    # exact verification of every LSH candidate makes the kept set a
    # deterministic function of (batch split, id order, exact pair
    # relation) — reconstructed here in SQL: batch 0 = even doc_ids,
    # batch 1 = odd; within a batch greedy min-id over true pairs;
    # across batches a doc drops iff a KEPT earlier doc is a true
    # near-dup.  Zero-shingle docs never enter the kept output
    # (documented operator contract).  (VERDICT r2 next-round #5;
    # cross-batch drop semantics also in tests/test_streaming_multimodal)
    oracle="""
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
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.id
        JOIN sizes sb ON i.id_b = sb.id
        WHERE ROUND(i.inter * 1.0 / (sa.set_size + sb.set_size - i.inter), 4) >= 0.8
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    eligible AS (
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN sizes s ON d.doc_id = s.id
        WHERE s.set_size >= 1
    ),
    b0 AS (SELECT * FROM eligible WHERE doc_id % 2 = 0),
    b1 AS (SELECT * FROM eligible WHERE doc_id % 2 = 1),
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
    doc="incremental NEAR-dup dedup: documents stream in micro-batches, "
    "each screened against the accumulated minhash-LSH band keys "
    "of all kept docs with exact Jaccard verification of every "
    "candidate (foreachBatch; one store row per ingested doc — band "
    "keys, shingle set, keep decision — is the state, written by the "
    "same insert epoch as stream_neardup_with_deletes, with no "
    "tombstones) — the streaming near-dup half of the dedup surface, "
    "hash-checked against a batch SQL reconstruction (extension, "
    "SURVEY §2.9)",
)
def stream_neardup_dedup_docs(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_neardup_dedup

    # micro-batches are corpus-fractions: few shuffle partitions (the
    # query materializes eagerly, so the conf restores before returning)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # ~13s at sf0.1 is almost entirely per-epoch fixed cost (stream
        # orchestration + codegen of the minhash expression tree + tiny
        # store writes), not data volume — it amortizes at real scale
        return stream_neardup_dedup(spark, f"{sf_dir}/documents.parquet").orderBy(
            "doc_id"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "stream_attribution_join",
    # watermark (48h) wider than the bounded replay's disorder => no
    # late drops, so the streamed inner interval join equals the batch
    # interval join: a stream-stream join with an exact SQL oracle
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           ROUND(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 24 HOUR
    ORDER BY click_id, purchase_id
    """,
    doc="Structured Streaming stream-stream event-time interval join "
    "(click->purchase attribution within 24h): both sides watermarked "
    "+ time-range predicate so each side's state stays bounded to "
    "horizon+watermark — the only shape a stream-stream join can run "
    "forever in (extension, SURVEY §2.9)",
)
def stream_attribution_join(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_interval_join

    return stream_interval_join(spark, f"{sf_dir}/events.parquet").orderBy(
        "click_id", "purchase_id"
    )


@query(
    "stream_static_enrich_segments",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Structured Streaming stream-static join: the event stream "
    "broadcast-joins a static dimension per micro-batch (stateless — "
    "no watermark needed on the static side), complete-mode replay == "
    "the batch aggregate (extension, SURVEY §2.9)",
)
def stream_static_enrich_segments(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_static_enrich

    return stream_static_enrich(
        spark, f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"
    ).orderBy("c_mktsegment")


@query(
    "stream_attribution_left_outer",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           ROUND(p.value, 2) AS purchase_value
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 24 HOUR
    WHERE c.event_type = 'click'
    ORDER BY click_id, purchase_id
    """,
    doc="Structured Streaming LEFT OUTER stream-stream interval join: "
    "unmatched clicks emit null-extended rows once the watermark "
    "passes their window (a sentinel event advances the final "
    "watermark so the bounded replay flushes completely — unneeded "
    "on a real unbounded stream); state bounded to horizon+watermark "
    "per side as in the inner variant (extension, SURVEY §2.9)",
)
def stream_attribution_left_outer(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_interval_join_left

    return stream_interval_join_left(spark, f"{sf_dir}/events.parquet").orderBy(
        "click_id", "purchase_id"
    )


@query(
    "multimodal_phash_dedup",
    # aHash over the decode features: bit j set iff feature[j] exceeds
    # the (sequential-fold) feature mean.  Feature values derive from
    # identical integer histogram/total divisions on both engines, so
    # the unrounded comparisons agree and the 8-bit hash reproduces in
    # SQL — exact-hash bucketing then groups duplicates.
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    bytes AS (
        SELECT media_id, unnest(range(0, n_bytes)) AS i FROM media
    ),
    vals AS (
        SELECT b.media_id,
               CAST(('0x' || substr(m.hx, CAST(2 * b.i + 1 AS INT), 2)) AS INT) % 8 AS bucket
        FROM bytes b JOIN media m USING (media_id)
    ),
    hist AS (SELECT media_id, bucket, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
    tot AS (SELECT media_id, SUM(cnt) AS total FROM hist GROUP BY 1),
    featlist AS (
        SELECT media_id, list(val ORDER BY bucket) AS fl FROM (
            SELECT m.media_id, g.j AS bucket,
                   COALESCE(h.cnt, 0) * 1.0 / t.total AS val
            FROM media m
            CROSS JOIN (SELECT unnest(range(0, 8)) AS j) g
            LEFT JOIN hist h ON h.media_id = m.media_id AND h.bucket = g.j
            JOIN tot t ON t.media_id = m.media_id
        ) GROUP BY media_id
    ),
    hashes AS (
        SELECT f.media_id, m.kind,
               CAST((
                   SELECT SUM(CASE WHEN f.fl[CAST(g.j AS INT) + 1] >
                       list_reduce(f.fl, (a, b) -> a + b) / 8.0
                       THEN 1 << CAST(g.j AS INT) ELSE 0 END)
                   FROM (SELECT unnest(range(0, 8)) AS j) g
               ) AS BIGINT) AS phash
        FROM featlist f JOIN media m USING (media_id)
    )
    SELECT kind, phash, COUNT(*) AS n_items,
           MIN(media_id) AS keep_id, MAX(media_id) AS max_id
    FROM hashes GROUP BY kind, phash HAVING COUNT(*) > 1
    ORDER BY kind, phash
    """,
    doc="perceptual-hash media dedup over the decode features (aHash: "
    "bit j = feature j above the feature mean), exact-hash bucketing "
    "per media kind — ONE hash aggregate, the scale shape of "
    "image/audio near-dup grouping; with real codecs the same "
    "plumbing hashes DCT lowpass coefficients instead (extension: "
    "multimodal x dedup)",
)
def multimodal_phash_dedup(spark, sf_dir):
    from qaapi_spark.operators.multimodal import decode_features, synthesize_media

    f = decode_features(synthesize_media(t(spark, sf_dir, "documents")))
    mean = F.aggregate(
        "features", F.lit(0.0), lambda acc, v: acc + v
    ) / F.lit(8.0)
    phash = None
    for j in range(8):
        term = F.when(
            F.element_at("features", j + 1) > mean, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        phash = term if phash is None else phash + term
    return (
        f.select("kind", phash.alias("phash"), "media_id")
        .groupBy("kind", "phash")
        .agg(
            F.count("*").alias("n_items"),
            F.min("media_id").alias("keep_id"),
            F.max("media_id").alias("max_id"),
        )
        .filter(F.col("n_items") > 1)
        .orderBy("kind", "phash")
    )
