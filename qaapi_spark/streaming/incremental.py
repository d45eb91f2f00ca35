"""Structured-Streaming twins of the batch surface (SURVEY.md §2.9
extension: the reference is strictly batch; this is the incremental
upgrade path).  Each twin runs the bounded test data through a real
streaming query with the availableNow trigger, so the plumbing is the
one an unbounded source (Kafka, autoloader directory) would use, and
each final relation equals its batch query's — hence shares its
DuckDB oracle.

Three shapes:
  - memory-sink streams: engine-managed state behind a watermark —
    windowed counts (`events_windowed_counts`), exact dedup
    (`stream_dedup_events`), event-time interval joins
    (`stream_interval_join[_left]`) and a stream-static join
    (`stream_static_enrich`);
  - foreachBatch twins that fold each staged slice (an epoch) into
    parquet stores they own: mergeable state (HLL registers, weighted
    top-k, first-seen days), epoch-keyed appends (IVF assignments, PQ
    codes, covariance moments), ordered-ingest snapshots (packed
    offsets) and an incrementally maintained relation (CC labels) —
    plus the landing-directory reconcile (`stream_landing_reconcile`),
    EP1 as a stream;
  - `compact_epoch_store`, the periodic fold of an epoch store's deltas.

The stager, runners, stores, guards and the epoch contract they obey
live in `streaming/epochs.py`; streaming/retraction.py adds the
delete-capable twins.  Four families — ExactSubstr apply, greedy
near-dup, corpus-to-shards and SCD2 — have ONE insert epoch each, in
streaming/retraction.py, where their insert-only twins live too and
run it with no tombstone store (as `stream_cc_labels_incremental` runs
`_cc_labels_epoch` here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qaapi_spark.operators.dedup import _collision_pairs, _verify_jaccard
from qaapi_spark.session import scratch_dir
from qaapi_spark.sources.tables import footer_min_max, swap
from qaapi_spark.streaming.epochs import (
    ORDERED_CONF,
    STATE_CONF,
    EpochStore,
    Guards,
    foreach_epoch,
    par_writes,
    range_slices,
    run_epochs,
    run_to_memory,
    stage_slices,
    tombstones,
)


def _linked_events(spark: SparkSession, events_path: str, prefix: str, n_links=1):
    """``events_path`` as a file stream: FileStreamSource wants a
    directory, so the file is symlinked into one (zero-copy) — ``n_links``
    times, each link one more arrival of every row.  Returns
    ``(stage_dir, open_stream)``; ``open_stream()`` starts a new stream
    over the dir with ``ts`` as a watermarkable TIMESTAMP (the schema
    must be known up front: the RAW on-disk shape, normalized in-stream)."""
    from qaapi_spark.sources.tables import events_stream_spec

    raw_schema, normalize_ts = events_stream_spec(spark, events_path)
    stage_dir = scratch_dir(prefix)
    for i in range(n_links):
        os.symlink(
            os.path.abspath(events_path), os.path.join(stage_dir, f"part-{i}.parquet")
        )

    def open_stream() -> DataFrame:
        return normalize_ts(
            spark.readStream.schema(raw_schema).format("parquet").load(stage_dir)
        )

    return stage_dir, open_stream


def events_windowed_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts per event_type over a parquet-backed
    stream; returns the final (complete-mode) result as a batch DF.

    complete output mode => bounded replay produces exactly the batch
    group-by result, so the query is DuckDB-oracle checkable while
    still exercising watermark + window state machinery.
    """
    _, open_stream = _linked_events(spark, events_path, "events_stream_")
    agg = (
        open_stream()
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return run_to_memory(agg, "complete").select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


def stream_landing_reconcile(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    pattern: str = "all_contacts_*.json",
) -> dict[str, int]:
    """Reference EP1 as a stream: watch the landing directory for
    contact batch files and merge each micro-batch insert-only into
    the curated contacts table (foreachBatch => exactly-once per
    epoch against an idempotent merge).
    """
    from qaapi_spark import transforms as T
    from qaapi_spark.operators.maintain import merge_insert_only
    from qaapi_spark.pipeline import CalabrioPipeline
    from qaapi_spark.schemas import ENTITY_SCHEMAS

    pipe = CalabrioPipeline(spark, warehouse_dir)
    stream = (
        spark.readStream.schema(ENTITY_SCHEMAS["all_contacts"])
        .option("multiLine", "true")
        .option("pathGlobFilter", pattern)
        .json(landing_dir)
    )

    def upsert_batch(batch_df: DataFrame, epoch_id: int) -> None:
        new = T.contacts_curated(batch_df).dropDuplicates(["contact_id"])
        pipe._reconcile(
            "t_contacts",
            new,
            ["contact_id"],
            lambda t, b: merge_insert_only(t, b, ["contact_id"]),
        )

    foreach_epoch(
        stream, upsert_batch, checkpoint=warehouse_dir + "/_checkpoints/contacts"
    )
    out = pipe.read("t_contacts")
    return {"t_contacts": out.count() if out is not None else 0}


def stream_dedup_events(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming exact dedup: the event file staged TWICE into the
    landing dir (every row arrives at least twice), recovered to one
    row per event_id with watermark + dropDuplicates.

    This is the streaming half of the dedup surface (operators/dedup
    is the batch half): state holds one key per event inside the
    watermark horizon; duplicates beyond the watermark age out of
    state, which is the bounded-memory contract an unbounded source
    needs.  Append mode + availableNow => the materialized result is
    exactly the distinct event set, hence DuckDB-oracle checkable.
    The stateful stage runs at `STATE_CONF` width.
    """
    _, open_stream = _linked_events(spark, events_path, "events_dup_stream_", 2)
    deduped = (
        open_stream()
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return run_to_memory(deduped, "append", STATE_CONF)


def _batch_bands(bdf: DataFrame, num_hashes: int, n_bands: int):
    """``(sets, bands_arr, keys)`` of a batch: its hashed bigram sets
    (docs with no shingle dropped), one row of pre-exploded band arrays
    per doc — the form the band stores persist — and the exploded
    (id, band, bsig) probe keys.  ``sets`` and ``bands_arr`` come back
    PERSISTED (the caller unpersists): both feed the screens and the
    store write.

    Signatures (`operators/dedup._minhash_sig`, the batch kernels'
    expression) derive from the persisted sets, so an epoch tokenizes
    the batch text once (round-10 probe: a second tokenize+shingle+hash
    pass was part of the ~3.2 s/epoch floor)."""
    from qaapi_spark.operators.dedup import (
        _hashed_shingle_sets,
        _minhash_sig,
        minhash_band_arrays,
    )

    sets = (
        _hashed_shingle_sets(bdf, 2, "text", "doc_id")
        .filter(F.size("sh") > 0)
        .persist()
    )
    signed = sets.select("id", _minhash_sig(F.col("sh"), num_hashes).alias("sig"))
    bands_arr = minhash_band_arrays(signed, num_hashes, n_bands).persist()
    return sets, bands_arr, _band_keys(bands_arr)


def _band_keys(df: DataFrame, id_as: str = "id") -> DataFrame:
    """(``id_as``, band, bsig): one row per band of each doc of a
    band-array relation (a narrow explode, no shuffle)."""
    return df.select(F.col("id").alias(id_as), F.explode("bands").alias("bk")).select(
        id_as, "bk.band", "bk.bsig"
    )


def _parity_slices(df: DataFrame, id_col: str) -> list:
    """Two slices by ``id_col`` parity: two micro-batches, so each
    store genuinely accumulates across epochs."""
    return [df.filter(F.col(id_col) % 2 == 0), df.filter(F.col(id_col) % 2 == 1)]


def _attribution(open_stream, left_type, right_type, horizon, watermark, how):
    """The click->purchase interval join of the two attribution
    streams: each ``right_type`` event joins the same user's
    ``left_type`` events within ``horizon`` BEFORE it.  A stream-stream
    join keeps FOUR state stores per shuffle partition (left/right x
    keyToNumValues/keyWithIndexToValue), so it runs at `STATE_CONF`
    width (measured ~9 s -> ~4 s at sf0.1)."""

    def side(tp: str, alias: str) -> DataFrame:
        return (
            open_stream()
            .filter(F.col("event_type") == tp)
            .withWatermark("ts", watermark)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
                F.col("value").alias(f"{alias}_value"),
            )
        )

    joined = side(left_type, "c").join(
        side(right_type, "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )
    return run_to_memory(joined, "append", STATE_CONF)


def stream_interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "24 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """Stream-stream event-time interval join (attribution): each
    ``right_type`` event joins the same user's ``left_type`` events
    that happened within ``horizon`` BEFORE it — the canonical
    click->purchase attribution query.

    Both sides are watermarked and the join carries the event-time
    range predicate, so Structured Streaming can bound each side's
    state to the horizon + watermark window — the property that makes
    a stream-stream join runnable forever at scale (without the time
    bound, both states grow without limit; Spark refuses outer
    variants for exactly that reason).  With an availableNow bounded
    replay and a watermark wider than the data's disorder, no row is
    late-dropped, so the streamed inner join equals the batch interval
    join and the query is DuckDB-oracle checkable.
    """
    _, open_stream = _linked_events(spark, events_path, "events_ssj_")
    out = _attribution(open_stream, left_type, right_type, horizon, watermark, "inner")
    return out.select(
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
        F.round("p_value", 2).alias("purchase_value"),
    )


def stream_static_enrich(
    spark: SparkSession,
    events_path: str,
    customer_path: str,
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a STATIC
    dimension (customers) that Spark re-plans per micro-batch — the
    stateless counterpart of stream_interval_join (no watermark or
    state needed on the static side; the dim broadcasts into every
    batch exactly like a batch BroadcastHashJoin).  Output: per-segment
    event counts + value sums, complete mode == the batch group-by.
    """
    _, open_stream = _linked_events(spark, events_path, "events_enrich_")
    dim = spark.read.parquet(customer_path).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        open_stream()
        .join(F.broadcast(dim), "user_id")  # static side: no state
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return run_to_memory(agg, "complete")


def stream_interval_join_left(
    spark: SparkSession,
    events_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "24 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream event-time interval join: like
    :func:`stream_interval_join`, plus every unmatched ``left_type``
    event emits a null-extended row once the watermark passes its join
    window — the attribution variant that also surfaces clicks that
    never converted.

    Outer emission is watermark-driven, so a bounded replay needs the
    watermark to cross the LAST real event's window before the query
    stops.  A sentinel file (one far-future event per joined type,
    negative ids, disjoint users) rides behind the data: it passes the
    per-side type filters, advances the event-time watermark past
    every real window, and the no-data finalization batch then flushes
    all pending state.  Sentinels are filtered from the result by id
    sign.  This makes the streamed LEFT join value-equal to the batch
    LEFT interval join — and therefore oracle-checkable.

    At scale the sentinel trick is not needed (an unbounded stream's
    watermark keeps advancing); state stays bounded to horizon +
    watermark per side exactly as in the inner variant.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage_dir, open_stream = _linked_events(spark, events_path, "events_ssjl_")
    # Derive the watermark-flush sentinel driver-side from parquet
    # footer statistics (no Spark job): the replay previously spent
    # two fixed jobs — a full-scan max(ts) aggregate plus a
    # createDataFrame->write for the 2-row sentinel — on what the
    # file's own row-group stats and a direct pyarrow write answer in
    # milliseconds (round-9 probe: those jobs were ~1.5 s of the
    # ~8 s replay; the join itself is machinery-bound, SCALE.md r9).
    # Stats are an optimization, not a format guarantee (ADVICE r9 #4),
    # so the exact one-job aggregate covers files without them.
    mm = footer_min_max(events_path, "ts")
    if mm is not None:
        max_us = mm[1]
    else:
        from qaapi_spark.sources.tables import events_stream_spec

        raw_schema, normalize_ts = events_stream_spec(spark, events_path)
        max_us = (
            normalize_ts(spark.read.schema(raw_schema).parquet(events_path))
            .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))))
            .collect()[0][0]
        )
    if max_us is None:
        raise ValueError(
            f"stream_interval_join_left: {events_path} has no rows "
            "with a non-null ts — cannot derive a watermark-flush "
            "sentinel for the bounded replay"
        )
    schema = pq.read_schema(events_path)
    ts_type = schema.field("ts").type
    # the sentinel stays in the file's own physical unit, so the
    # streaming reader's normalize_ts path treats it exactly like real rows
    per_us = {"s": 10**-6, "ms": 10**-3, "us": 1, "ns": 1000}[ts_type.unit]
    day_us = 86400 * 10**6
    flush = [int((max_us + k * day_us) * per_us) for k in (10, 20)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": pa.array(flush, ts_type),
                "user_id": pa.array([-1, -2], pa.int64()),
                "event_type": pa.array([left_type, right_type], pa.string()),
                "value": pa.array([None, None], pa.float64()),
                "props": pa.array([None, None], pa.string()),
            },
            schema=schema,
        ),
        os.path.join(stage_dir, "part-1.parquet"),
    )
    out = _attribution(open_stream, left_type, right_type, horizon, watermark, "leftOuter")
    return out.filter(F.col("c_id") >= 0).select(
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("c_user").alias("user_id"),
        F.round(F.col("p_value"), 2).alias("purchase_value"),
    )


def stream_hll_running(
    spark: SparkSession,
    events_path: str,
    n_splits: int = 3,
    p: int = 8,
) -> DataFrame:
    """Streaming distinct-count via MERGEABLE HLL register state: each
    micro-batch computes its own (group, bucket) -> max-rho registers
    and MAX-merges them into a tiny parquet register store (2**p rows
    per group, however much data streams through).  Register-max merge
    is associative and commutative, so the final state is bit-equal to
    the batch computation over all the data — which makes the running
    streaming sketch value-hash-checkable against the SAME DuckDB
    oracle as the batch `sketch_hll_portable` query.

    The input file is staged as ``n_splits`` disjoint id-range slices
    so availableNow really exercises cross-batch merging (one file per
    trigger), not a single-batch degenerate run.
    """
    from qaapi_spark.sources.tables import events_stream_spec

    raw_schema, _ = events_stream_spec(spark, events_path)
    raw = spark.read.schema(raw_schema).parquet(events_path)
    slices, _, _ = range_slices(raw, "event_id", n_splits, src=events_path)
    stage_dir, schema = stage_slices("events_hll_stream_", slices, ("event_id",))
    regs_root = scratch_dir("events_hll_store_") + "/regs"

    m = 1 << p
    hex_b = p // 4
    h = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, hex_b), 16, 10).cast("int")
    w = F.conv(F.substring(h, hex_b + 1, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))

    def merge_batch(bdf, epoch_id: int) -> None:
        regs = (
            bdf.select("event_type", bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("mj"))
        )
        store = EpochStore(bdf.sparkSession, regs_root)
        prev = store.current()
        if prev is not None:
            regs = (
                regs.unionByName(prev)
                .groupBy("event_type", "bucket")
                .agg(F.max("mj").alias("mj"))
            )
        # tiny relation (groups x 2**p rows): rewrite wholesale per epoch
        store.replace(regs)

    run_epochs(spark, schema, stage_dir, merge_batch, STATE_CONF)

    # final estimate from the merged register store: reuse the batch
    # estimator arithmetic by round-tripping registers through the
    # identical formula (operators/sketches.hll_portable over a
    # synthetic relation would re-hash, so compute from registers
    # directly with the same expressions)
    two49 = 1 << 49
    per_group = EpochStore(spark, regs_root).current().groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 49 - mj)")).alias("s_present"),
        F.count("*").alias("nb"),
    )
    v = F.lit(m) - F.col("nb")
    s = F.col("s_present") + v.cast("long") * F.lit(two49)
    numer = 0.7213 / (1.0 + 1.079 / m) * float(m) * float(m) * float(two49)
    e_raw = F.lit(numer) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return per_group.select("event_type", F.round(est, 4).alias("hll_est"))


def _append_stream(corpus: DataFrame, id_col: str, prefix: str, epoch_fn):
    """Replay ``corpus`` in two parity slices of ``id_col`` through
    ``epoch_fn(bdf) -> delta``, each epoch's delta appended to an
    epoch-keyed store (overwrite per epoch: idempotent on retry).
    Returns ``(store, stage_dir)``.  The map-only embedding twins: a delta depends
    only on its batch and a fixed broadcast model, so the store equals
    the batch relation row for row; no repartition — the kernels are
    map-only over whatever partitioning the source delivers, and a
    shuffle on a one-file batch costs more than the kernel."""
    spark = corpus.sparkSession
    stage_dir, schema = stage_slices(
        prefix + "stream_", _parity_slices(corpus, id_col), (id_col,)
    )
    store = EpochStore(spark, scratch_dir(prefix + "store_"))
    run_epochs(
        spark, schema, stage_dir, lambda bdf, e: store.write(epoch_fn(bdf), e)
    )
    return store, stage_dir


def stream_ivf_assign(
    spark: SparkSession,
    embeddings_path: str,
    n_centroids_mod: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental vector indexing: embeddings arrive in micro-batches
    and each batch is assigned MAP-ONLY to its nearest centroid of the
    fixed deterministic-stripe codebook (the ``ann_topk_ivf``
    configuration, `operators/similarity.cosine_topk_ivf`), then
    appended to an epoch-keyed assignment store — new vectors join the
    IVF index without touching anything already indexed, which is how
    a serving-side ANN index absorbs a corpus that keeps growing.

    The codebook is fixed at index-build time (exactly like a trained
    production IVF index); a batch's assignment depends only on the
    batch and the broadcast codebook, so the streamed store equals the
    batch assignment relation row-for-row — asserted by
    ``tests/test_streaming_multimodal.py`` — and the operator is
    oracle-ready for the catalog (same SQL as the ``assigned`` CTE of
    ann_topk_ivf's oracle).

    Scale shape: per epoch one Arrow kernel pass over the batch
    (broadcast codebook GEMM), one single-file store append; no
    shuffle, no state beyond the store itself.
    """
    from qaapi_spark.operators.similarity import nearest_broadcast

    corpus = spark.read.parquet(embeddings_path)
    cents = corpus.filter(F.col(id_col) % n_centroids_mod == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )

    def assign(bdf: DataFrame) -> DataFrame:
        return nearest_broadcast(
            bdf, cents, 1,
            stream_id=id_col, stream_vec=vec_col,
            ref_id="centroid_id", ref_vec="cvec",
        ).select(
            F.col("query_id").alias(id_col),
            F.col("cand_id").alias("centroid_id"),
            F.col("cosine").alias("centroid_cosine"),
        )

    store, _ = _append_stream(corpus, id_col, "emb_ivf_", assign)
    return store.read().select(id_col, "centroid_id", "centroid_cosine")


def stream_pq_encode(
    spark: SparkSession,
    embeddings_path: str,
    m: int = 16,
    ksub: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental PQ code maintenance — the second half of the
    serving-index story next to :func:`stream_ivf_assign`: embedding
    micro-batches are compressed MAP-ONLY to their m per-subspace
    codes against the fixed broadcast sampled codebook
    (`operators/retrieval.pq_codebook(train_iters=0)`, the
    ann_topk_pq_sampled configuration) and appended to an epoch-keyed
    code store.  New vectors join the compressed index without
    touching existing codes, and because the sampled codebook is
    fixed-point int64 the streamed store equals the batch encode
    relation exactly — the catalog oracle is the `enc` CTE of
    ann_topk_pq_sampled's SQL, exploded to (vec_id, j, code).

    Scale shape: per epoch one Arrow encode kernel over the batch
    (broadcast m*ksub*dsub int codebook), one store append; no
    shuffle.  At 100 TB the code store (m bytes/vector) IS what ADC
    serving reads.
    """
    from qaapi_spark.operators.retrieval import pq_codebook, pq_encode

    corpus = spark.read.parquet(embeddings_path)
    cb = pq_codebook(
        corpus, m=m, ksub=ksub, train_iters=0, vec_col=vec_col, id_col=id_col
    )
    store, _ = _append_stream(
        corpus, id_col, "emb_pq_",
        lambda bdf: pq_encode(bdf, cb, vec_col=vec_col, id_col=id_col),
    )
    return store.read().select(
        F.col("id").alias(id_col),
        F.posexplode("codes").alias("j", "code"),
    )


def stream_covariance_update(
    spark: SparkSession,
    embeddings_path: str,
    round_dp: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming covariance / embedding-drift maintenance: embedding
    micro-batches are reduced MAP-ONLY to their exact integer moment
    partials (`operators/linalg.gram_partials` — d x d Gram + linear
    sums + count in 6dp fixed point) and appended to an epoch-keyed
    moment store; the covariance of everything seen so far is
    recovered by SUMMING the store and closing the fixed arithmetic
    (`covariance_from_moments`).

    Integer sums are addition-mergeable — order- and
    grouping-independent — so the streamed store's covariance equals
    the batch `covariance_upper` BIT-FOR-BIT and the catalog query
    shares `emb_covariance_upper`'s DuckDB oracle (the additive-merge
    counterpart of the register-MAX trick that gave the streaming HLL
    its batch oracle).

    Scale shape: per epoch one Arrow kernel pass over the batch, one
    d(d+1)/2 + d + 1 row store append; no shuffle, state is O(d^2)
    regardless of how much the stream has seen — the moment store IS
    the drift monitor a training pipeline consults between snapshots.
    The staged corpus copy is the one scratch dir here that scales
    with corpus size, so it is dropped as soon as the stream ends
    (the moment store the returned lazy DF reads stays until exit).
    """
    from qaapi_spark.operators.linalg import covariance_from_moments, gram_partials

    store, stage_dir = _append_stream(
        spark.read.parquet(embeddings_path), id_col, "emb_cov_",
        lambda bdf: gram_partials(bdf, vec_col),
    )
    import shutil

    shutil.rmtree(stage_dir, ignore_errors=True)
    return covariance_from_moments(store.read().select("i", "j", "v"), round_dp)


def _merge_weighted_sample_batch(bdf, store_dir: str, k: int, seed: str) -> None:
    """One merge step of the streaming weighted-WOR sample, module-level
    so retry-idempotence is unit-testable (tests/test_round9_fixes.py
    replays the same batch twice).

    Merge contract: union new batch keys with the bounded store,
    dedup, keep the k smallest A-ES keys per group, atomically swap
    the store.  Applying the SAME batch twice must leave the store
    bit-identical (foreachBatch retries replay batches)."""
    from pyspark.sql import Window

    from qaapi_spark.operators.sampling import weighted_sample_wor_per_group
    from qaapi_spark.operators.textstats import ws_tokens

    store = EpochStore(bdf.sparkSession, store_dir)
    toks = bdf.select(
        "doc_id",
        "lang",
        F.size(ws_tokens(F.lower(F.col("text")))).alias("n_tokens"),
    )
    batch_top = weighted_sample_wor_per_group(
        toks, "lang", k, "n_tokens", id_col="doc_id", seed=seed
    ).select("grp", "id", "weight", "es_key")
    prev = store.current()
    if prev is not None:
        batch_top = batch_top.unionByName(prev)
    # Retry-idempotence: if foreachBatch replays a batch whose rows
    # already merged into the store, the union holds exact duplicate
    # (grp, id, es_key) rows; both copies would count toward the k
    # smallest and evict legitimate ids (ADVICE r8 #1).  Duplicates
    # are exact copies (es_key is a pure function of id+seed), so a
    # key-dedup restores idempotence.
    batch_top = batch_top.dropDuplicates(["grp", "id"])
    win = Window.partitionBy("grp").orderBy(F.asc("es_key"), F.asc("id"))
    # groups x k rows: rewrite wholesale per epoch (idempotent)
    store.replace(
        batch_top.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def stream_weighted_sample(
    spark: SparkSession,
    docs_path: str,
    k: int = 5,
    n_splits: int = 3,
    seed: str = "wrs1",
) -> DataFrame:
    """Streaming weighted sampling WITHOUT replacement via MERGEABLE
    top-k state: documents arrive in micro-batches and each batch's
    A-ES keys (-ln(u)/w from the deterministic md5 uniform —
    operators/sampling.weighted_sample_wor_per_group) compete against
    the accumulated k-smallest-keys-per-group store.  min-k selection
    over (key, id) is associative and commutative, so the final state
    is exactly the batch sampler's selection over all the data —
    which makes the running stream value-hash-checkable against the
    SAME DuckDB oracle as the batch `sample_weighted_wor_per_lang`
    query (the stream_hll_running contract, applied to sampling).

    This is how a training-mixture sampler keeps a live weighted
    sample over an unbounded corpus feed: state is groups x k rows no
    matter how much data streams through; each epoch's work is one
    map-only key computation + a groups-x-k-bounded merge.
    """
    from pyspark.sql import Window

    raw = spark.read.parquet(docs_path)
    slices, _, _ = range_slices(raw, "doc_id", n_splits, src=docs_path)
    stage_dir, schema = stage_slices("docs_wrs_stream_", slices)
    store_dir = scratch_dir("docs_wrs_store_") + "/topk"
    run_epochs(
        spark, schema, stage_dir,
        lambda bdf, e: _merge_weighted_sample_batch(bdf, store_dir, k, seed),
        STATE_CONF,
    )
    win = Window.partitionBy("grp").orderBy(F.asc("es_key"), F.asc("id"))
    return (
        EpochStore(spark, store_dir).current()
        .withColumn("rank", F.row_number().over(win))
        .select(
            F.col("grp").alias("lang"),
            F.col("id").alias("doc_id"),
            F.col("weight").cast("long").alias("n_tokens"),
            "es_key",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def stream_running_distinct(
    spark: SparkSession,
    events_path: str,
    n_splits: int = 3,
) -> DataFrame:
    """Streaming EXACT running-distinct-users curve via MIN-mergeable
    first-seen state: each micro-batch reduces to (user_id, min
    epoch-day) and MIN-merges into the first-seen store.  min() over
    first-seen days is associative and commutative, so the final state
    is bit-equal to the batch first-seen relation REGARDLESS of
    arrival order — the streamed growth curve hash-checks against the
    same DuckDB oracle as the batch `running_distinct_users_daily`
    query (the stream_hll_running contract, applied to the exact
    computation).

    State is |users| rows — the honest cost of exactness; the
    bounded-state companion is `stream_hll_running` (2^p registers per
    group).  Per-epoch work: one map-side-combined user aggregate over
    the batch plus a |users|-bounded merge.
    """
    from pyspark.sql import Window

    from qaapi_spark.sources.tables import events_stream_spec

    raw_schema, normalize_ts = events_stream_spec(spark, events_path)
    raw = spark.read.schema(raw_schema).parquet(events_path)
    slices, _, _ = range_slices(raw, "event_id", n_splits, src=events_path)
    stage_dir, schema = stage_slices("events_rdist_stream_", slices, ("event_id",))
    seen_root = scratch_dir("events_rdist_store_") + "/first_seen"

    def merge_batch(bdf, epoch_id: int) -> None:
        seen = normalize_ts(bdf).groupBy("user_id").agg(
            F.min(F.floor(F.unix_timestamp("ts") / 86400)).alias("day_s")
        )
        store = EpochStore(bdf.sparkSession, seen_root)
        prev = store.current()
        if prev is not None:
            seen = (
                seen.unionByName(prev)
                .groupBy("user_id")
                .agg(F.min("day_s").alias("day_s"))
            )
        store.replace(seen)

    run_epochs(spark, schema, stage_dir, merge_batch, STATE_CONF)

    d = EpochStore(spark, seen_root).current().groupBy("day_s").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day_s").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "day_s",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    )


def _chunks(placed: DataFrame, budget: int) -> DataFrame:
    """The packed-chunk columns of rows carrying ``start_tok``."""
    return placed.select(
        "source",
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        "start_tok",
        F.floor(F.col("start_tok") / F.lit(budget)).cast("long").alias("first_chunk"),
        F.floor((F.col("start_tok") + F.col("n_toks") - 1) / F.lit(budget))
        .cast("long")
        .alias("last_chunk"),
    ).withColumn("n_chunks", F.col("last_chunk") - F.col("first_chunk") + 1)


def stream_pack_chunks(
    spark: SparkSession,
    docs_path: str,
    budget: int = 128,
    n_splits: int = 3,
) -> DataFrame:
    """Streaming concat-and-chunk shard formation: documents arrive in
    doc_id-ordered micro-batches and each batch's rows are assigned
    their packed offsets from an O(|sources|) running-total state —
    new documents append to training shards without ever recomputing
    earlier offsets, the incremental counterpart of the batch
    `pack_sequences` operator (same output schema, same oracle).

    Ordered ingest is the CONTRACT (shard formation consumes an
    ordered feed): slices are doc_id ranges staged as one sorted file
    each, so cross-batch per-source doc_id order holds; within a
    batch the offset window orders by doc_id.  Under that contract
    the streamed relation is bit-equal to the batch pack.  Staging
    only the narrow (source, doc_id, n_toks) projection is the 100 TB
    shape (the replay never ships text).

    Retry-idempotent BY CONSTRUCTION (the ADVICE r8 #1 class of bug
    cannot occur): state is written as per-epoch SNAPSHOTS — epoch e
    derives everything from the newest earlier snapshot plus the batch
    content and overwrites its own snapshot and output partition, so
    a replayed epoch reproduces identical bytes instead of
    double-counting into a mutated store.  Snapshot size is
    |sources| rows; per-epoch work is one per-source window over the
    batch plus a |sources|-sized outer merge.
    """
    from pyspark.sql import Window

    from qaapi_spark.operators.textstats import ws_tokens

    narrow = spark.read.parquet(docs_path).select(
        "source", "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_toks")
    )
    # the projection keeps doc_id intact, so the file's footer bounds hold
    slices, _, _ = range_slices(narrow, "doc_id", n_splits, src=docs_path)
    stage_dir, schema = stage_slices("docs_pack_stream_", slices, ("source", "doc_id"))
    totals_root = scratch_dir("docs_pack_store_")
    out = EpochStore(spark, scratch_dir("docs_pack_out_"))

    def merge_batch(bdf, epoch_id: int) -> None:
        totals = EpochStore(bdf.sparkSession, totals_root)
        prev = totals.latest(epoch_id, "source string, total_toks long")
        b = bdf.filter(F.col("n_toks") > 0)
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = F.coalesce(F.sum("n_toks").over(w), F.lit(0))
        placed = (
            b.withColumn("cum_before", cum)
            .join(F.broadcast(prev), "source", "left")
            .withColumn(
                "start_tok",
                (F.coalesce(F.col("total_toks"), F.lit(0)) + F.col("cum_before"))
                .cast("long"),
            )
        )
        out.write(_chunks(placed, budget), epoch_id, width=None)
        bsum = b.groupBy("source").agg(F.sum("n_toks").alias("b_toks"))
        totals.write(
            prev.join(bsum, "source", "full_outer").select(
                "source",
                (
                    F.coalesce(F.col("total_toks"), F.lit(0))
                    + F.coalesce(F.col("b_toks"), F.lit(0))
                ).cast("long").alias("total_toks"),
            ),
            epoch_id,
        )

    run_epochs(spark, schema, stage_dir, merge_batch, STATE_CONF)
    return out.read().select(
        "source", "doc_id", "n_toks", "start_tok",
        "first_chunk", "last_chunk", "n_chunks",
    )


# driver union-find gate of the CC epochs' contracted graphs (edges)
_LABEL_EDGE_GATE = 100_000


def _propagate_min_labels(spark, edges, dist_nodes):
    """Min-label connected components over ``edges`` (id, other),
    returned as a PERSISTED (node, comp) DataFrame.

    The contracted graph handed in here is bounded by the batch's (or
    the affected components') verified edge count, so below a size
    gate the propagation runs as driver-side union-find over ONE
    LIMIT-bounded collect of the edge list — isolated nodes never
    enter the map (callers coalesce them to their own id).  Above the
    gate (a genuinely dup-heavy batch at cluster scale) the
    distributed min-label operator takes over unchanged, seeded with
    ``dist_nodes`` (one ``id`` column) plus the edge endpoints.
    Labels are min ids by induction in both branches; edges with a
    null endpoint are dropped on both."""
    from qaapi_spark.operators.graph import connected_components, union_find_min

    edges = edges.filter(F.col("id").isNotNull() & F.col("other").isNotNull())
    edge_rows = edges.limit(_LABEL_EDGE_GATE + 1).collect()
    if len(edge_rows) <= _LABEL_EDGE_GATE:
        comp = union_find_min(edge_rows)
        return spark.createDataFrame(
            sorted(comp.items()), "node long, comp long"
        ).persist()
    nodes = dist_nodes.unionByName(edges.select(F.col("other").alias("id"))).distinct()
    return connected_components(
        nodes, edges, node_col="id", src_col="id", dst_col="other"
    ).persist()


def _latest_labels(labels: EpochStore, before: int | None = None):
    """Each doc's label from its newest delta with epoch < ``before``
    (all when None), or None before the first delta."""
    from pyspark.sql import Window

    df = labels.read(before)
    if df is None:
        return None
    lab_w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"))
    return (
        df.withColumn("rn", F.row_number().over(lab_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "comp")
    )


def _cc_labels_epoch(
    bdf,
    epoch_id: int,
    store_dir: str,
    label_root: str,
    threshold: float,
    num_hashes: int,
    n_bands: int,
    del_root: str | None = None,
) -> None:
    """One epoch of incremental connected-component maintenance over
    the near-dup graph (module-level so retry-idempotence is
    unit-testable): discover this batch's verified near-dup edges
    (within-batch + vs the standing corpus), CONTRACT existing
    components to their label supernodes, run min-label propagation
    on the contracted graph only, and write a label DELTA.

    Why contraction is the 100 TB shape: a new edge can merge two
    standing components, so greedy ordered dedup can't maintain labels
    — but the merge only involves the components the batch TOUCHES.
    Nodes of the contracted graph are the batch's doc_ids plus the
    labels of touched old docs; its size is bounded by the batch's
    edge count, never the corpus.  Labels are min doc_ids by
    induction, so propagation over supernodes yields exactly the batch
    CC labels (order-independent — the oracle is the SAME recursive
    CTE as dedup_connected_components).

    State: (1) the band store — every ingested doc's band keys +
    shingle sets, epoch-keyed append (the stream_neardup store shape,
    but nothing is ever dropped: CC keeps all docs); (2) the label
    store — per-epoch DELTAS (doc_id, comp), latest epoch wins, so an
    epoch writes only the batch's labels plus rows of components it
    merged (at 100 TB a compactor would periodically fold deltas and a
    label-partitioned layout would bound the relabel scan; the delta
    contract is what makes that a drop-in).

    ``del_root`` (r12, retraction support): when set, band-store and
    label reads anti-join the tombstoned doc_ids recorded there by
    `streaming/retraction._cc_rt_delete_epoch`, so post-delete inserts
    edge only to live docs, and a re-insert of a tombstoned doc_id is
    rejected; None (the insert-only catalog stream) leaves every read
    unchanged.
    """
    spark = bdf.sparkSession
    bands = EpochStore(spark, store_dir + "/data")
    labels = EpochStore(spark, label_root)
    with Guards() as guards:
        dels = tombstones(spark, del_root, epoch_id)
        guards.no_reinsert(bdf, dels)
        bdf = bdf.repartition(8)
        sets, bands_arr, keys = _batch_bands(bdf, num_hashes, n_bands)
        # within-batch verified edges (undirected, id > other)
        new_edges = _verify_jaccard(
            _collision_pairs(keys, "id", ["band", "bsig"]), sets, sets, threshold
        ).select(F.col("id_b").alias("id"), F.col("id_a").alias("other"))

        # latest standing labels (none on the first epoch)
        rec = bands.read(before=epoch_id)
        labels_now = _latest_labels(labels, epoch_id)
        if rec is not None and labels_now is not None:
            # retraction support: tombstoned docs leave the standing
            # corpus logically — their band rows and label rows are
            # filtered from every read instead of rewriting historical
            # epoch files
            if dels is not None:
                rec = rec.join(dels.select(F.col("doc_id").alias("id")), "id", "left_anti")
                labels_now = labels_now.join(dels, "doc_id", "left_anti")
            labels_now = labels_now.persist()
            # cross edges vs the standing corpus, old endpoint -> its label
            ccand = keys.join(_band_keys(rec, "other"), ["band", "bsig"])
            cross = _verify_jaccard(
                ccand.select("id", "other").distinct(), sets, rec.select("id", "sh"), threshold
            )
            cross_lab = (
                cross.join(
                    labels_now.select(
                        F.col("doc_id").alias("other"), F.col("comp").alias("olabel")
                    ),
                    "other",
                )
                .select("id", F.col("olabel").alias("other"))
                .distinct()
            )
            edges = new_edges.unionByName(cross_lab)
        else:
            labels_now = None
            edges = new_edges

        # The contracted graph is bounded by the BATCH's verified edge
        # count (supernodes fold whole standing components into one
        # row), so nothing corpus- or batch-sized reaches the driver —
        # see _propagate_min_labels for the union-find gate /
        # distributed fallback split.
        comp = _propagate_min_labels(spark, edges, sets.select("id"))

        # EVERY batch doc gets a label — docs whose shingle set is
        # empty (< 2 words) can never pair, exactly like the oracle's
        # seed row, so they label as their own singleton component via
        # the coalesce
        batch_labels = (
            bdf.select("doc_id")
            .join(comp.select(F.col("node").alias("doc_id"), "comp"), "doc_id", "left")
            .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("comp"))
        )
        delta = batch_labels
        if labels_now is not None:
            # old supernodes whose label shrank: rewrite their members
            changed = comp.filter(F.col("comp") < F.col("node")).select(
                F.col("node").alias("old_label"), F.col("comp").alias("new_comp")
            )
            relabeled = (
                labels_now.join(changed, labels_now["comp"] == changed["old_label"])
                .select("doc_id", F.col("new_comp").alias("comp"))
                # batch rows already carry their final label
                .join(batch_labels.select("doc_id"), "doc_id", "left_anti")
            )
            delta = batch_labels.unionByName(relabeled)
        try:
            # label delta and band-store delta are independent
            # consumers of pinned inputs — overlap their write jobs
            par_writes(
                labels.writer(delta, epoch_id),
                bands.writer(bands_arr.join(sets, "id"), epoch_id),
            )
        finally:
            comp.unpersist()
            if labels_now is not None:
                labels_now.unpersist()
            bands_arr.unpersist()
            sets.unpersist()


def stream_cc_labels_incremental(
    spark: SparkSession,
    docs_path: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    n_bands: int = 16,
    n_splits: int = 2,
) -> DataFrame:
    """Incrementally-maintained connected-component labels over the
    near-dup graph (VERDICT r10 next #7's genuinely-new capability):
    the streaming twin of dedup_connected_components, for the corpus
    owner who needs dedup GROUPS (attribution, canonical selection,
    GDPR cascades) kept current as documents land — not just the
    greedy keep/drop decision stream_neardup_dedup_docs makes.

    Unlike greedy dedup, component labels are ORDER-INDEPENDENT: a
    late edge that bridges two standing components merges them here
    (supernode contraction, see _cc_labels_epoch), so the final
    relation equals the batch CC relation and hash-checks against the
    SAME recursive-CTE oracle.  The LSH screen makes edge discovery
    probabilistically complete (a >= threshold pair whose 16 bands all
    miss would drop its edge, ~2e-4 per pair — the stream_neardup
    assumption; the check corpora are asserted fully covered by
    test).

    Per-epoch cost: the batch screen + min-label propagation on the
    CONTRACTED graph (batch ids + touched labels) + a label-delta
    write — no stage recomputes standing components from scratch.
    """
    raw = spark.read.parquet(docs_path)
    slices, _, _ = range_slices(raw, "doc_id", n_splits, src=docs_path)
    stage_dir, schema = stage_slices("docs_cc_stream_", slices)
    store_dir = scratch_dir("cc_store_")
    label_root = scratch_dir("cc_labels_")

    def merge_batch(bdf, epoch_id: int) -> None:
        _cc_labels_epoch(
            bdf, epoch_id, store_dir, label_root, threshold, num_hashes, n_bands
        )

    run_epochs(spark, schema, stage_dir, merge_batch, ORDERED_CONF)
    return _latest_labels(EpochStore(spark, label_root))


def compact_epoch_store(
    spark: SparkSession,
    root: str,
    mode: str,
    upto: int,
    key_cols: tuple[str, ...] = ("doc_id",),
) -> int:
    """Fold the epoch deltas <= ``upto`` of an epoch-keyed store into
    ONE delta directory at epoch=``upto`` — the periodic maintenance
    the delta-writing streams (stream_cc_labels_incremental's label
    store, the ExactSubstr twins' digest-keyed occurrence index) are
    designed around: without it every later epoch's store read opens
    every historical delta file.

    ``mode='latest'``: keep each ``key_cols`` group's row from its
    highest epoch (the label store's latest-wins contract).
    ``mode='distinct'``: set semantics — distinct rows (the occurrence
    index, the tombstones).

    CONTRACT PRESERVATION: readers filter ``epoch < N``.  Folding
    epochs [0..upto] to a single epoch=``upto`` delta keeps every such
    read identical — for 'latest' the folded row carries the group's
    max-epoch value, and any delta in (upto, N) still outranks it; for
    'distinct' the union is unchanged.  Only compact epochs the stream
    has finished (upto < the next epoch to run).

    Crash-safe: the folded store is fully written to ``root + '.next'``
    (later epochs copied over), then promoted with the
    rename-trash-rename `swap`; `recover` self-heals a crash between
    the renames.  Returns the number of delta dirs folded.

    READER INVALIDATION (ADVICE r11 #5): the swap replaces the store's
    files out from under any lazy DataFrame previously returned over it
    (e.g. the result of stream_cc_labels_incremental still pointing at
    old epoch files) — collecting such a handle after compaction fails
    with missing-file errors.  Collect outstanding results BEFORE
    compacting, or re-read the root afterwards; the same applies to
    in-flight epochs (only compact epochs the stream has finished)."""
    import shutil

    store = EpochStore(spark, root)
    epochs = store.epochs()
    old = [e for e in epochs if e <= int(upto)]
    if len(old) <= 1:
        return 0
    # basePath keeps the epoch partition-discovery column when reading
    # the delta dirs directly (a bare multi-path read drops it)
    df = spark.read.option("basePath", root).parquet(*map(store.path, old))
    if mode == "latest":
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.desc("epoch"))
        folded = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "epoch")
        )
    elif mode == "distinct":
        folded = df.drop("epoch").distinct()
    else:
        raise ValueError(f"unknown compaction mode: {mode}")
    nxt = EpochStore(spark, root + ".next")
    shutil.rmtree(nxt.root, ignore_errors=True)
    nxt.write(folded, upto)
    for e in epochs:
        if e > int(upto):
            shutil.copytree(store.path(e), nxt.path(e))
    swap(root)
    return len(old)
