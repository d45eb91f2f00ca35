"""Data-profiling queries: the diagnostics a pipeline runs *before*
committing to a partition/join strategy at scale — key-skew profiles,
per-column health stats, inter-event timing.  All single-pass
aggregations; nothing here shuffles more than once.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from qaapi_spark.plans.catalog import query, t

_SKEW_TOP = 10


@query(
    "skew_profile_orders_custkey",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT MAX(n) AS max_n, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n
        FROM counts
    )
    SELECT key, n, ROUND(n / mean_n, 4) AS skew_factor
    FROM counts CROSS JOIN stats
    ORDER BY n DESC, key LIMIT {_SKEW_TOP}
    """,
    doc="join-key skew profile: top-10 heaviest keys with their "
    "count/mean ratio — the diagnostic that decides between a plain "
    "shuffle join, a salted join (operators/skew.py), and AQE skew "
    "splitting; one hash-agg + a scalar stats pass "
    "(extension: skew diagnostics)",
)
def skew_profile_orders_custkey(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count("*").alias("n"))
    stats = counts.agg(
        (F.sum("n").cast("double") / F.count("*")).alias("mean_n")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select("key", "n", F.round(F.col("n") / F.col("mean_n"), 4).alias("skew_factor"))
        .orderBy(F.desc("n"), "key")
        .limit(_SKEW_TOP)
    )


@query(
    "profile_orders_columns",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(o_custkey) AS custkey_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS status_distinct,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS priority_distinct,
           ROUND(MIN(o_totalprice), 2) AS price_min,
           ROUND(MAX(o_totalprice), 2) AS price_max,
           MIN(o_orderdate) AS date_min,
           MAX(o_orderdate) AS date_max
    FROM orders
    """,
    doc="one-pass table profile: row count, null/distinct cardinality "
    "per key column, min/max ranges — what a planner (or a human) "
    "reads to choose partition counts and broadcast sides; distinct "
    "aggregates expand but still single-scan "
    "(extension: data profiling)",
)
def profile_orders_columns(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.countDistinct("o_orderpriority").alias("priority_distinct"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        F.min("o_orderdate").alias("date_min"),
        F.max("o_orderdate").alias("date_max"),
    )


@query(
    "user_interevent_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               date_diff('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    )
    SELECT user_id,
           COUNT(gap_s) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(SUM(gap_s) AS BIGINT) AS total_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    doc="inter-event timing per user: lag over (user, time) then "
    "integer gap stats — the cadence profile behind sessionization "
    "thresholds; one window shuffle keyed on user_id, exact integer "
    "aggregates (extension: time-series profiling)",
)
def user_interevent_stats(spark, sf_dir):
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
            F.sum("gap_s").alias("total_gap_s"),
        )
        .orderBy("user_id")
    )


_CDC_CUT = "1995-06-01"


@query(
    "cdc_diff_order_snapshots",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderdate < TIMESTAMP '{_CDC_CUT}'
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'P' THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders
    )
    SELECT CASE
             WHEN old.o_orderkey IS NULL THEN 'insert'
             WHEN new.o_orderkey IS NULL THEN 'delete'
             WHEN old.o_orderstatus <> new.o_orderstatus
                  OR old.o_totalprice <> new.o_totalprice THEN 'update'
             ELSE 'unchanged'
           END AS change,
           COUNT(*) AS n
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY change ORDER BY change
    """,
    doc="CDC between two table snapshots (old = pre-cutoff orders; new "
    "= all orders with P-status promoted): full-outer join on the key "
    "classifies every row insert/update/delete/unchanged — the diff "
    "that drives incremental downstream refresh, and the relational "
    "core of snapshot time travel "
    "(extension: change data capture)",
)
def cdc_diff_order_snapshots(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < _CDC_CUT).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", "F")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    j = old.alias("old").join(
        new.alias("new"), F.col("old.o_orderkey") == F.col("new.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("old.o_orderkey").isNull(), "insert")
        .when(F.col("new.o_orderkey").isNull(), "delete")
        .when(
            (F.col("old.o_orderstatus") != F.col("new.o_orderstatus"))
            | (F.col("old.o_totalprice") != F.col("new.o_totalprice")),
            "update",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change"))
        .groupBy("change")
        .agg(F.count("*").alias("n"))
        .orderBy("change")
    )


@query(
    "dq_checks_orders",
    oracle="""
    SELECT 'not_null_o_orderkey' AS "check",
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'unique_o_orderkey',
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'accepted_values_o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'in_range_o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice IS NULL
                      OR o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'references_o_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    FROM (SELECT 1)
    ORDER BY "check"
    """,
    doc="declarative data-quality constraints (the reference's manual "
    "probe queries — troubleshooting.sql golden counts, "
    "trouble_children.sql orphan probe — as a dbt-test/Deequ-style "
    "surface): null/unique/accepted-values/range checks fold into ONE "
    "aggregate pass, FK orphans one broadcast anti-join "
    "(extension: data quality)",
)
def dq_checks_orders(spark, sf_dir):
    from qaapi_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
        run_checks,
        unique,
    )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return run_checks(
        o,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            in_range("o_totalprice", 0, 1_000_000),
        ],
        references=[("o_custkey", c, "c_custkey")],
    ).orderBy("check")


@query(
    "events_winsorize_stats_by_type",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS lo,
               quantile_cont(value, 0.99) AS hi
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type AS event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_high,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(e.value, b.lo), b.hi)
                     AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 4)
               AS mean_winsorized
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    doc="winsorization (p01/p99 clip) per event type: exact "
    "interpolated percentiles once per group, bounds broadcast back "
    "(group-count rows), clip is map-only, mean over DECIMAL sums "
    "(order-independent, engine-exact); the standard robust-stats "
    "prep before feature scaling (extension: profiling family)",
)
def events_winsorize_stats_by_type(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("lo"),
        F.percentile("value", F.lit(0.99)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clip_low"
            ),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clip_high"
            ),
            F.round(
                F.sum(clipped.cast("decimal(28,14)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


@query(
    "events_zscore_anomaly_topk",
    # mean and E[x^2] from DECIMAL(28,14) sums (order-independent),
    # std = sqrt(E[x^2] - mean^2) over bit-identical doubles, z the
    # same division on both engines; ranking on exact |z| with
    # event_id ties, output z snapped to 4dp.
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,14))) AS DOUBLE)
                   / COUNT(*) AS mean,
               sqrt(CAST(SUM(CAST(value * value AS DECIMAL(28,14))) AS DOUBLE)
                    / COUNT(*)
                    - (CAST(SUM(CAST(value AS DECIMAL(28,14))) AS DOUBLE)
                       / COUNT(*))
                      * (CAST(SUM(CAST(value AS DECIMAL(28,14))) AS DOUBLE)
                         / COUNT(*))) AS std
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, event_id, value, z FROM (
        SELECT e.event_type, e.event_id, e.value,
               ROUND((e.value - s.mean) / s.std, 4) + 0.0 AS z,
               ROW_NUMBER() OVER (PARTITION BY e.event_type
                   ORDER BY abs((e.value - s.mean) / s.std) DESC,
                            e.event_id) AS rn
        FROM events e JOIN s ON e.event_type = s.event_type
        WHERE e.value IS NOT NULL AND s.std > 0
    ) WHERE rn <= 5
    ORDER BY event_type, abs(z) DESC, event_id
    """,
    doc="per-type z-score anomaly top-5: one decimal-exact moments "
    "aggregate per group (mean + E[x^2] in a single pass), population "
    "std, group stats broadcast back, per-type windowed top-|z| — the "
    "outlier triage a value column gets before winsorize/clip "
    "decisions (extension: profiling family)",
)
def events_zscore_anomaly_topk(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = lambda c: F.sum(c.cast("decimal(28,14)")).cast("double")  # noqa: E731
    s = e.groupBy("event_type").agg(
        (dec(F.col("value")) / F.count("*")).alias("mean"),
        F.sqrt(
            dec(F.col("value") * F.col("value")) / F.count("*")
            - (dec(F.col("value")) / F.count("*"))
            * (dec(F.col("value")) / F.count("*"))
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    w = Window.partitionBy("event_type").orderBy(F.desc(F.abs(z)), F.asc("event_id"))
    return (
        # std=0 (all-equal group) guarded identically on both engines:
        # Spark's x/0 -> NULL vs DuckDB's inf would otherwise diverge
        e.join(F.broadcast(s.filter(F.col("std") > 0)), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "event_type", "event_id", "value",
            (F.round(z, 4) + F.lit(0.0)).alias("z"),
        )
        .orderBy("event_type", F.desc(F.abs(F.col("z"))), "event_id")
    )


def _zorder_oracle() -> str:
    from qaapi_spark.operators.layout import zorder_tiles_oracle_sql

    return zorder_tiles_oracle_sql("orders", "o_custkey", "o_totalprice", 12)


@query(
    "layout_zorder_tiles",
    # generated from the SAME mask sequence as the engine's Morton
    # interleave — bit-identical normalize + spread on both engines
    oracle=_zorder_oracle(),
    doc="Z-order (Morton) tile histogram over (o_custkey, "
    "o_totalprice): one min/max aggregate broadcast back, map-only "
    "16-bit normalize + bit-interleave, tile-bounded groupBy — the "
    "observability query behind z-ordered data layout (which 2-D "
    "tiles hold how many rows, how tight the codes are per tile), "
    "and the clustering key a 100 TB writer range-partitions on for "
    "2-D data-skipping (extension; operators/layout.zorder_tiles; "
    "cf. tests/test_layout.py)",
)
def layout_zorder_tiles(spark, sf_dir):
    from qaapi_spark.operators.layout import zorder_tiles

    o = t(spark, sf_dir, "orders")
    return zorder_tiles(o, "o_custkey", "o_totalprice", tile_bits=12)


def _bucketed_pair_kernel(spark, sf_dir):
    """SHARED kernel: orders + customer persisted as bucketed tables
    on custkey (8 buckets, sorted) — built once per (session, sf);
    every consumer's equi-join on custkey is then exchange-free."""
    import hashlib

    from qaapi_spark.operators.layout import write_bucketed_pair
    from qaapi_spark.session import scratch_dir, shared_kernel

    def build():
        db = "bdemo_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        write_bucketed_pair(
            spark,
            t(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
            ),
            t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("custkey"), "c_mktsegment"
            ),
            key="custkey",
            n_buckets=8,
            db=db,
            left_table="orders_b",
            right_table="customer_b",
            location=scratch_dir("bucketed_demo_"),
        )
        return spark.table(f"{db}.orders_b"), spark.table(f"{db}.customer_b")

    return shared_kernel(spark, ("bucketed_pair", sf_dir), build)


@query(
    "bucketed_join_revenue_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY segment ORDER BY segment
    """,
    doc="co-located join over BUCKETED tables: orders and customer "
    "persisted via bucketBy(8, custkey) + sortBy — the join reads "
    "matching pre-hashed, pre-sorted buckets with NO Exchange on "
    "either side (plan pinned by tests/test_layout.py), the layout "
    "that pays a fact-dim join's two shuffles once at write time and "
    "amortizes them over every downstream query at 100 TB; values "
    "identical to the plain join, so the same SQL oracle applies "
    "(extension; operators/layout.write_bucketed_pair)",
)
def bucketed_join_revenue_by_segment(spark, sf_dir):
    ob, cb = _bucketed_pair_kernel(spark, sf_dir)
    return (
        ob.join(cb, "custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "layout_skipping_linear_vs_zorder",
    # generated from the SAME normalize/spread/interleave + min-max
    # overlap expressions as the engine side — bit-identical file
    # assignment and pruning decisions on both engines
    oracle=__import__(
        "qaapi_spark.operators.layout", fromlist=["zonemap_skipping_oracle_sql"]
    ).zonemap_skipping_oracle_sql("orders", "o_custkey", "o_totalprice", 6),
    doc="zone-map pruning estimator: files that a 2-D range predicate "
    "(middle-decile band on BOTH of o_custkey and o_totalprice) must "
    "read under a linear x-clustered layout vs a Morton z-order "
    "layout, with per-file min/max pruning exactly as parquet "
    "row-group stats allow — the quantified WHY behind "
    "z-ordering: linear prunes on x only (y spans the domain in "
    "every file), the Morton tiles bound both dimensions; one min/max "
    "broadcast + map-only coding + two 64-group rollups (extension; "
    "operators/layout.zonemap_skipping_compare)",
)
def layout_skipping_linear_vs_zorder(spark, sf_dir):
    from qaapi_spark.operators.layout import zonemap_skipping_compare

    o = t(spark, sf_dir, "orders")
    return zonemap_skipping_compare(o, "o_custkey", "o_totalprice", 6).orderBy(
        "strategy"
    )


@query(
    "maintain_compact_small_files",
    # the compaction contract is CONTENT IDENTITY — the oracle reads
    # the same rows straight from the source table; file-count /
    # atomic-swap behavior is pinned by tests/test_layout.py
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey
    """,
    doc="small-file compaction (OPTIMIZE / rewrite-data-files): a "
    "32-file staged copy of orders is coalesced to ~1 MB target files "
    "re-clustered on o_orderkey via an atomic directory swap, then "
    "read back — the table-maintenance step that keeps streaming-sink "
    "and per-batch-append tables scannable at 100 TB (per "
    "partition-directory unit job; open/footer cost is per file); "
    "content must round-trip bit-identically, which is what the "
    "oracle checks (extension; operators/maintain.compact_files)",
)
def maintain_compact_small_files(spark, sf_dir):
    from qaapi_spark.operators.maintain import compact_files
    from qaapi_spark.session import scratch_dir

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    path = scratch_dir("compact_demo_") + "/orders_small"
    o.repartition(32).write.mode("overwrite").parquet(path)
    stats = compact_files(spark, path, target_file_bytes=1 << 20, sort_col="o_orderkey")
    if stats["files_after"] >= stats["files_before"]:
        raise AssertionError(f"compaction did not reduce file count: {stats}")
    return spark.read.parquet(path).orderBy("o_orderkey")


@query(
    "table_fingerprint_orders",
    # Engine-canonical row serialization: doubles go through exact
    # integer cents (double->VARCHAR formatting differs across
    # engines), NULLs get an explicit sentinel (concat_ws silently
    # skips them, which would collide ('a',NULL,'b') with ('a','b')),
    # and the per-bucket combiner is XOR — order-independent and
    # overflow-free, unlike SUM of hashes.
    oracle="""
    WITH fp AS (
        SELECT o_orderkey % 16 AS bucket,
               CAST(('0x' || substr(md5(
                   COALESCE(CAST(o_orderkey AS VARCHAR), '~') || '|' ||
                   COALESCE(CAST(o_custkey AS VARCHAR), '~') || '|' ||
                   COALESCE(o_orderstatus, '~') || '|' ||
                   COALESCE(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), '~') || '|' ||
                   COALESCE(CAST(o_orderdate AS VARCHAR), '~') || '|' ||
                   COALESCE(o_orderpriority, '~')
               ), 1, 15)) AS BIGINT) AS h
        FROM orders
    )
    SELECT bucket, COUNT(*) AS n_rows, bit_xor(h) AS xor_fp
    FROM fp GROUP BY bucket ORDER BY bucket
    """,
    doc="portable table fingerprint (the migration-parity primitive: "
    "run the same 16-bucket relation on the source engine and the "
    "target engine and diff — a mismatched bucket localizes WHERE "
    "the migration diverged without shipping rows): canonical row "
    "serialization (exact integer cents for doubles, explicit NULL "
    "sentinels) -> md5 row hash -> per-bucket XOR, which is "
    "order-independent and overflow-free so the fingerprint is "
    "partitioning-invariant; one map-side-combined aggregate, 16 "
    "result rows at any scale (extension: data-quality family; this "
    "query IS its own cross-engine demonstration — the DuckDB oracle "
    "is the 'other engine') ",
)
def table_fingerprint_orders(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    sep = F.lit("|")
    tilde = F.lit("~")
    parts = [
        F.coalesce(F.col("o_orderkey").cast("string"), tilde),
        F.coalesce(F.col("o_custkey").cast("string"), tilde),
        F.coalesce(F.col("o_orderstatus"), tilde),
        F.coalesce(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            tilde,
        ),
        F.coalesce(F.col("o_orderdate").cast("string"), tilde),
        F.coalesce(F.col("o_orderpriority"), tilde),
    ]
    row = parts[0]
    for p in parts[1:]:
        row = F.concat(row, sep, p)
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    return (
        o.select((F.col("o_orderkey") % 16).alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"), F.bit_xor("h").alias("xor_fp"))
        .orderBy("bucket")
    )
