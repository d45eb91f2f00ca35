"""Statistical mining queries: collocation extraction over the text
corpus and association analysis over events — the pattern-discovery
layer of a training-data pipeline (phrase vocabularies, behavioral
co-occurrence).  All pure relational plans: count aggregates joined
back with broadcast-sized statistics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from qaapi_spark.plans.catalog import query, t
from qaapi_spark.plans.llm_text import _DD_TOKS

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKS} AS w FROM documents),
    uni AS (
        SELECT unnest(w) AS tok FROM toks
    ),
    unic AS (SELECT tok, COUNT(*) AS n_tok FROM uni GROUP BY tok),
    n1 AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS total FROM unic),
    big AS (
        SELECT unnest(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
            ELSE CAST([] AS VARCHAR[]) END) AS bg
        FROM toks
    ),
    bigc AS (SELECT bg, COUNT(*) AS n_bg FROM big GROUP BY bg),
    n2 AS (SELECT CAST(SUM(n_bg) AS DOUBLE) AS total FROM bigc)
    SELECT bg AS bigram, n_bg,
           ROUND(ln((n_bg / n2.total)
                    / ((a.n_tok / n1.total) * (b.n_tok / n1.total))), 4) AS pmi
    FROM bigc
    JOIN unic a ON a.tok = string_split(bg, ' ')[1]
    JOIN unic b ON b.tok = string_split(bg, ' ')[2]
    CROSS JOIN n1 CROSS JOIN n2
    WHERE n_bg >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, bigram LIMIT {_PMI_TOP}
    """,
    doc="pointwise-mutual-information collocations: bigram and unigram "
    "count aggregates (both map-side combining), unigram counts "
    "broadcast back into the bigram relation, PMI = ln(p(ab)/(p(a)p(b))) "
    "— statistical phrase mining for tokenizer/vocab construction "
    "(extension: collocation mining)",
)
def pmi_collocations(spark, sf_dir):
    from qaapi_spark.operators.textstats import word_ngrams, ws_tokens
    from qaapi_spark.session import register_kernel_cache

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    # both count relations are vocabulary-sized: persist them so the
    # corpus-sized explode runs ONCE per n-gram order (the totals and
    # the join probe would otherwise each re-scan the corpus)
    unic = register_kernel_cache(
        d.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
        .persist()
    )
    bigc_all = register_kernel_cache(
        d.select(F.explode(word_ngrams(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_bg"))
        .persist()
    )
    # one action for both scalar totals: cross-join the two single-row
    # aggregates so Spark computes them in a single job (the persisted
    # count relations make each side a cache scan, not a corpus re-read)
    n1, n2 = (
        unic.agg(F.sum("n_tok").cast("double").alias("n1"))
        .crossJoin(bigc_all.agg(F.sum("n_bg").cast("double").alias("n2")))
        .first()
    )
    bigc = bigc_all.filter(F.col("n_bg") >= _PMI_MIN_COUNT)
    parts = F.split("bigram", " ")
    scored = (
        bigc.withColumn("tok_a", parts[0])
        .withColumn("tok_b", parts[1])
        .join(F.broadcast(unic.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))), "tok_a")
        .join(F.broadcast(unic.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))), "tok_b")
        .select(
            "bigram",
            "n_bg",
            F.round(
                F.log(
                    (F.col("n_bg") / F.lit(n2))
                    / ((F.col("n_a") / F.lit(n1)) * (F.col("n_b") / F.lit(n1)))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(_PMI_TOP)


_LIFT_MIN_USERS = 10


@query(
    "event_type_cooccurrence_lift",
    oracle=f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS users FROM events),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_ab,
           ROUND((n_ab * n.users) / (ta.n_t * CAST(tb.n_t AS DOUBLE)), 4) AS lift
    FROM pairs
    JOIN tc ta ON ta.event_type = type_a
    JOIN tc tb ON tb.event_type = type_b
    CROSS JOIN n
    WHERE n_ab >= {_LIFT_MIN_USERS}
    ORDER BY type_a, type_b
    """,
    doc="association mining: event-type pair co-occurrence across users "
    "with lift = P(ab)/(P(a)P(b)) — distinct (user, type) relation "
    "self-joined per user (per-user type sets are tiny, so the join is "
    "user-local), type marginals broadcast back "
    "(extension: market-basket / co-occurrence analysis)",
)
def event_type_cooccurrence_lift(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(F.count("*").alias("n_t"))
    n_users = float(e.select("user_id").distinct().count())
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _LIFT_MIN_USERS)
    )
    return (
        pairs.join(
            F.broadcast(tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_ta"))),
            "type_a",
        )
        .join(
            F.broadcast(tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_tb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.lit(n_users)) / (F.col("n_ta") * F.col("n_tb").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "sliding_window_event_counts",
    oracle="""
    WITH expanded AS (
        SELECT CAST(FLOOR(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900 AS ws,
               user_id
        FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
    )
    SELECT ws AS window_start_s, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM expanded GROUP BY ws ORDER BY ws
    """,
    doc="sliding windows (1h length, 15min slide): F.window replicates "
    "each event into length/slide=4 grid-aligned windows map-side, one "
    "agg shuffle on window start — the overlapping-window analytics "
    "shape shared with streaming (extension, SURVEY §2.9; window start "
    "emitted as epoch seconds so the hash is timezone-free)",
)
def sliding_window_event_counts(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start_s")
    )


@query(
    "cohort_retention_weekly",
    # ISO week truncation is engine-portable via date_trunc('week', ..)
    # on both sides; activity offsets are integer week differences.
    oracle="""
    WITH cohorts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, c.cohort_week,
               CAST(datediff('day', c.cohort_week,
                             date_trunc('week', e.ts)) / 7 AS INT) AS week_offset
        FROM events e JOIN cohorts c ON e.user_id = c.user_id
        WHERE e.ts >= c.cohort_week
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           COUNT(*) AS n_active_users
    FROM activity
    WHERE week_offset <= 8
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    doc="cohort retention: users grouped by first-signup week, distinct "
    "active users per week offset — one aggregate to build cohorts "
    "(broadcastable: one row per user at most), one join + distinct "
    "aggregate for the retention matrix (extension: event analytics)",
)
def cohort_retention_weekly(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    cohorts = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("week", "ts")).alias("cohort_week"))
    )
    activity = (
        e.join(F.broadcast(cohorts), "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 8)
        .groupBy(F.col("cohort_week").cast("date").alias("cohort_week"), "week_offset")
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "funnel_conversion_counts",
    # per-user earliest timestamp per stage; a user converts to stage
    # k iff every earlier stage happened strictly before it
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT 'signup' AS stage, COUNT(*) AS n_users FROM stages
    WHERE t_signup IS NOT NULL
    UNION ALL
    SELECT 'signup>click', COUNT(*) FROM stages
    WHERE t_signup IS NOT NULL AND t_click > t_signup
    UNION ALL
    SELECT 'signup>click>purchase', COUNT(*) FROM stages
    WHERE t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click
    ORDER BY n_users DESC, stage
    """,
    doc="funnel analysis (signup -> click -> purchase): one conditional-"
    "MIN aggregate per user (single shuffle on user_id, map-side "
    "combined), then three scalar stage counts — no self-joins, no "
    "window over the event stream (extension: event analytics)",
)
def funnel_conversion_counts(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in ("signup", "click", "purchase")
        ]
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    agg = stages.agg(
        F.sum(s1.cast("long")).alias("signup"),
        F.sum(s2.cast("long")).alias("signup>click"),
        F.sum(s3.cast("long")).alias("signup>click>purchase"),
    )
    row = agg.collect()[0]
    return (
        e.sparkSession.createDataFrame(
            [(k, int(row[k] or 0)) for k in row.asDict()],
            "stage string, n_users long",
        )
        .orderBy(F.desc("n_users"), "stage")
    )


_RUNNING_DISTINCT_ORACLE = """
    WITH fs AS (
        SELECT user_id,
               MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS day_s
        FROM events GROUP BY user_id
    ),
    d AS (SELECT day_s, COUNT(*) AS new_users FROM fs GROUP BY day_s)
    SELECT day_s, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day_s) AS BIGINT)
               AS cum_distinct_users
    FROM d ORDER BY day_s
    """


@query(
    "running_distinct_users_daily",
    oracle=_RUNNING_DISTINCT_ORACLE,
    doc="running distinct users per day WITHOUT a running distinct: "
    "cumulative COUNT(DISTINCT) is not window-able, so the scale shape "
    "is first-seen-day per user (one user-keyed shuffle, map-side "
    "combined) -> per-day new-user counts (|days| rows) -> one tiny "
    "prefix-sum window over |days| rows — the growth-curve query every "
    "product dashboard runs, at 100 TB cost = one aggregate over "
    "users, never a per-day distinct rescan (extension; day key in "
    "epoch days so the hash is timezone-free)",
)
def running_distinct_users_daily(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.min(F.floor(F.unix_timestamp("ts") / 86400)).alias("day_s")
    )
    d = fs.groupBy("day_s").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day_s").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "day_s",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    ).orderBy("day_s")


@query(
    "stream_running_distinct_users",
    oracle=_RUNNING_DISTINCT_ORACLE,
    doc="the running-distinct growth curve as a STREAM: events arrive "
    "in micro-batches (3 id-range slices, one file per trigger) and "
    "each batch's (user_id, min epoch-day) MIN-merges into the "
    "first-seen store — min over first-seen days is associative and "
    "commutative, so the final state is bit-equal to the batch "
    "first-seen relation regardless of arrival order and the stream "
    "hash-checks against the same oracle as "
    "running_distinct_users_daily; state is |users| rows (the honest "
    "cost of exactness — stream_hll_running is the bounded-state "
    "companion) (extension, SURVEY §2.9; "
    "streaming/incremental.stream_running_distinct)",
)
def stream_running_distinct_users(spark, sf_dir):
    from qaapi_spark.streaming.incremental import stream_running_distinct

    return stream_running_distinct(spark, f"{sf_dir}/events.parquet").orderBy(
        "day_s"
    )


# Exact-integer microsecond boundaries and an event_id tiebreak make
# every interval engine-deterministic; valid_to_us is NULL on the open
# (current) interval.  Shared by the batch build and its streaming
# CDC-apply twin.
_SCD2_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_type AS status, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    marked AS (
        SELECT *, LAG(status) OVER (
                   PARTITION BY user_id ORDER BY us, event_id) AS prev
        FROM ev
    ),
    changes AS (
        SELECT user_id, status, event_id, us FROM marked
        WHERE prev IS NULL OR status <> prev
    )
    SELECT user_id, status,
           us AS valid_from_us,
           LEAD(us) OVER (PARTITION BY user_id
                          ORDER BY us, event_id) AS valid_to_us,
           LEAD(us) OVER (PARTITION BY user_id
                          ORDER BY us, event_id) IS NULL AS is_current
    FROM changes
    ORDER BY user_id, valid_from_us
    """


@query(
    "scd2_user_status_history",
    oracle=_SCD2_ORACLE,
    doc="slowly-changing-dimension TYPE-2 history build (the classic "
    "warehouse ELT operator, Kimball SCD2): per-user event_type "
    "transitions collapse to validity intervals [valid_from, "
    "valid_to) with an open current row — one lag window to detect "
    "changes, one lead window for interval ends, both keyed on "
    "user_id (the natural high-cardinality partitioner; the two "
    "windows share one exchange).  Boundaries are exact integer "
    "microseconds, so both engines agree bit-for-bit (extension: "
    "CDC/history materialization — the MERGE family's J2-J4 build "
    "the snapshot, this builds the full history)",
)
def scd2_user_status_history(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select(
        "user_id", F.col("event_type").alias("status"), "event_id", us.alias("us")
    ).withColumn("prev", F.lag("status").over(w))
    changes = marked.filter(
        F.col("prev").isNull() | (F.col("status") != F.col("prev"))
    )
    valid_to = F.lead("us").over(w)
    return (
        changes.select(
            "user_id",
            "status",
            F.col("us").alias("valid_from_us"),
            valid_to.alias("valid_to_us"),
            valid_to.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from_us")
    )


@query(
    "events_mad_outliers",
    # Exact ELEMENT medians (row_number selection, no interpolation):
    # both engines pick the same stored double, the deviation
    # |v - med| is the same difference of identical doubles, and the
    # strict > 3*MAD comparison sees identical operands — no rounding
    # needed anywhere in the decision path.
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(value AS DOUBLE) AS val FROM events
    ),
    r1 AS (
        SELECT event_type, val,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY val) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    med AS (
        SELECT event_type, val AS med FROM r1 WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT v.event_type, v.val, ABS(v.val - m.med) AS d, m.med
        FROM v JOIN med m USING (event_type)
    ),
    r2 AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, d AS mad FROM r2 WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type,
           ROUND(MIN(dev.med), 4) AS med,
           ROUND(MIN(mad.mad), 4) AS mad,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers,
           COUNT(*) AS n_events
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    ORDER BY dev.event_type
    """,
    doc="robust outlier detection via median absolute deviation "
    "(median/MAD instead of mean/stddev — immune to the outliers it "
    "hunts, the robust-statistics companion to the winsorize query): "
    "lower-median ELEMENT selection by row_number (no interpolation, "
    "so both engines pick the same stored double and the 3-MAD "
    "decision is bit-deterministic), two window passes sharing the "
    "event_type exchange; at 100 TB swap the exact rank selection "
    "for percentile_approx in the same plan (extension: telemetry "
    "data-quality family)",
)
def events_mad_outliers(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    v = e.select("event_type", F.col("value").cast("double").alias("val"))
    w = Window.partitionBy("event_type").orderBy("val")
    wc = Window.partitionBy("event_type")
    r1 = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wc)
    )
    # integer lower-median: rn == floor((n+1)/2)
    med = r1.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select("event_type", F.col("val").alias("med"))
    dev = v.join(med, "event_type").withColumn("d", F.abs(F.col("val") - F.col("med")))
    w2 = Window.partitionBy("event_type").orderBy("d")
    r2 = dev.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count("*").over(wc)
    )
    mad = r2.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int")
    ).select("event_type", F.col("d").alias("mad"))
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 4).alias("med"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_scd2_history",
    oracle=_SCD2_ORACLE,
    doc="SCD2 history maintained as a STREAM (the CDC-apply shape): "
    "time-ordered event micro-batches close intervals append-only and "
    "carry ONE open row per user as state — history rows are "
    "immutable once emitted, per-epoch work is one user-keyed window "
    "over (batch + open rows), never a history rescan; state "
    "snapshots are per-epoch so replays are byte-identical. Under the "
    "ordered-ingest contract the emitted union + final open set is "
    "bit-equal to the batch build and shares its oracle; each epoch is "
    "the insert epoch of stream_scd2_with_deletes (extension, "
    "SURVEY §2.9; streaming/retraction.stream_scd2_history)",
)
def stream_scd2_history_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_scd2_history

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return stream_scd2_history(spark, f"{sf_dir}/events.parquet").orderBy(
        "user_id", "valid_from_us"
    )


# live predicate for the SCD2 subject-erasure stream: the staged
# retraction batch erases user_id % 10 == 3 among events BEFORE the
# first of the three time-slice boundaries (mid_us = lo + step, step =
# GREATEST(1, (hi - lo + 3) // 3) over epoch microseconds) — the same
# scalar-subquery lift pattern as the dedup *_with_deletes oracles.
_SCD2_DEL_WHERE = (
    "NOT (user_id % 10 = 3 AND epoch_us(CAST(ts AS TIMESTAMP)) < "
    "(SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) + GREATEST(1, "
    "(MAX(epoch_us(CAST(ts AS TIMESTAMP))) "
    "- MIN(epoch_us(CAST(ts AS TIMESTAMP))) + 3) // 3) FROM events))"
)


@query(
    "stream_scd2_with_deletes",
    # the batch SCD2 relation over the LIVE events: the shared
    # lag/lead oracle with the erased events filtered out (the one
    # corpus scan lives in the ev CTE).
    oracle=_SCD2_ORACLE.replace(
        "FROM events", f"FROM events WHERE {_SCD2_DEL_WHERE}"
    ),
    doc="SCD2 history under CDC inserts AND SUBJECT ERASURE (GDPR "
    "right-to-be-forgotten applied to dimension history — the "
    "reference's J5 delete-then-reconcile, 'Update Calabrio Tables "
    "from Staging Tables (D_POST_INSTALL).sql':85-92, on the history "
    "artifact): a mid-stream retraction batch erases the named users' "
    "ingested data — emitted history rows leave the relation (epoch-"
    "scoped tombstone filter: only rows from epochs BEFORE the "
    "erasure drop), open intervals vanish from state, and a LATER "
    "event for the same user legitimately re-opens a fresh history "
    "(re-subscription — the one retraction contract where the subject "
    "key returning is normal, which the cleansed state yields for "
    "free).  Equals the batch SCD2 build on the live events "
    "(extension, SURVEY §2.9; "
    "streaming/retraction.stream_scd2_with_deletes)",
)
def stream_scd2_with_deletes_q(spark, sf_dir):
    from qaapi_spark.streaming.retraction import stream_scd2_with_deletes

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # rows_per_file (VERDICT r14 next #1: the r14 write-width valve is
    # now the certified default on this query): 64 sizes the open-set
    # state snapshot to ~3 files at sf0.01 (150 users) — the
    # multi-task write path carries the driver value-hash row.  A
    # deployment sets it to target-file-bytes / row-width.
    return stream_scd2_with_deletes(
        spark, f"{sf_dir}/events.parquet", del_mod=10, del_rem=3,
        rows_per_file=64,
    ).orderBy("user_id", "valid_from_us")


@query(
    "timeseries_gapfill_hourly",
    # hour keys are exact integer floor divisions of epoch
    # microseconds; the moving average divides an exact integer sum by
    # the exact in-frame row count (1..3), so both engines round the
    # same double.
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT)
                   AS hour_s
        FROM events
    ),
    cnt AS (
        SELECT event_type, hour_s, COUNT(*) AS n FROM b GROUP BY 1, 2
    ),
    rng AS (SELECT MIN(hour_s) AS lo, MAX(hour_s) AS hi FROM b),
    spine AS (
        SELECT unnest(range(rng.lo, rng.hi + 1)) AS hour_s FROM rng
    ),
    types AS (SELECT DISTINCT event_type FROM b),
    dense AS (
        SELECT t.event_type, s.hour_s, COALESCE(cnt.n, 0) AS n
        FROM types t
        CROSS JOIN spine s
        LEFT JOIN cnt ON cnt.event_type = t.event_type
                     AND cnt.hour_s = s.hour_s
    )
    SELECT event_type, hour_s, CAST(n AS BIGINT) AS n,
           ROUND(AVG(n) OVER (PARTITION BY event_type ORDER BY hour_s
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
               AS ma3
    FROM dense ORDER BY event_type, hour_s
    """,
    doc="time-series densification (gap-fill) + trailing window over "
    "the DENSIFIED series: hourly event counts per type left-join "
    "onto a generated calendar spine with zero-fill, then a 3-hour "
    "trailing mean — the step every windowed metric needs first, "
    "because a ROWS frame over a SPARSE series silently spans "
    "missing hours and overstates the average.  The spine is a "
    "generated sequence (|types| x |hours| rows, no scan), counts "
    "come from one map-side-combined aggregate, and the window keys "
    "on event_type — at 100 TB the spine stays metadata-sized while "
    "only the count aggregate scales (extension: time-series "
    "analytics family)",
)
def timeseries_gapfill_hourly(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
        ).alias("hour_s"),
    )
    cnt = b.groupBy("event_type", "hour_s").agg(F.count("*").alias("n"))
    lo, hi = b.agg(F.min("hour_s"), F.max("hour_s")).collect()[0]
    spine = spark.range(int(lo), int(hi) + 1).select(
        F.col("id").alias("hour_s")
    )
    types = b.select("event_type").distinct()
    dense = (
        types.crossJoin(spine)
        .join(cnt, ["event_type", "hour_s"], "left")
        .select(
            "event_type", "hour_s",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(-2, 0)
    )
    return dense.withColumn("ma3", F.round(F.avg("n").over(w), 4)).orderBy(
        "event_type", "hour_s"
    )
