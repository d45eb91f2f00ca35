"""Sketch operators: count-min sketch buckets, HLL, KMV, histogram
percentiles + exact heavy hitters.

CMS is the classic bounded-memory frequency sketch for unbounded key
domains: d independent hash rows x w buckets; point estimate = min over
rows.  The catalog builds it as ONE hash-aggregate
(``plans/llm_sketches.sketch_cms_user_counts``): explode the d (row,
bucket) pairs per input row, groupBy (row, bucket) + count — map-side
partial counts mean the shuffle carries at most d*w rows per partition
regardless of input size.

The bucket hash is engine-portable: the first 16 md5 bits of
``"<row>:<key>"`` mod width, reproducible bit-for-bit in DuckDB
(``CAST('0x' || substr(md5(...),1,4) AS BIGINT)``), which upgrades the
driver's CMS check from rows-only to a full value-hash oracle (VERDICT
r2 next-round #5).  The sketch guarantees hold (est >= true always;
est <= true + eps*N w.h.p., asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(r: int, k: Column, width: int) -> Column:
    """CMS bucket of key ``k`` in hash row ``r`` (md5 family)."""
    h = F.md5(F.concat_ws(":", F.lit(str(r)), k.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(width))


def hll_portable(
    df: DataFrame,
    key: Column | str,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Engine-portable HyperLogLog distinct estimate per group.

    Classic HLL (Flajolet et al. 2007, public): md5(key) supplies
    2**p buckets (first p/4 hex chars) and a 48-bit tail whose
    leading-zero run is the register value; registers aggregate with
    MAX (mergeable, bounded: 2**p rows per group ever shuffle); the
    harmonic-mean estimate with small-range (linear-counting)
    correction is plain arithmetic.  Because the hash family is md5 —
    not an engine-private seed — the WHOLE estimate reproduces
    bit-for-bit in DuckDB SQL, upgrading the HLL driver check from
    rows-only to a value-hash oracle (same trick as the md5 CMS;
    VERDICT r2 next #5).  The exact-sum term is kept integral
    (sum of shiftleft(1, 49 - M_j), scale 2**49) so no
    float-summation-order divergence can creep in.

    Output: group_cols + ``hll_est`` (rounded to 4 dp).  Spark's
    native approx_count_distinct (HLL++, engine-private) remains the
    JVM-cheapest path; this is the portable/verifiable one.
    """
    if p % 4:
        raise ValueError("p must be a multiple of 4 (hex-aligned)")
    k = F.col(key) if isinstance(key, str) else key
    m = 1 << p
    hex_b = p // 4
    two49 = 1 << 49
    h = F.md5(k.cast("string"))
    bucket = F.conv(F.substring(h, 1, hex_b), 16, 10).cast("int")
    w = F.conv(F.substring(h, hex_b + 1, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    regs = (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 49 - mj)")).alias("s_present"),
        F.count("*").alias("nb"),
    )
    v = F.lit(m) - F.col("nb")
    s = F.col("s_present") + v.cast("long") * F.lit(two49)
    # one precomputed double numerator (alpha * m^2 * 2^49) so Spark and
    # the SQL oracle share the exact same literal, and the only runtime
    # float op is a single division by the exact-integer register sum
    numer = 0.7213 / (1.0 + 1.079 / m) * float(m) * float(m) * float(two49)
    e_raw = F.lit(numer) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return per_group.select(*group_cols, F.round(est, 4).alias("hll_est"))


def hll_portable_oracle_sql(
    table: str, key: str, group_cols: list[str], p: int = 8
) -> str:
    """The DuckDB mirror of :func:`hll_portable` — same hash family,
    same integral register sum, same correction arithmetic."""
    if p % 4:
        raise ValueError("p must be a multiple of 4 (hex-aligned)")
    m = 1 << p
    hex_b = p // 4
    two49 = 1 << 49
    numer = 0.7213 / (1.0 + 1.079 / m) * float(m) * float(m) * float(two49)
    g = ", ".join(group_cols)
    # every float literal is CAST AS DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL, whose arithmetic overflows AND rounds
    # differently than the IEEE doubles Spark uses
    e_raw = (
        f"CAST({numer!r} AS DOUBLE) / "
        f"(s_present + CAST({m} - nb AS BIGINT) * ({two49}::BIGINT))"
    )
    return f"""
    WITH hashed AS (
        SELECT {g},
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, {hex_b})) AS BIGINT) AS bucket,
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), {hex_b + 1}, 12)) AS BIGINT) AS w
        FROM {table}
    ),
    regs AS (
        SELECT {g}, bucket,
               MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
        FROM hashed GROUP BY {g}, bucket
    ),
    per_group AS (
        SELECT {g},
               SUM(1::BIGINT << (49 - mj)) AS s_present,
               COUNT(*) AS nb
        FROM regs GROUP BY {g}
    )
    SELECT {g},
           ROUND(CASE WHEN ({e_raw}) <= CAST({2.5 * m!r} AS DOUBLE)
                       AND ({m} - nb) > 0
                 THEN CAST({float(m)!r} AS DOUBLE)
                      * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nb AS DOUBLE))
                 ELSE {e_raw}
                 END, 4) AS hll_est
    FROM per_group
    """


def histogram_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    bins: int = 512,
) -> DataFrame:
    """Engine-portable approximate percentiles via an equi-width
    histogram sketch: per group, (min, max, count) in one pass, then a
    ``bins``-counter histogram (mergeable, bounded memory) whose
    cumulative walk yields each quantile's bin midpoint.  Error is
    bounded by one bin width — the classic histogram-quantile tradeoff
    — and every step is exact-integer or order-independent arithmetic,
    so the result hash-checks against a DuckDB oracle (unlike Spark's
    native percentile_approx, whose quantile-sketch sample points are
    engine-private).

    Output: group_cols + ``p<q>`` per requested quantile, rounded 4 dp.
    """
    from pyspark.sql import Window

    stats = df.groupBy(*group_cols).agg(
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
        F.count("*").alias("n"),
    )
    vb = (
        (F.col(value_col) - F.col("lo"))
        / (F.col("hi") - F.col("lo"))
        * F.lit(bins)
    )
    binc = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(F.least(F.lit(bins - 1), F.floor(vb)))
        .cast("int")
    )
    hist = (
        df.join(F.broadcast(stats), group_cols)
        .select(*group_cols, binc.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    wspec = Window.partitionBy(*group_cols).orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(wspec))
    labeled = cum.join(F.broadcast(stats), group_cols)
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin"))
        ).alias(f"b{int(q * 100)}")
        for q in qs
    ]
    sel = labeled.groupBy(*group_cols, "lo", "hi").agg(*aggs)
    outs = [
        F.round(
            F.col("lo")
            + (F.col(f"b{int(q * 100)}").cast("double") + F.lit(0.5))
            * (F.col("hi") - F.col("lo"))
            / F.lit(bins),
            4,
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return sel.select(*group_cols, *outs)


def histogram_percentiles_oracle_sql(
    table: str,
    value_col: str,
    group_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    bins: int = 512,
) -> str:
    """DuckDB mirror of :func:`histogram_percentiles`."""
    g = ", ".join(group_cols)
    bsel = ",\n               ".join(
        f"MIN(CASE WHEN c.cum >= CEIL({q!r} * s.n) THEN c.bin END) AS b{int(q * 100)}"
        for q in qs
    )
    osel = ",\n           ".join(
        f"ROUND(lo + (CAST(b{int(q * 100)} AS DOUBLE) + 0.5) * (hi - lo) / {bins}, 4) AS p{int(q * 100)}"
        for q in qs
    )
    return f"""
    WITH stats AS (
        SELECT {g}, MIN({value_col}) AS lo, MAX({value_col}) AS hi,
               COUNT(*) AS n
        FROM {table} GROUP BY {g}
    ),
    binned AS (
        SELECT e.{g},
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE CAST(LEAST({bins - 1},
                         FLOOR((e.{value_col} - s.lo) / (s.hi - s.lo) * {bins})) AS INT)
               END AS bin
        FROM {table} e JOIN stats s USING ({g})
    ),
    hist AS (SELECT {g}, bin, COUNT(*) AS cnt FROM binned GROUP BY {g}, bin),
    cum AS (
        SELECT {g}, bin,
               SUM(cnt) OVER (PARTITION BY {g} ORDER BY bin) AS cum
        FROM hist
    ),
    sel AS (
        SELECT c.{g}, MIN(s.lo) AS lo, MIN(s.hi) AS hi,
               {bsel}
        FROM cum c JOIN stats s USING ({g}) GROUP BY c.{g}
    )
    SELECT {g},
           {osel}
    FROM sel
    """


def kmv_overlap(
    df: DataFrame,
    key: str,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """KMV (k-minimum-values) set-overlap estimation between every pair
    of groups: distinct size, Jaccard, and intersection estimates from
    bounded k-row sketches (Beyer et al., SIGMOD 2007 — public).

    Sketch per group = the k smallest 60-bit md5 hashes of the DISTINCT
    keys (one distinct aggregate + one windowed top-k: bounded to k
    rows per group forever).  For a pair (a, b): take the k smallest of
    the merged sketches (= KMV of the union); est_jaccard = fraction of
    those present in BOTH sketches; est_union = (k-1) * 2^60 / h_k;
    est_intersection = est_jaccard * est_union.  All arithmetic is
    order-statistic + one division — the md5 hash family reproduces
    bit-for-bit in DuckDB, so this approximate operator carries an
    exact value-hash oracle like the CMS/HLL/histogram sketches.

    Output: (group_a, group_b, est_jaccard, est_intersection) for
    group_a < group_b, rounded 4dp.
    """
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    hashes = (
        df.select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    sk = hashes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    pairs = (
        sk.select(F.col("g").alias("ga")).distinct()
        .join(sk.select(F.col("g").alias("gb")).distinct(), F.col("ga") < F.col("gb"))
    )
    # merged union sketch per pair: k smallest distinct hashes of a+b
    merged = (
        pairs.join(sk.select(F.col("g").alias("ga"), "h"), "ga")
        .unionByName(pairs.join(sk.select(F.col("g").alias("gb"), "h"), "gb"))
        .select("ga", "gb", "h")
        .distinct()
    )
    wu = Window.partitionBy("ga", "gb").orderBy("h")
    topu = merged.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    in_a = sk.select(F.col("g").alias("ga"), F.col("h").alias("ha"))
    in_b = sk.select(F.col("g").alias("gb"), F.col("h").alias("hb"))
    flagged = (
        topu.join(in_a, (topu["ga"] == in_a["ga"]) & (topu["h"] == in_a["ha"]), "left")
        .drop(in_a["ga"])
        .join(in_b, (topu["gb"] == in_b["gb"]) & (topu["h"] == in_b["hb"]), "left")
        .drop(in_b["gb"])
    )
    two60 = float(1 << 60)
    agg = flagged.groupBy("ga", "gb").agg(
        F.count("*").alias("ku"),
        F.max("h").alias("hk"),
        F.sum(
            F.when(F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
    )
    est_union = (F.col("ku").cast("double") - F.lit(1.0)) * F.lit(two60) / F.col(
        "hk"
    ).cast("double")
    est_j = F.col("n_both").cast("double") / F.col("ku").cast("double")
    return agg.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.round(est_j, 4).alias("est_jaccard"),
        F.round(est_j * est_union, 4).alias("est_intersection"),
    )


def kmv_overlap_oracle_sql(
    table: str, key: str, group_col: str, k: int = 256
) -> str:
    """DuckDB mirror of :func:`kmv_overlap`."""
    two60 = float(1 << 60)
    return f"""
    WITH hashes AS (
        SELECT DISTINCT {group_col} AS g,
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM {table}
    ),
    sk AS (
        SELECT g, h FROM (
            SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM hashes
        ) WHERE rn <= {k}
    ),
    pairs AS (
        SELECT a.g AS ga, b.g AS gb
        FROM (SELECT DISTINCT g FROM sk) a
        JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g
    ),
    merged AS (
        SELECT DISTINCT ga, gb, h FROM (
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
            UNION ALL
            SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
        )
    ),
    topu AS (
        SELECT ga, gb, h FROM (
            SELECT ga, gb, h,
                   ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM merged
        ) WHERE rn <= {k}
    ),
    agg AS (
        SELECT t.ga, t.gb, COUNT(*) AS ku, MAX(t.h) AS hk,
               SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                        THEN 1 ELSE 0 END) AS n_both
        FROM topu t
        LEFT JOIN sk sa ON sa.g = t.ga AND sa.h = t.h
        LEFT JOIN sk sb ON sb.g = t.gb AND sb.h = t.h
        GROUP BY t.ga, t.gb
    )
    SELECT ga AS group_a, gb AS group_b,
           ROUND(CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE), 4) AS est_jaccard,
           ROUND((CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE))
                 * ((CAST(ku AS DOUBLE) - CAST(1.0 AS DOUBLE)) * CAST({two60!r} AS DOUBLE)
                    / CAST(hk AS DOUBLE)), 4) AS est_intersection
    FROM agg
    """


def heavy_hitters_exact(df: DataFrame, key: Column | str, k: int) -> DataFrame:
    """Exact top-k frequent keys (deterministic tie-break on key) —
    the ground truth the sketch approximates; oracle-checkable."""
    kcol = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(kcol.alias("key"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(k)
    )


def hll_windowed_users(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    window_hours: int = 6,
    p: int = 8,
) -> DataFrame:
    """Sliding-window distinct-count via SKETCH MERGE: hourly HLL
    registers are computed ONCE from the raw events, then each hour's
    2**p registers replicate into the ``window_hours`` windows that
    contain the hour and merge by register MAX — the raw data is never
    rescanned per window.  That merge step is the whole reason
    mergeable sketches exist at 100 TB: pre-aggregated hourly sketches
    (2**p rows/hour) roll into any window length for free.

    Output: (window_start_s, hll_est, exact_users) — the exact
    companion rides along so the estimate's error is visible in every
    result row.  Same md5 hash family + integral register sums as
    :func:`hll_portable`, so the whole thing value-hash-reproduces in
    DuckDB.
    """
    if p % 4:
        raise ValueError("p must be a multiple of 4 (hex-aligned)")
    m = 1 << p
    hex_b = p // 4
    two49 = 1 << 49
    h = F.md5(F.col(key).cast("string"))
    bucket = F.conv(F.substring(h, 1, hex_b), 16, 10).cast("int")
    w = F.conv(F.substring(h, hex_b + 1, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    hour = (F.floor(F.unix_timestamp(F.col(ts_col)) / 3600) * 3600).cast("long")

    hourly = (
        df.select(hour.alias("h"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("h", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    ks = F.array(*[F.lit(k) for k in range(window_hours)])
    merged = (
        hourly.select(
            F.explode(ks).alias("k"), "h", "bucket", "mj"
        )
        .select((F.col("h") - F.col("k") * 3600).alias("ws"), "bucket", "mj")
        .groupBy("ws", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    per_w = merged.groupBy("ws").agg(
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
    ests = per_w.select(F.col("ws"), F.round(est, 4).alias("hll_est"))

    exact = (
        df.select(hour.alias("h"), F.col(key).alias("k_"))
        .distinct()
        .select(F.explode(ks).alias("k"), "h", "k_")
        .select((F.col("h") - F.col("k") * 3600).alias("ws"), "k_")
        .groupBy("ws")
        .agg(F.countDistinct("k_").alias("exact_users"))
    )
    return ests.join(exact, "ws").select(
        F.col("ws").alias("window_start_s"), "hll_est", "exact_users"
    )


def hll_windowed_oracle_sql(
    table: str,
    ts_col: str = "ts",
    key: str = "user_id",
    window_hours: int = 6,
    p: int = 8,
) -> str:
    """DuckDB mirror of :func:`hll_windowed_users`."""
    m = 1 << p
    hex_b = p // 4
    two49 = 1 << 49
    numer = 0.7213 / (1.0 + 1.079 / m) * float(m) * float(m) * float(two49)
    e_raw = (
        f"CAST({numer!r} AS DOUBLE) / "
        f"(s_present + CAST({m} - nb AS BIGINT) * ({two49}::BIGINT))"
    )
    return f"""
    WITH hashed AS (
        SELECT CAST(FLOOR(epoch({ts_col}) / 3600) AS BIGINT) * 3600 AS h,
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, {hex_b})) AS BIGINT) AS bucket,
               CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), {hex_b + 1}, 12)) AS BIGINT) AS w,
               {key} AS k_
        FROM {table}
    ),
    hourly AS (
        SELECT h, bucket,
               MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
        FROM hashed GROUP BY h, bucket
    ),
    merged AS (
        SELECT h - k.k * 3600 AS ws, bucket, MAX(mj) AS mj
        FROM hourly CROSS JOIN (SELECT unnest(range(0, {window_hours})) AS k) k
        GROUP BY ws, bucket
    ),
    per_w AS (
        SELECT ws, SUM(1::BIGINT << (49 - mj)) AS s_present, COUNT(*) AS nb
        FROM merged GROUP BY ws
    ),
    ests AS (
        SELECT ws,
               ROUND(CASE WHEN ({e_raw}) <= CAST({2.5 * m!r} AS DOUBLE)
                           AND ({m} - nb) > 0
                     THEN CAST({float(m)!r} AS DOUBLE)
                          * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - nb AS DOUBLE))
                     ELSE {e_raw}
                     END, 4) AS hll_est
        FROM per_w
    ),
    exact AS (
        SELECT ws, COUNT(DISTINCT k_) AS exact_users FROM (
            SELECT DISTINCT h, k_ FROM hashed
        ) CROSS JOIN (SELECT unnest(range(0, {window_hours})) AS k) k2,
        LATERAL (SELECT h - k2.k * 3600 AS ws) w
        GROUP BY ws
    )
    SELECT e.ws AS window_start_s, e.hll_est, x.exact_users
    FROM ests e JOIN exact x ON e.ws = x.ws
    """
