"""Data-layout operators: how a table's physical layout makes later
scans cheap.  At 100 TB the layout decides query cost — partition
pruning, file sizing, and clustering do more for scan time than any
plan-level optimization.

  - Z-order planning: Morton-interleave two columns (`morton_code`);
    `zorder_tiles` histograms the 2-D tiles a z-ordered writer would
    range-partition on, and `zonemap_skipping_compare` counts the
    files a 2-D range predicate must read under a linear vs a Morton
    layout — per-file min/max pruning, exactly what parquet row-group
    stats allow (a lexicographic sort only helps the leading column).
  - bucketed pairs: `write_bucketed_pair` lays two tables out
    pre-hash-partitioned on the join key, so joins between them run
    without an Exchange.
  - `file_key_ranges`: the per-file min/max a range-pruning scan
    consults.

Directory-level concerns live elsewhere: listing, footers and the
crash-safe replace in ``sources/tables.py``; in-place small-file
compaction in ``maintain.compact_files``; bucket-partitioned curated
tables in ``operators/partitioned.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_key_ranges(spark: SparkSession, path: str, key: str) -> list[tuple[str, int, int]]:
    """(file, min, max) of ``key`` per parquet file — the stats a
    range-pruning scan consults; used by tests to prove disjointness."""
    import pyarrow.parquet as pq

    from qaapi_spark.sources.tables import parquet_files

    out = []
    for name in parquet_files(path):
        md = pq.ParquetFile(name).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[key]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
        if mins:
            out.append((name, min(mins), max(maxs)))
    return out


def _spread_bits16(c):
    """Interleave-ready bit spread: 16-bit int -> even bit positions of
    a 32-bit int (classic magic-mask sequence, all JVM-side bit ops)."""
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
    return c


def morton_code(x, y):
    """Z-order (Morton) interleave of two 16-bit normalized columns:
    morton = spread(x) | spread(y) << 1.  Pure codegen expressions.

    The operands are widened to LONG before the final shift: spread(y)
    can reach 0x55555555, whose << 1 overflows a 32-bit int to a
    NEGATIVE code — which would order the y >= 32768 half of the plane
    BEFORE the low half and break tile compactness at the top bit.
    Codes are therefore non-negative in [0, 2^32)."""
    return (
        _spread_bits16(x)
        .cast("long")
        .bitwiseOR(F.shiftleft(_spread_bits16(y).cast("long"), 1))
    )


# DuckDB twin of the Morton spread/interleave above, generated by the
# same mask sequence so the two stay in lock-step (masks in decimal:
# 0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555).
def _spread_sql(c: str) -> str:
    expr = c
    for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)):
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
    return expr


_NORM_SQL = (
    "CASE WHEN {hi} = {lo} THEN 0 ELSE LEAST(65535, GREATEST(0, "
    "CAST(FLOOR(((CAST({x} AS DOUBLE) - CAST({lo} AS DOUBLE)) "
    "/ (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE))) * 65535) AS INTEGER)"
    ")) END"
)


def zorder_tiles_oracle_sql(
    table: str, col_x: str, col_y: str, tile_bits: int = 12
) -> str:
    """Exact DuckDB twin of :func:`zorder_tiles` (bit-identical: the
    min/max normalization is the same IEEE double expression, the
    spread/interleave the same integer bit ops)."""
    gx = _NORM_SQL.format(x=col_x, lo="b.lx", hi="b.hx")
    gy = _NORM_SQL.format(x=col_y, lo="b.ly", hi="b.hy")
    return f"""
    WITH b AS (
        SELECT MIN({col_x}) AS lx, MAX({col_x}) AS hx,
               MIN({col_y}) AS ly, MAX({col_y}) AS hy
        FROM {table}
    ),
    g AS (
        SELECT {gx} AS gx, {gy} AS gy FROM {table} CROSS JOIN b
    ),
    z AS (
        SELECT CAST({_spread_sql('gx')} AS BIGINT)
               | (CAST({_spread_sql('gy')} AS BIGINT) << 1) AS z
        FROM g
    )
    SELECT (z >> {32 - tile_bits}) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(z) AS BIGINT) AS min_z,
           CAST(MAX(z) AS BIGINT) AS max_z
    FROM z GROUP BY tile ORDER BY tile
    """


def zorder_tiles(
    df: DataFrame, col_x: str, col_y: str, tile_bits: int = 12
) -> DataFrame:
    """Z-order tile histogram: (tile, n, min_z, max_z) per top-
    ``tile_bits`` Morton tile of the (col_x, col_y) plane — the
    observability query behind a z-ordered layout (how many rows land
    in each 2-D tile, and how tight the codes are within it), and the
    clustering key a writer would range-partition on.

    Scale shape: one min/max aggregate (1 row, broadcast back), then a
    map-only normalize+interleave projection and one tile-cardinality
    groupBy — the corpus is scanned once and the shuffle is bounded by
    2^tile_bits tiles.  Every step is engine-exact (IEEE double
    normalize over identical operands, integer bit ops), so the whole
    histogram value-hash-verifies against DuckDB."""
    b = df.agg(
        F.min(col_x).alias("lx"),
        F.max(col_x).alias("hx"),
        F.min(col_y).alias("ly"),
        F.max(col_y).alias("hy"),
    )

    def norm(x, lo, hi):
        return (
            F.when(F.col(hi) == F.col(lo), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(65535),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (x.cast("double") - F.col(lo).cast("double"))
                            / (F.col(hi).cast("double") - F.col(lo).cast("double"))
                            * 65535
                        ).cast("int"),
                    ),
                )
            )
        )

    z = df.crossJoin(F.broadcast(b)).select(
        morton_code(
            norm(F.col(col_x), "lx", "hx"), norm(F.col(col_y), "ly", "hy")
        ).alias("z")
    )
    return (
        z.groupBy(F.shiftright(F.col("z"), 32 - tile_bits).alias("tile"))
        .agg(
            F.count("*").alias("n"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
        .orderBy("tile")
    )


def write_bucketed_pair(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_buckets: int,
    db: str,
    left_table: str,
    right_table: str,
    location: str,
) -> None:
    """Write two relations as BUCKETED datasource tables on the same
    join key — Spark's persisted co-location layout (``bucketBy`` +
    ``saveAsTable``; works on the in-memory catalog, no Hive needed).

    Both sides land pre-hash-partitioned into ``n_buckets`` files per
    table on xxhash64-murmur bucketing of ``key``, so ANY later
    equi-join or aggregation on ``key`` between them reads matching
    buckets directly: the plan has NO Exchange on either side — at
    100 TB that's both shuffles of every repeated fact-dim join paid
    ONCE at write time and amortized over every downstream query
    (pin: tests/test_layout.py asserts the exchange-free plan).

    Sort within buckets by the key so the join is also sort-free
    (SortMergeJoin reads pre-sorted runs).
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    for df, name in ((left, left_table), (right, right_table)):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(f"{db}.{name}")
        )


def zonemap_skipping_compare(
    df: DataFrame,
    col_x: str,
    col_y: str,
    file_bits: int = 6,
    x_frac: tuple[float, float] = (0.45, 0.55),
    y_frac: tuple[float, float] = (0.45, 0.55),
) -> DataFrame:
    """Zone-map pruning estimator: for one 2-D range predicate, how
    many of 2^file_bits files must be READ under (a) a linear layout
    clustered on col_x alone vs (b) a Morton/z-order layout on
    (col_x, col_y) — the planner-side quantification of WHY 2-D
    clustering wins.  Files are value-range chunks (top ``file_bits`` bits of the
    16-bit normalized sort key), pruning consults only per-file
    min/max of the raw columns — exactly what parquet row-group
    zone maps store.  A file is read iff its [min, max] envelope on
    BOTH columns overlaps the predicate box.

    Returns one row per strategy: (strategy, files_nonempty,
    files_read, rows_in_read_files, rows_matched).  rows_matched is
    layout-invariant (sanity column); rows_in_read_files is the IO
    proxy a cost model would use.

    Scale shape: one min/max aggregate broadcast back, then a map-only
    normalize/interleave projection and two file-cardinality groupBys
    (2^file_bits groups each) — corpus scanned once per strategy,
    never shuffled beyond the bounded file histogram.  The linear
    strategy's y envelope per file spans ~the whole domain, so it
    prunes on x only; the Morton tiles bound both dimensions at
    ~1/sqrt(n_files) — measured below, not asserted."""
    b = df.agg(
        F.min(col_x).alias("lx"),
        F.max(col_x).alias("hx"),
        F.min(col_y).alias("ly"),
        F.max(col_y).alias("hy"),
    )

    def norm(x, lo, hi):
        return (
            F.when(F.col(hi) == F.col(lo), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(65535),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (x.cast("double") - F.col(lo).cast("double"))
                            / (F.col(hi).cast("double") - F.col(lo).cast("double"))
                            * 65535
                        ).cast("int"),
                    ),
                )
            )
        )

    lo_x = F.col("lx").cast("double")
    hi_x = F.col("hx").cast("double")
    lo_y = F.col("ly").cast("double")
    hi_y = F.col("hy").cast("double")
    x1 = lo_x + F.lit(x_frac[0]) * (hi_x - lo_x)
    x2 = lo_x + F.lit(x_frac[1]) * (hi_x - lo_x)
    y1 = lo_y + F.lit(y_frac[0]) * (hi_y - lo_y)
    y2 = lo_y + F.lit(y_frac[1]) * (hi_y - lo_y)

    gx = norm(F.col(col_x), "lx", "hx")
    gy = norm(F.col(col_y), "ly", "hy")
    base = df.crossJoin(F.broadcast(b)).select(
        F.col(col_x).cast("double").alias("x"),
        F.col(col_y).cast("double").alias("y"),
        F.shiftright(gx, 16 - file_bits).alias("file_linear"),
        F.shiftright(morton_code(gx, gy), 32 - file_bits).alias("file_z"),
        (
            (F.col(col_x).cast("double") >= x1)
            & (F.col(col_x).cast("double") <= x2)
            & (F.col(col_y).cast("double") >= y1)
            & (F.col(col_y).cast("double") <= y2)
        ).alias("hit"),
        x1.alias("x1"),
        x2.alias("x2"),
        y1.alias("y1"),
        y2.alias("y2"),
    )

    def summarize(file_col: str, label: str) -> DataFrame:
        files = base.groupBy(F.col(file_col).alias("f")).agg(
            F.count("*").alias("n"),
            F.sum(F.col("hit").cast("long")).alias("n_hit"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.first("x1").alias("x1"),
            F.first("x2").alias("x2"),
            F.first("y1").alias("y1"),
            F.first("y2").alias("y2"),
        )
        read = (
            (F.col("min_x") <= F.col("x2"))
            & (F.col("max_x") >= F.col("x1"))
            & (F.col("min_y") <= F.col("y2"))
            & (F.col("max_y") >= F.col("y1"))
        )
        return files.agg(
            F.count("*").alias("files_nonempty"),
            F.sum(read.cast("long")).alias("files_read"),
            F.sum(F.when(read, F.col("n")).otherwise(F.lit(0))).alias(
                "rows_in_read_files"
            ),
            F.sum("n_hit").alias("rows_matched"),
        ).select(
            F.lit(label).alias("strategy"),
            "files_nonempty",
            "files_read",
            "rows_in_read_files",
            "rows_matched",
        )

    return summarize("file_linear", "linear_x").unionAll(
        summarize("file_z", "zorder_xy")
    )


def zonemap_skipping_oracle_sql(
    table: str,
    col_x: str,
    col_y: str,
    file_bits: int = 6,
    x_frac: tuple[float, float] = (0.45, 0.55),
    y_frac: tuple[float, float] = (0.45, 0.55),
) -> str:
    """Exact DuckDB twin of :func:`zonemap_skipping_compare` (same
    normalize/spread/interleave integer ops, same IEEE double predicate
    bounds, same per-file min/max overlap rule)."""
    gx = _NORM_SQL.format(x=col_x, lo="b.lx", hi="b.hx")
    gy = _NORM_SQL.format(x=col_y, lo="b.ly", hi="b.hy")
    bounds = (
        "CAST(b.lx AS DOUBLE) + {lo} * (CAST(b.hx AS DOUBLE) - CAST(b.lx AS DOUBLE)) AS x1, "
        "CAST(b.lx AS DOUBLE) + {hi} * (CAST(b.hx AS DOUBLE) - CAST(b.lx AS DOUBLE)) AS x2, "
        "CAST(b.ly AS DOUBLE) + {ylo} * (CAST(b.hy AS DOUBLE) - CAST(b.ly AS DOUBLE)) AS y1, "
        "CAST(b.ly AS DOUBLE) + {yhi} * (CAST(b.hy AS DOUBLE) - CAST(b.ly AS DOUBLE)) AS y2"
    ).format(lo=x_frac[0], hi=x_frac[1], ylo=y_frac[0], yhi=y_frac[1])
    return f"""
    WITH b AS (
        SELECT MIN({col_x}) AS lx, MAX({col_x}) AS hx,
               MIN({col_y}) AS ly, MAX({col_y}) AS hy
        FROM {table}
    ),
    base AS (
        SELECT CAST({col_x} AS DOUBLE) AS x,
               CAST({col_y} AS DOUBLE) AS y,
               ({gx}) AS gx, ({gy}) AS gy,
               {bounds}
        FROM {table} CROSS JOIN b
    ),
    coded AS (
        SELECT x, y, x1, x2, y1, y2,
               (gx >> {16 - file_bits}) AS file_linear,
               ((CAST({_spread_sql('gx')} AS BIGINT)
                 | (CAST({_spread_sql('gy')} AS BIGINT) << 1))
                >> {32 - file_bits}) AS file_z,
               (x >= x1 AND x <= x2 AND y >= y1 AND y <= y2) AS hit
        FROM base
    ),
    lin AS (
        SELECT file_linear AS f, COUNT(*) AS n,
               SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit,
               MIN(x) AS min_x, MAX(x) AS max_x,
               MIN(y) AS min_y, MAX(y) AS max_y,
               MIN(x1) AS x1, MIN(x2) AS x2, MIN(y1) AS y1, MIN(y2) AS y2
        FROM coded GROUP BY file_linear
    ),
    zor AS (
        SELECT file_z AS f, COUNT(*) AS n,
               SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hit,
               MIN(x) AS min_x, MAX(x) AS max_x,
               MIN(y) AS min_y, MAX(y) AS max_y,
               MIN(x1) AS x1, MIN(x2) AS x2, MIN(y1) AS y1, MIN(y2) AS y2
        FROM coded GROUP BY file_z
    )
    SELECT 'linear_x' AS strategy,
           CAST(COUNT(*) AS BIGINT) AS files_nonempty,
           CAST(SUM(CASE WHEN min_x <= x2 AND max_x >= x1
                          AND min_y <= y2 AND max_y >= y1
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
           CAST(SUM(CASE WHEN min_x <= x2 AND max_x >= x1
                          AND min_y <= y2 AND max_y >= y1
                    THEN n ELSE 0 END) AS BIGINT) AS rows_in_read_files,
           CAST(SUM(n_hit) AS BIGINT) AS rows_matched
    FROM lin
    UNION ALL
    SELECT 'zorder_xy',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN min_x <= x2 AND max_x >= x1
                          AND min_y <= y2 AND max_y >= y1
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN min_x <= x2 AND max_x >= x1
                          AND min_y <= y2 AND max_y >= y1
                    THEN n ELSE 0 END) AS BIGINT),
           CAST(SUM(n_hit) AS BIGINT)
    FROM zor
    ORDER BY strategy
    """
