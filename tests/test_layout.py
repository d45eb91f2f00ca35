"""Layout operators: scan pushdown, bucketed joins, z-order planning
and in-place compaction actually produce the layouts that make 100 TB
scans cheap — verified from the physical plan and parquet file stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from qaapi_spark.sources.tables import read_table

from tests.conftest import SF_SMOKE


def test_q6_filters_reach_the_scan(spark):
    """The q6 predicates must appear as PushedFilters on the parquet
    scan — a filter evaluated post-scan reads every row at 100 TB."""
    from qaapi_spark.plans import CATALOG

    df = CATALOG["q6_forecast_revenue"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_parquet_scan_pushdown_and_column_pruning(spark):
    """The q6-shaped predicate must reach the parquet scan
    (PushedFilters) and the scan must read ONLY the referenced columns
    (ReadSchema pruned to 3 of 16) — the two properties SCALE.md's
    global posture rests on."""
    from pyspark.sql import functions as F

    from qaapi_spark.sources.tables import read_table
    from tests.conftest import SF_SMOKE

    li = read_table(spark, SF_SMOKE, "lineitem")
    q = li.filter(
        (F.col("l_shipdate") >= "1994-01-01") & (F.col("l_discount") > 0.05)
    ).select("l_extendedprice", "l_discount")
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    try:
        plan = q._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, plan
    scan = scan_lines[0]
    assert "PushedFilters" in plan and "GreaterThan(l_discount" in plan
    # pruned projection: only the three touched columns in the scan
    assert "l_extendedprice" in scan and "l_shipdate" in scan
    assert "l_orderkey" not in scan and "l_comment" not in scan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketed co-located join (the 100 TB join strategy SCALE.md
    names): both sides written with bucketBy+sortBy on the join key
    join WITHOUT an Exchange on either side — pre-shuffled layout
    replaces the runtime shuffle entirely."""
    import uuid

    from pyspark.sql import functions as F

    ta, tb = (f"bj_{uuid.uuid4().hex[:6]}_{s}" for s in ("a", "b"))
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    right = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb")
    )
    try:
        for name, df in ((ta, left), (tb, right)):
            (
                df.write.mode("overwrite")
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(name)
            )
        # AQE off for a deterministic final plan; broadcast off so the
        # join would otherwise need a full shuffle on both sides
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(ta).join(spark.table(tb), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 5_000
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for name in (ta, tb):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_morton_code_nonnegative_and_interleaved(spark):
    """Sign-overflow regression (r7): spread(y) << 1 overflowed int32
    for y >= 32768, making half the plane sort FIRST.  Codes must be
    non-negative over the full 16-bit domain and equal a python-side
    bit interleave."""
    from pyspark.sql import functions as F

    from qaapi_spark.operators.layout import morton_code

    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (1, 65535), (32768, 32768)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", morton_code(F.col("x"), F.col("y")).alias("z")).collect()
    }

    def interleave(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z >= 0, (x, y, z)
        assert z == interleave(x, y), (x, y, z, interleave(x, y))


def test_zorder_tiles_matches_duckdb(spark):
    """The z-order tile histogram is engine-exact (IEEE normalize over
    identical operands + integer bit ops): Spark output must equal the
    DuckDB twin bit-for-bit.  (r8 catalog candidate — kept out of the
    driver window this round to preserve the staleness burn-down.)"""
    import duckdb

    from qaapi_spark.operators.layout import zorder_tiles, zorder_tiles_oracle_sql

    e = read_table(spark, SF_SMOKE, "events")
    got = sorted(map(tuple, zorder_tiles(e, "user_id", "value").collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT user_id, value "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet')"
    )
    want = sorted(
        map(tuple, con.sql(zorder_tiles_oracle_sql("events", "user_id", "value")).fetchall())
    )
    assert got == want and len(got) > 0


def test_bucketed_join_is_exchange_free(spark):
    """The persisted bucketBy+sortBy layout must make the custkey
    equi-join read matching buckets directly: SortMergeJoin with NO
    Exchange on either input (the whole point of paying the bucketed
    write once)."""
    from qaapi_spark.plans.profiling import _bucketed_pair_kernel
    from tests.conftest import SF_SMOKE

    ob, cb = _bucketed_pair_kernel(spark, SF_SMOKE)
    # at smoke scale the tiny dim side would be broadcast (also
    # shuffle-free, but it bypasses the bucketed scan); disable it so
    # the plan shows the layout actually doing the work — at fact-x-fact
    # scale broadcast is off the table and THIS is the plan you get
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            ob.join(cb, "custkey")._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    # and the values equal the unbucketed join
    got = ob.join(cb, "custkey").count()
    want = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMOKE}/customer.parquet"),
            F.expr("o_custkey = c_custkey"),
        )
        .count()
    )
    assert got == want and got > 0


def test_zonemap_skipping_zorder_dominates_linear(spark):
    """On an independent uniform 2-D distribution, for a box predicate
    WIDE relative to the per-file x-granularity (30% of the domain vs
    64 files), the Morton layout must read no more rows than the
    x-clustered layout (linear reads ~30% of files on x alone; the
    8x8 Morton grid bounds both dimensions).  Note this is NOT a
    per-instance theorem for narrow boxes: a box thinner in x than
    one linear file can align to beat a coarse tile grid — which is
    why the operator reports measurements instead of asserting a
    winner.  Both layouts must contain every matching row, and
    rows_matched is layout-invariant."""
    from qaapi_spark.operators.layout import zonemap_skipping_compare

    n = 4096
    df = spark.range(n).select(
        ((F.col("id") * 48271) % 9973).alias("x"),
        ((F.col("id") * 16807) % 9973).alias("y"),
    )
    rows = {
        r["strategy"]: r
        for r in zonemap_skipping_compare(
            df, "x", "y", 6, x_frac=(0.35, 0.65), y_frac=(0.35, 0.65)
        ).collect()
    }
    lin, zor = rows["linear_x"], rows["zorder_xy"]
    assert lin["rows_matched"] == zor["rows_matched"] > 0
    # pruning can never drop a matching row below what the predicate finds
    assert lin["rows_in_read_files"] >= lin["rows_matched"]
    assert zor["rows_in_read_files"] >= zor["rows_matched"]
    # the point of the layout: 2-D clustering reads no more than 1-D
    assert zor["rows_in_read_files"] <= lin["rows_in_read_files"]
    assert zor["files_read"] <= lin["files_read"]


def test_compact_files_reduces_count_and_preserves_content(spark, tmp_path):
    """Compaction must cut the file count to ceil(bytes/target),
    preserve every row, keep the directory readable at the SAME path,
    and leave no tmp/trash siblings behind."""
    import os as _os

    from qaapi_spark.operators.maintain import compact_files
    from qaapi_spark.sources.tables import parquet_files

    path = str(tmp_path / "t")
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(24).write.parquet(path)
    before = parquet_files(path)
    assert len(before) == 24
    stats = compact_files(spark, path, target_file_bytes=1 << 30, sort_col="id")
    assert stats["files_before"] == 24
    assert stats["files_after"] == 1
    assert stats["rows"] == 10000
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(10000))
    assert not _os.path.exists(path + ".next")
    assert not _os.path.exists(path + ".__swap_old__")


def test_compact_files_sorted_output_is_zonemap_tight(spark, tmp_path):
    """With sort_col, compacted files must have DISJOINT key ranges
    (zone-map-tight), so range predicates skip whole files."""
    from qaapi_spark.operators.layout import file_key_ranges
    from qaapi_spark.operators.maintain import compact_files

    path = str(tmp_path / "t2")
    spark.range(50000).select(F.col("id")).repartition(16).write.parquet(path)
    compact_files(spark, path, target_file_bytes=60_000, sort_col="id")
    ranges = sorted(
        file_key_ranges(spark, path, "id"), key=lambda r: r[1]
    )
    assert len(ranges) > 1
    for (_, _, hi), (_, lo2, _) in zip(ranges, ranges[1:]):
        assert hi < lo2
