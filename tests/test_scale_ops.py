"""Scale-oriented operators: stateful streaming sessionization,
salted joins, bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qaapi_spark.operators.skew import salted_join
from qaapi_spark.sources.tables import read_table

from tests.conftest import SF_SMOKE


def test_stateful_sessionization_matches_batch(spark):
    """Closed sessions from the stateful streaming operator must agree
    with the batch lag+cumsum formulation (minus still-open tails)."""
    from qaapi_spark.streaming.stateful import SESSION_GAP_S, stream_sessionize
    from pyspark.sql import Window

    streamed = stream_sessionize(spark, f"{SF_SMOKE}/events.parquet")
    got = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in streamed.collect()
    }

    e = read_table(spark, SF_SMOKE, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(prev)
    sess = (
        e.withColumn("new", F.when(prev.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0))
        .withColumn("sid", F.sum("new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"), F.count("*").alias("n_events"))
    )
    # drop each user's LAST session (still open in the streaming view)
    wlast = Window.partitionBy("user_id").orderBy(F.col("sid").desc())
    closed_batch = sess.withColumn("rn", F.row_number().over(wlast)).filter(F.col("rn") > 1)
    want = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in closed_batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_salted_join_equals_plain_join(spark):
    e = read_table(spark, SF_SMOKE, "events").select("user_id", "event_id", "value")
    c = read_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = e.join(c, "user_id").select("event_id", "c_mktsegment")
    salted = salted_join(e, c, "user_id", n_salts=4).select("event_id", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_auto_gates_on_observed_skew(spark):
    """salted_join_auto salts ONLY when the sampled key histogram shows
    a hot key; either path must equal the plain equi-join."""
    from qaapi_spark.operators.skew import salted_join_auto

    dim = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("attr")
    )
    # skewed fact: 90% of rows on key 3
    skewed = spark.range(5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(3)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    uniform = spark.range(5000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    for fact, want_salt in ((skewed, True), (uniform, False)):
        got = salted_join_auto(fact, dim, "k", n_salts=4, sample_fraction=0.5)
        plan = got._jdf.queryExecution().analyzed().toString()
        assert ("__salt" in plan) == want_salt, plan[:500]
        plain = fact.join(dim, "k")
        assert sorted(map(tuple, got.select("k", "v", "attr").collect())) == sorted(
            map(tuple, plain.select("k", "v", "attr").collect())
        )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """bucketBy co-located join: both sides bucketed on the key =>
    SortMergeJoin with NO Exchange in the plan."""
    o = read_table(spark, SF_SMOKE, "orders")
    c = read_table(spark, SF_SMOKE, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bc = spark.table("b_orders"), spark.table("b_customer")
        j = bo.join(bc, bo.o_custkey == bc.c_custkey).select("o_orderkey", "c_name")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_cms_overestimate_bound(spark):
    """sketch_cms_user_counts (d=4, w=1024) against exact per-user
    counts: CMS never underestimates, and overestimates by at most
    eps*N (loose)."""
    from qaapi_spark.plans.catalog import CATALOG

    e = read_table(spark, SF_SMOKE, "events")
    q = CATALOG["sketch_cms_user_counts"].fn(spark, SF_SMOKE)
    est = {r["key"]: r["est"] for r in q.collect()}
    exact = {
        r["user_id"]: r["cnt"]
        for r in e.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(exact.values())
    assert set(est) == set(exact)
    for k, true in exact.items():
        assert est[k] >= true  # CMS never underestimates
        assert est[k] <= true + (2.0 / 1024) * n + 1  # eps*N bound (loose)


def test_blocked_embedding_pairs_equal_broadcast(spark):
    from qaapi_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_blocked,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    broad = sorted(map(tuple, embedding_near_dup_pairs(emb, 0.35).collect()))
    blocked = sorted(map(tuple, embedding_near_dup_pairs_blocked(emb, 0.35, n_blocks=3).collect()))
    assert broad == blocked and len(broad) > 0


def test_sparse_jaccard_equals_dense(spark):
    from qaapi_spark.operators.dedup import ngram_jaccard_pairs, ngram_jaccard_pairs_sparse

    d = read_table(spark, SF_SMOKE, "documents").limit(200)
    dense = sorted(map(tuple, ngram_jaccard_pairs(d, 0.8).collect()))
    sparse = sorted(map(tuple, ngram_jaccard_pairs_sparse(d, 0.8).collect()))
    assert dense == sparse and len(dense) > 0


def test_hll_distinct_within_rsd(spark):
    e = read_table(spark, SF_SMOKE, "events")
    est = {
        r["event_type"]: r["est"]
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("est"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(0.1 * n, 3)  # 5 sigma of rsd=2%


def test_approx_percentile_accuracy(spark):
    e = read_table(spark, SF_SMOKE, "events")
    approx = {
        r["event_type"]: r["p"]
        for r in e.groupBy("event_type")
        .agg(F.percentile_approx("value", 0.5, 10000).alias("p"))
        .collect()
    }
    exact = {
        r["event_type"]: r["p"]
        for r in e.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p"))
        .collect()
    }
    for k, p in exact.items():
        # accuracy=10000 => rank error <= N/10000; values are dense, so
        # the value error stays within a tight relative band
        assert abs(approx[k] - p) <= max(abs(p) * 0.05, 0.5)


def test_hll_portable_within_error_bound(spark):
    """The md5-register HLL (hash-verifiable variant) must stay within
    the standard-error band of the true distinct count: sigma ~ 1.04 /
    sqrt(m) ~ 6.5% at m=256; assert 3 sigma."""
    from qaapi_spark.operators.sketches import hll_portable

    e = read_table(spark, SF_SMOKE, "events")
    est = {
        r["event_type"]: r["hll_est"]
        for r in hll_portable(e, "user_id", ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(0.2 * n, 3), (k, est[k], n)


def test_histogram_percentiles_within_bin_width(spark):
    """Histogram-sketch quantiles are exact to one bin width by
    construction, against the discrete rank statistic they target (the
    ceil(q*n)-th order statistic — NOT the interpolated percentile,
    which at small n can sit a whole gap away from any sample)."""
    import math

    from qaapi_spark.operators.sketches import histogram_percentiles

    e = read_table(spark, SF_SMOKE, "events")
    bins = 512
    got = {
        r["event_type"]: (r["p50"], r["p95"], r["p99"])
        for r in histogram_percentiles(e, "value", ["event_type"], bins=bins).collect()
    }
    by_type: dict[str, list[float]] = {}
    for r in e.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    assert got.keys() == by_type.keys()
    for k, ests in got.items():
        vals = sorted(by_type[k])
        width = (vals[-1] - vals[0]) / bins
        for q, est in zip((0.5, 0.95, 0.99), ests):
            rank_val = vals[math.ceil(q * len(vals)) - 1]
            assert abs(est - rank_val) <= width + 1e-9, (k, q, est, rank_val, width)


def test_kmv_overlap_accuracy_and_exact_small_regime(spark):
    """KMV: when |A ∪ B| <= k the sketch holds every distinct hash, so
    the Jaccard/intersection estimates are EXACT; above k the error is
    bounded by the k-th order statistic's variance (~1/sqrt(k))."""
    from itertools import combinations

    from qaapi_spark.operators.sketches import kmv_overlap

    e = read_table(spark, SF_SMOKE, "events")
    est = {
        (r.group_a, r.group_b): (r.est_jaccard, r.est_intersection)
        for r in kmv_overlap(e, "user_id", "event_type", k=256).collect()
    }
    users = {}
    for r in e.select("event_type", "user_id").distinct().collect():
        users.setdefault(r.event_type, set()).add(r.user_id)
    for a, b in combinations(sorted(users), 2):
        inter = len(users[a] & users[b])
        union = len(users[a] | users[b])
        ej, ei = est[(a, b)]
        true_j = inter / union
        if union <= 256:
            assert abs(ej - true_j) < 1e-3, (a, b, ej, true_j)
            assert abs(ei - inter) <= max(0.02 * inter, 1), (a, b, ei, inter)
        else:
            assert abs(ej - true_j) <= 0.15, (a, b, ej, true_j)
            assert abs(ei - inter) <= 0.3 * max(inter, 1), (a, b, ei, inter)
