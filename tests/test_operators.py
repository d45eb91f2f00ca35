"""Unit tests for operator semantics, including the reference's edge
cases (SURVEY.md §5.2 fixture list)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from qaapi_spark.functions.dialect import regexp_substr, regexp_substr_occ
from qaapi_spark.operators.dedup import word_shingles
from qaapi_spark.operators.maintain import delete_semi_anti, merge_insert_only, merge_upsert
from qaapi_spark.operators.similarity import dot, with_unit_vector
from qaapi_spark.operators.textstats import ws_tokens
from qaapi_spark.operators.windows import dedup_keep_latest


def rows(df, *cols):
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_merge_insert_only_keeps_target_version(spark):
    target = spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string")
    batch = spark.createDataFrame([(2, "new"), (3, "new")], "id long, v string")
    out = rows(merge_insert_only(target, batch, ["id"]), "id", "v")
    assert out == [(1, "old"), (2, "old"), (3, "new")]


def test_merge_upsert_updates_subset_and_preserves_rest(spark):
    # mirrors Update...sql:128-130: evaluated_date is NOT updated on match
    target = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, keep string, upd long")
    batch = spark.createDataFrame([(2, "XXX", 99), (3, "c", 30)], "id long, keep string, upd long")
    out = rows(merge_upsert(target, batch, ["id"], update_cols=["upd"]), "id", "keep", "upd")
    assert out == [(1, "a", 10), (2, "b", 99), (3, "c", 30)]


def test_delete_semi_anti_null_key_does_not_void_delete(spark):
    """SQL NOT IN with a NULL key deletes nothing; the anti-join port
    must still delete (SURVEY §2.4 J5 caution)."""
    target = spark.createDataFrame(
        [(100, 1, "stale"), (101, 1, "kept"), (102, 2, "other")],
        "eval_id long, contact_id long, v string",
    )
    # batch contains contact 1; its surviving eval ids include a NULL
    scope = spark.createDataFrame([(1,)], "contact_id long")
    keep = spark.createDataFrame([(101,), (None,)], "eval_id long")
    out = rows(delete_semi_anti(target, scope, ["contact_id"], keep, ["eval_id"]), "eval_id")
    assert out == [(101,), (102,)]  # 100 deleted despite NULL in keep


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_delete_semi_anti_matches_except_all(spark, seed):
    """The two-part survivor union equals ``target.exceptAll(victims)``
    as a multiset, with NULL keys in the target, the scope and the keep
    set, duplicated target rows, and duplicated build-side keys."""
    rng = random.Random(seed)

    def key(n):
        return None if rng.random() < 0.15 else rng.randrange(n)

    rows_t = [(key(40), key(12), rng.choice(["a", "b", None])) for _ in range(120)]
    rows_t += rng.sample(rows_t, 30)  # duplicated target rows
    schema = "eval_id long, contact_id long, v string"
    target = spark.createDataFrame(rows_t, schema)
    scope = spark.createDataFrame([(key(12),) for _ in range(8)], "contact_id long")
    keep = spark.createDataFrame([(key(40),) for _ in range(25)], "eval_id long")

    out = delete_semi_anti(target, scope, ["contact_id"], keep, ["eval_id"])
    victims = (
        target.join(scope.distinct(), ["contact_id"], "left_semi")
        .join(keep.distinct(), ["eval_id"], "left_anti")
        .select(*target.columns)
    )
    want = target.exceptAll(victims)
    assert out.columns == target.columns
    assert rows(out, *target.columns) == rows(want, *target.columns)


def test_dedup_keep_latest_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 5, "c")], "k long, ts long, v string"
    )
    out = rows(dedup_keep_latest(df, ["k"], "ts", tiebreak=["v"]), "k", "ts", "v")
    assert out == [(1, 10, "b")]


def test_regexp_substr_null_on_no_match(spark):
    df = spark.createDataFrame([("abc123",), ("nope",)], "s string")
    out = rows(df.select(regexp_substr(F.col("s"), "[0-9]+").alias("m")), "m")
    assert out == [("123",), (None,)]


def test_regexp_substr_occurrence(spark):
    # ref Update...sql:187-189: parse ids out of /contact/{c}/eval/{e}/comment/{m}
    df = spark.createDataFrame([("/contact/41/eval/77/comment/9",)], "s string")
    out = df.select(
        regexp_substr_occ(F.col("s"), "[0-9]+", 1).alias("c"),
        regexp_substr_occ(F.col("s"), "[0-9]+", 2).alias("e"),
        regexp_substr_occ(F.col("s"), "[0-9]+", 3).alias("m"),
        regexp_substr_occ(F.col("s"), "[0-9]+", 4).alias("missing"),
    ).collect()[0]
    assert tuple(out) == ("41", "77", "9", None)


def test_ws_tokens_empty_text(spark):
    df = spark.createDataFrame([("",), ("  ",), ("a b",)], "text string")
    out = rows(df.select(F.size(ws_tokens(F.col("text"))).alias("n")), "n")
    assert out == [(0,), (0,), (2,)]


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("one",), ("one two three",)], "text string")
    out = rows(df.select(F.size(word_shingles(F.col("text"), 2)).alias("n")), "n")
    assert out == [(0,), (2,)]


def test_unit_vector_cosine_identity(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], "id long, embedding array<float>")
    u = with_unit_vector(df, "embedding")
    got = u.select(F.round(dot(F.col("unit_vec"), F.col("unit_vec")), 6).alias("c")).collect()[0][0]
    assert got == 1.0


def test_session_window_boundary_is_inclusive_merge(spark):
    """Spark's session_window extends a session when the gap EQUALS the
    threshold (merge condition next <= prev_end) — pinned here because
    the sf0.1 oracle soak caught an off-by-one from assuming strict
    merge, invisible at sf0.01 where no pair sits on the boundary."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),      # exactly 1800s later: merges
            (1, "2024-01-01 01:00:00.000001"),  # 1800.000001s later: splits
        ],
        "user_id long, s string",
    ).select("user_id", F.col("s").cast("timestamp").alias("ts"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [1, 2]


def test_dq_checks_detect_violations(spark):
    """Each constraint must actually fire on dirty data (the catalog
    query's clean-corpus zeros alone would not prove detection)."""
    from qaapi_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
        run_checks,
        unique,
    )

    dirty = spark.createDataFrame(
        [
            (1, "O", 10.0, 100),
            (1, "F", -5.0, 101),   # dup key, negative value
            (None, "X", 20.0, 999),  # null key, bad status, orphan FK
        ],
        "k long, status string, price double, fk long",
    )
    parent = spark.createDataFrame([(100,), (101,)], "pk long")
    got = {
        r["check"]: r.n_violations
        for r in run_checks(
            dirty,
            [
                not_null("k"),
                unique("k"),
                accepted_values("status", ["O", "F"]),
                in_range("price", 0, 100),
            ],
            references=[("fk", parent, "pk")],
        ).collect()
    }
    assert got == {
        "not_null_k": 1,
        "unique_k": 1,
        "accepted_values_status": 1,
        "in_range_price": 1,
        "references_fk": 1,
    }
