"""Partition-scoped maintenance (operators/partitioned.py): a batch
rewrites ONLY the hash-bucket partitions containing its keys; untouched
bucket directories keep their exact files (VERDICT r2 next-round #4).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qaapi_spark.operators.maintain import merge_insert_only, merge_upsert
from qaapi_spark.operators.partitioned import (
    PCOL,
    bucket_of,
    merge_partitioned,
    read_partitioned,
)

FIX = "/root/repo/fixtures"


def _file_stats(root: str) -> dict[str, tuple]:
    """path -> (inode, mtime_ns, size) for every data file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _bucket(spark, key: int, n_buckets: int) -> int:
    return (
        spark.createDataFrame([(key,)], "id long")
        .select(bucket_of("id", n_buckets).alias("b"))
        .collect()[0]["b"]
    )


def test_merge_partitioned_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "tbl")
    n_buckets = 8
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    merge_partitioned(
        spark, path, base, ["k"],
        lambda t, b: merge_upsert(t, b, ["k"]),
        n_buckets=n_buckets, coalesce=1,
    )
    before = _file_stats(path)
    assert before, "first write produced no files"

    batch = spark.createDataFrame([(5, 555), (200, 2000)], "k long, v long")
    merge_partitioned(
        spark, path, batch, ["k"],
        lambda t, b: merge_upsert(t, b, ["k"]),
        n_buckets=n_buckets, coalesce=1,
    )
    after = _file_stats(path)

    touched = {_bucket(spark, 5, n_buckets), _bucket(spark, 200, n_buckets)}
    untouched_dirs = {f"{PCOL}={b}" for b in range(n_buckets)} - {
        f"{PCOL}={b}" for b in touched
    }
    assert untouched_dirs
    for rel, stats in before.items():
        d = rel.split(os.sep)[0]
        if d in untouched_dirs:
            assert after.get(rel) == stats, f"untouched partition rewritten: {rel}"
    for b in touched:
        d = f"{PCOL}={b}"
        changed = {r for r in set(before) | set(after) if r.startswith(d)} and any(
            before.get(r) != after.get(r)
            for r in set(before) | set(after)
            if r.startswith(d)
        )
        assert changed, f"touched partition {d} unchanged"

    got = read_partitioned(spark, path)
    want = {(i, i * 10) for i in range(100) if i != 5} | {(5, 555), (200, 2000)}
    assert {(r["k"], r["v"]) for r in got.collect()} == want


def test_merge_partitioned_scope_df_shrinks_unrepresented_bucket(spark, tmp_path):
    """A delete scope with NO inserted rows for a key must still rewrite
    (shrink) that key's bucket — the scope_df path."""
    path = str(tmp_path / "tbl2")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "contact_id long, txt string"
    )
    merge_partitioned(
        spark, path, base, ["contact_id"],
        lambda t, b: merge_upsert(t, b, ["contact_id"]),
        n_buckets=4, coalesce=1,
    )
    # batch: contact 2 is in scope but has no surviving rows (all deleted)
    scope = spark.createDataFrame([(2,)], "contact_id long")
    empty_batch = spark.createDataFrame([], "contact_id long, txt string")
    merge_partitioned(
        spark, path, empty_batch, ["contact_id"],
        lambda t, b: t.join(scope, "contact_id", "left_anti").unionByName(b),
        n_buckets=4, coalesce=1, scope_df=scope,
    )
    got = {(r["contact_id"], r["txt"]) for r in read_partitioned(spark, path).collect()}
    assert got == {(1, "a"), (3, "c")}


def test_merge_partitioned_emptied_table_reads_absent(spark, tmp_path):
    """A merge that deletes every row leaves no data file to take a
    schema from: the table reads as absent, and the next batch lands
    as a first write."""
    path = str(tmp_path / "tbl_empty")

    def upsert(t, b):
        return merge_upsert(t, b, ["contact_id"])

    base = spark.createDataFrame([(1, "a"), (2, "b")], "contact_id long, txt string")
    merge_partitioned(spark, path, base, ["contact_id"], upsert, n_buckets=1)
    scope = spark.createDataFrame([(1,), (2,)], "contact_id long")
    merge_partitioned(
        spark, path, spark.createDataFrame([], "contact_id long, txt string"),
        ["contact_id"],
        lambda t, b: t.join(scope, "contact_id", "left_anti").unionByName(b),
        n_buckets=1, scope_df=scope,
    )
    assert read_partitioned(spark, path) is None
    batch = spark.createDataFrame([(3, "c")], "contact_id long, txt string")
    merge_partitioned(spark, path, batch, ["contact_id"], upsert, n_buckets=1)
    assert sorted(map(tuple, read_partitioned(spark, path).collect())) == [(3, "c")]


def test_merge_partitioned_crash_keeps_prior_table(spark, tmp_path, monkeypatch):
    """A crash while a bucket merge commits must leave the table as it
    was before the batch.  The batch inserts a row into one bucket and,
    through ``scope_df``, empties contact 2's bucket.  The first
    ``rmtree`` of a bucket dir under the table, or the first rename
    onto the table, raises.  A fresh read must give the pre-batch rows
    (a commit that lands the insert but not the delete shows the
    deleted row again), and rerunning the batch must equal an
    uninterrupted run."""
    import shutil

    n_buckets = 4
    gone = _bucket(spark, 2, n_buckets)
    # contact 2 alone in its bucket, so the batch empties that bucket;
    # the inserted contact lands in another one
    keys = [2] + [k for k in range(3, 40) if _bucket(spark, k, n_buckets) != gone][:3]
    new_key = next(k for k in range(100, 200) if _bucket(spark, k, n_buckets) != gone)
    base = spark.createDataFrame(
        [(k, f"t{k}") for k in keys], "contact_id long, txt string"
    )
    scope = spark.createDataFrame([(2,)], "contact_id long")
    batch = spark.createDataFrame([(new_key, "new")], "contact_id long, txt string")

    def load(path):
        merge_partitioned(
            spark, path, base, ["contact_id"],
            lambda t, b: merge_upsert(t, b, ["contact_id"]),
            n_buckets=n_buckets, coalesce=1,
        )

    def apply_batch(path):
        merge_partitioned(
            spark, path, batch, ["contact_id"],
            lambda t, b: t.join(scope, "contact_id", "left_anti").unionByName(b),
            n_buckets=n_buckets, coalesce=1, scope_df=scope,
        )

    def rows(path):
        return sorted(map(tuple, read_partitioned(spark, path).collect()))

    path = str(tmp_path / "crash_tbl")
    load(path)
    before = rows(path)
    armed = [True]

    def crash_if(hit, real):
        def op(*a, **kw):
            if armed[0] and hit(*a):
                armed[0] = False
                raise OSError("simulated crash while committing the merge")
            return real(*a, **kw)

        return op

    bucket_dir = os.path.join(path, PCOL + "=")
    monkeypatch.setattr(shutil, "rmtree", crash_if(
        lambda p, *_: os.fspath(p).startswith(bucket_dir), shutil.rmtree
    ))
    monkeypatch.setattr(os, "rename", crash_if(
        lambda src, dst, *_: os.fspath(dst).rstrip("/") == path, os.rename
    ))
    with pytest.raises(OSError, match="simulated crash"):
        apply_batch(path)
    assert not armed[0], "the commit was never reached"
    monkeypatch.undo()

    assert rows(path) == before

    apply_batch(path)
    clean = str(tmp_path / "clean_tbl")
    load(clean)
    apply_batch(clean)
    assert rows(path) == rows(clean)
    assert (2, "t2") not in rows(path) and (new_key, "new") in rows(path)


def test_partitioned_pipeline_equals_full_rewrite(spark, tmp_path):
    """Both fixture batches through the partitioned pipeline == the
    full-rewrite pipeline, table by table; and batch 2 leaves at least
    one evaluation bucket's files byte-identical (partition-scoped)."""
    from qaapi_spark.pipeline import CURATED, CalabrioPipeline

    plain = CalabrioPipeline(spark, str(tmp_path / "wh_plain"), output_partitions=1)
    part = CalabrioPipeline(
        spark,
        str(tmp_path / "wh_part"),
        output_partitions=1,
        partitioned=True,
        n_buckets=16,
    )
    plain.run_batch(FIX, collect_counts=False)
    part.run_batch(FIX, collect_counts=False)

    evals_dir = str(tmp_path / "wh_part" / "t_qa_evaluations")
    before = _file_stats(evals_dir)

    plain.run_batch(f"{FIX}/batch2", collect_counts=False)
    part.run_batch(f"{FIX}/batch2", collect_counts=False)
    after = _file_stats(evals_dir)

    for table in CURATED:
        a = plain.read(table)
        b = part.read(table)
        assert sorted(a.columns) == sorted(b.columns), table
        cols = sorted(a.columns)
        assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
            map(tuple, b.select(*cols).collect())
        ), f"{table} diverged between partitioned and full-rewrite pipelines"

    untouched = [
        rel for rel, st in before.items() if after.get(rel) == st
    ]
    assert untouched, "batch 2 rewrote every evaluation bucket"


def test_partitioned_merge_equals_plain_merge_on_random_batches(spark, tmp_path):
    """Property (hypothesis-generated batches): applying any sequence
    of upsert batches through the partition-scoped path yields exactly
    the relation the plain in-memory merge yields — bucket scoping must
    never change WHAT the merge computes, only which files it rewrites."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    batch_strategy = st.lists(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 99)),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    )

    @given(batches=batch_strategy)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture,
            HealthCheck.too_slow,
        ],
    )
    def run(batches):
        import shutil
        import uuid

        path = str(tmp_path / ("t_" + uuid.uuid4().hex[:8]))
        expected: dict[int, int] = {}
        for i, rows in enumerate(batches):
            # batch-internal dedup: last value per key wins, like a real
            # extraction snapshot
            dedup = {k: v for k, v in rows}
            batch = spark.createDataFrame(
                [(k, v) for k, v in sorted(dedup.items())], "id long, v long"
            )
            merge_partitioned(
                spark,
                path,
                batch,
                ["id"],
                lambda t, b: merge_upsert(t, b, ["id"]),
                key_col="id",
                n_buckets=4,
            )
            expected.update(dedup)
        got = {
            (r.id, r.v) for r in read_partitioned(spark, path).collect()
        }
        assert got == set(expected.items())
        shutil.rmtree(path, ignore_errors=True)

    run()
