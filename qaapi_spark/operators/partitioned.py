"""Partition-scoped maintenance: rewrite only the partitions a batch
touches (VERDICT r2 next-round #4).

Every curated table the pipeline merges into is laid out in hash
buckets on the merge key, short of adopting a table format like Delta:

  * a table is ``path/<pcol>=<bucket>/`` parquet, where
    ``bucket = pmod(xxhash64(key), n_buckets)`` — deterministic, so a
    given key lives in exactly one bucket forever.  An unpartitioned
    table is the one-bucket case of the same layout;
  * a batch's affected buckets = buckets of the batch keys, UNION the
    target buckets currently holding any batch merge-key (guards
    against a key whose partitioning attribute drifted upstream —
    found with a column-pruned semi-join scan, far cheaper than a
    rewrite);
  * the merge runs against ONLY the affected buckets (partition pruning
    at the scan) and writes them to ``path.next``.  The plan reads
    ``path`` and writes elsewhere, so it needs no checkpoint.  The write
    is rebalanced on the bucket column (AQE's optimize-write), so each
    bucket lands as one file unless it outgrows the advisory partition
    size;
  * every file of every untouched bucket is hard-linked into
    ``path.next`` (``sources.tables.link_into_next``): same inode, same
    mtime, no data copied (asserted by tests/test_partitioned_merge.py);
  * ``sources.tables.swap`` commits.  An affected bucket the merge
    emptied has no dir in ``path.next``, so it simply disappears, and
    every crash point leaves either the old table or the new one.

Trade-offs: each batch makes one ``link`` call per untouched file.  That
is metadata only, on local paths, as ``swap`` already assumes.  One
file per bucket costs one shuffle stage per write; without it every
write task leaves a file in every bucket it holds (3-5 small files per
bucket per batch, which every later read and link pays for).

Reference semantics preserved: these helpers compose with the J2/J3/J5
relational merges in ``operators/maintain.py`` (Update...sql:36-134) —
the partition scope only narrows WHICH target rows those merges see,
never what they compute.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qaapi_spark.sources.tables import link_into_next, parquet_files, recover, swap

PCOL = "__pbucket"


def bucket_of(key_col: str, n_buckets: int):
    """Deterministic bucket expression for a key column (engine-stable:
    xxhash64 is fixed-seed in Spark, and the bucket is derived data, so
    cross-engine oracles never see it)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def write_partitioned(
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int,
    coalesce: int | None = None,
) -> None:
    """Write ``df`` bucket-partitioned by ``key_col``, replacing
    whatever is at ``path``.  By default AQE rebalances the rows on the
    bucket column first, so each bucket up to the advisory partition
    size is one task and one file, and only larger buckets split;
    ``coalesce`` instead caps the write tasks with no shuffle (one task
    writes one file per bucket it holds)."""
    out = df.withColumn(PCOL, bucket_of(key_col, n_buckets))
    if coalesce is None:
        out = out.hint("rebalance", PCOL)
    else:
        out = out.coalesce(coalesce)
    out.write.mode("overwrite").partitionBy(PCOL).parquet(path)


def _read_raw(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path`` with its bucket column, after recovering a
    crashed `swap`; None when it does not exist or holds no data file
    (a partitioned write of an empty frame leaves no file to take a
    schema from, so an emptied table reads as absent)."""
    if not recover(path) or not parquet_files(path):
        return None
    return spark.read.parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a bucket-partitioned table back as its logical relation
    (the physical bucket column stays behind the curtain); None when
    the table is absent or holds no data file (see `_read_raw`)."""
    raw = _read_raw(spark, path)
    return None if raw is None else raw.drop(PCOL)


def affected_buckets(
    target: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    key_col: str,
    n_buckets: int,
    scope_df: DataFrame | None = None,
) -> list[int]:
    """Buckets a maintenance batch touches: buckets of the batch's
    ``key_col`` values (plus ``scope_df``'s — e.g. a delete scope wider
    than the inserted rows), plus target buckets that hold any batch
    merge-key (column-pruned scan + semi-join — no rewrite).  When the
    partition key IS the (single) merge key, the target scan is skipped:
    bucketing is deterministic, so batch keys can only live in batch
    buckets.  Bounded by ``n_buckets`` rows — the collect is driver-safe.
    One bucket holds the whole table, so it needs no probe job.
    """
    if n_buckets == 1:
        return [0]
    b = batch.select(bucket_of(key_col, n_buckets).alias("b"))
    if scope_df is not None:
        b = b.unionByName(scope_df.select(bucket_of(key_col, n_buckets).alias("b")))
    if list(keys) != [key_col]:
        tgt_b = (
            target.select(PCOL, *keys)
            .join(F.broadcast(batch.select(*keys).distinct()), list(keys), "left_semi")
            .select(F.col(PCOL).alias("b"))
        )
        b = b.unionByName(tgt_b)
    return sorted({r["b"] for r in b.distinct().collect()})


def merge_partitioned(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: Sequence[str],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    key_col: str | None = None,
    n_buckets: int = 8,
    coalesce: int | None = None,
    scope_df: DataFrame | None = None,
) -> None:
    """Apply ``merge_fn(scoped_target, batch) -> merged`` to the
    bucket-partitioned table at ``path``, rewriting only the affected
    bucket directories, and commit with one `swap`.

    ``key_col`` is the partitioning key (defaults to ``keys[0]``); it
    must be functionally stable per merge key — the affected-bucket
    probe still catches drifted rows and rewrites their old bucket.
    ``scope_df`` widens the probe with extra ``key_col`` values whose
    partitions the merge may shrink (delete scopes).
    """
    key_col = key_col or keys[0]
    staged = path + ".next"
    raw = _read_raw(spark, path)
    if raw is None:
        write_partitioned(batch, staged, key_col, n_buckets, coalesce=coalesce)
    else:
        buckets = affected_buckets(raw, batch, keys, key_col, n_buckets, scope_df=scope_df)
        if not buckets:
            return
        # partition pruning: the filter on the partition column reaches
        # the scan, so untouched bucket dirs are never read
        scoped = raw.filter(F.col(PCOL).isin(buckets)).drop(PCOL)
        write_partitioned(
            merge_fn(scoped, batch), staged, key_col, n_buckets, coalesce=coalesce
        )
        rewritten = {f"{PCOL}={b}" for b in buckets}
        link_into_next(
            path,
            [d for d in os.listdir(path) if d.startswith(PCOL + "=") and d not in rewritten],
        )
    swap(path)
