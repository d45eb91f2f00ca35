"""Parquet tables on disk: the driver-provided inputs (TESTDATA.md)
and every parquet directory the engine writes.

This is the one module that knows a table's directory layout:

- `read_table` / `events_stream_spec`: the input readers;
- `parquet_files`: the one data-file lister (Spark's reader semantics);
- `footer_rows` / `footer_min_max`: row counts and column ranges from
  parquet footers, driver-side, no Spark job;
- `swap` / `recover`: the one crash-safe whole-directory replace.  A
  writer lands the new table at ``<dir>.next`` and calls `swap`; a
  reader calls `recover` first.  Curated tables (the full replace in
  ``pipeline._swap_write`` and every bucket merge in
  ``partitioned.merge_partitioned``, which hard-links the buckets it
  leaves alone into ``.next`` with `link_into_next`), compaction
  (``maintain.compact_files``) and the streaming epoch stores all go
  through it, and no other module renames or links a file.

Parquet scans go through Spark's vectorized reader; Catalyst pushes
filters and prunes columns into the scan, so callers should express
projections/filters declaratively rather than materializing wide reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5, nation=25 rows; fixed-size lookup tables in TPC-H).
BROADCAST_TABLES = {"region", "nation"}


def parquet_files(path: str) -> list[str]:
    """Every parquet data file under ``path`` (a single file, a flat
    dir, or a partitioned dir — ADVICE r15: the footer readers' flat
    ``*.parquet`` glob silently missed partitioned layouts), matching
    Spark's reader semantics: recursive, skipping ``_``/``.``-prefixed
    metadata files (which Spark's scans ignore)."""
    import glob

    if not os.path.isdir(path):
        return [path]
    return sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith(("_", "."))
    )


def footer_rows(path: str):
    """Exact row count of a parquet file/dir from footer metadata —
    driver-side, no Spark job (num_rows is mandatory file metadata);
    None when the path is unreadable OR holds no parquet files (ADVICE
    r15: an empty/partitionless dir must fall back to count(), not
    report 0) so callers fall back to count()."""
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def swap(root: str) -> None:
    """Crash-safe promote of ``root + '.next'`` (fully written by the
    caller) to ``root``.

    The old rmtree-then-move pattern had a window (ADVICE r9 #2): dying
    between the two calls left NO store, and the next epoch's existence
    check treated the replayed batch as first-epoch — silently
    discarding all accumulated state.  Here the old store is renamed
    (atomic) to a recoverable trash name before the new one is renamed
    (atomic) into place, so every crash point leaves either the store
    or its trash on disk for :func:`recover` to restore."""
    import shutil

    trash = root + ".__swap_old__"
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.isdir(root):
        os.rename(root, trash)
    os.rename(root + ".next", root)
    shutil.rmtree(trash, ignore_errors=True)


def link_into_next(root: str, subdirs: list[str]) -> None:
    """Hard-link every file of each ``root/<subdir>`` into
    ``root + '.next'/<subdir>``, so a `swap` that replaces only part of
    a table carries the untouched part over without copying it.  A link
    keeps the file's inode and mtime, and costs one metadata call per
    file (local paths, like `swap`)."""
    for d in subdirs:
        src, dst = os.path.join(root, d), os.path.join(root + ".next", d)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))


def recover(root: str) -> bool:
    """Entry-time self-heal + existence check for a `swap`-promoted
    store: a crash between the two renames strands the state at
    ``.__swap_old__`` with ``root`` absent — restore it (the streaming
    engine replays the uncommitted batch, and every merge is
    retry-idempotent).  A dangling ``.next`` needs no handling: the
    replayed merge rewrites it in overwrite mode.

    Returns whether the store exists after recovery — the ONLY
    condition under which a merge may skip reading prior state
    (first-epoch); any other read error must propagate (ADVICE r8 #2)."""
    trash = root + ".__swap_old__"
    if not os.path.isdir(root) and os.path.isdir(trash):
        os.rename(trash, root)
    return os.path.isdir(root)


def footer_min_max(src, col: str):
    """(min, max) of column ``col`` from parquet FOOTER statistics —
    driver-side pyarrow, no Spark job.  ``src`` is a file, a (possibly
    partitioned) dir, or a list of files.  Integer columns give their
    values; timestamp columns give unix MICROSECONDS.

    Exactness: min/max statistics are exact for fixed-width physical
    types (truncation applies only to BYTE_ARRAY/FLBA), and both the
    stats and Spark's F.min/F.max ignore nulls.  Timestamps use the raw
    int64 stats (``min_raw``/``max_raw``, never the lossy logical
    accessors):
    - timestamp[us] (NTZ): the engine pins session tz UTC, so the
      NTZ->TIMESTAMP cast is value-preserving and unix_micros == raw;
    - timestamp[us, tz=UTC]: isAdjustedToUTC micros ARE unix micros;
    - timestamp[ns]: read via nanosAsLong + ``timestamp_micros(ts div
      1000)`` (events_stream_spec), so us == raw div 1000; ``div``
      truncates toward zero while ``//`` floors — identical only for
      raw >= 0, so negative raws decline.
    min/max commute with these strictly monotonic conversions.  Files
    without row groups contribute nothing, so files that hold no rows
    give (None, None), as the aggregate would.

    Returns None — the caller falls back to one Spark aggregate — when
    there are no files, a row group lacks stats (a writer may disable
    them, ADVICE r9 #4), or the column is missing or of another type."""
    import pyarrow.parquet as pq

    files = parquet_files(src) if isinstance(src, str) else list(src)
    if not files:
        return None
    lo = hi = None
    try:
        for f in files:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            idx = [md.schema.column(i).path for i in range(md.num_columns)].index(col)
            t = str(pf.schema_arrow.field(col).type)
            if t.startswith(("int", "uint")):
                div = None
            elif t in ("timestamp[us]", "timestamp[us, tz=UTC]"):
                div = 1
            elif t in ("timestamp[ns]", "timestamp[ns, tz=UTC]"):
                div = 1000
            else:
                return None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                if div is None:
                    a, b = st.min, st.max
                else:
                    a, b = st.min_raw, st.max_raw
                    if not isinstance(a, int) or not isinstance(b, int) or a < 0:
                        return None
                    a, b = a // div, b // div
                lo = a if lo is None else min(lo, a)
                hi = b if hi is None else max(hi, b)
    except Exception:
        return None
    return lo, hi


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read nanos as long and convert
        # (sub-microsecond part is zero in the generated data, so the
        # integer division is exact and matches DuckDB's ns->us cast).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_stream_spec(spark: SparkSession, events_path: str):
    """(raw_schema, normalize) for schema-up-front streaming reads of
    events.parquet.

    The driver's testdata has shipped `ts` as INT64 TIMESTAMP(NANOS)
    (readable only as long via nanosAsLong, then converted), as
    TIMESTAMP_NTZ micros (watermarks demand TIMESTAMP, so cast — the
    engine pins session tz UTC, making the cast value-preserving), and
    as plain TIMESTAMP — mirror read_table's adaptive handling instead
    of assuming any one vintage.  `normalize(stream_df)` returns the
    stream with `ts` as a watermarkable TIMESTAMP.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(events_path)
    ts_type = dict(raw.dtypes).get("ts")

    def normalize(stream_df: DataFrame) -> DataFrame:
        if ts_type == "bigint":
            return stream_df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if ts_type == "timestamp_ntz":
            return stream_df.withColumn("ts", F.col("ts").cast("timestamp"))
        return stream_df

    return raw.schema, normalize


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all tables as temp views for spark.sql() entry points."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
