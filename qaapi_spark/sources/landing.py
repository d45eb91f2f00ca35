"""JSON landing-layer sources (reference S8-S13, SURVEY.md §2.1).

The reference lands one JSON array per extraction batch, bulk-loads
with `COPY INTO ... STRIP_OUTER_ARRAY PATTERN '.*<pat>.*'
ON_ERROR='skip_file'`.  Spark equivalents:
  - STRIP_OUTER_ARRAY  -> multiLine JSON read (top-level array members
    become rows natively)
  - load-time PATTERN  -> path glob (partition pruning at file level)
  - ON_ERROR skip_file -> DROPMALFORMED (multiLine mode drops the
    whole unparseable file, matching file-granularity skip)
  - concatenated-JSON repair (S9) -> a pure-Python utility kept for
    landing hygiene; the Spark-native equivalent is reading each
    fragment as its own array and unioning (glob read)
"""

from __future__ import annotations

import glob
import re

from pyspark.sql import DataFrame, SparkSession

from qaapi_spark.schemas import ENTITY_SCHEMAS, FILE_ROUTING

_CONCAT_ARRAYS = re.compile(r"\]\s*\n\s*\[")


def repair_concatenated_json(text: str) -> str:
    """S9: merge appended `[...]\\n[...]` fragments into one array.

    Reference: modules/qa_api_handler.py:52,230-236 (regex `]\\n[` ->
    `,\\n`).
    """
    return _CONCAT_ARRAYS.sub(",\n", text)


def read_entity(spark: SparkSession, pattern_or_path: str, entity: str) -> DataFrame:
    """Read a landed entity with its declared StructType (S11).

    `pattern_or_path` may be a glob — the reference collapses
    all_contacts_*.json into one COPY pattern
    (modules/qa_api_handler.py:270-273,281-287); a glob read is the
    Spark-native union of those batches.  A glob is expanded here and
    Spark gets the sorted file list: handed the raw pattern, Spark's
    streaming-metadata probe logs a FileNotFoundException trace for it.
    A pattern that matches nothing passes through, so Spark's
    path-not-found error is unchanged.
    """
    schema = ENTITY_SCHEMAS[entity]
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("mode", "DROPMALFORMED")
        .json(sorted(glob.glob(pattern_or_path)) or pattern_or_path)
    )


def clean_landing(landing_dir: str, keep: set[str] | None = None) -> list[str]:
    """X3/S13: purge landed files before a re-land cycle (reference
    temp-dir purge `modules/qa_api_handler.py:304,314,319-324` and
    `remove @stage` `:288`).  Returns the removed filenames."""
    import os

    removed = []
    if not os.path.isdir(landing_dir):
        return removed
    for fn in sorted(os.listdir(landing_dir)):
        if keep and fn in keep:
            continue
        p = os.path.join(landing_dir, fn)
        if os.path.isfile(p):
            os.remove(p)
            removed.append(fn)
    return removed


def route_files(filenames: list[str]) -> dict[str, str]:
    """X4: landed filename -> entity, collapsing batch files to one
    glob entry (first match wins, like the reference routing dict)."""
    out: dict[str, str] = {}
    for fn in filenames:
        for pat, entity in FILE_ROUTING.items():
            rx = re.escape(pat).replace(r"\*", ".*")
            if re.fullmatch(rx, fn):
                out[pat] = entity
                break
    return out
