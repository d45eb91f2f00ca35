"""Declarative data-quality constraint checks (expectations).

The reference's correctness practice is manual probe queries — golden
row counts kept as comments (`queries/troubleshooting.sql:2,6,10`) and
an orphan-row probe (`sql_templates/trouble_children.sql:1-8`, NULL
evaluator).  This operator turns that practice into a declarative,
engine-checked surface (the dbt-test / Deequ shape): each constraint
compiles to ONE aggregate expression, every table's constraints fold
into a single pass (one scan, map-side combined), and the output is
one row per constraint with its violation count.

Constraint vocabulary (all pure Catalyst):
  - not_null(col)
  - unique(col)            — duplicate-key row surplus
  - accepted_values(col, [..])
  - in_range(col, lo, hi)
  - references(col, other_df, other_col)  — FK orphans (anti semantics)

Scale: not_null/accepted/range are plain conditional counts in the one
aggregate.  unique needs a distinct count (two-phase hash agg).
references runs one left-anti join per FK — broadcast the parent's key
column when it is dimension-sized, which is the common case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def not_null(col: str):
    return (f"not_null_{col}", F.sum(F.col(col).isNull().cast("long")))


def accepted_values(col: str, values: list):
    return (
        f"accepted_values_{col}",
        F.sum((~F.col(col).isin(values) | F.col(col).isNull()).cast("long")),
    )


def in_range(col: str, lo, hi):
    return (
        f"in_range_{col}",
        F.sum(
            (F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi)).cast("long")
        ),
    )


def unique(col: str):
    # surplus rows beyond one per key: count(*) - count(distinct col)
    # (NULL keys are not counted as duplicates of each other here;
    # count_distinct ignores NULLs, so guard with the null count)
    return (
        f"unique_{col}",
        F.count(F.col(col)) - F.count_distinct(F.col(col)),
    )


def run_checks(
    df: DataFrame,
    checks: list[tuple[str, "F.Column"]],
    references: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """(check, n_violations): all aggregate checks in ONE pass over
    ``df``, plus one anti-join count per FK constraint."""
    spark = df.sparkSession
    aggs = [expr.cast("long").alias(name) for name, expr in checks]
    row = df.agg(*aggs).collect()[0]
    results = [(name, int(row[name] or 0)) for name, _ in checks]
    for col, parent, pcol in references or []:
        orphans = (
            df.filter(F.col(col).isNotNull())
            .join(
                F.broadcast(parent.select(F.col(pcol).alias(col)).distinct()),
                col,
                "left_anti",
            )
            .count()
        )
        results.append((f"references_{col}", int(orphans)))
    return spark.createDataFrame(results, "check string, n_violations long")
