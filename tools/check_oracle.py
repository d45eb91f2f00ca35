"""Local replica of the driver's correctness gate.

Runs every CATALOG query on Spark and (where an oracle exists) the
oracle SQL on DuckDB over the same parquet tables, then compares
row-count, column names, and order-insensitive values.  Floats must
match exactly after the query's own rounding — if they differ at all we
flag it, since the driver's hash tolerates nothing.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qaapi_spark.plans import CATALOG  # noqa: E402
from qaapi_spark.session import get_spark, release_kernel_caches  # noqa: E402
from qaapi_spark.sources.tables import TABLES  # noqa: E402


from qaapi_spark.testing import audit_oracle_types  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def norm_rows(cols, rows):
    """Sort columns by name, then rows — order-insensitive compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark("oracle-check")
    failures = []
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_rows = sdf.collect()
            s_cols = sdf.columns
            release_kernel_caches()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"ok(rows-only) {name}: {len(s_rows)} rows  [{time.time()-t0:.1f}s]")
            if len(s_rows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            bad_types = audit_oracle_types(con, spec.oracle)
            res = con.execute(spec.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        if bad_types:
            print(
                f"FAIL {name}: oracle result types with no Spark twin "
                f"(driver hash WILL mismatch even at equal values): "
                f"{bad_types} — wrap with CAST(... AS BIGINT/...)"
            )
            failures.append(name)
            continue

        sc, sr = norm_rows(s_cols, [tuple(r) for r in s_rows])
        dc, dr = norm_rows(d_cols, d_rows)
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        if len(sr) != len(dr):
            status.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        elif sc == dc:
            mismatches = [
                (a, b) for a, b in zip(sr, dr) if a != b
            ]
            if mismatches:
                status.append(f"{len(mismatches)}/{len(sr)} rows differ; first: spark={mismatches[0][0]} duck={mismatches[0][1]}")
        if status:
            print(f"FAIL {name}: " + " | ".join(status))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sr)} rows match  [{time.time()-t0:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print(f"all {len([s for s in CATALOG if not only or s in only])} queries pass")


if __name__ == "__main__":
    main()
