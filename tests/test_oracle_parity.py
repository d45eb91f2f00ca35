"""Driver-gate replica: every CATALOG query with an oracle must
hash-match DuckDB at sf0.001 (the driver runs the same at sf0.01)."""

from __future__ import annotations

import pytest

from qaapi_spark.plans import CATALOG
from qaapi_spark.testing import compare, duck_connection, run_oracle

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_SMOKE)


# Full driver-gate replica (~20 min) in the slow tier, check_oracle.py
# covers it at sf0.01.  Families whose shared code most of them run
# through hash-check in the default tier too: the streaming twins
# (streaming/epochs.py), the curated-table pipeline, compaction and
# maintained views (the crash-safe directory swap in sources/tables.py),
# the dedup family plus the two near-dup graph queries (the LSH
# toolkit and pair kernels in operators/dedup.py), and the vector
# retrieval family (the broadcast-query top-k kernel in
# operators/similarity.py; rows-only ann_topk_pq gets the determinism
# check).
_DEFAULT_TIER = (
    "stream_",
    "calabrio_pipeline_",
    "maintain_",
    "mv_",
    "dedup_",
    "graph_pagerank_neardup",
    "graph_triangles_neardup",
    "ann_",
    "knn_",
    "mmr_",
    "hybrid_",
    "pairs_mine_",
    "retrieval_two_stage_ce",
)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n.startswith(_DEFAULT_TIER) else pytest.mark.slow)
        for n in sorted(CATALOG)
    ],
)
def test_query_matches_oracle(spark, duck, name):
    spec = CATALOG[name]
    sdf = spec.fn(spark, SF_SMOKE)
    rows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        # rows-only contract: must run and be deterministic across runs
        rows2 = [tuple(r) for r in spec.fn(spark, SF_SMOKE).collect()]
        assert sorted(map(str, rows)) == sorted(map(str, rows2))
        return
    d_cols, d_rows = run_oracle(duck, spec.oracle)
    problems = compare(sdf.columns, rows, d_cols, d_rows)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(CATALOG)


def test_type_audit_flags_uncast_sum(duck):
    """The replica must be at least as strict as the driver (VERDICT r3
    #2): an uncast SUM(integer) oracle returns DuckDB HUGEINT, which the
    driver's value hash distinguishes from Spark bigint even at equal
    values.  audit_oracle_types must flag it; run_oracle must refuse it.
    """
    import pytest as _pytest

    from qaapi_spark.testing import audit_oracle_types

    uncast = "SELECT o_orderstatus, SUM(o_custkey) AS s FROM orders GROUP BY 1"
    assert audit_oracle_types(duck, uncast) == [("s", "HUGEINT")]
    with _pytest.raises(AssertionError, match="no Spark twin"):
        run_oracle(duck, uncast)

    cast = (
        "SELECT o_orderstatus, CAST(SUM(o_custkey) AS BIGINT) AS s "
        "FROM orders GROUP BY 1"
    )
    assert audit_oracle_types(duck, cast) == []
    run_oracle(duck, cast)  # must not raise


def test_all_catalog_oracles_pass_type_audit(duck):
    """No catalog oracle may produce a DuckDB type the driver's hash
    can't match against Spark (HUGEINT &c.) — sweep all of them."""
    from qaapi_spark.testing import audit_oracle_types

    bad = {}
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        hits = audit_oracle_types(duck, spec.oracle)
        if hits:
            bad[name] = hits
    assert not bad, f"oracles with non-Spark-representable types: {bad}"


# DuckDB-type <-> Spark-type pairings with at least one driver
# hash-GREEN column (CORRECTNESS_r1-r3 evidence).  The driver's value
# hash is type-sensitive across engines (it distinguished HUGEINT from
# bigint at equal values), so an oracle column may only pair with a
# Spark dtype via a pairing the driver has already accepted.
_GREEN_TYPE_PAIRINGS = {
    "BIGINT": {"bigint", "int"},
    "INTEGER": {"int"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
}


@pytest.mark.slow  # 147 s full-catalog type sweep
def test_oracle_spark_type_pairings_are_driver_proven(spark, duck):
    """Every (DuckDB oracle type, Spark dtype) column pair in the
    catalog must be one the driver hash has already passed — a new
    pairing (e.g. DECIMAL vs double, INTEGER vs bigint) is a latent
    driver-only hash failure the local value compare cannot see."""
    bad = {}
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        rel = duck.sql(spec.oracle)
        d_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        s_types = {
            f.name: f.dataType.simpleString()
            for f in spec.fn(spark, SF_SMOKE).schema.fields
        }
        for col, dt in d_types.items():
            st = s_types.get(col)
            if st is None:
                continue  # column-name mismatch is compare()'s job
            if st not in _GREEN_TYPE_PAIRINGS.get(dt, set()):
                bad.setdefault(name, []).append((col, dt, st))
    assert not bad, f"unproven oracle/Spark type pairings: {bad}"
