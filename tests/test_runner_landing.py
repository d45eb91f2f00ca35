"""Tests for the stage runner (X2), concatenated-JSON repair (S9),
filename routing (X4), and as-of join edges."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from qaapi_spark.operators.joins import as_of_join
from qaapi_spark.runner import run_stages
from qaapi_spark.sources.landing import repair_concatenated_json, route_files


def test_repair_concatenated_json_merges_fragments():
    # reference S9: appended responses create `[...]\n[...]` on disk
    raw = '[{"id": 1}, {"id": 2}]\n[{"id": 3}]\n[{"id": 4}]'
    fixed = repair_concatenated_json(raw)
    assert [d["id"] for d in json.loads(fixed)] == [1, 2, 3, 4]


def test_repair_noop_on_valid_array():
    raw = '[{"a": "x]\\n[y"}]'  # the pattern inside a string is untouched
    assert json.loads(repair_concatenated_json(raw)) == [{"a": "x]\n[y"}]


def test_route_files_collapses_batches():
    routed = route_files(
        ["all_contacts_1.json", "all_contacts_2.json", "forms.json", "fix_eval_raw.json", "junk.txt"]
    )
    assert routed == {
        "all_contacts*.json": "all_contacts",
        "forms*.json": "forms",
        "fix_eval_raw.json": "evaluations",
    }


def test_run_stages_skips_recursive_and_none():
    calls = []

    def a():
        calls.append("a")

    def b():
        calls.append("b")

    # the reference's guard printed but did not skip (X2 bug); ours skips
    res = run_stages([a, None, run_stages, b])
    assert calls == ["a", "b"]
    assert res["a"]["status"] == "ok"
    assert res["None"]["status"] == "skipped_none"
    assert res["run_stages"]["status"] == "skipped_recursive"


def test_as_of_join_no_match_keeps_left_row(spark):
    left = spark.createDataFrame([(1, 100), (2, 5)], "id long, ts long")
    right = spark.createDataFrame(
        [(1, 50, "old"), (1, 90, "new"), (2, 50, "late")], "k long, rts long, v string"
    )
    out = as_of_join(left, right, "id", "k", "ts", "rts", right_cols=["v"])
    got = {r["id"]: (r["v"], r["__rts"] if "__rts" in r else None) for r in out.collect()}
    # id=1 matches the latest rts<=100 ('new'); id=2 has no rts<=5 -> NULL
    assert got[1][0] == "new"
    assert got[2][0] is None


def test_as_of_join_tiebreak(spark):
    left = spark.createDataFrame([(1, 100)], "id long, ts long")
    right = spark.createDataFrame(
        [(1, 90, 7, "a"), (1, 90, 9, "b")], "k long, rts long, pick long, v string"
    )
    out = as_of_join(left, right, "id", "k", "ts", "rts", right_cols=["pick", "v"], tiebreak=["pick"])
    assert out.collect()[0]["v"] == "b"  # highest tiebreak wins deterministically


def test_clean_landing(tmp_path):
    from qaapi_spark.sources.landing import clean_landing

    for fn in ["a.json", "b.json", "keep.json"]:
        (tmp_path / fn).write_text("[]")
    removed = clean_landing(str(tmp_path), keep={"keep.json"})
    assert removed == ["a.json", "b.json"]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["keep.json"]


def test_read_entity_drops_malformed_file(spark, tmp_path):
    """S11 ON_ERROR='skip_file' parity: a corrupt landing file drops at
    file granularity; good files still load."""
    import shutil

    shutil.copy("/root/repo/fixtures/all_contacts_1.json", tmp_path / "all_contacts_1.json")
    (tmp_path / "all_contacts_2.json").write_text('[{"id": 1, "startTime": ')  # truncated
    from qaapi_spark.sources.landing import read_entity

    df = read_entity(spark, f"{tmp_path}/all_contacts_*.json", "all_contacts")
    assert df.count() == 30  # only the intact batch file's rows


def test_read_entity_unmatched_glob_keeps_spark_error(spark, tmp_path):
    """A glob is expanded before Spark sees it; one that matches no file
    still fails the way Spark's own glob read does."""
    from pyspark.errors import AnalysisException

    from qaapi_spark.sources.landing import read_entity

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_entity(spark, f"{tmp_path}/all_contacts_*.json", "all_contacts")


def test_csv_permissive_corrupt_record_capture(spark):
    """CSV ingest (S-family format extension): PERMISSIVE mode lands
    well-formed rows and captures the malformed line verbatim in
    _corrupt_record instead of failing the batch (the CSV analogue of
    the concatenated-JSON repair path)."""
    df = (
        spark.read.schema(
            "agent_id bigint, name string, team string, hired date, "
            "fte double, _corrupt_record string"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv("/root/repo/fixtures/agents_roster_dirty.csv")
        .cache()
    )
    good = df.filter(df._corrupt_record.isNull())
    bad = df.filter(df._corrupt_record.isNotNull())
    assert good.count() == 2
    assert {r["agent_id"] for r in good.collect()} == {201, 202}
    assert bad.count() == 1
    assert "not_a_number" in bad.collect()[0]["_corrupt_record"]
    df.unpersist()


def test_orc_round_trip_preserves_values(spark, tmp_path):
    """ORC sink/source round trip (format extension): values, nulls,
    and decimal types survive write->read bit-for-bit."""
    src = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", -2.25, "x"), (3, None, 0.0, "y")],
        "id long, s string, v double, o string",
    )
    path = str(tmp_path / "orc_rt")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
