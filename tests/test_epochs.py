"""The shared epoch machinery of the streaming twins
(qaapi_spark/streaming/epochs.py): guard futures are always read,
stores refuse schema drift, the conf helper restores what it set, and
the one union-find agrees with the distributed route on null edges."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

_PASSAGE = " ".join(f"w{i}" for i in range(12))
_FILLER = " ".join(f"f{i}" for i in range(12))


def test_guards_wait_for_probes_before_body_error_propagates():
    """A body that raises after a guard started must not leave the
    probe's future unread: the exit waits for it and runs its check,
    then the BODY's exception propagates (not the guard's)."""
    from qaapi_spark.streaming.epochs import Guards

    seen = []

    class SlowProbe:
        def collect(self):
            time.sleep(0.5)
            return [(7,)]

    def check(rows):
        seen.append(rows)
        raise ValueError("guard violation")

    with pytest.raises(RuntimeError, match="body failed"):
        with Guards() as guards:
            guards.start(SlowProbe(), check)
            raise RuntimeError("body failed")
    assert seen == [[(7,)]]

    # without a body error the guard's violation is what surfaces
    with pytest.raises(ValueError, match="guard violation"):
        with Guards() as guards:
            guards.start(SlowProbe(), check)


def test_epoch_guard_future_consumed_when_epoch_body_raises(
    spark, tmp_path, monkeypatch
):
    """An ExactSubstr epoch whose body fails after its ordered-ingest
    guard started still reads the guard's future before the failure
    propagates out of the epoch."""
    from qaapi_spark.operators import dedup
    from qaapi_spark.streaming import epochs
    from qaapi_spark.streaming.retraction import _exsub_rt_insert_epoch

    occ, out = str(tmp_path / "occ"), str(tmp_path / "out")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    _exsub_rt_insert_epoch(mk([(20, _PASSAGE)]), 0, occ, out, None, 10)

    consumed = []
    start = epochs.Guards.start

    def recording_start(self, probe, check):
        def checked(rows):
            consumed.append(rows)
            return check(rows)

        start(self, probe, checked)

    def failing_windows(*a, **kw):
        raise RuntimeError("epoch body failed")

    monkeypatch.setattr(epochs.Guards, "start", recording_start)
    monkeypatch.setattr(dedup, "_all_window_positions", failing_windows)
    with pytest.raises(RuntimeError, match="epoch body failed"):
        _exsub_rt_insert_epoch(mk([(21, _FILLER)]), 1, occ, out, None, 10)
    assert len(consumed) == 1 and consumed[0][0][0] == 21


def test_epoch_store_rejects_schema_drift(spark, tmp_path):
    """Epoch 1 writing a column epoch 0 did not have (or a changed
    type) raises on the driver instead of landing a file later reads
    would drop or null; nullability alone is not drift."""
    from qaapi_spark.streaming.epochs import EpochStore

    root = str(tmp_path / "store")
    store = EpochStore(spark, root)
    df0 = spark.createDataFrame([(1, "a")], "doc_id long, t string")
    store.write(df0, 0)
    with pytest.raises(ValueError, match="schema drift"):
        store.write(df0.withColumn("extra", F.lit(1)), 1)
    with pytest.raises(ValueError, match="schema drift"):
        EpochStore(spark, root).write(
            df0.withColumn("doc_id", F.col("doc_id").cast("int")), 1
        )
    assert store.epochs() == [0]
    # same columns and types, non-nullable this time: accepted
    store.write(df0.select(F.lit(2).cast("long").alias("doc_id"), F.lit("b").alias("t")), 1)
    assert sorted(tuple(r) for r in store.read().collect()) == [(1, "a", 0), (2, "b", 1)]
    assert sorted(tuple(r) for r in store.read(before=1).collect()) == [(1, "a", 0)]
    assert store.read(before=0) is None


def test_session_conf_restores_set_and_unset_keys(spark):
    from qaapi_spark.streaming.epochs import session_conf

    key, unset_key = "spark.sql.shuffle.partitions", "spark.qaapi.test.epochs.k"
    prev = spark.conf.get(key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with session_conf(spark, {key: "3", unset_key: "x"}):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(unset_key) == "x"
            raise RuntimeError("stream failed")
    assert spark.conf.get(key) == prev
    assert spark.conf.get(unset_key, None) is None


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_null_endpoint_edges_agree_across_gates(spark, monkeypatch, route):
    """A null-endpoint edge connects nothing on BOTH sides of each
    union-find gate (it used to raise TypeError on the driver route and
    be dropped by the join on the distributed one)."""
    from qaapi_spark.operators import graph
    from qaapi_spark.streaming import incremental

    if route == "distributed":
        monkeypatch.setattr(graph, "_DRIVER_EDGE_GATE", 0)
        monkeypatch.setattr(incremental, "_LABEL_EDGE_GATE", 0)
    pairs = [(1, 2), (2, None), (None, 3), (4, 5), (None, None)]

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node long")
    edges = spark.createDataFrame(pairs, "src long, dst long")
    cc = {r["node"]: r["comp"] for r in graph.connected_components(nodes, edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 6}

    lab_edges = spark.createDataFrame(pairs, "id long, other long")
    seeds = spark.createDataFrame([(1,), (2,), (4,), (5,)], "id long")
    lab = incremental._propagate_min_labels(spark, lab_edges, seeds)
    assert {r["node"]: r["comp"] for r in lab.collect()} == {1: 1, 2: 1, 4: 4, 5: 4}
    lab.unpersist()
