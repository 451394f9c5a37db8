"""Cross-epoch IVF state: exact fold invariants, assignment
semantics, and the crash-idempotent marker protocol
(streaming/ivf_state.py — the vector analog of the drift/dedup state
modules, prescribed by VERDICT r8 item 9)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming import swap
from scylla_pg_cdc_spark.streaming.ivf_state import (
    assign_batch,
    maintain_epoch,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def _q(x: float) -> int:
    return math.floor(x * 1_000_000 + 0.5)


def test_bootstrap_then_fold_is_exact_running_sum(spark, tmp_path):
    sd = str(tmp_path / "ivf")
    e1 = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),
        (3, 1, [0.0, 1.0]),
    ]
    e2 = [
        (10, 0, [1.0, 0.05]),   # clearly list 0
        (11, 1, [0.05, 1.0]),   # clearly list 1
    ]
    r1 = maintain_epoch(spark, sd, _batch(spark, e1), marker="e1")
    assert r1.count() == 0  # bootstrap: no report
    r2 = maintain_epoch(spark, sd, _batch(spark, e2), marker="e2")
    rep = {r["label"]: r.asDict() for r in r2.collect()}
    assert rep[0]["n_old"] == 2 and rep[0]["n_assigned"] == 1
    assert rep[1]["n_old"] == 1 and rep[1]["n_assigned"] == 1
    assert rep[0]["n_defected"] == 0 and rep[1]["n_defected"] == 0
    # state == exact integer running sums of every absorbed vector
    state = {
        (r["label"], r["i"]): (r["s"], r["n"])
        for r in spark.read.parquet(sd + "/lists").collect()
    }
    assert state[(0, 0)] == (_q(1.0) + _q(0.9) + _q(1.0), 3)
    assert state[(0, 1)] == (_q(0.0) + _q(0.1) + _q(0.05), 3)
    assert state[(1, 0)] == (_q(0.0) + _q(0.05), 2)
    assert state[(1, 1)] == (_q(1.0) + _q(1.0), 2)


def test_defection_detected_and_drift_exact(spark, tmp_path):
    sd = str(tmp_path / "ivf")
    e1 = [(1, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0])]
    # labeled 1 but nearest to centroid 0 -> defection into list 0
    e2 = [(10, 1, [1.0, 0.1])]
    maintain_epoch(spark, sd, _batch(spark, e1), marker="e1")
    rep = {
        r["label"]: r.asDict()
        for r in maintain_epoch(
            spark, sd, _batch(spark, e2), marker="e2"
        ).collect()
    }
    assert rep[0]["n_assigned"] == 1 and rep[0]["n_defected"] == 1
    assert rep[1]["n_assigned"] == 0 and rep[1]["n_defected"] == 0
    # exact drift for list 0: dims (1e6, 0) -> means over n=1 then n=2
    old0 = [1000 * _q(1.0) // 1, 1000 * _q(0.0) // 1]
    new0 = [
        (1000 * (_q(1.0) + _q(1.0))) // 2,
        (1000 * (_q(0.0) + _q(0.1))) // 2,
    ]
    want = sum(abs(a - b) for a, b in zip(new0, old0))
    assert rep[0]["centroid_drift"] == want
    assert rep[1]["centroid_drift"] == 0


def test_marker_replay_returns_persisted_report_without_refold(
    spark, tmp_path
):
    sd = str(tmp_path / "ivf")
    e1 = [(1, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0])]
    e2 = [(10, 0, [0.9, 0.0])]
    maintain_epoch(spark, sd, _batch(spark, e1), marker="e1")
    first = maintain_epoch(spark, sd, _batch(spark, e2), marker="e2")
    rows1 = sorted(map(tuple, first.collect()))
    state1 = sorted(
        map(tuple, spark.read.parquet(sd + "/lists").collect())
    )
    assert swap.marker(sd + "/lists") == "e2"
    # replay: same marker, same report, state unchanged (no double fold)
    again = maintain_epoch(spark, sd, _batch(spark, e2), marker="e2")
    assert sorted(map(tuple, again.collect())) == rows1
    assert (
        sorted(map(tuple, spark.read.parquet(sd + "/lists").collect()))
        == state1
    )


def test_assignment_matches_batch_query_scoring(spark, tmp_path):
    """assign_batch and q_ivf_epoch_maintenance share scoring: on the
    sf0.001 embeddings with state bootstrapped from the old split, the
    stream assignment equals the batch query's routing counts."""
    from scylla_pg_cdc_spark.registry import load_all
    from scylla_pg_cdc_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    sd = str(tmp_path / "ivf")
    emb = load_table(spark, sf, "embeddings")
    old_v = emb.filter(F.col("vec_id") % 20 != 0)
    new_v = emb.filter(F.col("vec_id") % 20 == 0)
    maintain_epoch(spark, sd, old_v, marker="boot")
    rep = maintain_epoch(spark, sd, new_v, marker="e1")
    got = sorted(map(tuple, rep.collect()))
    batch = load_all()["q_ivf_epoch_maintenance"].fn(spark, sf)
    want = sorted(map(tuple, batch.collect()))
    assert got == want
