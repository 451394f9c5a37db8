"""Incremental SCD2 history: equality with the batch recompute under
arbitrary (including out-of-order) epoch splits, replay idempotence."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.cdc import as_change_stream
from scylla_pg_cdc_spark.sources.tables import load_table
from scylla_pg_cdc_spark.streaming.history import (
    merge_batch_into_history,
    read_history,
)
from tests.conftest import SF_SMALL


@pytest.fixture()
def work_dir():
    d = tempfile.mkdtemp(prefix="scd2_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch_expected(change):
    w = Window.partitionBy("key").orderBy("commit_ms", "event_id")
    vt = F.lead("commit_ms").over(w)
    return {
        (
            r["event_id"], r["key"], r["valid_from_ms"],
            r["valid_to_ms"], r["is_current"],
        )
        for r in change.select(
            "event_id",
            "key",
            F.col("commit_ms").alias("valid_from_ms"),
            F.coalesce(vt, F.lit(-1)).alias("valid_to_ms"),
            vt.isNull().alias("is_current"),
        ).collect()
    }


def _got(spark, hist_dir):
    return {
        (
            r["event_id"], r["key"], r["valid_from_ms"],
            r["valid_to_ms"], r["is_current"],
        )
        for r in read_history(spark, hist_dir).collect()
    }


def test_incremental_history_matches_batch_out_of_order(spark, work_dir):
    """Epochs split by event_id % 3 interleave timestamps heavily per
    key; the incremental history must still equal the one-shot batch
    window over everything."""
    change = as_change_stream(load_table(spark, SF_SMALL, "events"))
    hist = work_dir + "/hist"
    for e in range(3):
        merge_batch_into_history(
            change.filter(F.col("event_id") % 3 == e), hist, epoch=e
        )
    assert _got(spark, hist) == _batch_expected(change)


def test_incremental_history_replay_idempotent(spark, work_dir):
    change = as_change_stream(load_table(spark, SF_SMALL, "events"))
    hist = work_dir + "/hist"
    for e in range(2):
        merge_batch_into_history(
            change.filter(F.col("event_id") % 2 == e), hist, epoch=e
        )
    before = _got(spark, hist)
    # replay the last epoch with the same epoch number (T9 restart)
    merge_batch_into_history(
        change.filter(F.col("event_id") % 2 == 1), hist, epoch=1
    )
    assert _got(spark, hist) == before


def test_incremental_history_single_epoch_equals_batch(spark, work_dir):
    change = as_change_stream(load_table(spark, SF_SMALL, "events"))
    hist = work_dir + "/hist"
    merge_batch_into_history(change, hist, epoch=0)
    assert _got(spark, hist) == _batch_expected(change)


def test_compact_history_preserves_view_and_bounds_files(spark, work_dir):
    import os

    change = as_change_stream(load_table(spark, SF_SMALL, "events"))
    hist = work_dir + "/hist"
    for e in range(4):
        merge_batch_into_history(
            change.filter(F.col("event_id") % 4 == e), hist, epoch=e
        )
    before = _got(spark, hist)

    from scylla_pg_cdc_spark.streaming.history import compact_history

    compact_history(spark, hist)
    assert _got(spark, hist) == before
    # every bucket folded to a bounded file count
    for entry in os.listdir(hist):
        if entry.startswith("__bucket="):
            n = len(
                [
                    f
                    for f in os.listdir(os.path.join(hist, entry))
                    if f.endswith(".parquet")
                ]
            )
            assert n <= 2


def test_append_inside_compaction_unlink_window(spark, work_dir):
    """An epoch that lands AFTER the compactor listed its victim files
    and read the data, but BEFORE it unlinked them, must survive
    intact: the new files are not in the victim list, so the unlink
    cannot touch them, and the merge-on-read folds them in. This is the
    live-appender-beside-compactor race, pinned through the
    ``_before_unlink`` seam. The same seam is the crash window: with
    compacted and superseded files both on disk, the view is
    unchanged."""
    from scylla_pg_cdc_spark.streaming.history import compact_history

    schema = (
        "event_id long, key long, event_type string, value double,"
        " props string, commit_ms long"
    )

    def change(lo, hi):
        return spark.createDataFrame(
            [
                (i, i % 40, "click", float(i), "{}", 1_000 + (i * 7919) % 500)
                for i in range(lo, hi)
            ],
            schema,
        )

    hist = work_dir + "/hist"
    for e in range(4):
        merge_batch_into_history(
            change(50 * e, 50 * (e + 1)), hist, epoch=e, n_buckets=4
        )

    before = _got(spark, hist)

    def racing_append():
        assert _got(spark, hist) == before
        merge_batch_into_history(change(200, 260), hist, epoch=4, n_buckets=4)

    compact_history(spark, hist, n_buckets=4, _before_unlink=racing_append)
    assert _got(spark, hist) == _batch_expected(change(0, 260))
