"""End-to-end Structured Streaming tests: the same CDC semantics the
batch oracles verify, executed under readStream + availableNow
(SURVEY.md §7 phase 5: 't1 smoke runs the same pipeline with
readStream')."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.cdc import q_cdc_upsert_compact
from scylla_pg_cdc_spark.operators.cdc import q_stream_dlq_split
from scylla_pg_cdc_spark.streaming.pipeline import (
    compact_partial_updates,
    latest_state,
    run_upsert_pipeline,
    run_windowed_rates,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def work_dir():
    d = tempfile.mkdtemp(prefix="cdc_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def pipeline_out(spark, work_dir):
    return run_upsert_pipeline(spark, SF_SMALL, work_dir)


def test_stream_state_matches_batch_compaction(spark, pipeline_out):
    """Streaming upsert materialization == batch oracle-checked
    compaction (minus the rows the DLQ branch diverted)."""
    stream_live = {
        r["key"]: (r["event_id"], r["event_type"])
        for r in latest_state(spark, pipeline_out["state"]).collect()
    }
    # batch equivalent with the DLQ predicate applied first
    from scylla_pg_cdc_spark.operators.cdc import as_change_stream, compact_latest
    from scylla_pg_cdc_spark.sources.tables import load_table
    from scylla_pg_cdc_spark.streaming.pipeline import poison_predicate

    events = load_table(spark, SF_SMALL, "events").filter(~poison_predicate())
    batch_live = {
        r["key"]: (r["event_id"], r["event_type"])
        for r in compact_latest(as_change_stream(events)).collect()
    }
    assert stream_live == batch_live
    assert len(stream_live) > 0


def test_stream_dlq_counts_match_batch_predicate(spark, pipeline_out):
    dlq = spark.read.parquet(pipeline_out["dlq"])
    batch = {
        r["branch"]: r["n"]
        for r in q_stream_dlq_split(spark, SF_SMALL).collect()
    }
    assert dlq.count() == batch["dlq"]
    assert set(dlq.columns) >= {"event_id", "key", "error_context", "epoch_id"}


def test_stream_exactly_once_on_restart(spark, pipeline_out, work_dir):
    """Re-running with the same checkpoint must not duplicate state —
    the checkpoint already consumed the source (T9)."""
    before = latest_state(spark, pipeline_out["state"]).count()
    run_upsert_pipeline(spark, SF_SMALL, work_dir)
    after = latest_state(spark, pipeline_out["state"]).count()
    assert before == after


def test_windowed_rates_match_batch(spark, work_dir):
    rates = run_windowed_rates(spark, SF_SMALL, work_dir)
    got = {(r["day"], r["event_type"]): r["n"] for r in rates.collect()}
    from scylla_pg_cdc_spark.operators.cdc import q_stream_tumbling

    want = {
        (r["day"], r["event_type"]): r["n"]
        for r in q_stream_tumbling(spark, SF_SMALL).collect()
    }
    assert got == want and len(got) > 0


def test_partial_update_null_preserving_merge(spark):
    """handle-partial-updates.sql semantics: NULL in a later partial
    update must NOT clobber an earlier value; last non-null wins per
    column independently."""
    rows = [
        (1, 100, 10, "alice", "a@x.com"),
        (2, 100, 20, None, "a2@x.com"),   # partial: name omitted
        (3, 100, 30, "alice2", None),     # partial: email omitted
        (4, 200, 10, None, "b@x.com"),    # key 200: name never set
    ]
    df = spark.createDataFrame(
        rows, "event_id long, key long, commit_ms long, name string, email string"
    )
    out = {
        r["key"]: (r["name"], r["email"])
        for r in compact_partial_updates(df, "key", ["name", "email"]).collect()
    }
    assert out[100] == ("alice2", "a2@x.com")
    assert out[200] == (None, "b@x.com")


def test_plain_last_row_wins_would_differ(spark):
    """Documents why last() ignorenulls matters: the naive compaction
    clobbers name for key 100."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest  # noqa: F401
    rows = [
        (1, 100, 10, "alice", "a@x.com"),
        (2, 100, 20, None, "a2@x.com"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, key long, commit_ms long, name string, email string"
    )
    merged = compact_partial_updates(df, "key", ["name", "email"]).collect()[0]
    assert merged["name"] == "alice"  # preserved, not clobbered to None


def test_stream_dedup_within_watermark(spark, work_dir):
    """T10 streaming face: a doubled stream deduplicated with
    dropDuplicatesWithinWatermark yields exactly the distinct events."""
    import os

    from scylla_pg_cdc_spark.streaming.pipeline import read_event_stream

    stream = read_event_stream(spark, SF_SMALL).withWatermark("ts", "1 hour")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    name = "dedup_" + os.path.basename(work_dir).replace("-", "_")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).count()
    from scylla_pg_cdc_spark.sources.tables import load_table

    want = load_table(spark, SF_SMALL, "events").count()
    assert got == want


def test_null_poison_rows_route_to_main_not_dropped(spark):
    """A row where the poison predicate is three-valued NULL must land
    in exactly one branch (main), not vanish."""
    from scylla_pg_cdc_spark.streaming.pipeline import poison_predicate

    rows = spark.createDataFrame(
        [(1, None, "{}"), (2, 95.0, '{"k": 99}'), (3, 50.0, '{"k": 10}')],
        "event_id long, value double, props string",
    )
    p = poison_predicate()
    main_n = rows.filter(~p).count()
    dlq_n = rows.filter(p).count()
    assert (main_n, dlq_n) == (2, 1)
    assert main_n + dlq_n == rows.count()  # true partition


@pytest.mark.parametrize(
    "target, crashes",
    [("state", 1), ("state", 2), ("mv", 1), ("digests", 1)],
    ids=["state", "state_double_crash", "mv", "digests"],
)
def test_merge_state_survives_lost_state_dir(
    spark, tmp_path, monkeypatch, target, crashes
):
    """A crash inside an epoch's commit (the rename that promotes the
    staged dir raises), then the same call replayed as the pipeline's
    epoch retry makes it, must leave both epochs committed — never the
    replayed epoch's delta alone. ``state_double_crash`` crashes the
    replay's own commit too (the ADVICE r6 window)."""
    import os

    from scylla_pg_cdc_spark.operators.reconcile import bucket_digests
    from scylla_pg_cdc_spark.streaming.pipeline import (
        fold_digests,
        fold_mv_bucketed,
        merge_batch_into_state,
    )

    def changes(keys):
        return spark.createDataFrame(
            [(k, k, "UPSERT", "t", float(k), "{}", 10) for k in keys],
            "event_id long, key long, op string, event_type string, "
            "value double, props string, commit_ms long",
        )

    d = str(tmp_path / target)
    none = changes([])

    def fold(rows, marker):
        if target == "state":
            merge_batch_into_state(rows, d)
        elif target == "mv":
            fold_mv_bucketed(d, none, rows, ["key"], ["value"], marker)
        else:
            fold_digests(d, none, rows, marker, 8)

    e0, e1 = changes(range(100, 130)), changes(range(130, 136))
    fold(e0, "epoch-0")
    rename, left = os.rename, [crashes]

    def crashing_rename(src, dst):
        if src == d + "_next" and left[0]:
            left[0] -= 1
            raise OSError("injected crash before promote")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    for _ in range(crashes):
        with pytest.raises(OSError, match="injected crash"):
            fold(e1, "epoch-1")
    fold(e1, "epoch-1")
    got = spark.read.parquet(d)
    if target == "digests":
        want = bucket_digests(e0.unionByName(e1), ["key"], 8)
        cols = ["bucket", "n", "dig"]
        assert sorted(map(tuple, got.select(cols).collect())) == sorted(
            map(tuple, want.select(cols).collect())
        )
    else:
        assert {r["key"] for r in got.collect()} == set(range(100, 136))


def test_multi_epoch_pipeline_equals_single_batch(spark, tmp_path):
    """Split the source into 4 files and force one file per trigger:
    4 micro-batch epochs, each merging into existing state. Final
    state must equal the single-epoch run — the incremental merge path
    is associative."""
    import os

    from scylla_pg_cdc_spark.sources.tables import load_table

    src_dir = str(tmp_path / "src")
    # re-encode events as 4 parquet part files with the raw ns schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_raw = spark.read.parquet(SF_SMALL + "/events.parquet")
    events_raw.repartition(4).write.parquet(src_dir)
    n_parts = len(
        [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
    )
    assert n_parts >= 4

    multi = run_upsert_pipeline(
        spark,
        src_dir,
        str(tmp_path / "multi"),
        glob="*.parquet",
        max_files_per_trigger=1,
    )
    single = run_upsert_pipeline(spark, SF_SMALL, str(tmp_path / "single"))
    multi_state = {
        (r["key"], r["event_id"])
        for r in latest_state(spark, multi["state"]).collect()
    }
    single_state = {
        (r["key"], r["event_id"])
        for r in latest_state(spark, single["state"]).collect()
    }
    assert multi_state == single_state and len(multi_state) > 0
    # multiple epochs actually ran: DLQ rows tagged with >1 epoch OR
    # checkpoint shows several commits
    commits = os.listdir(os.path.join(str(tmp_path / "multi"), "checkpoint", "commits"))
    assert len([c for c in commits if not c.startswith(".")]) >= 4


def test_observed_metrics_per_batch(spark, tmp_path):
    """Spark-native metric emission (D6): df.observe() aggregates show
    up in each StreamingQueryProgress — rows, tombstones, value sum —
    without a second pass over the data."""
    from pyspark.sql.streaming import StreamingQueryListener

    from scylla_pg_cdc_spark.streaming.pipeline import (
        read_event_stream,
        to_change_events,
    )

    captured = []

    class Obs(StreamingQueryListener):
        def onQueryStarted(self, e): pass
        def onQueryIdle(self, e): pass
        def onQueryTerminated(self, e): pass
        def onQueryProgress(self, e):
            om = e.progress.observedMetrics
            if "cdc_metrics" in om:
                captured.append(om["cdc_metrics"])

    listener = Obs()
    spark.streams.addListener(listener)
    try:
        stream = to_change_events(read_event_stream(spark, SF_SMALL))
        observed = stream.observe(
            "cdc_metrics",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("op") == "DELETE", 1).otherwise(0)).alias(
                "n_tombstones"
            ),
        )
        q = (
            observed.writeStream.format("noop")
            .option(
                "checkpointLocation", str(tmp_path / "obs_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time

        deadline = time.time() + 15
        while time.time() < deadline and not captured:
            time.sleep(0.25)
        assert captured, "no observed metrics arrived"
        total_rows = sum(m["n_rows"] for m in captured)
        total_tomb = sum(m["n_tombstones"] for m in captured)
        from scylla_pg_cdc_spark.sources.tables import load_table

        events = load_table(spark, SF_SMALL, "events")
        assert total_rows == events.count()
        assert total_tomb == events.filter(
            F.col("event_type") == "error"
        ).count()
    finally:
        spark.streams.removeListener(listener)


def test_multi_table_cdc_composite_key_compaction(spark):
    """Multi-table CDC (reference: 100+ tables through one pipeline):
    the table name simply joins the compaction key — per-(table, key)
    latest-state in one shuffle, no per-table jobs."""
    from pyspark.sql import Window

    rows = [
        # (event_id, table, key, op, commit_ms)
        (1, "users", 1, "UPSERT", 10),
        (2, "orders", 1, "UPSERT", 10),   # same key, different table
        (3, "users", 1, "UPSERT", 20),
        (4, "orders", 1, "DELETE", 20),
        (5, "users", 2, "UPSERT", 10),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, table_name string, key long, op string, commit_ms long"
    )
    w = Window.partitionBy("table_name", "key").orderBy(
        F.col("commit_ms").desc(), F.col("event_id").desc()
    )
    latest = (
        df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .filter(F.col("op") != "DELETE")
    )
    got = {(r["table_name"], r["key"]): r["event_id"] for r in latest.collect()}
    assert got == {("users", 1): 3, ("users", 2): 5}  # orders.1 deleted


def test_watermark_drops_late_data(spark, tmp_path):
    """T4 stale-event handling: a second micro-batch delivering events
    far older than the advanced watermark must have them dropped from
    the windowed aggregation — observed via the state operator's
    numRowsDroppedByWatermark metric."""
    import os
    import time

    from scylla_pg_cdc_spark.sources.tables import load_table

    events = load_table(spark, SF_SMALL, "events")
    # three arrival batches: the watermark computed from batch N only
    # filters batch N+2 onward (it finalizes after N, applies from
    # N+1's planning), so the *second* stale batch is the one dropped
    recent = events.filter(F.col("ts") >= "2024-01-20")
    old1 = events.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")
    )
    old2 = events.filter(F.col("ts") < "2024-01-10")
    n_old = old2.count()
    assert n_old > 0 and recent.count() > 0 and old1.count() > 0

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    # ns->long for the raw stream schema; file order controls arrival:
    # recent first (advances watermark), old second (now late)
    def dump(df, name):
        df.select(
            "event_id",
            (F.unix_micros("ts") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.parquet(str(tmp_path / name))
        part = [
            f for f in os.listdir(str(tmp_path / name))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / name / part), os.path.join(src, f"{name}.parquet")
        )

    import time as _t

    dump(recent, "a_recent")
    _t.sleep(1.1)  # distinct mtimes fix file-arrival order
    dump(old1, "b_old1")
    _t.sleep(1.1)
    dump(old2, "c_old2")

    from scylla_pg_cdc_spark.streaming.pipeline import read_event_stream

    stream = read_event_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    deadline = time.time() + 10
    dropped = 0
    while time.time() < deadline:
        progress = q.recentProgress
        dropped = sum(
            s["numRowsDroppedByWatermark"]
            for p in progress
            for s in p["stateOperators"]
        )
        if dropped:
            break
        time.sleep(0.25)
    # Exactly which late rows the state operator counts is engine-
    # internal (observed: the pre-aggregation filter and the state
    # store report different subsets across versions); the T4 contract
    # verified here is that watermark-based late dropping ENGAGES for
    # stale batches and never touches on-time data.
    assert 0 < dropped <= n_old, (
        f"late dropping did not engage (dropped={dropped}, stale={n_old})"
    )
    assert len(q.recentProgress) >= 3  # three arrival epochs ran


def test_pipeline_drift_monitor_reports_and_folds(spark, tmp_path):
    """drift_monitor=True: epoch 0 bootstraps silently, later epochs
    get a KS report row per event type, and the folded count state
    equals the exact value counts of every CLEAN (non-poison) event."""
    import json as _json
    import math
    import os
    import time as _t
    from collections import defaultdict

    from scylla_pg_cdc_spark.sources.tables import load_table

    src = str(tmp_path / "src")
    os.makedirs(src)
    events = load_table(spark, SF_SMALL, "events")

    def dump(df, name):
        df.select(
            "event_id",
            (F.unix_micros("ts") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.parquet(str(tmp_path / name))
        part = [
            f for f in os.listdir(str(tmp_path / name))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            str(tmp_path / name / part), os.path.join(src, f"{name}.parquet")
        )

    for i in range(3):
        dump(events.filter(F.col("event_id") % 3 == i), f"ep{i}")
        _t.sleep(1.1)

    out = run_upsert_pipeline(
        spark, src, str(tmp_path / "work"),
        glob="*.parquet", max_files_per_trigger=1, drift_monitor=True,
    )
    report = spark.read.parquet(os.path.join(out["drift"], "report"))
    reps = report.collect()
    assert {r["epoch_id"] for r in reps} == {1, 2}
    assert all(r["ks_ppm"] >= 0 and r["n_hist"] > 0 for r in reps)

    # folded counts == exact clean-event value counts
    clean = [
        r
        for r in events.collect()
        if r["value"] is not None
        and not (
            (r["value"] < 1.0)
            or (_json.loads(r["props"] or "{}").get("k", 0) > 90)
        )
    ]
    serial: dict[tuple, int] = defaultdict(int)
    for r in clean:
        serial[(r["event_type"], math.floor(r["value"] * 100.0 + 0.5))] += 1
    got = {
        (r["event_type"], r["vc"]): r["cnt"]
        for r in spark.read.parquet(
            os.path.join(out["drift"], "counts")
        ).collect()
    }
    assert got == dict(serial)


def test_pipeline_drift_replay_is_idempotent(spark, tmp_path):
    """Re-running the finished pipeline on the same checkpoint must
    not re-fold drift counts (marker + checkpoint discipline)."""
    import os

    from scylla_pg_cdc_spark.sources.tables import load_table  # noqa: F401

    work = str(tmp_path / "work")
    out1 = run_upsert_pipeline(
        spark, SF_SMALL, work, drift_monitor=True
    )
    counts1 = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(
            os.path.join(out1["drift"], "counts")
        ).collect()
    )
    out2 = run_upsert_pipeline(
        spark, SF_SMALL, work, drift_monitor=True
    )
    counts2 = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(
            os.path.join(out2["drift"], "counts")
        ).collect()
    )
    assert counts1 == counts2


def test_streaming_ohlc_matches_batch_bars(spark, tmp_path):
    """min_by/max_by streaming candles must equal the batch
    row_number formulation bar-for-bar."""
    import os

    from scylla_pg_cdc_spark.operators.temporal import q_ohlc_bars
    from scylla_pg_cdc_spark.streaming.pipeline import read_event_stream
    from scylla_pg_cdc_spark.streaming.rollups import ohlc_bars_stream

    stream = read_event_stream(spark, SF_SMALL)
    out = ohlc_bars_stream(stream)
    name = "ohlc_" + os.path.basename(str(tmp_path)).replace("-", "_")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_type"], r["hour_ms"]): (
            r["open_c"], r["high_c"], r["low_c"], r["close_c"],
            r["n_events"], r["vol_c"],
        )
        for r in spark.table(name).collect()
    }
    want = {
        (r["event_type"], r["hour_ms"]): (
            r["open_c"], r["high_c"], r["low_c"], r["close_c"],
            r["n_events"], r["vol_c"],
        )
        for r in q_ohlc_bars(spark, SF_SMALL).collect()
    }
    # append mode emits only watermark-closed windows; with
    # availableNow over a finite file the final watermark closes all
    # but the last open windows — require everything emitted to match
    # and at least 90% of bars present
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= int(0.9 * len(want))


def test_monitor_epoch_marker_replay_does_not_refold(spark, tmp_path):
    """ADVICE r5 (medium): a replay of the SAME marker after the fold
    committed must not re-fold the epoch into its own baseline, and
    must return the persisted (pre-fold-baseline) report — the crash
    window between state commit and caller checkpoint."""
    import os

    from scylla_pg_cdc_spark.sources.tables import load_table
    from scylla_pg_cdc_spark.streaming import swap
    from scylla_pg_cdc_spark.streaming.drift_state import monitor_epoch

    events = load_table(spark, SF_SMALL, "events")
    state = str(tmp_path / "drift")
    e0 = events.filter(F.col("event_id") % 2 == 0)
    e1 = events.filter(F.col("event_id") % 2 == 1)
    monitor_epoch(spark, state, e0, marker="epoch-0")
    rep1 = sorted(
        (r["event_type"], r["n_hist"], r["n_epoch"], r["ks_ppm"])
        for r in monitor_epoch(spark, state, e1, marker="epoch-1").collect()
    )
    counts_after = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(os.path.join(state, "counts")).collect()
    )
    assert swap.marker(os.path.join(state, "counts")) == "epoch-1"
    # replay epoch-1 (caller crashed before its checkpoint committed)
    rep1_replay = sorted(
        (r["event_type"], r["n_hist"], r["n_epoch"], r["ks_ppm"])
        for r in monitor_epoch(spark, state, e1, marker="epoch-1").collect()
    )
    counts_replay = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(os.path.join(state, "counts")).collect()
    )
    assert rep1_replay == rep1  # persisted report, not a re-KS
    assert counts_replay == counts_after  # no double fold
    assert len(rep1) > 0


def test_monitor_epoch_recovers_mid_swap_crash(spark, tmp_path):
    """A crash between the swap's two renames leaves only counts_prev
    (old state) + counts_next (staged): the replay must still commit
    exactly one fold and never lose the history."""
    import os
    import shutil

    from scylla_pg_cdc_spark.sources.tables import load_table
    from scylla_pg_cdc_spark.streaming.drift_state import monitor_epoch

    events = load_table(spark, SF_SMALL, "events")
    state = str(tmp_path / "drift")
    e0 = events.filter(F.col("event_id") % 2 == 0)
    e1 = events.filter(F.col("event_id") % 2 == 1)
    monitor_epoch(spark, state, e0, marker="epoch-0")
    rep = sorted(
        (r["event_type"], r["n_hist"], r["n_epoch"], r["ks_ppm"])
        for r in monitor_epoch(spark, state, e1, marker="epoch-1").collect()
    )
    want = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(os.path.join(state, "counts")).collect()
    )
    # rewind to the mid-swap crash point: old state parked at _prev,
    # new state still staged at _next, live dir missing
    cdir = os.path.join(state, "counts")
    shutil.rmtree(str(tmp_path / "snap"), ignore_errors=True)
    os.makedirs(str(tmp_path / "snap"))
    os.rename(cdir, cdir + "_next_staged")
    # rebuild the epoch-0-only committed state as _prev
    monitor_epoch(
        spark, str(tmp_path / "snap"), e0, marker="epoch-0"
    )
    os.rename(os.path.join(str(tmp_path / "snap"), "counts"), cdir + "_prev")
    os.rename(cdir + "_next_staged", cdir + "_next")
    # replay epoch-1: committed marker (from _prev) is epoch-0, so the
    # fold re-runs from the parked history and commits once
    rep_replay = sorted(
        (r["event_type"], r["n_hist"], r["n_epoch"], r["ks_ppm"])
        for r in monitor_epoch(spark, state, e1, marker="epoch-1").collect()
    )
    got = sorted(
        (r["event_type"], r["vc"], r["cnt"])
        for r in spark.read.parquet(cdir).collect()
    )
    assert rep_replay == rep
    assert got == want
    assert not os.path.isdir(cdir + "_prev")
    assert not os.path.isdir(cdir + "_next")
