"""Incremental SCD Type-2 history materialization.

The reference's sink keeps only the LATEST state per key (upsert,
`postgres-sink.json:22-24`); `operators/cdc.py:q_scd2_history` shows
the batch recompute of the full validity-interval history. This module
maintains that history INCREMENTALLY under a change stream — the
temporal-table upgrade a warehouse consumer wants from a CDC pipeline
(query any past state, audit every transition).

Discipline (hash-bucket + append + merge-on-read):

- **merge_batch_into_history**: per epoch, re-window ONLY the keys the
  batch touches — read the touched buckets, keep rows of touched keys,
  union the new events, recompute those keys' interval chains with one
  lead() window, and APPEND the re-computed rows stamped with the epoch
  number. Untouched buckets are never read or written; cost is
  O(batch + touched-key history), independent of total history size.
- **read_history = merge-on-read**: per event_id the row from the
  greatest epoch wins (``max_by(row, (__ver, valid_to))``). Re-closing
  an interval in a later epoch supersedes the earlier version; the
  reducer is idempotent, so replayed epochs (T9 exactly-once restarts)
  and duplicate appends collapse.
- **Out-of-order safe**: because the whole chain of a touched key is
  re-windowed each time the key appears, a late event splices into its
  correct position and every downstream interval of that key is
  re-emitted closed/open correctly — equality with the batch recompute
  holds under ANY partitioning of events into epochs (property-tested).

At 100 TB: appends are bounded by touched-key history; a compactor
(``compact_history``: one bucket-parallel land-then-unlink job) folds
superseded versions away amortized. On Delta/Iceberg the
append+merge-on-read pair becomes MERGE INTO over the interval table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming.pipeline import (
    STATE_BUCKETS,
    _bucket_dirs,
    _state_bucket,
)

_HIST_COLS = [
    "event_id",
    "key",
    "event_type",
    "value",
    "props",
    "valid_from_ms",
    "valid_to_ms",
    "is_current",
    "__ver",
]


def _exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        not e.startswith(".") for e in os.listdir(path)
    )


def merge_batch_into_history(
    batch: DataFrame,
    history_dir: str,
    epoch: int,
    key: str = "key",
    n_buckets: int = STATE_BUCKETS,
) -> None:
    """Fold one epoch of change rows (``as_change_stream`` shape:
    event_id, key, event_type, value, props, commit_ms) into the
    interval history at ``history_dir``."""
    spark = batch.sparkSession
    newrows = (
        batch.select(
            "event_id",
            F.col(key).alias("key"),
            "event_type",
            "value",
            "props",
            F.col("commit_ms").alias("valid_from_ms"),
        )
        .withColumn("__bucket", _state_bucket("key", n_buckets))
    )
    if _exists(history_dir):
        touched = sorted(
            r["__bucket"]
            for r in newrows.select("__bucket").distinct().collect()
        )
        prior = (
            spark.read.parquet(history_dir)
            .filter(F.col("__bucket").isin([int(b) for b in touched]))
        )
        # latest version per event (idempotent under replays), then
        # only the keys this batch touches get re-windowed
        prior_latest = _latest_versions(prior).join(
            newrows.select("key").distinct(), on="key", how="left_semi"
        )
        # dropDuplicates(event_id) absorbs at-least-once delivery: a
        # replayed epoch's rows are already in the prior history, and
        # the chain must hold each event exactly once before windowing
        chain = (
            prior_latest.select(
                "event_id", "key", "event_type", "value", "props",
                "valid_from_ms",
            )
            .unionByName(newrows.drop("__bucket"))
            .dropDuplicates(["event_id"])
            .withColumn("__bucket", _state_bucket("key", n_buckets))
        )
    else:
        chain = newrows
    w = Window.partitionBy("key").orderBy("valid_from_ms", "event_id")
    vt = F.lead("valid_from_ms").over(w)
    out = chain.select(
        "event_id",
        "key",
        "event_type",
        "value",
        "props",
        "valid_from_ms",
        F.coalesce(vt, F.lit(-1)).alias("valid_to_ms"),
        vt.isNull().alias("is_current"),
        F.lit(int(epoch)).alias("__ver"),
        "__bucket",
    )
    out.write.mode("append").partitionBy("__bucket").parquet(history_dir)


def _latest_versions(hist: DataFrame) -> DataFrame:
    """Merge-on-read reducer: greatest (__ver, valid_to_ms) row per
    event wins — the epoch that last re-windowed the event."""
    return (
        hist.groupBy("event_id")
        .agg(
            F.max_by(
                F.struct(*[c for c in _HIST_COLS if c != "event_id"]),
                F.struct(F.col("__ver"), F.col("valid_to_ms")),
            ).alias("r")
        )
        .select("event_id", "r.*")
    )


def read_history(spark: SparkSession, history_dir: str) -> DataFrame:
    """The current SCD2 view: latest interval version per event."""
    return _latest_versions(
        spark.read.parquet(history_dir).drop("__bucket")
    ).drop("__ver")


def compact_history(
    spark: SparkSession,
    history_dir: str,
    buckets: list[int] | None = None,
    n_buckets: int = STATE_BUCKETS,
    _before_unlink=None,
) -> None:
    """Fold superseded interval versions away: rewrite the given
    buckets (default: all) keeping only each event's latest version,
    in one bucket-parallel job (partition-pruned read, per-event
    max_by, ``partitionBy`` write).

    Crash-safe by idempotence, not renames: the compacted files land in
    the live bucket dirs first and the superseded files unlink after,
    so a crash between the two leaves duplicates the idempotent max_by
    reducer collapses on read. The superseded files are listed BEFORE
    the read, so a file appended meanwhile is never unlinked unread.

    ``_before_unlink`` is a test seam: called after the compacted files
    land but before the superseded ones unlink — the window where a
    live appender races the compactor."""
    dirs = _bucket_dirs(history_dir)
    if buckets is None:
        buckets = sorted(dirs)
    buckets = [b for b in buckets if b in dirs]
    if not buckets:
        return
    old_files = {
        b: [
            f
            for f in os.listdir(os.path.join(history_dir, dirs[b]))
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        for b in buckets
    }
    df = spark.read.parquet(history_dir).filter(
        F.col("__bucket").isin([int(b) for b in buckets])
    )
    root = history_dir.rstrip("/") + "_compact"
    staging = os.path.join(root, uuid.uuid4().hex[:8])
    # __bucket re-derived (same modulus as the writer), not carried:
    # _latest_versions drops it
    (
        _latest_versions(df.drop("__bucket"))
        .withColumn("__bucket", _state_bucket("key", n_buckets))
        .repartition(len(buckets), "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(staging)
    )
    for b, sub in _bucket_dirs(staging).items():
        src = os.path.join(staging, sub)
        dst = os.path.join(history_dir, dirs[b])
        for i, p in enumerate(
            f for f in os.listdir(src) if f.endswith(".parquet")
        ):
            os.rename(
                os.path.join(src, p),
                os.path.join(dst, f"compact-{uuid.uuid4().hex}-{i}.parquet"),
            )
    if _before_unlink is not None:
        _before_unlink()
    for b, files in old_files.items():
        for f in files:
            os.remove(os.path.join(history_dir, dirs[b], f))
    shutil.rmtree(root, ignore_errors=True)
