"""LSM-style keyed state: O(batch) appends + amortized compaction.

``merge_batch_into_state`` (pipeline.py) merges eagerly every epoch —
reads touched buckets, rewrites them. Bucketing bounds that by
*touched buckets*, but a uniformly-keyed batch touches ALL buckets
(measured: 5k random keys hit all 64 buckets of a 500k-key state, so
the "incremental" merge rewrote everything). The general fix is the
LSM discipline every merge-on-read table format (Delta/Hudi MoR,
RocksDB) uses:

- **append**: each epoch writes ONLY its own (within-batch compacted)
  rows as new files in the bucket layout — strictly O(batch) I/O,
  independent of state size;
- **read = merge-on-read**: latest-per-key compaction
  (``max_by(row, (commit_ms, event_id))``) over base + deltas. The
  reducer is associative, commutative, and idempotent, so compaction
  order never changes the answer;
- **compact**: when a bucket accumulates more than ``file_threshold``
  delta files, rewrite just that bucket. Crash-safe WITHOUT renames:
  the compacted file lands first, old files unlink after — a crash
  between the two leaves duplicates that the idempotent reducer
  collapses on the next read or compaction.

Choose per workload: eager merge (cheap reads, O(touched-state)
writes) for read-heavy state; LSM append (O(batch) writes, amortized
compaction, slightly costlier reads) for write-heavy CDC firehose.
Both store the same rows; ``read_latest`` here equals
``compact_latest_agg`` over the full history by construction.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming.pipeline import (
    STATE_BUCKETS,
    _bucket_dirs,
    _state_bucket,
)

_COLS = ["event_id", "key", "op", "event_type", "value", "props", "commit_ms"]


def append_epoch(
    batch: DataFrame,
    state_dir: str,
    key: str = "key",
    n_buckets: int = STATE_BUCKETS,
) -> None:
    """Append one epoch's delta: within-batch compaction (map-side
    combine collapses CDC amplification), then new files in the bucket
    layout. Never reads existing state — O(batch) regardless of state
    size. Replays are safe: duplicate rows collapse under the
    idempotent latest-per-key reducer."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg

    cols = [c if c != "key" else key for c in _COLS]
    delta = (
        compact_latest_agg(
            batch.select(*cols).withColumnRenamed(key, "key"),
            keep_deleted=True,
        )
        .drop("__deleted")
        .withColumnRenamed("key", key)
        .withColumn("__bucket", _state_bucket(key, n_buckets))
    )
    delta.write.mode("append").partitionBy("__bucket").parquet(state_dir)


def read_latest(
    spark: SparkSession, state_dir: str, key: str = "key"
) -> DataFrame:
    """Merge-on-read view: latest row per key over base + deltas
    (tombstones retained as op='DELETE' rows, mirroring the eager
    merge's keep_deleted state)."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg

    df = spark.read.parquet(state_dir).drop("__bucket")
    return (
        compact_latest_agg(
            df.withColumnRenamed(key, "key"), keep_deleted=True
        )
        .drop("__deleted")
        .withColumnRenamed("key", key)
    )


def buckets_needing_compaction(
    state_dir: str, file_threshold: int = 8
) -> list[int]:
    out = []
    for b, entry in _bucket_dirs(state_dir).items():
        d = os.path.join(state_dir, entry)
        n = sum(
            1
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        if n > file_threshold:
            out.append(b)
    return sorted(out)


def compact_buckets(
    spark: SparkSession,
    state_dir: str,
    buckets: list[int],
    key: str = "key",
) -> None:
    """Rewrite the given buckets to one file each. Crash-safe by
    idempotence, not renames: the compacted file is written INTO the
    live bucket dir first, the superseded files unlink after. A crash
    between the two leaves duplicate rows whose latest-per-key
    reduction is unchanged (the reducer is idempotent), and the next
    compaction removes them."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg

    if not buckets:
        return
    dirs = _bucket_dirs(state_dir)
    for b in buckets:
        bucket_dir = os.path.join(state_dir, dirs[b])
        old_files = [
            f
            for f in os.listdir(bucket_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        df = spark.read.parquet(bucket_dir)
        compacted = (
            compact_latest_agg(
                df.withColumnRenamed(key, "key"), keep_deleted=True
            )
            .drop("__deleted")
            .withColumnRenamed("key", key)
        )
        staging = os.path.join(
            state_dir + "_compact", f"b{b}-{uuid.uuid4().hex[:8]}"
        )
        compacted.coalesce(1).write.mode("overwrite").parquet(staging)
        parts = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        for i, p in enumerate(parts):
            os.rename(
                os.path.join(staging, p),
                os.path.join(bucket_dir, f"compact-{uuid.uuid4().hex}-{i}.parquet"),
            )
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        for f in old_files:
            os.remove(os.path.join(bucket_dir, f))
    import shutil

    shutil.rmtree(state_dir + "_compact", ignore_errors=True)


def compact_buckets_parallel(
    spark: SparkSession,
    state_dir: str,
    buckets: list[int],
    key: str = "key",
    _before_unlink=None,
) -> None:
    """Bucket-parallel variant of ``compact_buckets`` for a standalone
    background compactor (`tools/compact_state.py`): ONE Spark job
    reads every target bucket (partition pruning keeps non-targets
    unscanned), compacts per key, and writes all compacted buckets via
    ``partitionBy`` — so all 32 local cores (or 1000 executors) work
    buckets concurrently instead of the inline per-bucket loop that
    serializes one tiny job per bucket. Same crash discipline
    (``_compact_in_place``).

    ``__bucket`` is functional on ``key``, so it rides through the
    per-key max_by untouched and the writer re-partitions the output
    into exactly the input buckets.

    ``_before_unlink`` is a test seam: called after the compacted
    files land in the live bucket dirs but before the superseded files
    unlink — the exact window where a live appender can race the
    compactor (see tests/test_lsm_state.py)."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg

    if not buckets:
        return
    _compact_in_place(
        spark,
        state_dir,
        buckets,
        lambda df: compact_latest_agg(
            df.withColumnRenamed(key, "key"), keep_deleted=True
        )
        .drop("__deleted")
        .withColumnRenamed("key", key),
        _before_unlink,
    )


def _compact_in_place(
    spark: SparkSession,
    state_dir: str,
    buckets: list[int],
    reduce,
    _before_unlink=None,
) -> None:
    """Rewrite ``buckets`` of a ``__bucket``-partitioned dir to the rows
    ``reduce`` keeps (``reduce`` maps the bucket-pruned frame to its
    compacted form, ``__bucket`` included). Crash-safe by idempotence,
    not renames: the compacted files land in the live bucket dirs
    first, the superseded files unlink after — a crash between the two
    leaves duplicates the idempotent reducer collapses on read. The
    superseded files are listed BEFORE the read, so a file appended
    meanwhile is never unlinked unread."""
    import shutil

    dirs = _bucket_dirs(state_dir)
    old_files = {
        b: [
            f
            for f in os.listdir(os.path.join(state_dir, dirs[b]))
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        for b in buckets
    }
    df = spark.read.parquet(state_dir).filter(
        F.col("__bucket").isin([int(b) for b in buckets])
    )
    root = state_dir.rstrip("/") + "_compact"
    staging = os.path.join(root, uuid.uuid4().hex[:8])
    (
        reduce(df)
        .repartition(len(buckets), "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(staging)
    )
    for b, sub in _bucket_dirs(staging).items():
        src = os.path.join(staging, sub)
        dst = os.path.join(state_dir, dirs[b])
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
            os.remove(os.path.join(state_dir, dirs[b], f))
    shutil.rmtree(root, ignore_errors=True)


def maintain(
    batch: DataFrame,
    state_dir: str,
    key: str = "key",
    n_buckets: int = STATE_BUCKETS,
    file_threshold: int = 8,
) -> list[int]:
    """One epoch of the LSM lifecycle: append the delta, then compact
    any bucket past the file threshold. Returns compacted buckets.
    Amortized cost: every row is rewritten O(log) times total instead
    of once per epoch."""
    append_epoch(batch, state_dir, key, n_buckets)
    todo = buckets_needing_compaction(state_dir, file_threshold)
    compact_buckets(batch.sparkSession, state_dir, todo, key)
    return todo
