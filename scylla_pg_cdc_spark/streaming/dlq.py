"""Dead-letter-queue inspection and replay.

Port of the reference's DLQ tooling (`scripts/check-dlq.sh:105-116`:
count + inspect; `scripts/replay-dlq.sh:61-95`: batched re-publish with
--max-messages and dry-run default). The DLQ here is a parquet
directory written by the streaming pipeline's poison branch
(`streaming/pipeline.py`), carrying the failed event plus error
context — the Dead Letter Message shape (`data-model.md:169-208`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming.pipeline import merge_batch_into_state


def dlq_summary(spark: SparkSession, dlq_dir: str) -> DataFrame:
    """Counts per (error_context, epoch) — check-dlq.sh analog."""
    dlq = spark.read.parquet(dlq_dir)
    return dlq.groupBy("error_context", "epoch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("commit_ms").alias("oldest_ms"),
        F.max("commit_ms").alias("newest_ms"),
    )


def replay_dlq(
    spark: SparkSession,
    dlq_dir: str,
    state_dir: str,
    max_messages: int | None = None,
    dry_run: bool = True,
) -> dict[str, int]:
    """Re-apply DLQ messages to the target state in deterministic
    (commit_ms, event_id) order, optionally capped — dry-run by default
    like the reference (`replay-dlq.sh:61-95`). Returns counts."""
    dlq = spark.read.parquet(dlq_dir)
    total = dlq.count()
    batch = dlq.orderBy("commit_ms", "event_id")
    if max_messages is not None:
        batch = batch.limit(max_messages)
    n_replay = batch.count()
    if not dry_run and n_replay > 0:
        merge_batch_into_state(
            batch.drop("error_context", "epoch_id"), state_dir
        )
    return {
        "dlq_total": total,
        "replayed": 0 if dry_run else n_replay,
        "would_replay": n_replay if dry_run else 0,
    }
