"""Cross-epoch IVF index maintenance: persisted coarse-list state.

The batch query ``operators/vector.py:q_ivf_epoch_maintenance`` shows
ONE epoch step against a static corpus split; this is the form a live
vector store runs: the coarse lists persist as exact per-(label, dim)
INTEGER micro-sums plus per-label counts (losslessly mergeable — sums
and counts add, so the fold is associative and replay-exact), each
incoming embedding epoch is ASSIGNED to its nearest centroid by the
same integer-quantized cosine, the maintenance report (routing,
defections, exact centroid drift) is emitted BEFORE the fold, and the
epoch folds in under the crash-idempotent marker protocol of
``streaming/drift_state.py:monitor_epoch`` (marker inside the state
dir, committed by ``streaming/swap.py``).

State size is K x DIM integers — independent of the stream length —
and the evolving centroid is exactly the running mean of every vector
the list has absorbed (integer sums: no float accumulation drift,
ever). The defection counter is the re-train tripwire: a rising share
of vectors captured by a list other than their source label means the
coarse quantizer no longer matches the data and a re-train
(``q_vector_ivf_trained``'s k-means) should be scheduled — the vector
analog of the reference's reconciliation checkpoint deciding when a
full re-sync beats incremental repair.

Reference parity: the reference has no vector surface; this extends
the CDC epoch-fold machinery (``streaming/pipeline.py:fold_digests``)
to the ANN index the LLM-pipeline brief requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.vector import (
    int_cos_micro,
    quantize_micro_array,
)
from scylla_pg_cdc_spark.streaming import swap

# persisted lists schema: (label, i, s, n) — n duplicated across the
# DIM i-rows of its label (one frame keeps the swap atomic)


def _epoch_sums(batch: DataFrame, label_col: str) -> DataFrame:
    """(label, i, s, n): per-(list, dim) integer micro-sums and the
    list's row count for one batch, under the quantize-before-sum
    discipline."""
    per_vec = batch.select(
        F.col(label_col).alias("label"),
        F.posexplode(quantize_micro_array(F.col("embedding"))).alias(
            "i", "q"
        ),
    )
    n = batch.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        per_vec.groupBy("label", "i")
        .agg(F.sum("q").alias("s"))
        .join(n, "label")
        .select("label", "i", "s", "n")
    )


def _centroid_panel(state: DataFrame) -> DataFrame:
    """(label, cvec array<long>, n) — the broadcastable codebook."""
    return state.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, s))), p -> p.s)"
        ).alias("cvec"),
        F.min("n").alias("n"),
    )


def assign_batch(batch: DataFrame, state: DataFrame) -> DataFrame:
    """(vec_id, true_label, assigned): nearest persisted centroid by
    integer-quantized cosine, ties broken by smaller list label —
    identical scoring to ``q_ivf_epoch_maintenance``."""
    cent = _centroid_panel(state).select(
        F.col("label").alias("cand"), "cvec"
    )
    scored = batch.select(
        "vec_id",
        F.col("label").alias("true_label"),
        quantize_micro_array(F.col("embedding")).alias("qv"),
    ).crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "true_label",
        "cand",
        int_cos_micro(F.col("qv"), F.col("cvec")).alias("cos_micro"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), "cand")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("cand").alias("assigned"))
    )


def _report(state: DataFrame, epoch: DataFrame) -> DataFrame:
    """Per-list maintenance report BEFORE the fold: old membership,
    routed count, defections, exact integer centroid drift (per-dim
    milli-of-micro floor means, summed |new - old|)."""
    oldn = state.groupBy("label").agg(F.min("n").alias("n_old"))
    newn = epoch.groupBy("label").agg(
        F.min("n").alias("n_assigned"),
        F.min("n_defected").alias("n_defected"),
    )
    drift = (
        state.join(
            epoch.select("label", "i", F.col("s").alias("ns")),
            ["label", "i"],
            "left",
        )
        .join(newn.select("label", "n_assigned"), "label", "left")
        .select(
            "label",
            # truncating DIV matches q_ivf_epoch_maintenance exactly
            # (see its drift comment: DuckDB integer // truncates too)
            F.abs(
                F.expr(
                    "(1000 * (s + COALESCE(ns, CAST(0 AS BIGINT))))"
                    " DIV (n + COALESCE(n_assigned, CAST(0 AS BIGINT)))"
                    " - (1000 * s) DIV n"
                )
            ).alias("d"),
        )
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("centroid_drift"))
    )
    return (
        oldn.join(newn, "label", "left")
        .join(drift, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_old",
            F.coalesce(F.col("n_assigned"), F.lit(0))
            .cast("long")
            .alias("n_assigned"),
            F.coalesce(F.col("n_defected"), F.lit(0))
            .cast("long")
            .alias("n_defected"),
            "centroid_drift",
        )
    )


def maintain_epoch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    marker: str | None = None,
) -> DataFrame:
    """Assign one embedding epoch against the persisted IVF lists,
    emit the per-list maintenance report, then fold the epoch in.

    First epoch bootstraps the lists from the batch's own labels
    (the training epoch; empty report). Crash-idempotence is
    ``drift_state.monitor_epoch``'s: report persisted under
    ``report_epochs/<marker>`` before the swap, marker committed with
    the lists by ``streaming/swap.py``, replays return the persisted
    report without re-folding."""
    ldir = os.path.join(state_dir, "lists")
    rdir = os.path.join(state_dir, "report_epochs", marker or "adhoc")
    empty = spark.createDataFrame(
        [],
        "label long, n_old long, n_assigned long,"
        " n_defected long, centroid_drift long",
    )
    if marker is not None and swap.marker(ldir) == marker:
        if os.path.isdir(rdir):
            return spark.read.parquet(rdir)
        return empty
    prev = swap.committed(ldir)
    if prev is not None:
        state = spark.read.parquet(prev)
        assigned = assign_batch(batch, state)
        epoch = _epoch_sums(
            assigned.join(
                batch.select("vec_id", "embedding"), "vec_id"
            ).select(F.col("assigned").alias("label"), "embedding"),
            "label",
        ).join(
            assigned.groupBy(F.col("assigned").alias("label")).agg(
                F.sum(
                    F.when(
                        F.col("assigned") != F.col("true_label"), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_defected")
            ),
            "label",
        )
        out = _report(state, epoch)
        merged = (
            state.unionByName(
                epoch.select("label", "i", "s", "n"), allowMissingColumns=False
            )
            .groupBy("label", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        # n was per-(label) duplicated across DIM i-rows on BOTH
        # sides, so the sum per (label, i) is old_n + epoch_n — the
        # duplication survives the fold consistently.
    else:
        out = empty
        merged = _epoch_sums(batch, "label")
    nxt = swap.stage(ldir)
    merged.select("label", "i", "s", "n").write.mode("overwrite").parquet(
        nxt
    )
    out = out.localCheckpoint()
    if marker is not None:
        out.write.mode("overwrite").parquet(rdir)
    swap.promote(ldir, nxt, marker)
    return out
