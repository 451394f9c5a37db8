"""Streaming distribution-drift monitor: per-epoch KS vs history.

The batch query ``operators/quality.py:q_drift_ks`` compares two
halves of a static table; this is the form a LIVE pipeline runs: the
HISTORICAL value distribution persists as exact per-(type, cent)
counts (losslessly mergeable — counts add), and each incoming epoch
is KS-tested against that state BEFORE being folded in. An epoch
whose ks_ppm spikes is quarantined by the caller before it pollutes
the baseline — the upstream-semantic-change tripwire the reference's
count/lag metrics (`src/monitoring/metrics.py`) cannot see.

State size is the distribution's support (types x distinct cents),
not the stream length — the same boundedness argument as the
count-min/KMV sketch states, but exact. The KS core mirrors the
batch query: ECDF-gap numerator maximized in decimal(38,0) exact
arithmetic, ratio micro-quantized last.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.streaming import swap


def _value_counts(batch: DataFrame) -> DataFrame:
    """(event_type, vc, cnt) exact cent-quantized value counts."""
    return (
        batch.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("vc"),
        )
        .groupBy("event_type", "vc")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _ks(hist: DataFrame, cur: DataFrame) -> DataFrame:
    """Exact two-sample KS per event_type between two count frames."""
    both = hist.select(
        "event_type", "vc", F.col("cnt").alias("d1"), F.lit(0).alias("d2")
    ).unionAll(
        cur.select(
            "event_type", "vc", F.lit(0).alias("d1"), F.col("cnt").alias("d2")
        )
    )
    pt = both.groupBy("event_type", "vc").agg(
        F.sum("d1").alias("d1"), F.sum("d2").alias("d2")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = pt.select(
        "event_type",
        F.sum("d1").over(w_cum).alias("c1"),
        F.sum("d2").over(w_cum).alias("c2"),
        F.sum("d1").over(w_all).alias("n1"),
        F.sum("d2").over(w_all).alias("n2"),
    )
    num = F.abs(
        F.col("c1").cast("decimal(38,0)") * F.col("n2").cast("decimal(38,0)")
        - F.col("c2").cast("decimal(38,0)") * F.col("n1").cast("decimal(38,0)")
    )
    return (
        cum.select("event_type", "n1", "n2", num.alias("num"))
        # KS is defined only between two NON-EMPTY samples; a type
        # seen on one side only (e.g. a brand-new event_type's first
        # epoch) must not divide by zero — it joins the history and
        # gets tested from the next epoch on
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("event_type")
        .agg(
            F.max("n1").cast("long").alias("n_hist"),
            F.max("n2").cast("long").alias("n_epoch"),
            F.floor(
                F.lit(1000000.0)
                * F.max("num").cast("double")
                / (F.max("n1").cast("double") * F.max("n2").cast("double"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ks_ppm"),
        )
    )


def monitor_epoch(
    spark: SparkSession, state_dir: str, batch: DataFrame,
    marker: str | None = None,
) -> DataFrame:
    """KS-test one epoch of events against the persisted historical
    distribution, then fold the epoch into the state.

    Returns (event_type, n_hist, n_epoch, ks_ppm); first epoch
    bootstraps (no test — returned frame is empty) so the caller's
    quarantine rule never fires on an empty baseline.

    Crash-idempotence: the counts dir is committed by
    ``streaming/swap.py`` with the epoch ``marker`` inside it, so the
    marker says "folded" exactly when the counts contain the epoch. A
    replay whose marker matches the committed one skips the fold and
    returns the PERSISTED report for that epoch (written under
    ``state_dir/report_epochs/<marker>`` before the swap, overwrite
    mode — recomputing it after the fold would KS the epoch against a
    baseline that already contains it). Callers that pass no marker
    (ad-hoc/batch use) get the unconditional fold."""
    cdir = os.path.join(state_dir, "counts")
    rdir = os.path.join(state_dir, "report_epochs", marker or "adhoc")
    if marker is not None and swap.marker(cdir) == marker:
        if os.path.isdir(rdir):
            return spark.read.parquet(rdir)
        return _ks(
            _value_counts(batch).limit(0), _value_counts(batch).limit(0)
        )
    prev = swap.committed(cdir)
    cur = _value_counts(batch)
    if prev is not None:
        hist = spark.read.parquet(prev)
        out = _ks(hist, cur)
        merged = (
            hist.unionAll(cur)
            .groupBy("event_type", "vc")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        out = _ks(cur.limit(0), cur.limit(0))
        merged = cur
    nxt = swap.stage(cdir)
    merged.write.mode("overwrite").parquet(nxt)
    out = out.localCheckpoint()  # materialize BEFORE the swap below
    if marker is not None:
        # persist the report first (idempotent overwrite: a crash
        # before the swap recomputes the identical frame from the
        # still-committed pre-fold history)
        out.write.mode("overwrite").parquet(rdir)
    swap.promote(cdir, nxt, marker)
    return out
