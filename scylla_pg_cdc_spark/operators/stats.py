"""Robust / distribution statistics: tie-broken Spearman rank
correlation, exact median-absolute-deviation, winsorized means, and
Herfindahl concentration — the outlier-resistant summary layer a data
pipeline runs before trusting per-group means (the reference's
validation probes are plain AVG/SUM, ``tests/validation/
warehouse_checks.sql``; these are their robust counterparts).

Numeric portability (repo rule): no libm. Spearman's rho is a single
IEEE division of two exact integers (both below 2^53 at the documented
scale envelope, so the double conversion is exact); MAD and winsorized
bounds are exact rank-select order statistics (integer cents); HHI is
an exact integer ratio widened past int64 (Spark decimal(38,0), DuckDB
HUGEINT).

Scale shape (100 TB): MAD and winsorized reuse the two-phase
rank-select library (``functions/percentiles.py``) — per-(key, bucket)
ledgers instead of full per-key sorts. The Spearman ranks are plain
per-key windows over a 5-key partition at tested SFs; at extreme
per-key cardinality the same range-partition offset-merge used by
``q_gap_percentile`` applies to rank assignment (SCALE.md, NEXT item
7). HHI aggregates only (lang, source) cells — vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.functions.percentiles import (
    rank_select_percentiles,
)
from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table

# value -> exact integer cents, the q_event_twap convention (half-up
# via floor(x*100 + 0.5), mirrored verbatim in every oracle here)
_VC = "CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)"


def _event_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return ev.select(
        "event_type",
        "event_id",
        F.expr(_VC).alias("vc"),
        F.unix_millis("ts").alias("ts_ms"),
    )


@query(
    "q_spearman_trend",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, event_id, {_VC} AS vc, epoch_ms(ts) AS ts_ms
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY vc, event_id
               ) AS rv,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY ts_ms NULLS FIRST, event_id
               ) AS rt,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM((rv - rt) * (rv - rt)) AS BIGINT) AS sum_d2,
           CAST(FLOOR(
               (1.0 - 6.0 * SUM((rv - rt) * (rv - rt))
                      / CAST(MAX(n) * MAX(n) * MAX(n) - MAX(n)
                             AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS rho_ppm
    FROM r
    GROUP BY event_type
    """,
)
def q_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event VALUE and event TIME per
    event_type — "is this metric drifting monotonically?" asked
    robustly (rank correlation ignores outliers and any monotone
    rescaling; Pearson on raw values does not). Ties are broken by
    event_id on BOTH rankings, so ranks are a total order and the
    statistic is the deterministic tie-broken Spearman (bit-identical
    across engines; the fractional-tie variant would need float
    average ranks).

    rho = 1 - 6*sum(d^2) / (n(n^2-1)) is emitted as half-up ppm from a
    SINGLE IEEE division of two exact integers — exact while both fit
    in 2^53: sum_d2 <= (n^3-n)/3 caps the envelope at n ~ 2e5 rows per
    key (sf0.1 is 2e4); past that, widen to decimal before one final
    division. Plan: two row_number windows + one aggregation, all on
    the event_type partition."""
    ev = _event_cents(spark, sf_dir)
    wv = Window.partitionBy("event_type").orderBy("vc", "event_id")
    wt = Window.partitionBy("event_type").orderBy("ts_ms", "event_id")
    # row_number() is IntegerType: the squared rank difference must be
    # widened BEFORE the multiply or it overflows int32 at ~46k rows
    # per key (caught by the 10x amplified sweep under ANSI mode)
    r = ev.select(
        "event_type",
        F.row_number().over(wv).cast("long").alias("rv"),
        F.row_number().over(wt).cast("long").alias("rt"),
    )
    d2 = (F.col("rv") - F.col("rt")) * (F.col("rv") - F.col("rt"))
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
        F.expr(
            "CAST(FLOOR((1.0 - 6.0 * SUM(CAST((rv - rt) AS BIGINT)"
            " * (rv - rt))"
            " / CAST(COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*)"
            "        AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("rho_ppm"),
    )


@query(
    "q_mad_value",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, {_VC} AS vc
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, vc,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY vc
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    ),
    med AS (
        SELECT event_type, CAST(n AS BIGINT) AS n, vc AS median_cents
        FROM r WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT ev.event_type, med.n, med.median_cents,
               ABS(ev.vc - med.median_cents) AS dv
        FROM ev JOIN med USING (event_type)
    ),
    r2 AS (
        SELECT event_type, n, median_cents, dv,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY dv
               ) AS rn2
        FROM dev
    )
    SELECT event_type, n, median_cents, dv AS mad_cents
    FROM r2 WHERE rn2 = (n + 1) // 2
    """,
)
def q_mad_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of event value per event_type — the
    robust spread statistic (a single 1e9 outlier moves stddev
    arbitrarily, MAD not at all), and the basis of the robust z-score
    (|x - med| / MAD) used for anomaly flagging without distributional
    assumptions. Both order statistics are LOWER medians (rank
    ceil(n/2) = (n+1) DIV 2), exact on integer cents — the value at a
    global rank is tie-order independent, so no float interpolation
    and no cross-engine ambiguity.

    Plan: two passes of the two-phase rank-select library
    (``functions/percentiles.py``): bucket-count ledger -> target
    bucket only gets a within-bucket rank — no full per-key sort at
    any cardinality. The median joins back by broadcast (key
    cardinality = event types), then deviations repeat the same
    two-phase select."""
    med, _dev, mad = _mad_frames(spark, sf_dir)
    return (
        med.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("median_cents").cast("long").alias("median_cents"),
            F.col("mad_cents").cast("long").alias("mad_cents"),
        )
    )


def _mad_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(median, deviations, MAD) frames shared by ``q_mad_value`` and
    ``q_robust_outliers`` — med: (event_type, n, median_cents); dev:
    per-row (event_type, n, median_cents, dv); mad: (event_type,
    mad_cents). Exact lower-median order statistics on integer cents
    via the two-phase rank-select library.

    The TINY med/mad frames are localCheckpointed: med feeds both the
    MAD pass and the returned dev frame, so the checkpoint keeps its
    rank-select pass from running twice in one call. The corpus-sized
    dev frame is never materialized; it is derived lazily from the
    checkpointed 5-row median table."""
    ev = _event_cents(spark, sf_dir).select("event_type", "vc")
    med = rank_select_percentiles(
        ev,
        "event_type",
        "vc",
        [("med", "(n + 1) DIV 2")],
        bucket_width=1_000,
        checkpoint=False,
    ).select(
        "event_type",
        F.col("n").alias("n"),
        F.col("med").alias("median_cents"),
    ).localCheckpoint()
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "median_cents",
        F.abs(F.col("vc") - F.col("median_cents")).alias("dv"),
    )
    mad = rank_select_percentiles(
        dev.select("event_type", "dv"),
        "event_type",
        "dv",
        [("mad", "(n + 1) DIV 2")],
        bucket_width=1_000,
        checkpoint=False,
    ).select(
        "event_type", F.col("mad").alias("mad_cents")
    ).localCheckpoint()
    return med, dev, mad


@query(
    "q_robust_outliers",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, {_VC} AS vc
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, vc,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY vc
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    ),
    med AS (
        SELECT event_type, CAST(n AS BIGINT) AS n, vc AS median_cents
        FROM r WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT ev.event_type, med.n, med.median_cents,
               ABS(ev.vc - med.median_cents) AS dv
        FROM ev JOIN med USING (event_type)
    ),
    r2 AS (
        SELECT event_type, dv,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY dv
               ) AS rn2,
               COUNT(*) OVER (PARTITION BY event_type) AS n2
        FROM dev
    ),
    mad AS (
        SELECT event_type, dv AS mad_cents
        FROM r2 WHERE rn2 = (n2 + 1) // 2
    )
    SELECT d.event_type,
           CAST(MAX(d.n) AS BIGINT) AS n,
           CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
           CAST(MAX(m.mad_cents) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN 6745 * d.dv > 35000 * m.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(MAX(d.dv) AS BIGINT) AS max_dev_cents
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event_type via the modified z-score
    (Iglewicz–Hoaglin): flag x when 0.6745*|x - med| / MAD > 3.5,
    evaluated as the exact integer cross-multiplication
    6745*|x - med| > 35000*MAD — no division, no floats, engine-
    identical (products cap at ~7e3 * dv, far inside int64 for cent
    values to 1e15). Unlike mean/stddev outlier rules
    (``q_event_anomaly``'s family), the thresholds themselves are
    outlier-proof: med and MAD cannot be dragged by the values being
    tested. Documented edge: MAD = 0 (over half the values identical)
    flags EVERY deviating row — the standard caveat of the modified
    z-score.

    Plan: the med/MAD frames come from the shared two-phase
    rank-select passes (``_mad_frames``); the flagging pass is one
    broadcast join of a 5-row threshold table onto the deviation scan
    and one aggregation — O(n) with no per-key sort."""
    _med, dev, mad = _mad_frames(spark, sf_dir)
    d = dev.join(F.broadcast(mad), "event_type")
    return d.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("median_cents").cast("long").alias("median_cents"),
        F.max("mad_cents").cast("long").alias("mad_cents"),
        F.sum(
            F.when(
                F.lit(6745) * F.col("dv")
                > F.lit(35000) * F.col("mad_cents"),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_outliers"),
        F.max("dv").cast("long").alias("max_dev_cents"),
    )


@query(
    "q_winsorized_mean",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS priority,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS tc
        FROM orders
        WHERE o_totalprice IS NOT NULL
    ),
    r AS (
        SELECT priority, tc,
               ROW_NUMBER() OVER (
                   PARTITION BY priority ORDER BY tc
               ) AS rn,
               COUNT(*) OVER (PARTITION BY priority) AS n
        FROM o
    ),
    b AS (
        SELECT priority,
               CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN tc END)
                   AS p05_cents,
               MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN tc END)
                   AS p95_cents
        FROM r GROUP BY priority
    )
    SELECT o.priority, b.n, b.p05_cents, b.p95_cents,
           CAST(SUM(CASE WHEN o.tc < b.p05_cents THEN b.p05_cents
                         WHEN o.tc > b.p95_cents THEN b.p95_cents
                         ELSE o.tc END)
                // COUNT(*) AS BIGINT) AS wmean_cents
    FROM o JOIN b USING (priority)
    GROUP BY o.priority, b.n, b.p05_cents, b.p95_cents
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized mean of order totals per priority: values below
    the exact 5th-percentile rank clamp up to it, above the 95th clamp
    down, then an exact integer mean (floor division of positive
    cents, engine-identical) — the standard way to report a mean that
    a handful of extreme orders can't dominate, without discarding
    rows (trimming changes n; winsorizing keeps it).

    Percentile ranks are ceil(p*n/100) = (p*n + 99) DIV 100 on integer
    cents via the two-phase rank-select library — exact order
    statistics, no interpolation. Plan: ledger + target-bucket select
    (no full sort), 5-row bound table broadcast back, one clamped
    aggregation."""
    # NULL totals are excluded like AVG excludes them (round-9 nulls
    # fuzzing): a NULL has no rank — leaving it in puts it at opposite
    # ends of the order on the two engines (NULLS FIRST vs LAST) and
    # makes the clamp itself asymmetric (Spark greatest/least skip
    # NULLs, SQL CASE comparisons propagate them).
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("tc"),
        )
    )
    bounds = rank_select_percentiles(
        o,
        "priority",
        "tc",
        [
            ("p05", "(5 * n + 99) DIV 100"),
            ("p95", "(95 * n + 99) DIV 100"),
        ],
        bucket_width=1_000_000,
        checkpoint=False,
    ).select(
        "priority",
        F.col("n").cast("long").alias("n"),
        F.col("p05").alias("p05_cents"),
        F.col("p95").alias("p95_cents"),
    )
    clamped = o.join(F.broadcast(bounds), "priority").select(
        "priority",
        "n",
        "p05_cents",
        "p95_cents",
        F.greatest(
            F.col("p05_cents"), F.least(F.col("p95_cents"), F.col("tc"))
        ).alias("w"),
    )
    return clamped.groupBy(
        "priority", "n", "p05_cents", "p95_cents"
    ).agg(
        F.expr("CAST(SUM(w) DIV COUNT(*) AS BIGINT)").alias(
            "wmean_cents"
        )
    ).select("priority", "n", "p05_cents", "p95_cents", "wmean_cents")


@query(
    "q_hhi_concentration",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST((1000000 * SUM(CAST(c AS HUGEINT) * c))
                // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                AS BIGINT) AS hhi_ppm
    FROM c GROUP BY lang
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of sources within each
    language: HHI = sum over sources of (share^2), in exact ppm —
    1e6/n_sources (perfectly even) up to 1e6 (single source). The
    mix-diversity gauge a corpus curator tracks per language slice;
    unlike entropy it needs no logarithm, so it stays inside the
    repo's exact-integer portability rule: 1e6 * sum(c^2) DIV
    (sum c)^2 with both products widened past int64 (Spark
    decimal(38,0), DuckDB HUGEINT — c^2 overflows bigint at ~3e9 docs
    per cell; widened, exact to ~1e16 docs).

    Plan: one (lang, source) count aggregation — cell table is
    vocabulary-sized — then one per-lang aggregation of exact
    integers. No joins, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    return c.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * SUM(CAST(c AS DECIMAL(38,0)) * c))"
            " DIV (CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c))"
            " AS BIGINT)"
        ).alias("hhi_ppm"),
    )


_DECILES = list(range(1, 10))
_DEC_CASES = "\n".join(
    f"           MAX(CASE WHEN rn = ({k} * n + 9) // 10 THEN vc END)"
    f" AS p{k}0_cents," if k < 9 else
    f"           MAX(CASE WHEN rn = ({k} * n + 9) // 10 THEN vc END)"
    f" AS p{k}0_cents"
    for k in _DECILES
)


@query(
    "q_equidepth_bins",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, {_VC} AS vc
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, vc,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY vc
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
{_DEC_CASES}
    FROM r GROUP BY event_type
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram boundaries: the nine decile cut
    points of event value per event_type, each the exact order
    statistic at rank ceil(k*n/10) on integer cents (no
    interpolation, so no float and no cross-engine ambiguity). These
    are the bin edges an optimizer's equi-depth histogram or a data
    profiler publishes — equal ROW counts per bin by construction,
    where the fixed-bound histogram (``q_agg_histogram``) gives equal
    WIDTHS and skewed counts.

    Plan: ONE pass of the two-phase rank-select library resolves all
    nine target ranks together (the ledger is shared; only target
    buckets get within-bucket ranks) — contrast with nine naive
    rank-window passes. Key cardinality = event types, so the final
    frame is tiny."""
    ev = _event_cents(spark, sf_dir).select("event_type", "vc")
    targets = [(f"p{k}0", f"({k} * n + 9) DIV 10") for k in _DECILES]
    out = rank_select_percentiles(
        ev,
        "event_type",
        "vc",
        targets,
        bucket_width=1_000,
        checkpoint=False,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        *[
            F.col(f"p{k}0").cast("long").alias(f"p{k}0_cents")
            for k in _DECILES
        ],
    )


@query(
    "q_iqr_outliers",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, {_VC} AS vc FROM events
        WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, vc,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY vc
               ) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
    ), cuts AS (
        SELECT event_type, MAX(n) AS n,
               MAX(CASE WHEN rk = (n + 3) // 4 THEN vc END) AS q1,
               MAX(CASE WHEN rk = (3 * n + 1) // 4 THEN vc END) AS q3
        FROM r GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(c.n AS BIGINT) AS n,
           CAST(c.q1 AS BIGINT) AS q1_cents,
           CAST(c.q3 AS BIGINT) AS q3_cents,
           CAST(c.q3 - c.q1 AS BIGINT) AS iqr_cents,
           CAST(SUM(CASE WHEN 2 * e.vc < 2 * c.q1 - 3 * (c.q3 - c.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN 2 * e.vc > 2 * c.q3 + 3 * (c.q3 - c.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM cuts c JOIN ev e ON e.event_type = c.event_type
    GROUP BY c.event_type, c.n, c.q1, c.q3
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type: exact lower order
    statistics Q1 (rank (n+3) DIV 4) and Q3 (rank (3n+1) DIV 4) on
    integer cents, fences at 1.5*IQR expressed as the pure-integer
    comparison ``2*x < 2*q1 - 3*IQR`` (no fractional fence value ever
    materializes). The OTHER classic robust-outlier rule beside the
    MAD-based ``q_robust_outliers`` — box-plot semantics, the one
    monitoring dashboards draw. Quartiles come from the two-phase
    rank-select decomposition (no corpus-wide per-key sort window);
    the 5-row cut table broadcasts back onto the scan for the census.
    The oracle recomputes the same ranks with the naive per-type
    ROW_NUMBER (tie-order independent)."""
    from scylla_pg_cdc_spark.functions.percentiles import (
        rank_select_percentiles,
    )

    ev = _event_cents(spark, sf_dir).select("event_type", "vc")
    cuts = rank_select_percentiles(
        ev,
        "event_type",
        "vc",
        [("q1", "(n + 3) DIV 4"), ("q3", "(3 * n + 1) DIV 4")],
        bucket_width=1_000,
        checkpoint=False,
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("q1").cast("long").alias("q1_cents"),
            F.max("q3").cast("long").alias("q3_cents"),
            (F.max("q3") - F.max("q1")).cast("long").alias("iqr_cents"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("vc")
                    < F.lit(2) * F.col("q1")
                    - F.lit(3) * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("vc")
                    > F.lit(2) * F.col("q3")
                    + F.lit(3) * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
    )
