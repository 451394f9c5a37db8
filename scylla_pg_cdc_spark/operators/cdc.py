"""CDC materialization operators (batch faces of the streaming layer).

This is the heart of the reference: change events with INSERT/UPDATE/
DELETE semantics applied to target tables as upsert + delete
(`docker/kafka-connect/connectors/postgres-sink.json:22-24`,
`specs/001-scylla-pg-cdc/data-model.md:16-103`). Deletes are rewritten
to rows carrying a ``__deleted`` marker (`postgres-sink.json:39-41`,
`docker/postgres/init.sql:30`), ordering per key comes from the Kafka
key-hash partitioning guarantee (`data-model.md:372-381`), and replays
are absorbed by upsert idempotency (`data-model.md:497-502`).

The synthetic ``events`` table plays the change stream: ``user_id`` is
the primary key, ``ts`` the commit timestamp, and ``event_type='error'``
a delete tombstone. Every operator here is a pure DataFrame transform,
so the exact same builder runs under ``spark.readStream`` +
``foreachBatch`` (see ``scylla_pg_cdc_spark.streaming``) — batch
oracles verify semantics, streaming smoke verifies execution.

Scale: compaction is ONE shuffle by key (window or groupBy); tumbling/
sliding windows are hash aggregations on (bucket, key) — both scale
linearly with executors at 100 TB, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.functions.money import cents
from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table

TOMBSTONE_TYPE = "error"


def as_change_stream(events: DataFrame) -> DataFrame:
    """Normalize `events` into the reference's change-event envelope
    (`data-model.md:16-85`): key, op, after-image, commit ts."""
    return events.select(
        F.col("event_id"),
        F.col("user_id").alias("key"),
        F.when(F.col("event_type") == TOMBSTONE_TYPE, "DELETE")
        .otherwise("UPSERT")
        .alias("op"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
        F.unix_millis("ts").alias("commit_ms"),
    )


def compact_latest(change: DataFrame, keep_deleted: bool = False) -> DataFrame:
    """Upsert compaction (S7/W1): last write wins per key ordered by
    (commit_ms, event_id). Tombstones remove the key unless
    ``keep_deleted`` (delete-rewrite mode, S8)."""
    w = Window.partitionBy("key").orderBy(
        F.col("commit_ms").desc(), F.col("event_id").desc()
    )
    latest = (
        change.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("__deleted", F.col("op") == "DELETE")
    )
    if keep_deleted:
        return latest
    return latest.filter(~F.col("__deleted")).drop("__deleted")


@query(
    "q_cdc_upsert_compact",
    oracle="""
    SELECT user_id, event_id, event_type, value, ts_ms
    FROM (
        SELECT user_id, event_id, event_type, value,
               epoch_ms(ts) AS ts_ms,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ms(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 AND (event_type IS DISTINCT FROM 'error')
    """,
)
def q_cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert + delete materialization (S7, W1): latest row per key;
    keys whose latest change is a tombstone disappear from the target
    (the sink's `delete.enabled=true` behavior). Uses the aggregation
    compaction (max_by) — map-side combine, the scale-optimal plan;
    proven identical to the window form.

    A NULL/unknown op type is an UPSERT — only an explicit tombstone
    deletes (as_change_stream's when/otherwise already said so; the
    oracle says it with IS DISTINCT FROM, since a bare <> filtered the
    NULL row out — round-9 dimension-null fuzzing)."""
    events = load_table(spark, sf_dir, "events")
    state = compact_latest_agg(as_change_stream(events))
    return state.select(
        F.col("key").alias("user_id"),
        "event_id",
        "event_type",
        "value",
        F.col("commit_ms").alias("ts_ms"),
    )


@query(
    "q_cdc_delete_rewrite",
    oracle="""
    SELECT user_id, event_id, ts_ms,
           COALESCE(event_type = 'error', FALSE) AS __deleted
    FROM (
        SELECT user_id, event_id, event_type,
               epoch_ms(ts) AS ts_ms,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ms(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_cdc_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-as-tombstone rewrite (S8): latest state per key with the
    `__deleted` marker column instead of physical deletion
    (`postgres-sink.json:39-41`, `init.sql:30`)."""
    events = load_table(spark, sf_dir, "events")
    state = compact_latest_agg(as_change_stream(events), keep_deleted=True)
    return state.select(
        F.col("key").alias("user_id"),
        "event_id",
        F.col("commit_ms").alias("ts_ms"),
        "__deleted",
    )


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregation (T6; per-interval throughput
    sampling `scripts/benchmark.sh:167-211`). Batch face of
    groupBy(window(ts, '1 day')); the streaming face runs the same
    expression with a watermark."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "value_sum"
            ),
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH w AS (
        SELECT event_type,
               date_trunc('day', ts) - k * INTERVAL 1 DAY AS wstart
        FROM events, range(0, 2) t(k)
        WHERE ts IS NOT NULL  -- untimed events fall in no window
    )
    SELECT strftime(wstart, '%Y-%m-%d') AS window_start,
           strftime(wstart + 2 * INTERVAL 1 DAY, '%Y-%m-%d') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2, 3
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate (T5; `rate(x[5m])` alerts
    `src/monitoring/alerts.py:79,92`): 2-day windows sliding 1 day.
    Spark's window() starts are epoch-aligned multiples of the slide,
    so each event lands in exactly the 2 windows starting at
    trunc_day(ts) and trunc_day(ts) - 1 day — which the oracle
    enumerates directly (VERDICT r1 next-round #4)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 days", "1 day").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd").alias("window_end"),
            "event_type",
            "n",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) > 1800000 OR LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) IS NULL
               THEN 1 ELSE 0 END AS is_new
        FROM events WHERE ts IS NOT NULL
    ), sessions AS (
        SELECT user_id, event_id, ts_ms,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts_ms) AS session_start_ms,
           MAX(ts_ms) AS session_end_ms
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) via lag + running sum —
    the classic batch equivalent of session_window; deterministic and
    one shuffle by user. Sessionization is defined over TIMESTAMPED
    events only (r10 nullts fuzz): an untimed event has no place on
    any session's timeline, and the native session_window twin cannot
    place it either — excluded symmetrically on both engines."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    order_w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_ms = events.withColumn("ts_ms", F.unix_millis("ts"))
    flagged = with_ms.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ms").over(order_w).isNull()
            | ((F.col("ts_ms") - F.lag("ts_ms").over(order_w)) > 1800000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(run_w))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ms").alias("session_start_ms"),
        F.max("ts_ms").alias("session_end_ms"),
    )


@query(
    "q_stream_dedup",
    oracle="""
    WITH doubled AS (
        SELECT * FROM events
        UNION ALL
        SELECT * FROM events WHERE event_id % 10 = 0
    )
    SELECT DISTINCT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
    FROM doubled
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay deduplication (T10): a deterministically doubled stream
    deduplicated on event_id — the batch face of
    dropDuplicatesWithinWatermark; upsert idempotency absorbs replays
    in the reference (`data-model.md:497-502`). Duplicate rows are
    identical, so dropDuplicates' arbitrary pick is value-deterministic."""
    events = load_table(spark, sf_dir, "events")
    doubled = events.unionByName(events.filter(F.col("event_id") % 10 == 0))
    return (
        doubled.dropDuplicates(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ts_ms"),
            "value",
        )
    )


@query(
    "q_stream_dlq_split",
    oracle="""
    SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
                  OR value < 1.0
                THEN 'dlq' ELSE 'main' END AS branch,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def q_stream_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing (S9/T8): a deterministic poison predicate
    splits the stream into main/DLQ branches, per-branch counts
    (`errors.deadletterqueue.*` `postgres-sink.json:98-103`, DLQ schema
    `data-model.md:169-208`)."""
    events = load_table(spark, sf_dir, "events")
    poison = (F.get_json_object("props", "$.k").cast("long") > 90) | (
        F.col("value") < 1.0
    )
    return (
        events.withColumn("branch", F.when(poison, "dlq").otherwise("main"))
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def cdc_pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end pipeline (SURVEY.md §2B): change stream ->
    upsert/delete compaction -> join customer dims (broadcast) ->
    per-segment aggregate. Mirrors S7+W1+J8+A1 in one plan."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    state = compact_latest_agg(as_change_stream(events))
    joined = state.join(
        F.broadcast(cust), state.key == cust.c_custkey, "inner"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_live_users"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
            "value_sum"
        ),
        F.round(F.sum(F.round(F.col("value") * 100).cast("long")) / F.count(F.lit(1))
                / F.lit(100.0), 2).alias("value_avg"),
    )


@query(
    "q_cdc_partial_update",
    oracle="""
    WITH change AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value,
               CASE WHEN event_type = 'click' THEN NULL ELSE props END AS props
        FROM events
    )
    SELECT DISTINCT user_id,
           LAST_VALUE(value IGNORE NULLS) OVER w AS value,
           LAST_VALUE(props IGNORE NULLS) OVER w AS props,
           LAST_VALUE(ts_ms) OVER w AS ts_ms
    FROM change
    WINDOW w AS (
        -- NULLS FIRST matches Spark's asc default (r10 nullts fuzz):
        -- an untimed change sorts before every timed one, so the
        -- last-non-NULL pick is engine-identical
        PARTITION BY user_id ORDER BY ts_ms NULLS FIRST, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_cdc_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving partial-update merge (the reference's
    BEFORE-UPDATE trigger, `handle-partial-updates.sql:6-54`): derive
    partial updates from events ('view' omits value, 'click' omits
    props), then merge with last-NON-NULL-per-column semantics — NOT
    last-row-wins (SURVEY.md §7 phase 5 hard part (a))."""
    from scylla_pg_cdc_spark.streaming.pipeline import compact_partial_updates

    events = load_table(spark, sf_dir, "events")
    change = events.select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_type") == "click", F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    merged = compact_partial_updates(
        change, "user_id", ["value", "props"], order_cols=("ts_ms", "event_id")
    )
    return merged.select("user_id", "value", "props", "ts_ms")


def apply_truncates(change: DataFrame, op_col: str = "op",
                    order_cols: tuple[str, ...] = ("commit_ms", "event_id")) -> DataFrame:
    """TRUNCATE semantics (the 4th operation in the reference's enum,
    `data-model.md:30-34`): a TRUNCATE event erases ALL state written
    before it, across every key. Implemented as a high-water-mark
    anti-filter: find the latest TRUNCATE position (a 2-row broadcast,
    not a shuffle) and keep only strictly-later change events.

    Composes with compact_latest: apply_truncates -> compact_latest
    materializes the post-truncate state."""
    trunc = change.filter(F.col(op_col) == "TRUNCATE")
    # lexicographic max over the FULL order tuple — independent
    # per-column maxima would fabricate a phantom position (e.g.
    # truncates at (20,9) and (30,2) must yield HWM (30,2), not (30,9))
    hwm_row = trunc.agg(
        F.max(F.struct(*[F.col(c) for c in order_cols])).alias("hwm")
    ).head()
    if hwm_row is None or hwm_row["hwm"] is None:
        return change.filter(F.col(op_col) != "TRUNCATE")
    hwm = tuple(hwm_row["hwm"][c] for c in order_cols)
    after = (F.col(order_cols[0]) > hwm[0])
    for i in range(1, len(order_cols)):
        eq_prefix = F.lit(True)
        for j in range(i):
            eq_prefix = eq_prefix & (F.col(order_cols[j]) == hwm[j])
        after = after | (eq_prefix & (F.col(order_cols[i]) > hwm[i]))
    return change.filter(after).filter(F.col(op_col) != "TRUNCATE")


def compact_latest_agg(change: DataFrame, keep_deleted: bool = False) -> DataFrame:
    """Aggregation-based upsert compaction: max_by(row, (commit_ms,
    event_id)) per key.

    Identical output to ``compact_latest`` (tested), different physical
    plan: a hash aggregation with MAP-SIDE PARTIAL COMBINE instead of a
    shuffle + per-partition sort. With CDC amplification (the reference
    measures 6-8 messages per DB op, `docs/
    pipeline_throughput_analysis.md:519-532`) most duplicate-key rows
    collapse before the shuffle, so shuffle bytes drop from O(events)
    to O(keys x map-partitions) — the right plan when updates-per-key
    is high, which is exactly the 100 TB CDC case. Use the window
    variant when you also need rank/lag context."""
    value_cols = [c for c in change.columns if c != "key"]
    latest = (
        change.groupBy("key")
        .agg(
            F.max_by(
                F.struct(*value_cols),
                F.struct(F.col("commit_ms"), F.col("event_id")),
            ).alias("__r")
        )
        .select(
            *[
                F.col("key") if c == "key" else F.col(f"__r.{c}").alias(c)
                for c in change.columns
            ]
        )
        .withColumn("__deleted", F.col("op") == "DELETE")
    )
    if keep_deleted:
        return latest
    return latest.filter(~F.col("__deleted")).drop("__deleted")


@query(
    "q_stream_session_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) > 1800000 OR LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) IS NULL
               THEN 1 ELSE 0 END AS is_new
        FROM events WHERE ts IS NOT NULL
    ), sessions AS (
        SELECT user_id, ts_ms,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts_ms) AS session_start_ms,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's native session_window (30-min gap) —
    independently cross-checked against the lag+cumsum formulation's
    oracle: two different algorithms, one answer. The native form is
    the streaming-ready face (works under watermarks with merging
    session state). Timestamped events only (r10 nullts fuzz) — a
    NULL ts cannot seed a session window."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history + point-in-time lookup (temporal-table family)
# ---------------------------------------------------------------------------


@query(
    "q_scd2_history",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           epoch_ms(ts) AS valid_from_ms,
           COALESCE(lead(epoch_ms(ts)) OVER (
               PARTITION BY user_id
               ORDER BY epoch_ms(ts) NULLS FIRST, event_id
           ), -1) AS valid_to_ms,
           (lead(epoch_ms(ts)) OVER (
               PARTITION BY user_id
               ORDER BY epoch_ms(ts) NULLS FIRST, event_id
           ) IS NULL) AS is_current
    FROM events
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 history: every change event
    becomes a validity interval [valid_from, valid_to) per key, with
    the open interval marked current — the full-history
    materialization next to the latest-state one the reference's
    upsert sink keeps (`postgres-sink.json:22-24`). One shuffle by
    key + per-partition sort (lead window); no self-join. At 100 TB,
    write this partitioned by key-hash bucket and time-travel queries
    become partition-pruned interval filters."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_millis("ts"), F.col("event_id")
    )
    vt = F.lead(F.unix_millis("ts")).over(w)
    return events.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_millis("ts").alias("valid_from_ms"),
        # -1 sentinel keeps the open interval in exact-integer space
        # (a NULL bigint would round-trip as float64 through pandas)
        F.coalesce(vt, F.lit(-1)).alias("valid_to_ms"),
        vt.isNull().alias("is_current"),
    )


_ASOF_MS = 1706400000000  # 2024-01-28T00:00:00Z, inside the event range


@query(
    "q_state_asof",
    oracle=f"""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ms(ts) DESC, event_id DESC
               ) AS rn
        FROM events WHERE epoch_ms(ts) <= {_ASOF_MS}
    ) WHERE rn = 1
    """,
)
def q_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) state lookup: the keyed state AS OF
    a pinned timestamp — filter history to ts <= t, latest-per-key.
    Equivalent to querying the SCD2 intervals with
    valid_from <= t < valid_to, but expressed filter-first so the
    time predicate reaches the parquet scan and the window only sees
    the surviving prefix (verified PushedFilters)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_millis("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.filter(F.unix_millis("ts") <= _ASOF_MS)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "q_rollup_hypertable",
    oracle="""
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(day, 'ALL') AS day,
           COALESCE(CAST(hour AS VARCHAR), 'ALL') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(hour(ts) AS BIGINT) AS hour,
               value
        FROM events
    )
    GROUP BY ROLLUP (event_type, day, hour)
    """,
)
def q_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: ONE pass over the event
    stream materializes the whole time-hierarchy lattice —
    (type, day, hour), (type, day), (type), and the grand total — via
    ROLLUP, the set-enumeration generalization of the reference's
    UNION-ALL-of-summaries views (`init.sql:479-488`). Money-exact
    integer cents with one presentation division. At 100 TB this is
    the downsampling pass that turns a raw event hypertable into its
    hour/day rollup tables in a single shuffle (Spark expands the
    grouping sets map-side; partial aggregation still applies)."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
        "value",
    )
    return (
        base.rollup("event_type", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("value_sum"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("hour").cast("string"), F.lit("ALL")).alias(
                "hour"
            ),
            "n",
            "value_sum",
        )
    )


_SESSION_GAP_MS = 1_800_000  # 30-min inactivity gap
_SESSION_CAP_MS = 1_200_000  # 20-min hard duration cap per sub-session


@query(
    "q_stream_session_capped",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) > {_SESSION_GAP_MS} OR LAG(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                    ) IS NULL
               THEN 1 ELSE 0 END AS is_new
        FROM events WHERE ts IS NOT NULL
    ), sessions AS (
        SELECT user_id, event_id, ts_ms,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    ), capped AS (
        SELECT user_id, session_id, ts_ms,
               (ts_ms - MIN(ts_ms) OVER (
                   PARTITION BY user_id, session_id
               )) // {_SESSION_CAP_MS} AS sub_session
        FROM sessions
    )
    SELECT user_id, session_id, CAST(sub_session AS BIGINT) AS sub_session,
           COUNT(*) AS n_events,
           MIN(ts_ms) AS start_ms,
           MAX(ts_ms) AS end_ms,
           CAST(MAX(ts_ms) - MIN(ts_ms) AS BIGINT) AS duration_ms
    FROM capped GROUP BY user_id, session_id, sub_session
    """,
)
def q_stream_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-capped sessionization: gap-based sessions (30-min
    inactivity, same construction as ``q_stream_session``) split at
    fixed boundaries every 20 minutes from each session's start —
    the bot/long-tail guard production sessionizers add so a key that
    never goes idle cannot grow an unbounded session (and, in the
    streaming form, unbounded state). The split is pure integer
    arithmetic on the already-assigned session: sub_session =
    (ts - session_start) DIV cap — no second lag pass, no iteration.
    The cap here is set BELOW the gap so the synthetic events (max
    session ~57 min) actually exercise multi-sub splits; production
    would use cap >> gap. Guaranteed: every emitted sub-session spans
    < cap ms (asserted in tests). Plan: the two running windows and
    the session-start min all share the ONE user_id exchange; the
    final group adds the (session, sub) key to the same partitioning.
    Timestamped events only, like the whole session family (r10)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    order_w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_ms = events.withColumn("ts_ms", F.unix_millis("ts"))
    flagged = with_ms.withColumn(
        "is_new",
        F.when(
            F.lag("ts_ms").over(order_w).isNull()
            | (
                (F.col("ts_ms") - F.lag("ts_ms").over(order_w))
                > _SESSION_GAP_MS
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("is_new").over(run_w)
    )
    capped = sessions.withColumn(
        "sub_session",
        F.expr(
            f"(ts_ms - MIN(ts_ms) OVER (PARTITION BY user_id, session_id))"
            f" DIV {_SESSION_CAP_MS}"
        ),
    )
    return capped.groupBy("user_id", "session_id", "sub_session").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
        (F.max("ts_ms") - F.min("ts_ms")).cast("long").alias("duration_ms"),
    )


@query(
    "q_cdc_traffic_mix",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CASE WHEN event_type = 'error' THEN 'DELETE'
                ELSE 'UPSERT' END AS op,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events
    GROUP BY date_trunc('day', ts),
             CASE WHEN event_type = 'error' THEN 'DELETE'
                  ELSE 'UPSERT' END
    """,
)
def q_cdc_traffic_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC traffic mix per day: upsert vs tombstone volumes and the
    distinct keys each touches — the replication-health dashboard the
    reference's monitoring layer derives from connector metrics
    (`src/monitoring/metrics.py` counts ops and lag; this is the
    queryable warehouse face). A day whose DELETE share or
    keys-per-event ratio jumps signals upstream schema churn or a
    backfill, the things an operator checks before trusting the sink.
    Plan: one hash aggregation; the distinct-key count is the second
    (expand) shuffle COUNT(DISTINCT) always costs — at 100 TB swap it
    for approx_count_distinct or the KMV sketch face
    (`q_kmv_distinct`), both already registered."""
    ev = load_table(spark, sf_dir, "events")
    ch = as_change_stream(ev)
    return (
        ch.withColumn(
            "day", F.date_trunc("day", F.timestamp_millis("commit_ms")).cast("date")
        )
        .groupBy("day", "op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("key").alias("n_keys"),
        )
    )


@query(
    "q_cdc_key_churn",
    oracle="""
    WITH ch AS (
        SELECT user_id AS key,
               CASE WHEN event_type = 'error' THEN 'DELETE'
                    ELSE 'UPSERT' END AS op,
               CAST(epoch_ms(ts) AS BIGINT) AS commit_ms,
               event_id
        FROM events
    ), ranked AS (
        SELECT key, op,
               ROW_NUMBER() OVER (
                   PARTITION BY key
                   ORDER BY commit_ms DESC, event_id DESC
               ) AS rn
        FROM ch
    ), per_key AS (
        SELECT key,
               CAST(COUNT(*) AS BIGINT) AS n_ops,
               CAST(SUM(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deletes,
               MAX(CASE WHEN rn = 1 THEN op END) AS last_op
        FROM ranked GROUP BY key
    )
    SELECT CAST(length(bin(n_ops)) AS BIGINT) AS churn_band,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_ops) AS BIGINT) AS events_total,
           CAST(SUM(n_deletes) AS BIGINT) AS deletes_total,
           CAST(SUM(CASE WHEN last_op = 'DELETE' THEN 1 ELSE 0 END)
                AS BIGINT) AS dead_keys,
           CAST(SUM(n_ops) - COUNT(*) AS BIGINT) AS redundant_events
    FROM per_key GROUP BY churn_band
    """,
)
def q_cdc_key_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-churn census over the change stream in log2 bands (band =
    bit-length of ops-per-key): keys, total events, tombstones,
    keys whose LAST op is a delete (dead at compaction), and the
    redundant rows upsert compaction removes (events - keys) — the
    report that prices compaction before running it (a band-10 tail
    means hot keys dominate the state; ``redundant_events`` is what
    the per-epoch state merge, `streaming/pipeline.py:
    merge_batch_into_state`, folds away). The
    last-writer pick uses the same (commit_ms, event_id) total order
    as ``compact_latest``; the DuckDB oracle expresses it as
    ROW_NUMBER() OVER (ORDER BY commit_ms DESC, event_id DESC) with
    rn = 1 — equivalent to max_by over that tuple because event_id is
    unique. Plan: one per-key aggregation (max_by carries
    the last op without a window), one <=20-row band rollup."""
    ch = as_change_stream(load_table(spark, sf_dir, "events"))
    per_key = ch.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum(F.when(F.col("op") == "DELETE", 1).otherwise(0)).alias(
            "n_deletes"
        ),
        F.expr("max_by(op, struct(commit_ms, event_id))").alias("last_op"),
    )
    return per_key.groupBy(
        F.length(F.bin("n_ops")).cast("long").alias("churn_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_ops").cast("long").alias("events_total"),
        F.sum("n_deletes").cast("long").alias("deletes_total"),
        F.sum(F.when(F.col("last_op") == "DELETE", 1).otherwise(0))
        .cast("long")
        .alias("dead_keys"),
        (F.sum("n_ops") - F.count(F.lit(1)))
        .cast("long")
        .alias("redundant_events"),
    )
