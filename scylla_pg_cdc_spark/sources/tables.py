"""Batch table loaders over the driver's synthetic parquet tables.

Mirrors the reference's table scans (`scripts/reconcile.py:258-326`:
``SELECT * FROM t LIMIT n OFFSET m``) — except we never paginate by
hand: Spark's parquet source gives partitioned scans, predicate
pushdown, and column pruning for free, so a "scan" here is just
``spark.read.parquet`` and the downstream ``select``/``filter`` reach
the scan node via Catalyst (verify with ``PushedFilters`` in
``df.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins
# (reference joins 5-row dims, `docker/scylla/init.cql:121-150`).
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# Table PLAN cache: (session, sf_dir, table, max leaf mtime) -> the
# unexecuted DataFrame. This memoizes METADATA ONLY — the logical plan
# whose construction costs ~85 ms of py4j + file listing + parquet
# footer schema read per call (measured r12; ~1.7 load_table calls per
# query x 268 queries x 3 bench runs ~= 40 s of the 212 s bench was
# re-listing immutable input tables). It is the same class of caching
# the Spark file index does per-relation (guide §6,
# `filesourcePartitionFileCacheSize`): every action on the returned
# frame still scans parquet and recomputes results from scratch.
# The key holds the session object, not the applicationId: a frame runs
# under the session that built it, and a sibling ``newSession()``
# shares the applicationId but not the SQL conf (time zone). The mtime
# is the newest over the table path and everything under it (ns
# resolution): a part file rewritten in place leaves its directory's
# mtime unchanged, and a stale listing keeps the old byte lengths.
# Growth is bounded by #sessions x #sf_dirs x 10 tables.
_TABLE_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _max_leaf_mtime(path: str) -> int | None:
    """Newest mtime (ns) of ``path`` and, for a directory, everything
    under it; None when the path does not exist."""
    try:
        newest = os.stat(path).st_mtime_ns
    except OSError:
        return None
    for root, dirs, files in os.walk(path):
        for entry in dirs + files:
            try:
                newest = max(
                    newest, os.stat(os.path.join(root, entry)).st_mtime_ns
                )
            except OSError:
                pass
    return newest


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; session tz forced to UTC first so all
    timestamp rendering matches the oracle.

    ns-precision parquet timestamps (events.ts) are illegal for Spark's
    vectorized reader, so they are read as raw int64 nanoseconds
    (``nanosAsLong``) and floored to microseconds with integer `div`
    (double division would lose sub-us precision at 1.7e18 ns
    magnitudes and could flip ms boundaries vs the DuckDB oracle).

    µs-precision *no-timezone* parquet timestamps read as TIMESTAMP_NTZ
    in Spark 4; every NTZ column is normalized to session-tz
    ``timestamp`` so time arithmetic (``unix_millis`` et al.) analyzes.
    Session tz is forced to UTC first, so the wall-clock instant is
    unchanged and DuckDB parity holds — the reference applies the same
    "naive timestamps are UTC" rule (`src/reconciliation/comparer.py:214-218`).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    mtime = _max_leaf_mtime(path)
    # forced on EVERY call, cache hit or not: a caller may have moved
    # the session tz since the plan was cached, and the cached plan
    # renders timestamps in whatever tz the session has at execution
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark, os.path.abspath(sf_dir), name, mtime)
    cached = _TABLE_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLE_PLAN_CACHE[key] = df
    return df


# file-size metadata cache for spread_scan's guard (sizes of immutable
# input parquet files — never query results)
_FILE_SIZE_CACHE: dict[str, int] = {}


def spread_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelism for CPU-heavy per-row work
    (shingling, hashing, decode): when the upstream scan would yield
    fewer split tasks than the cluster has task slots, round-robin
    ``repartition(defaultParallelism)`` so the map CPU uses every
    core; when the scan is already at least that parallel (any real
    multi-file table — at 100 TB a scan is thousands of splits), this
    is a NO-OP and no exchange is added.

    Guard: estimated splits = sum over the frame's input files of
    ceil(bytes / maxPartitionBytes), from ``df.inputFiles()`` + local
    file sizes (~ms per fresh plan; the earlier ``df.rdd`` probe cost
    ~0.2 s of RDD-conversion planning per call). Frames with no file
    source (streaming micro-batches, in-memory intermediates) or
    non-local files pass through unchanged — on a real cluster a scan
    big enough to matter is already parallel. Derived from the actual
    data + session conf, not a constant, so the same code is right at
    sf0.001 and at 100 TB. Deterministic under retry: Spark's
    sort-before-repartition (on by default, SPARK-23207) pins the
    row-to-partition assignment. Call it AFTER selecting only the
    columns the heavy work needs, so the exchange carries the narrow
    projection."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - planning-only probe; never fatal
        return df
    if not files or len(files) >= target:
        return df
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        sz = _FILE_SIZE_CACHE.get(f)
        if sz is None:
            parsed = urlparse(f)
            if parsed.scheme not in ("file", ""):
                return df
            try:
                sz = os.path.getsize(unquote(parsed.path))
            except OSError:
                return df
            _FILE_SIZE_CACHE[f] = sz
        total += sz
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "b": 1}
    raw = raw.strip().lower()
    mult = 1
    if raw and raw[-1] in units:
        mult = units[raw[-1]]
        raw = raw[:-1]
    try:
        max_pb = max(1, int(raw) * mult)
    except ValueError:
        max_pb = 134217728
    est_splits = -(-total // max_pb)
    if est_splits >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
