"""Regression tests for session/plan guards: ``load_table`` forces the
UTC session time zone even when its plan cache hits, never serves one
session's frame to a sibling session, and sees a part file rewritten
in place inside a directory table; ``q_contamination_report``
broadcasts its eval side only within the shared row budget that
``decontaminate`` also uses."""

from __future__ import annotations

import os
import re

import duckdb
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators import sampling
from scylla_pg_cdc_spark.registry import load_all
from scylla_pg_cdc_spark.sources.tables import TABLE_NAMES, load_table
from tests.conftest import SF_SMALL
from tools.check_oracle import _norm_rows

TZ = "spark.sql.session.timeZone"


def _rendered_ts(df) -> list[str]:
    return [
        r[0]
        for r in df.orderBy("event_id")
        .select(F.col("ts").cast("string"))
        .limit(20)
        .collect()
    ]


def test_load_table_reforces_utc_on_plan_cache_hit(spark):
    first = load_table(spark, SF_SMALL, "events")
    want = _rendered_ts(first)
    spark.conf.set(TZ, "America/Los_Angeles")
    try:
        again = load_table(spark, SF_SMALL, "events")
        assert again is first  # served from the plan cache
        assert spark.conf.get(TZ) == "UTC"
        assert _rendered_ts(again) == want
    finally:
        spark.conf.set(TZ, "UTC")


def test_load_table_is_bound_to_the_calling_session(spark):
    first = load_table(spark, SF_SMALL, "events")
    want = _rendered_ts(first)
    spark.conf.set(TZ, "Asia/Tokyo")
    try:
        sibling = spark.newSession()
        got = load_table(sibling, SF_SMALL, "events")
        assert got.sparkSession is sibling
        assert _rendered_ts(got) == want
    finally:
        spark.conf.set(TZ, "UTC")


def test_load_table_sees_part_file_rewritten_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "region.parquet"
    table.mkdir()
    part = table / "part-1.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), table / "part-0.parquet")
    pq.write_table(pa.table({"r_regionkey": [2]}), part)
    assert load_table(spark, str(tmp_path), "region").count() == 3

    dir_mtime = table.stat().st_mtime_ns
    # the rewrite grows the part past the byte length a cached listing
    # recorded, in row groups a stale split would not reach
    pq.write_table(
        pa.table({"r_regionkey": list(range(2, 2002))}), part,
        row_group_size=100,
    )
    # a rewrite of an existing file leaves the directory's entries, and
    # so its mtime, as they were; pin the file's mtime forward in case
    # the filesystem clock is coarser than the two writes
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert table.stat().st_mtime_ns == dir_mtime
    assert load_table(spark, str(tmp_path), "region").count() == 2002


def test_contamination_report_respects_broadcast_budget(spark, monkeypatch):
    monkeypatch.setattr(sampling, "BROADCAST_ROW_BUDGET", 0)
    df = sampling.q_contamination_report(spark, SF_SMALL)
    rows = [tuple(r) for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # over budget: the shingle join builds the eval side by shuffle
    assert re.search(r"BroadcastHashJoin \[shingle#", plan) is None, plan
    assert re.search(r"ShuffledHashJoin \[shingle#", plan), plan

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_SMALL}/{t}.parquet')"
            )
        res = con.execute(load_all()["q_contamination_report"].oracle)
        cols = [d[0].lower() for d in res.description]
        oracle = res.fetchall()
    finally:
        con.close()
    idx = [cols.index(c.lower()) for c in df.columns]
    assert _norm_rows(rows) == _norm_rows(
        tuple(r[i] for i in idx) for r in oracle
    )
