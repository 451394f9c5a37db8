"""Regression tests for two session/plan guards: ``load_table`` forces
the UTC session time zone even when its plan cache hits, and
``q_contamination_report`` broadcasts its eval side only within the
shared row budget that ``decontaminate`` also uses."""

from __future__ import annotations

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
