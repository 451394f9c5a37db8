"""Skew demonstration harness (VERDICT r1 next-round #9).

Synthesizes a power-law keyed fact table (one hot key owning ~55% of
all rows, the rest zipf-ish across ``n_dim`` keys), then measures the
same join three ways:

1. ``naive``   — sort-merge join, AQE skew split OFF: the hot key's
   entire row mass lands in ONE shuffle partition; wall time is the
   straggler task.
2. ``aqe``     — AQE skewJoin ON (thresholds lowered to match the
   local data size): runtime splits the oversized partition.
3. ``salted``  — ``functions.skew.salted_join`` with AQE split OFF:
   the hot key is scattered over n_salt sub-keys at plan time — the
   fallback for shapes AQE can't split (non-SMJ joins, aggregations).

Broadcast is disabled throughout: at 100 TB the dim side of a skewed
join often exceeds the broadcast budget, which is exactly when skew
bites. Each run also records its join stage's straggler ratio: the
max-task over the median-task shuffle-read records, read from Spark's
status store. Run as a script to print one JSON line for SCALE.md; the
pytest face (tests/test_skew_demo.py) asserts mitigation beats the
straggler with a safety margin and that all three results agree.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HOT_KEY = 0


def skewed_fact(spark: SparkSession, n_rows: int, n_dim: int) -> DataFrame:
    """Power-law facts: ~55% of rows carry HOT_KEY, the rest spread
    uniformly (a stand-in for the zipf tail) over n_dim keys."""
    return spark.range(n_rows).select(
        F.when(F.col("id") % 100 < 55, F.lit(HOT_KEY))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_dim)))
        .cast("long")
        .alias("key"),
        (F.col("id") % 997).cast("double").alias("v"),
    )


def dim_table(spark: SparkSession, n_dim: int) -> DataFrame:
    return spark.range(n_dim).select(
        F.col("id").alias("key"),
        F.concat(F.lit("grp_"), (F.col("id") % 16).cast("string")).alias("grp"),
    )


def _stages(spark: SparkSession) -> list:
    """Every stage in the application status store (the JVM
    ``AppStatusStore``; it exists with the UI disabled)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    defaults = [
        getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
    ]
    st = store.stageList(None, *defaults)
    return [st.apply(i) for i in range(st.size())]


def _straggler_ratio(spark: SparkSession, before: set) -> float:
    """Max-task over median-task shuffle-read records of the join stage:
    the stage, among those run since ``before``, that reads the most
    shuffled records (the join reads both inputs; the final aggregate
    reads only 16-group partials)."""
    new = [
        s for s in _stages(spark)
        if (s.stageId(), s.attemptId()) not in before
        and s.status().toString() == "COMPLETE"
    ]
    join = max(new, key=lambda s: s.shuffleReadRecords())
    tasks = spark.sparkContext._jsc.sc().statusStore().taskList(
        join.stageId(), join.attemptId(), 1 << 30
    )
    recs = sorted(
        t.taskMetrics().get().shuffleReadMetrics().recordsRead()
        for t in (tasks.apply(i) for i in range(tasks.size()))
        if t.taskMetrics().isDefined()
    )
    # lower median: with an even task count the upper one can be the max
    return recs[-1] / max(recs[(len(recs) - 1) // 2], 1)


def _run(df: DataFrame) -> tuple[float, int, float]:
    spark = df.sparkSession
    before = {(s.stageId(), s.attemptId()) for s in _stages(spark)}
    t0 = time.time()
    agg = df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    rows = agg.collect()  # tiny: 16 groups
    t = time.time() - t0
    return t, sum(r["n"] for r in rows), _straggler_ratio(spark, before)


def run_skew_comparison(
    spark: SparkSession, n_rows: int = 4_000_000, n_dim: int = 50_000,
    n_salt: int = 32,
) -> dict[str, object]:
    from scylla_pg_cdc_spark.functions.skew import salted_join

    fact = skewed_fact(spark, n_rows, n_dim).cache()
    dim = dim_table(spark, n_dim).cache()
    fact.count(), dim.count()  # materialize outside the timed region

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    out: dict[str, object] = {"n_rows": n_rows, "n_dim": n_dim, "n_salt": n_salt}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # thresholds sized for a local-scale demo: the hot partition is
        # tens of MB, not the 256 MB production default
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8MB",
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")

        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t, n, skew = _run(fact.join(dim, "key"))
        out["naive_sec"], out["rows"] = round(t, 3), n
        out["naive_skew"] = round(skew, 3)

        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t, n2, _ = _run(fact.join(dim, "key"))
        out["aqe_sec"] = round(t, 3)
        assert n2 == n

        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t, n3, skew = _run(salted_join(fact, dim, "key", n_salt=n_salt))
        out["salted_sec"], out["salted_skew"] = round(t, 3), round(skew, 3)
        assert n3 == n
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
        fact.unpersist()
        dim.unpersist()
    return out


if __name__ == "__main__":
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from scylla_pg_cdc_spark.session import get_session

    spark = get_session("skew-demo")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_skew_comparison(spark)))
