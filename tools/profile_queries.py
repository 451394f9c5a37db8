"""Per-query profiling: split each registered query's wall time into
DataFrame-construction time (driver-side py4j + analysis) and
execution time (noop write), and count the Spark jobs/stages each
execution schedules. The stage/job counts are the per-query fixed
overhead that dominates at small SF and the shuffle-boundary count
that dominates at 100 TB.

Usage: python tools/profile_queries.py [sf_dir] [query ...]
Writes PROFILE_DETAIL.json and prints the top offenders.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scylla_pg_cdc_spark.registry import load_all  # noqa: E402
from scylla_pg_cdc_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    only = set(sys.argv[2:])
    spark = get_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    specs = load_all()

    # warmup (same as bench.py)
    spark.range(1_000_000).selectExpr("sum(id)").write.mode(
        "overwrite"
    ).format("noop").save()
    from scylla_pg_cdc_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).write.mode("overwrite").format(
            "noop"
        ).save()

    def job_stage_counts() -> tuple[int, int]:
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        defaults = [
            getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        stages = store.stageList(None, *defaults)
        ntasks = sum(
            stages.apply(i).numCompleteTasks() for i in range(stages.size())
        )
        return jobs.size(), stages.size(), ntasks

    out: dict[str, dict] = {}
    for name in sorted(specs):
        if only and name not in only:
            continue
        fn = specs[name].fn
        try:
            j0, s0, t0n = job_stage_counts()
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            j1, s1, t1n = job_stage_counts()
            out[name] = {
                "construct_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "jobs": j1 - j0,
                "stages": s1 - s0,
                "tasks": t1n - t0n,
            }
        except Exception as e:  # noqa: BLE001
            print(f"profile error in {name}: {e}", file=sys.stderr)
            out[name] = {"err": str(e)[:200]}

    path = Path(__file__).resolve().parent.parent / "PROFILE_DETAIL.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True))
    ok = {k: v for k, v in out.items() if "total_s" in v}
    print(f"n={len(ok)}  total={sum(v['total_s'] for v in ok.values()):.1f}s"
          f"  construct={sum(v['construct_s'] for v in ok.values()):.1f}s"
          f"  exec={sum(v['exec_s'] for v in ok.values()):.1f}s"
          f"  jobs={sum(v['jobs'] for v in ok.values())}"
          f"  stages={sum(v['stages'] for v in ok.values())}"
          f"  tasks={sum(v['tasks'] for v in ok.values())}")
    for key in ("total_s", "construct_s"):
        print(f"-- top 25 by {key}:")
        for k, v in sorted(ok.items(), key=lambda kv: -kv[1][key])[:25]:
            print(
                f"  {k:42s} tot={v['total_s']:6.2f} con={v['construct_s']:5.2f}"
                f" exe={v['exec_s']:6.2f} jobs={v['jobs']:3d}"
                f" stages={v['stages']:4d} tasks={v['tasks']:5d}"
            )


if __name__ == "__main__":
    main()
