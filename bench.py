"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line {"metric","value","unit","queries","sf",...}.

Rigor (VERDICT r1 next-round #8):
- each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3); the
  reported per-query number is the MEDIAN, so one GC pause or page-in
  can't smear a round-over-round comparison;
- per-query shuffle WRITE bytes come from the app status store
  (cumulative across completed stages, delta'd around each query's
  runs, averaged per run) — the physical-plan metric that predicts
  100 TB behavior better than local wall time.

Results are materialized with the noop writer — full execution on the
executors, nothing collected to the driver — so the numbers measure
the distributed plan, not driver serialization.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from scylla_pg_cdc_spark.registry import load_all  # noqa: E402
from scylla_pg_cdc_spark.session import get_session  # noqa: E402


def _total_shuffle_write_bytes(spark) -> int | None:
    """Cumulative shuffle write bytes over all completed stages, via
    the JVM AppStatusStore (works with the UI disabled). Returns None
    if the py4j surface moved — bench then reports -1 for bytes rather
    than failing the timing run."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        defaults = [
            getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        stages = store.stageList(None, *defaults)
        return sum(
            stages.apply(i).shuffleWriteBytes() for i in range(stages.size())
        )
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    # JVM/codegen warmup + parquet footer/FS cache touch so the
    # alphabetically-first queries don't absorb one-time IO costs
    spark.range(1_000_000).selectExpr("sum(id)").write.mode(
        "overwrite"
    ).format("noop").save()
    from scylla_pg_cdc_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).write.mode("overwrite").format(
            "noop"
        ).save()

    timings: dict[str, float] = {}
    shuffle_bytes: dict[str, int] = {}
    # raw per-run samples are recorded next to the medians in
    # BENCH_DETAIL.json so a run-1 cost that later runs skip (JVM
    # warm-up, codegen) stays visible beside the median. Headline
    # numbers and the stdout line are unchanged.
    raw_samples: dict[str, list[float]] = {}
    for name in sorted(specs):
        fn = specs[name].fn
        samples: list[float] = []
        bytes_before = _total_shuffle_write_bytes(spark)
        try:
            for _ in range(runs):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                samples.append(time.time() - t0)
            timings[name] = round(statistics.median(samples), 3)
            raw_samples[name] = [round(s, 3) for s in samples]
            bytes_after = _total_shuffle_write_bytes(spark)
            if bytes_before is None or bytes_after is None:
                shuffle_bytes[name] = -1
            else:
                shuffle_bytes[name] = (bytes_after - bytes_before) // runs
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
            shuffle_bytes[name] = -1
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Full per-query detail goes to a file; stdout gets ONE COMPACT
    # line. The round-1 driver kept only the last 2000 chars of
    # stdout, so the 110-query inline dict made the line unparseable
    # (BENCH_r01.json: "parsed": null). The compact line carries the
    # headline plus the slowest queries and stays well under that cap.
    detail = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": raw_samples,
        "shuffle_bytes": shuffle_bytes,
        "runs": runs,
        "stat": "median",
        "sf": sf,
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail, indent=1, sort_keys=True))
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:20]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "n_errors": sum(1 for t in timings.values() if t < 0),
                "detail": "BENCH_DETAIL.json",
                "runs": runs,
                "stat": "median",
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
