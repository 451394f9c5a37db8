"""Streaming CDC pipeline throughput: events/sec through the full
readStream -> transform -> foreachBatch(upsert merge + DLQ split)
pipeline at $SPARK_GRAFT_SF_DIR. Prints one JSON line.

Reference comparison (BASELINE.md): source connector 10,000 events/s,
sink 5,000 events/s (single workers); measured e2e replication latency
30-60 s on the dev stack."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scylla_pg_cdc_spark.session import get_session  # noqa: E402
from scylla_pg_cdc_spark.sources.tables import load_table  # noqa: E402
from scylla_pg_cdc_spark.streaming.pipeline import (  # noqa: E402
    latest_state,
    run_upsert_pipeline,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from scylla_pg_cdc_spark.functions.metrics import ProgressListener

    listener = ProgressListener()
    spark.streams.addListener(listener)
    n_events = load_table(spark, sf_dir, "events").count()
    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        t0 = time.time()
        out = run_upsert_pipeline(spark, sf_dir, work)
        wall = time.time() - t0
        n_state = latest_state(spark, out["state"]).count()
        n_dlq = spark.read.parquet(out["dlq"]).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.streams.removeListener(listener)
    batch_rates = [
        p["processed_rows_per_sec"]
        for p in listener.progress
        if p["num_input_rows"]
    ]
    print(
        json.dumps(
            {
                "metric": "stream_events_per_sec",
                "value": round(n_events / wall, 1),
                "unit": "events/sec",
                "events": n_events,
                "wall_sec": round(wall, 2),
                "state_rows": n_state,
                "dlq_rows": n_dlq,
                "n_batches": len(batch_rates),
                "batch_rows_per_sec": [round(r, 1) for r in batch_rates],
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
