"""Standalone background compactor for the near-dup admission state.

At scale the compactor runs as its OWN job on its own schedule, not
inline with the ingest epoch (the reference's analog: Postgres
autovacuum running beside the sink's upsert transactions,
`data-model.md:463-473`). This tool is that job:

    python tools/compact_state.py <state_dir> [--min-parts N]

It compacts the near-dup admission state (`streaming/dedup_state.py`):
merges the accumulated per-epoch bucket/token subdirectories into one
``compacted-<gen>`` generation behind an atomic manifest swap — safe
beside the live admission pipeline (see ``compact_dedup_state``), keeps
admit_epoch's read fan-in O(1) in epochs. Prints one JSON line: the
merge result, files and bytes before and after, wall seconds.

The keyed CDC state needs no such job: ``merge_batch_into_state``
rewrites the touched buckets to one row per key every epoch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scylla_pg_cdc_spark.session import get_session  # noqa: E402
from scylla_pg_cdc_spark.streaming.dedup_state import (  # noqa: E402
    compact_dedup_state,
)


def _bucket_stats(state_dir: str) -> dict[str, int]:
    files = 0
    size = 0
    for root, _dirs, names in os.walk(state_dir):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def run_dedup(args: argparse.Namespace) -> dict:
    spark = get_session("compact-dedup-state")
    spark.sparkContext.setLogLevel("ERROR")
    before = _bucket_stats(args.state_dir)
    t0 = time.time()
    result = compact_dedup_state(
        spark, args.state_dir, min_parts=args.min_parts
    )
    after = _bucket_stats(args.state_dir)
    return {
        "mode": "dedup-compact",
        "state_dir": args.state_dir,
        **result,
        "files_before": before["files"],
        "files_after": after["files"],
        "bytes_before": before["bytes"],
        "bytes_after": after["bytes"],
        "sec": round(time.time() - t0, 2),
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("state_dir", help="near-dup admission state directory")
    p.add_argument("--min-parts", type=int, default=2)
    print(json.dumps(run_dedup(p.parse_args())))


if __name__ == "__main__":
    main()
