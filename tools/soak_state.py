"""Multi-epoch streaming-state SOAK: state growth + compaction cadence
under amplified, fuzzed input (VERDICT r9 next-round #3).

The per-epoch state machines are correctness-gated (tests/
test_state_fuzz.py, test_state_interleaving.py, test_ivf_state.py) but
until this tool nothing MEASURED how state size and compaction
wall-time behave over a long epoch sequence. A 100 TB deployment runs
thousands of epochs; what must hold:

- dedup state grows with the ADMITTED corpus only, and the cadenced
  compactor keeps the live part-count bounded at O(threshold) with
  amortized merge cost (not a per-epoch rewrite of everything);
- keyed CDC state (``merge_batch_into_state``): each epoch rewrites
  only its touched buckets; total bytes and files track the LIVE key
  set and the bucket count, not the event count;
- drift / IVF state stay BOUNDED (distribution-support / K x DIM
  sized) no matter how many epochs fold in.

Usage:
    python tools/soak_state.py [fuzzed_amplified_dir] [n_epochs]

Input should be a fuzzed+amplified directory (hostile profile:
near-dup families, unicode, empty docs, NULL measures) so the soak
sees adversarial content, not clean synthetic rows. Prints one JSON
line per machine plus per-epoch detail, suitable for SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scylla_pg_cdc_spark.session import get_session  # noqa: E402
from scylla_pg_cdc_spark.sources.tables import load_table  # noqa: E402
from scylla_pg_cdc_spark.streaming.dedup_state import (  # noqa: E402
    _state_parts,
    admit_epoch,
    maybe_compact_dedup_state,
)
from scylla_pg_cdc_spark.streaming.drift_state import monitor_epoch  # noqa: E402
from scylla_pg_cdc_spark.streaming.ivf_state import maintain_epoch  # noqa: E402
from scylla_pg_cdc_spark.streaming.pipeline import (  # noqa: E402
    latest_state,
    merge_batch_into_state,
)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def soak_dedup(spark, sf_dir: str, n_epochs: int, compact_every: int = 8):
    work = tempfile.mkdtemp(prefix="soak_dedup_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    detail = []
    t_admit = t_compact = 0.0
    n_admitted = 0
    try:
        for i in range(n_epochs):
            batch = docs.filter(F.pmod(F.xxhash64("doc_id"), n_epochs) == i)
            t0 = time.time()
            dec = admit_epoch(spark, work, batch, marker=f"epoch-{i:09d}")
            adm = dec.filter(F.col("is_new")).count()
            t1 = time.time()
            with open(os.path.join(work, "_EPOCH"), "w") as f:
                f.write(f"epoch-{i:09d}")
            res = maybe_compact_dedup_state(spark, work, compact_every)
            t2 = time.time()
            n_admitted += adm
            t_admit += t1 - t0
            t_compact += t2 - t1
            detail.append(
                {
                    "epoch": i,
                    "admitted": adm,
                    "admit_s": round(t1 - t0, 2),
                    "compact_s": round(t2 - t1, 2),
                    "merged": len(res.get("merged", [])),
                    "live_parts": len(_state_parts(work, "buckets", None)),
                    "state_mb": round(_du(work) / 1e6, 2),
                }
            )
        return {
            "machine": "dedup_state",
            "epochs": n_epochs,
            "compact_every": compact_every,
            "admitted_total": n_admitted,
            "admit_wall_s": round(t_admit, 1),
            "compact_wall_s": round(t_compact, 1),
            "max_live_parts": max(d["live_parts"] for d in detail),
            "final_state_mb": detail[-1]["state_mb"],
            "detail": detail,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs
    )


def soak_keyed(spark, sf_dir: str, n_epochs: int):
    from scylla_pg_cdc_spark.operators.cdc import as_change_stream

    work = tempfile.mkdtemp(prefix="soak_keyed_")
    state = os.path.join(work, "state")
    ev = as_change_stream(load_table(spark, sf_dir, "events"))
    detail = []
    t_total = 0.0
    try:
        for i in range(n_epochs):
            batch = ev.filter(F.pmod(F.xxhash64("event_id"), n_epochs) == i)
            t0 = time.time()
            merge_batch_into_state(batch, state)
            t1 = time.time()
            t_total += t1 - t0
            detail.append(
                {
                    "epoch": i,
                    "epoch_s": round(t1 - t0, 2),
                    "state_files": _files(state),
                    "state_mb": round(_du(state) / 1e6, 2),
                }
            )
        n_live = latest_state(spark, state).count()
        return {
            "machine": "keyed_state",
            "epochs": n_epochs,
            "wall_s": round(t_total, 1),
            "live_keys": n_live,
            "final_state_mb": detail[-1]["state_mb"],
            "detail": detail,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def soak_bounded(spark, sf_dir: str, n_epochs: int):
    """Drift + IVF: the BOUNDED-state machines — assert the bound."""
    work_d = tempfile.mkdtemp(prefix="soak_drift_")
    work_i = tempfile.mkdtemp(prefix="soak_ivf_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    drift_mb, ivf_mb = [], []
    t_drift = t_ivf = 0.0
    try:
        for i in range(n_epochs):
            db = ev.filter(F.pmod(F.xxhash64("value"), n_epochs) == i)
            t0 = time.time()
            monitor_epoch(spark, work_d, db, marker=f"epoch-{i}").count()
            t_drift += time.time() - t0
            drift_mb.append(_du(work_d) / 1e6)
            ib = emb.filter(F.pmod(F.xxhash64("vec_id"), n_epochs) == i)
            t0 = time.time()
            maintain_epoch(spark, work_i, ib, marker=f"epoch-{i}").count()
            t_ivf += time.time() - t0
            ivf_mb.append(_du(work_i) / 1e6)
        return {
            "machine": "drift+ivf_state",
            "epochs": n_epochs,
            "drift_wall_s": round(t_drift, 1),
            "ivf_wall_s": round(t_ivf, 1),
            "drift_counts_mb_first_last": [
                round(drift_mb[0], 2),
                round(drift_mb[-1], 2),
            ],
            "ivf_lists_mb_first_last": [
                round(ivf_mb[0], 2),
                round(ivf_mb[-1], 2),
            ],
        }
    finally:
        shutil.rmtree(work_d, ignore_errors=True)
        shutil.rmtree(work_i, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fuzz_h01_amp10"
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_session("soak-state")
    spark.sparkContext.setLogLevel("ERROR")
    for fn in (soak_dedup, soak_keyed, soak_bounded):
        out = fn(spark, sf_dir, n_epochs)
        detail = out.pop("detail", None)
        print(json.dumps(out))
        if detail:
            # per-epoch rows on stderr-ish separate lines for archive
            for d in detail[:: max(1, len(detail) // 10)]:
                print("  " + json.dumps(d))


if __name__ == "__main__":
    main()
