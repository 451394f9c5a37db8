"""Workload definitions: which ops each workload runs, and its inputs.

Both are closed loops with one client. The seed sets the query order
in the batch workload and generates the feed for the stream;
``--seconds`` sets how many queries the batch workload runs, so the op
set is the same for every seed.
"""

from __future__ import annotations

import os

import datagen

# Scale of the generated tables (sf 1 = 6M lineitem rows). Per-query
# cost at this size is mostly fixed cost (analysis, job and task
# scheduling), as it is at sf0.1.
TABLES_SF = 0.02

WORKLOADS = {
    "warehouse_batch": "cold first calls of the paper's batch-face registry queries",
    "cdc_stream": "bursty generated change feed through the upsert pipeline",
}

# Registry modules of the paper's batch faces, in registration order.
BATCH_MODULES = ("cdc", "reconcile", "tpch", "aggregates", "windows")
# Cold queries per measured second: about 0.55 s per query at TABLES_SF
# on 4 cores after the warm-up queries, so a 20 s run covers 40 of the 70.
BATCH_OPS_PER_S = 2.0

# Set-up of the batch workload also runs this many batch-face queries
# that are not measured, on tables of WARMUP_SF: the first queries of a
# process otherwise run up to 2x slower while the JVM compiles the
# planner and codegen paths, and the seeded order would decide which
# measured queries pay it. Each measured query still meets its own
# tables cold.
WARMUP_QUERIES = 4
WARMUP_SF = 0.001

# Stream feed: a small and a large epoch group. An epoch costs ~4-5 s
# of fixed work at 4k events and ~1 s more at 40k. Of 7 epochs, 3 are
# large: the tail rule leaves one epoch beyond the tail, so the tail is
# the middle large epoch and the median the slowest of the 4 small ones.
# The shape is fixed; ``--seconds`` sizes the batch workload only.
SMALL_EPOCHS = 4
LARGE_EPOCHS = 3
SMALL_EPOCH_EVENTS = 4_000
LARGE_EPOCH_EVENTS = 40_000
WARMUP_EPOCH_EVENTS = 500
# The consumer reads after ingest are short, so they run this many
# times and read_s is the median round.
READ_ROUNDS = 3
STREAM_OPTIONS = {
    "max_files_per_trigger": 1,
    "mv_spec": (["event_type"], ["value"]),
    "digest_buckets": 32,
}


def _batch_face_queries(specs: dict) -> list[str]:
    """The batch-face queries, by module then name."""
    return [
        name
        for _, name in sorted(
            (BATCH_MODULES.index(spec.fn.__module__.rsplit(".", 1)[1]), name)
            for name, spec in specs.items()
            if spec.fn.__module__.rsplit(".", 1)[1] in BATCH_MODULES
        )
    ]


def batch_queries(specs: dict, seconds: int) -> list[str]:
    """A seed-independent, evenly spread subset of the batch-face queries,
    sized to ``seconds``; every module keeps its share."""
    names = _batch_face_queries(specs)
    k = min(len(names), max(10, round(seconds * BATCH_OPS_PER_S)))
    return [names[(i * len(names)) // k] for i in range(k)]


def warmup_queries(specs: dict, seconds: int) -> list[str]:
    """A few batch-face queries outside the measured set, run in set-up
    on the small warm-up tables."""
    measured = set(batch_queries(specs, seconds))
    rest = [n for n in _batch_face_queries(specs) if n not in measured]
    return rest[:: max(1, len(rest) // WARMUP_QUERIES)][:WARMUP_QUERIES]


FEED_SPEC = datagen.FeedSpec(
    n_small=SMALL_EPOCHS,
    n_large=LARGE_EPOCHS,
    small_events=SMALL_EPOCH_EVENTS,
    large_events=LARGE_EPOCH_EVENTS,
)


def prepare_stream_inputs(run_dir: str, seed: int) -> dict:
    """Write the seeded feed and a throwaway warm-up feed (untimed)."""
    tables, stats = datagen.make_feed(FEED_SPEC, seed)
    feed_dir = os.path.join(run_dir, "feed")
    paths = datagen.write_feed(tables, feed_dir)
    # two epochs: the second is the first to merge into existing state
    warm = datagen.FeedSpec(
        n_small=2, n_large=0, small_events=WARMUP_EPOCH_EVENTS, large_events=0
    )
    warm_tables, _ = datagen.make_feed(warm, seed=0)
    warm_dir = os.path.join(run_dir, "warm_feed")
    datagen.write_feed(warm_tables, warm_dir)
    return {
        "feed_dir": feed_dir,
        "feed_stats": stats,
        "feed_digests": datagen.digest_files(paths),
        "warm_feed_dir": warm_dir,
        "work_dir": os.path.join(run_dir, "work"),
        "warm_work_dir": os.path.join(run_dir, "warm_work"),
    }


def tail(values: list[float]) -> dict:
    """The highest nearest-rank percentile with at least ten samples
    beyond it. With fewer than eleven samples no percentile has ten
    beyond it; then a quarter of the samples (at least one) is left
    beyond, and ``beyond`` says how many."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    beyond = 10 if n >= 11 else max(1, n // 4) if n > 1 else 0
    idx = n - beyond - 1
    return {
        "value": sorted(values)[idx],
        "percentile": round(100.0 * (idx + 1) / n, 2),
        "samples": n,
        "beyond": beyond,
    }

