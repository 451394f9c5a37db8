"""One run of one workload, in a fresh process started by run.py.

Set-up (session start, registry import, one warm-up job; then four
unmeasured warm-up queries for the batch workload, or two warm-up
epochs on a throwaway feed for the stream) is timed from the moment
run.py spawned this process. Then the workload's ops run back to back,
the outputs are checked outside the timed spans, and the result is
written as JSON to the path run.py gave.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import checks
import workloads
from spans import ProgressLog, SparkCounters, Tracer, phase_seconds, self_times

MB = 1024 * 1024


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_pids() -> list[int]:
    me = str(os.getpid())
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().split(") ", 1)
        except (OSError, ValueError):
            continue
        if rest.split()[1] == me and comm.endswith("(java"):
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM."""
    return _vm_hwm_mb("self") + sum(_vm_hwm_mb(p) for p in _jvm_pids())


def _dir_files(path: str) -> dict[int, int]:
    """{inode: size} of the data files under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith("."):
                st = os.stat(os.path.join(root, name))
                out[st.st_ino] = st.st_size
    return out


# ------------------------------------------------------------- query ops


def run_query_ops(spark, specs, names, tables_dir, tracer, counters):
    """Build and collect each query once, in the given order."""
    ops = []
    for i, name in enumerate(names):
        tracer.op = name
        rec = {"op": name, "ok": True}
        if counters:
            with tracer.bookkeeping():
                before = counters.snapshot()
                spark.sparkContext.setJobGroup(f"op{i}", name)
        with tracer.span(name, "bench") as span:
            try:
                with tracer.span("operators.construct", "operators"):
                    df = specs[name].fn(spark, tables_dir)
                with tracer.span("operators.collect", "operators"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                rec.update(ok=False, error=repr(e)[:500])
        rec["s"] = span["end"] - span["start"]
        if rec["ok"]:
            rec.update(columns=df.columns, n_rows=len(rows), digest=checks.result_digest(rows))
            del rows
        if counters:
            with tracer.bookkeeping():
                rec["spark"] = counters.delta(before)
                rec["spark"]["jobs"] = counters.jobs_in_group(f"op{i}")
        ops.append(rec)
    tracer.op = None
    if counters:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return ops


def query_workload(spark, specs, names, cfg, tracer, counters):
    ops = run_query_ops(spark, specs, names, cfg["tables_dir"], tracer, counters)
    con = checks.oracle_connection(cfg["tables_dir"])
    for rec in ops:
        if rec["ok"]:
            why = checks.check_query(
                con, specs[rec["op"]].oracle, rec["columns"], rec["n_rows"], rec["digest"]
            )
            if why:
                rec.update(ok=False, error=f"check: {why}")
    times = [r["s"] for r in ops]
    wall = sum(times)
    tail = workloads.tail(times)
    # events_per_s and read_s are defined for the stream; the result
    # carries every end-to-end metric, so here they are derived:
    # queries per second of wall_s, and the collect() share of wall_s
    e2e = {
        "wall_s": wall,
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail["value"],
        "events_per_s": len(ops) / wall,
        "read_s": tracer.total("operators.collect"),
    }
    detail = {"order": names, "tail": tail, "op_s": {r["op"]: round(r["s"], 4) for r in ops}}
    return ops, e2e, detail


# ---------------------------------------------------------------- stream


def _batch_compaction(spark, feed_dir):
    """The feed compacted as one batch: the reference the streamed
    state is reconciled against."""
    from pyspark.sql import functions as F

    from scylla_pg_cdc_spark.operators.cdc import as_change_stream, compact_latest_agg
    from scylla_pg_cdc_spark.streaming.pipeline import EVENTS_RAW_SCHEMA, poison_predicate

    raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(feed_dir)
    events = raw.withColumn("ts", F.expr("timestamp_micros(ts)"))
    return compact_latest_agg(as_change_stream(events).filter(~poison_predicate()))


def stream_workload(spark, cfg, tracer, counters, progress):
    from pyspark.sql import functions as F

    from scylla_pg_cdc_spark.operators import reconcile
    from scylla_pg_cdc_spark.streaming import pipeline

    n_epochs = cfg["feed_stats"]["epochs"]
    state_dir = os.path.join(cfg["work_dir"], "state")
    rewritten = []
    if counters:
        prev_files: dict[int, int] = {}

        def after_merge(*_a, **_k):
            files = _dir_files(state_dir)
            total = sum(files.values())
            new = sum(size for ino, size in files.items() if ino not in prev_files)
            if prev_files and total:
                rewritten.append(new / total)
            prev_files.clear()
            prev_files.update(files)

        tracer.wrap(pipeline, "merge_batch_into_state", "streaming.merge", "streaming", after_merge)
        tracer.wrap(pipeline, "fold_mv_bucketed", "streaming.mv_fold", "streaming")
        tracer.wrap(pipeline, "fold_digests", "streaming.digest_fold", "streaming")
        tracer.wrap(pipeline, "latest_state", "streaming.latest_state", "streaming")
        with tracer.bookkeeping():
            before = counters.snapshot()

    n0 = len(progress.events)
    with tracer.span("streaming.run_upsert_pipeline", "streaming") as ingest:
        paths = pipeline.run_upsert_pipeline(
            spark, cfg["feed_dir"], cfg["work_dir"], glob="epoch-*.parquet",
            **workloads.STREAM_OPTIONS,
        )
    progress.wait_for(n0 + n_epochs)
    epochs = [e for e in progress.events[n0:] if e["rows"] > 0]
    layer = {}
    if counters:
        with tracer.bookkeeping():
            d = counters.delta(before)
            jobs = sum(counters.jobs_in_group(r) for r in {e["run_id"] for e in epochs})
            state = _dir_files(state_dir)
        layer = {
            "streaming.jobs_per_epoch": jobs / max(len(epochs), 1),
            "streaming.tasks_per_epoch": d["tasks"] / max(len(epochs), 1),
            "streaming.state_mb": sum(state.values()) / MB,
            "streaming.state_files": len(state),
            "streaming.rewritten_share": statistics.median(rewritten) if rewritten else 0.0,
        }

    reads = (
        ("streaming.read_latest", "streaming",
         lambda: pipeline.latest_state(spark, paths["state"]).count()),
        ("streaming.read_mv", "streaming",
         lambda: spark.read.parquet(paths["mv"]).collect()),
        ("operators.reconcile", "operators",
         lambda: reconcile.diff_datasets(
             pipeline.latest_state(spark, paths["state"]),
             _batch_compaction(spark, cfg["feed_dir"]), ["key"],
         ).filter(F.col("diff_type") != "match").count()),
    )
    ops_failed, errors, rounds = 0, [], []
    for _ in range(workloads.READ_ROUNDS):
        with tracer.span("bench.reads", "bench") as round_span:
            for name, layer_name, fn in reads:
                try:
                    with tracer.span(name, layer_name):
                        out = fn()
                except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                    ops_failed += 1
                    errors.append(f"{name}: {e!r}"[:500])
                    continue
                if name == "operators.reconcile" and out:
                    ops_failed += 1
                    errors.append(f"reconcile: {out} keys differ from batch compaction")
        rounds.append(round_span)

    expected = checks.expected_stream_outputs(os.path.join(cfg["feed_dir"], "*.parquet"))
    problems = checks.check_stream_outputs(expected, paths)
    ops_failed += len(problems)
    errors += problems
    if len(epochs) != n_epochs:
        ops_failed += abs(n_epochs - len(epochs))
        errors.append(f"{len(epochs)} epochs reported, feed has {n_epochs}")

    lat = [e["duration_ms"]["triggerExecution"] / 1000 for e in epochs]
    tail = workloads.tail(lat)
    wall = ingest["end"] - ingest["start"]
    e2e = {
        "wall_s": wall,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail["value"],
        "events_per_s": cfg["feed_stats"]["events"] / wall,
        "read_s": statistics.median([r["end"] - r["start"] for r in rounds]),
    }

    layer.update(phase_seconds(epochs))
    merge_s = tracer.total("streaming.merge")
    mv_s = tracer.total("streaming.mv_fold")
    dig_s = tracer.total("streaming.digest_fold")
    other_s = layer["streaming.addbatch_s"] - merge_s - mv_s - dig_s
    layer.update(
        {
            "streaming.merge_s": merge_s,
            "streaming.mv_fold_s": mv_s,
            "streaming.digest_fold_s": dig_s,
            "streaming.other_s": other_s if counters else 0.0,
            "streaming.merge_attempts": len(tracer.named("streaming.merge")),
            "streaming.read_latest_s": tracer.total("streaming.read_latest") / len(rounds),
            "streaming.read_mv_s": tracer.total("streaming.read_mv") / len(rounds),
            "operators.reconcile_s": tracer.total("operators.reconcile") / len(rounds),
        }
    )
    detail = {
        "feed": cfg["feed_stats"],
        "feed_sha256": cfg["feed_digests"],
        "tail": dict(tail, epoch_rows=epochs[lat.index(tail["value"])]["rows"]),
        "epoch_s": [round(x, 4) for x in lat],
        "epoch_rows": [e["rows"] for e in epochs],
        "errors": errors,
    }
    attempted = len(epochs) + len(reads) * len(rounds)
    return attempted, ops_failed, e2e, layer, detail, (ingest["start"], rounds[-1]["end"])


# --------------------------------------------------------------- metrics


# name -> (unit, better) of the traced run's metrics, as BENCHMARK.json
# lists them; a metric a workload does not exercise reads 0.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "registry.import_s": ("s", "lower"),
    "sources.load_table_calls": ("count", "lower"),
    "sources.load_table_s": ("s", "lower"),
    "operators.construct_s": ("s", "lower"),
    "operators.collect_s": ("s", "lower"),
    "operators.jobs": ("count", "lower"),
    "operators.stages": ("count", "lower"),
    "operators.tasks": ("count", "lower"),
    "operators.task_run_s": ("s", "lower"),
    "operators.task_cpu_s": ("s", "lower"),
    "operators.busy_ratio": ("ratio", "higher"),
    "operators.gc_s": ("s", "lower"),
    "operators.spill_mb": ("MB", "lower"),
    "operators.shuffle_write_mb": ("MB", "lower"),
    "operators.shuffle_read_mb": ("MB", "lower"),
    "operators.fetch_wait_s": ("s", "lower"),
    "operators.reconcile_s": ("s", "lower"),
    "streaming.getbatch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.addbatch_s": ("s", "lower"),
    "streaming.walcommit_s": ("s", "lower"),
    "streaming.merge_s": ("s", "lower"),
    "streaming.mv_fold_s": ("s", "lower"),
    "streaming.digest_fold_s": ("s", "lower"),
    "streaming.other_s": ("s", "lower"),
    "streaming.jobs_per_epoch": ("count", "lower"),
    "streaming.tasks_per_epoch": ("count", "lower"),
    "streaming.rewritten_share": ("ratio", "lower"),
    "streaming.merge_attempts": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "streaming.state_files": ("count", "lower"),
    "streaming.read_latest_s": ("s", "lower"),
    "streaming.read_mv_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "trace.uncovered_s": ("s", "lower"),
    "trace.bookkeeping_s": ("s", "lower"),
}
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "events_per_s": "events/s", "read_s": "s",
}


def query_layer_metrics(ops, tracer, cores):
    sp = [r["spark"] for r in ops if "spark" in r]
    n = max(len(ops), 1)

    def tot(key):
        return sum(s[key] for s in sp)

    collect_s = tracer.total("operators.collect")
    task_run_s = tot("executorRunTime") / 1000
    return {
        "sources.load_table_calls": len(tracer.named("sources.load_table")),
        "sources.load_table_s": tracer.total("sources.load_table"),
        "operators.construct_s": tracer.total("operators.construct"),
        "operators.collect_s": collect_s,
        "operators.jobs": tot("jobs") / n,
        "operators.stages": tot("stages") / n,
        "operators.tasks": tot("tasks") / n,
        "operators.task_run_s": task_run_s,
        "operators.task_cpu_s": tot("executorCpuTime") / 1e9,
        "operators.busy_ratio": task_run_s / (collect_s * cores) if collect_s else 0.0,
        "operators.gc_s": tot("jvmGcTime") / 1000,
        "operators.spill_mb": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / MB,
        "operators.shuffle_write_mb": tot("shuffleWriteBytes") / MB,
        "operators.shuffle_read_mb": tot("shuffleReadBytes") / MB,
        "operators.fetch_wait_s": tot("shuffleFetchWaitTime") / 1000,
    }


def _history_path(cfg):
    return os.path.join(cfg["cache_dir"], "history", f"{cfg['workload']}.jsonl")


def _untraced_walls(cfg) -> list[float]:
    """Walls of the untraced runs made in this checkout with the same
    sources and ``--seconds`` (the same code key)."""
    try:
        with open(_history_path(cfg)) as f:
            entries = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
    return [e["wall_s"] for e in entries if e.get("code_key") == cfg["code_key"]]


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer(cfg["trace"])
    workload = cfg["workload"]

    with tracer.span("session.get_session", "session"):
        from scylla_pg_cdc_spark import session

        spark = session.get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("registry.load_all", "registry"):
        from scylla_pg_cdc_spark import registry

        specs = registry.load_all()
    with tracer.span("bench.warmup", "bench"):
        spark.range(1000).selectExpr("sum(id)").collect()
        if workload != "cdc_stream":
            for name in workloads.warmup_queries(specs, cfg["seconds"]):
                specs[name].fn(spark, cfg["warmup_tables_dir"]).collect()
    if workload == "cdc_stream":
        from scylla_pg_cdc_spark.streaming import pipeline

        progress = ProgressLog()
        spark.streams.addListener(progress)

        with tracer.span("bench.warmup_epoch", "bench"):
            pipeline.run_upsert_pipeline(
                spark, cfg["warm_feed_dir"], cfg["warm_work_dir"],
                glob="epoch-*.parquet", **workloads.STREAM_OPTIONS,
            )
        progress.wait_for(2)
    setup_s = time.monotonic() - cfg["t_spawn"]

    counters = None
    if tracer.enabled:
        from scylla_pg_cdc_spark.operators import reconcile
        from scylla_pg_cdc_spark.sources import tables

        counters = SparkCounters(spark)
        tracer.wrap_everywhere(tables.load_table, "sources.load_table", "sources")
        tracer.wrap_everywhere(reconcile.diff_datasets, "operators.diff_datasets", "operators")

    rng = random.Random(cfg["seed"])
    layer = {}
    if workload == "cdc_stream":
        attempted, failed, e2e, layer, detail, window = stream_workload(
            spark, cfg, tracer, counters, progress
        )
        ops = []
    else:
        names = workloads.batch_queries(specs, cfg["seconds"])
        rng.shuffle(names)
        ops, e2e, detail = query_workload(spark, specs, names, cfg, tracer, counters)
        attempted, failed = len(ops), sum(not r["ok"] for r in ops)
        detail["errors"] = [f"{r['op']}: {r['error']}" for r in ops if not r["ok"]]
        op_spans = [s for s in tracer.spans if s["name"] in names]
        window = (op_spans[0]["start"], op_spans[-1]["end"])
    rss = peak_rss_mb() if tracer.enabled else None
    e2e["setup_s"] = setup_s

    if tracer.enabled:
        cores = spark.sparkContext.defaultParallelism
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(layer)
        if ops:
            metrics.update(query_layer_metrics(ops, tracer, cores))
        summary = self_times(tracer.spans, window)
        history = _untraced_walls(cfg)
        untraced = statistics.median(history) if history else None
        summary.update(
            workload=workload,
            seed=cfg["seed"],
            code_key=cfg["code_key"],
            timed_wall_s=e2e["wall_s"],
            window_s=window[1] - window[0],
            bookkeeping_s=tracer.bookkeeping_s,
            untraced_wall_median_s=untraced,
            untraced_runs=len(history),
            # None: no untraced run of the same sources and --seconds
            # was made in this checkout before, so it is unmeasured
            tracing_overhead_s=None if untraced is None else e2e["wall_s"] - untraced,
        )
        metrics.update(
            {
                "session.start_s": tracer.total("session.get_session"),
                "registry.import_s": tracer.total("registry.load_all"),
                "trace.uncovered_s": summary["uncovered_s"],
                "trace.bookkeeping_s": tracer.bookkeeping_s,
                "peak_rss_mb": rss,
            }
        )
        out_dir = os.path.join(cfg["cache_dir"], "trace")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{workload}-seed{cfg['seed']}")
        tracer.write(stem + ".spans.json")
        with open(stem + ".summary.json", "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        detail["trace"] = {"spans": stem + ".spans.json", "summary": stem + ".summary.json"}
    else:
        metrics = e2e
        os.makedirs(os.path.dirname(_history_path(cfg)), exist_ok=True)
        with open(_history_path(cfg), "a") as f:
            entry = {"code_key": cfg["code_key"], "seed": cfg["seed"], "wall_s": e2e["wall_s"]}
            f.write(json.dumps(entry) + "\n")

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": PER_LAYER[k][0] if tracer.enabled else E2E_UNITS[k]}
                    for k, v in sorted(metrics.items())},
    }
    detail["workload"] = workload
    detail["seed"] = cfg["seed"]
    with open(os.path.join(cfg["run_dir"], "detail.json"), "w") as f:
        json.dump(detail, f, sort_keys=True)
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
