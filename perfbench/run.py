"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. This process makes
the inputs (cached tables, the seeded CDC feed), starts the workload in
a fresh child process with its own scratch directory, waits for the
child and every process it started (the JVM and its Python workers),
deletes the scratch directory and prints the result as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "scylla_pg_cdc_spark"
CACHE = os.path.join(ROOT, ".perfbench_cache")
DEADLINE_S = 170  # the run must end within 180 s
GRACE_S = 20  # time the JVM gets to exit after the child returns


def code_key(seconds: int) -> str:
    """Digest of the package's and the benchmark's Python sources and of
    ``seconds``: runs with the same key measured the same code and work."""
    h = hashlib.sha256(f"seconds={seconds}\n".encode())
    for top in (PACKAGE, os.path.basename(HERE)):
        for dirpath, _dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "comm)": state, ppid, pgrp, ...; zombies are reaped
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the child's group to end: first on its
    own (the JVM exits when the worker's pipe to it closes), then by signal."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_members(pgid):
                return
            time.sleep(0.1)
    if _group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} did not exit")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # on SIGTERM, unwind through the finally blocks that stop the worker's
    # process group and delete the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(CACHE, exist_ok=True)
    tables_dir = datagen.ensure_tables(CACHE, workloads.TABLES_SF)
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}-{time.time_ns()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "tables_dir": tables_dir,
        "warmup_tables_dir": datagen.ensure_tables(CACHE, workloads.WARMUP_SF),
        "run_dir": run_dir,
        "cache_dir": CACHE,
        "code_key": code_key(args.seconds),
        "result_path": os.path.join(run_dir, "result.json"),
    }
    try:
        if args.workload == "cdc_stream":
            cfg.update(workloads.prepare_stream_inputs(run_dir, args.seed))
        cpus = str(len(os.sched_getaffinity(0)))
        env = dict(
            os.environ,
            PYTHONPATH=ROOT + os.pathsep + HERE,
            TMPDIR=tmp_dir,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_dir}",
            SPARK_GRAFT_CPUS=cpus,
            PYSPARK_PYTHON=sys.executable,
        )
        cfg_path = os.path.join(run_dir, "config.json")
        cfg["t_spawn"] = time.monotonic()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "wb") as log:
            child = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=run_dir,
                env=env,
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            rc = None
            try:
                rc = child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                pass
            finally:
                _stop_group(child.pid, GRACE_S if rc is not None else 0)
                child.wait()
        if rc != 0 or not os.path.exists(cfg["result_path"]):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(cfg["result_path"]) as f:
            result = json.load(f)
        with open(os.path.join(run_dir, "detail.json")) as f:
            detail = f.read()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(detail)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
