"""Engine benchmark: one command per workload, metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is a fresh worker process
(``worker.py``) pinned with ``taskset`` to at most four of the cores this
process may use, running Spark at ``local[2]`` inside them, with
``PYTHONPATH`` set so Spark's Python workers import the engine. Everything
the run writes (WAL cache, lakes, Spark scratch, event logs, span dumps)
stays under ``.perfbench/`` in the working directory.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (from one extra traced cycle, plus an ingest at ``local[1]`` for
``scaling_efficiency``). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation succeeded and every output matched the oracle.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wls  # noqa: E402

MAX_CORES = 4
# Spark task threads (``local[N]``, N shuffle partitions). Two leave the
# other pinned cores to the driver's Python, the Python workers and the
# JVM's JIT and GC threads: at local[4] those competed with the tasks, and
# a run was both slower and less repeatable (every stage waits for its
# slowest task, and one busy core delayed each stage).
SPARK_THREADS = 2
WORKER_TIMEOUT_S = 175

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "consume_events_per_s": "1/s",
    "epoch_commit_s.p50": "s",
    "state_read_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


PER_LAYER = {
    "sources.plan_s": "s",
    "sources.wal_bytes": "bytes",
    "sources.wal_files": "count",
    "operators.apply_s": "s",
    "operators.merge_write_s": "s",
    "operators.rows_in": "count",
    "operators.rows_applied": "count",
    "operators.fold_ratio": "ratio",
    "operators.task_skew": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_write_s": "s",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.spill_bytes": "bytes",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.stages": "count",
    "lake.commit_s": "s",
    "lake.commits": "count",
    "lake.commit_retries": "count",
    "lake.snapshot_bytes": "bytes",
    "lake.compact_s": "s",
    "lake.compactions": "count",
    "lake.compact_bytes_rewritten": "bytes",
    "lake.read_s": "s",
    "lake.read_files": "count",
    "lake.unmerged_buckets": "count",
    "lake.changes_typed_s": "s",
    "plans.loop_overhead_s": "s",
    "plans.view_merge_s": "s",
    "plans.view_groups_written": "count",
    "view_refresh_s.p50": "s",
    "layer.sources_self_s": "s",
    "layer.operators_self_s": "s",
    "layer.lake_self_s": "s",
    "layer.plans_self_s": "s",
    "layer.unattributed_s": "s",
    "trace.attributed_share": "ratio",
    "trace.overhead_s": "s",
    "scaling_efficiency": "ratio",
    "epoch_commit.samples": "count",
    "ops_failed_ratio": "ratio",
}


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            if os.getpgid(int(d)) == pgid:
                return True
        except OSError:
            continue
    return False


def run_worker(root: str, args: list[str], cores: list[int], timeout: float) -> dict | None:
    """Run ``worker.py`` pinned to ``cores`` in its own process group; stop
    the whole group (the JVM and Python workers included) before returning."""
    work = os.path.join(root, ".perfbench")
    out = os.path.join(work, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env["PYTHONPATH"] = root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        "taskset", "-c", ",".join(map(str, cores)),
        sys.executable, os.path.join(HERE, "worker.py"),
        *args, "--threads", str(min(SPARK_THREADS, len(cores))), "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"worker timed out after {timeout:.0f} s", file=sys.stderr)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.time() + 20
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    if proc.returncode not in (0, -signal.SIGKILL) or not os.path.exists(out):
        return None
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(wls.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its worker group (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cnpj_data_pipeline_spark")):
        print("run from the repository root: cnpj_data_pipeline_spark/ not found", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    # runs in one checkout share the work directory: one at a time
    lock = open(os.path.join(root, ".perfbench", "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cores = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    res = run_worker(root, args, cores, WORKER_TIMEOUT_S)
    if res is None:
        print("worker failed", file=sys.stderr)
        return 1
    values = dict(res.get("e2e") or {}, **(res.get("layers") or {}))
    values["ops_failed_ratio"] = res["failed"] / res["attempted"]
    units = PER_LAYER if a.trace else END_TO_END
    metrics = {k: values.get(k) for k in units}
    for f in res.get("failures", []):
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({k: v for k, v in res.items() if k not in ("layers", "failures")}), file=sys.stderr)
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0 if out["correct"] and all(v is not None for v in metrics.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
