"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: http_hot, http_cold (HTTP server + load generator),
stream_ingest, catalog (Spark). Each runs in its own process session
under a private work directory in the checkout (``.perfbench/``). After
the workload process exits — normally, on a failed check or killed on
timeout — this script verifies that no process of that session is left,
deletes the work directory with its store roots, and fails otherwise.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it, prefixed ``detail``, holds the host record (CPU
steal and load over the run), per-operation attempted/failed counts and
per-operation latencies.
"""

from __future__ import annotations

import argparse
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

from common import session_pids  # noqa: E402

WORKLOADS = {
    "http_hot": "http_workload.py",
    "http_cold": "http_workload.py",
    "stream_ingest": "spark_workload.py",
    "catalog": "spark_workload.py",
}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
}

CATALOG_QUERIES = ["lsh_precision_recall", "lsh_band_auc", "textrank_keywords"]

PER_LAYER = {
    **{f"api.{op}_{q}_ms": "ms" for op in ("append", "point_read", "page_read", "listing", "metadata")
       for q in ("p50", "p95")},
    **{f"api.self_{op}_ms": "ms" for op in ("append", "point_read", "page_read", "listing", "metadata")},
    "api.requests": "count",
    "api.server_peak_rss_mb": "MB",
    "auth.verify_calls": "count",
    "auth.signature_checks": "count",
    "auth.verify_busy_s": "s",
    "auth.verify_p50_ms": "ms",
    "auth.verify_p95_ms": "ms",
    "store.append_p50_ms": "ms",
    "store.append_p95_ms": "ms",
    "store.query_p50_ms": "ms",
    "store.query_p95_ms": "ms",
    "store.get_event_p50_ms": "ms",
    "store.streams_p50_ms": "ms",
    "store.get_stream_p50_ms": "ms",
    "store.busy_s": "s",
    "store.files_per_stream_mean": "count",
    "store.files_per_stream_max": "count",
    "store.files_written": "count",
    "store.bytes_on_disk_mb": "MB",
    "store.bytes_per_user_byte": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms",
    "streaming.add_batch_s": "s",
    "streaming.last_to_first_batch_ratio": "ratio",
    "streaming.rows_in": "count",
    "streaming.rows_appended": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    **{f"query.{q}.{m}": u for q in CATALOG_QUERIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"))},
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.retained_rdds_max": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "replay.s": "s",
    "replay.files_scanned": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
}

# the worst case (timeout, kill, leftover wait, kill) stays under 170 s
CHILD_TIMEOUT_S = 140
LEFTOVER_WAIT_S = 15


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def wait_session_empty(sid: int, timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    while True:
        left = session_pids(sid)
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def kill_session(sid: int, sig: int) -> None:
    for pid in session_pids(sid):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hematite_spark", "__init__.py")):
        fail(f"no hematite_spark package under {ROOT}: nothing to benchmark")

    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    result_path = os.path.join(workdir, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=os.path.join(workdir, "tmp"),
    )
    cmd = [
        sys.executable, os.path.join(HERE, WORKLOADS[args.workload]),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--workdir", workdir, "--result", result_path,
    ]
    problems = []
    result = None
    # a SIGTERM to this command takes the workload down too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        problems.append(f"{args.workload} timed out after {CHILD_TIMEOUT_S} s")
        kill_session(child.pid, signal.SIGTERM)
        try:
            child.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass
        kill_session(child.pid, signal.SIGKILL)
        rc = child.wait()
    finally:
        if child.poll() is None:  # interrupted: take the session down with us
            kill_session(child.pid, signal.SIGKILL)
            child.wait()
        left = wait_session_empty(child.pid, LEFTOVER_WAIT_S)
        if left:
            problems.append(f"processes left running after the workload: {left}")
            kill_session(child.pid, signal.SIGKILL)
            wait_session_empty(child.pid, 5)
        if os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.exists(workdir):
            problems.append(f"could not delete the work directory {workdir}")
        try:
            os.rmdir(base)  # only when no other run is using it
        except OSError:
            pass
    if rc != 0 and not problems:
        problems.append(f"{args.workload} exited with code {rc}")
    if result is None and not problems:
        problems.append("the workload wrote no result")
    if problems:
        fail("; ".join(problems))

    spec = PER_LAYER if args.trace else END_TO_END
    raw = result["metrics"]
    unknown = sorted(set(raw) - set(spec))
    if unknown:
        fail(f"unexpected metrics {unknown}")
    if not args.trace:
        missing = [m for m in spec if not raw.get(m)]
        if missing:
            fail(f"end-to-end metrics missing or zero: {missing}")
    # a layer the workload does not call reports zero calls and zero time
    metrics = {m: {"value": float(raw.get(m, 0.0)), "unit": u} for m, u in spec.items()}
    print("detail " + json.dumps(result["detail"], sort_keys=True))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
