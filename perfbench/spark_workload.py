"""Spark workloads: streaming ingest with replay, and the query catalog.

``stream_ingest``: seeded CloudEvents are written as JSON-lines wire
files, one file per micro-batch; ``stream_append_to_store`` streams them
into an empty store (library defaults: one parquet file per stream per
batch, no compaction). A fixed set of Spark reads then replays the
store: a per-stream metadata aggregate and per-type counts over
``events_df()``, and time-travel prefix reads through
``read_df(until_revision=)``. DuckDB over the wire files and over the
store's parquet files checks every stream's ids in order and every
replay result.

``catalog``: three of the ten slowest queries of ``bench.py``'s headline
list, from ``__spark_entry__.queries()``, over the sf0.01 tables shipped
in ``perfbench/data``. Set-up runs each query once and collects its
rows, which DuckDB's run of ``oracle_sql()`` over the same tables then
checks; the timed passes build each query and materialise every output
column through the noop sink, as bench.py does.

Both measure whole rounds of fixed work (an ingest and its replay; a
pass over the queries); ``--seconds`` sets how many, from the round's
nominal length on a 4-core host, so every run of one setting does the
same work.

Both run Spark at ``local[nproc]`` with a configuration directory of
their own (temporary directories inside the work directory; with
``--trace 1`` also Spark's event log).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import time
from datetime import datetime

from common import ROOT, HostWindow, Outcome, TreeMemory, median, ncpu, pct, write_result
from checks import check_stream_order, compare_tables

from hematite_spark.queries._shared import release_all_checkpoints

DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
CATALOG_PASS_S = 6.0
INGEST_ROUND_S = 15.0
# One query per cost shape that ROADMAP's open items work on: an LSH
# audit whose execution outweighs its build, an LSH audit built from
# checkpoint-and-count barrier jobs, and an iterative superstep loop. The
# whole headline list does not fit a run: its first pass alone takes
# over a minute on a 4-core host.
CATALOG = ["lsh_precision_recall", "lsh_band_auc", "textrank_keywords"]

INGEST_TENANTS = 15
INGEST_STREAMS_PER_TENANT = 4
INGEST_BATCHES = 8
INGEST_EVENTS_PER_BATCH = 1500
PREFIX_READS = 4
TYPES = ["page.viewed", "cart.added", "order.placed", "order.paid", "item.returned", "user.seen"]
WIRE_SCHEMA = (
    "specversion string, id string, source string, type string, time string, "
    "datacontenttype string, data string, user_id string, stream_id string, ingest_order long"
)


# -- session ---------------------------------------------------------------


def configure(workdir: str, trace: bool) -> str:
    """Spark configuration directory owned by the benchmark; keeps every
    temporary file inside the work directory."""
    conf_dir = os.path.join(workdir, "spark-conf")
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    events = os.path.join(workdir, "eventlog")
    for d in (conf_dir, tmp, local, events):
        os.makedirs(d, exist_ok=True)
    lines = [f"spark.local.dir {local}"]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update(
        # every JVM (Spark's launcher and Spark itself): temporary files
        # here, and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=local,
        SPARK_WAREHOUSE_DIR=os.path.join(workdir, "warehouse"),
        SPARK_GRAFT_CPUS=str(ncpu()),
    )
    return events


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class JobCounter:
    """Jobs, stages and tasks of one job group, from the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out, wall

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        return len(jobs), stages, tasks


def rounds_for(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def event_log_totals(events_dir: str, groups: set[str]) -> dict[str, float]:
    """Task metrics summed over the jobs of ``groups``, from Spark's JSON
    event log."""
    stage_group: dict[int, str] = {}
    totals = {"shuffle_write": 0, "shuffle_read": 0, "spill": 0, "gc_ms": 0, "run_ms": 0}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(events_dir) for f in fs
                   if f.startswith(("events_", "local-", "app-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev.get("Stage ID")) not in groups:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    totals["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    totals["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    totals["run_ms"] += m.get("Executor Run Time", 0)
    return {
        "spark.shuffle_write_mb": totals["shuffle_write"] / 2**20,
        "spark.shuffle_read_mb": totals["shuffle_read"] / 2**20,
        "spark.spill_mb": totals["spill"] / 2**20,
        "spark.gc_s": totals["gc_ms"] / 1000,
        "spark.executor_run_s": totals["run_ms"] / 1000,
    }


# -- stream_ingest -----------------------------------------------------------


def make_wire_files(seed: int, wire_dir: str) -> tuple[int, int]:
    """One JSON-lines file of CloudEvents per micro-batch. Returns
    (events, bytes of user data)."""
    rng = random.Random(f"{seed}-ingest")
    streams = [
        (f"tenant-{t:02d}", f"stream-{s}")
        for t in range(INGEST_TENANTS) for s in range(INGEST_STREAMS_PER_TENANT)
    ]
    os.makedirs(wire_dir)
    order = 0
    user_bytes = 0
    for b in range(INGEST_BATCHES):
        lines = []
        for _ in range(INGEST_EVENTS_PER_BATCH):
            user, stream = rng.choice(streams)
            data = {"v": rng.randint(0, 10**6), "note": "x" * rng.randint(10, 200)}
            ev = {
                "specversion": "1.0",
                "id": f"{rng.getrandbits(96):024x}",
                "source": f"/shop/{user}",
                "type": rng.choice(TYPES),
                "time": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime(1767225600 + order * 3 + rng.randint(0, 2))),
                "datacontenttype": "application/json",
                "data": json.dumps(data, sort_keys=True),
                "user_id": user,
                "stream_id": stream,
                "ingest_order": order,
            }
            order += 1
            line = json.dumps(ev)
            user_bytes += len(line)
            lines.append(line)
        with open(os.path.join(wire_dir, f"batch-{b:03d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return order, user_bytes


def ingest_round(spark, jobs: JobCounter, wire_dir: str, root: str, checkpoint: str,
                 rng: random.Random, round_id: int, timings: dict):
    """Stream the wire files into an empty store, then replay it."""
    from pyspark.sql import functions as F

    from hematite_spark.store import EventStore
    from hematite_spark.streaming import stream_append_to_store

    store = EventStore(spark, root)
    source = (
        spark.readStream.schema(WIRE_SCHEMA).option("maxFilesPerTrigger", 1).json(wire_dir)
    )

    started = time.time()

    def ingest():
        q = stream_append_to_store(source, store, checkpoint)
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        return q

    # micro-batches run in the query's own thread, under its run id as job group
    q, ingest_wall = jobs.run(f"ingest-{round_id}", ingest)
    progress = q.recentProgress
    timings["groups"].append(str(q.runId))
    timings["ingest_s"].append(ingest_wall)
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in progress if p["numInputRows"]]
    add_ms = [p["durationMs"].get("addBatch", 0) for p in progress if p["numInputRows"]]
    timings["batch_ms"].extend(batch_ms)
    # an event is in the store once its micro-batch commits; the whole
    # input is there when the query starts, so this is backlog latency
    for p in progress:
        if p["numInputRows"]:
            begun = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            done_ms = (begun - started) * 1000 + p["durationMs"].get("triggerExecution", 0)
            timings["event_ms"].extend([done_ms] * p["numInputRows"])
    timings["add_batch_ratio"].append(add_ms[-1] / add_ms[0] if add_ms and add_ms[0] else 0.0)
    timings["add_batch_s"].append(sum(add_ms) / 1000)
    timings["rows_in"] += sum(p["numInputRows"] for p in progress)
    timings["files_scanned"] = sum(len([f for f in fs if f.endswith(".parquet")])
                                   for _, _, fs in os.walk(root))

    # replay: each read is one timed operation
    replay = {}
    timings["groups"].append(f"replay-{round_id}")

    def read(name, fn):
        out, wall = jobs.run(f"replay-{round_id}", fn)
        timings["replay_op_ms"].append(wall * 1000)
        replay[name] = out

    ev = store.events_df()
    read("metadata", lambda: [tuple(r) for r in ev.groupBy("user_id", "stream_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("revision").alias("max_rev"),
        F.min(F.unix_timestamp("time")).alias("t_min"),
        F.max(F.unix_timestamp("time")).alias("t_max")).collect()])
    read("types", lambda: [tuple(r) for r in ev.groupBy("type").count().collect()])
    keys = sorted({(r[0], r[1]) for r in replay["metadata"]})
    prefixes = []
    for user, stream in rng.sample(keys, min(PREFIX_READS, len(keys))):
        n = next(r[2] for r in replay["metadata"] if (r[0], r[1]) == (user, stream)) // 2
        read(f"prefix:{user}/{stream}", lambda u=user, s=stream, n=n: [
            r[0] for r in store.read_df(u, s, until_revision=n)
            .orderBy("revision").select("id").collect()])
        prefixes.append((user, stream, n))
    timings["replay_s"].append(sum(timings["replay_op_ms"][-(2 + len(prefixes)):]) / 1000)
    return replay, prefixes


def check_ingest(wire_dir: str, root: str, replay: dict, prefixes: list, outcome: Outcome) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW wire AS SELECT * FROM read_json('{wire_dir}/*.json', format='newline_delimited',"
        " columns={specversion:'VARCHAR', id:'VARCHAR', source:'VARCHAR', type:'VARCHAR',"
        " time:'VARCHAR', datacontenttype:'VARCHAR', data:'VARCHAR', user_id:'VARCHAR',"
        " stream_id:'VARCHAR', ingest_order:'BIGINT'})"
    )
    con.execute(
        f"CREATE VIEW stored AS SELECT * FROM read_parquet('{root}/*/*/*.parquet',"
        " hive_partitioning=true)"
    )
    want: dict[tuple, list[str]] = {}
    for user, stream, eid in con.execute(
            "SELECT user_id, stream_id, id FROM wire ORDER BY ingest_order").fetchall():
        want.setdefault((user, stream), []).append(eid)
    got: dict[tuple, list[str]] = {}
    revs_ok = True
    for user, stream, eid, rev in con.execute(
            "SELECT user_id, stream_id, id, revision FROM stored"
            " ORDER BY user_id, stream_id, revision").fetchall():
        ids = got.setdefault((user, stream), [])
        revs_ok &= rev == len(ids)
        ids.append(eid)
    # every event counts as one ingest operation, judged with its stream
    for key, ids in want.items():
        problem = check_stream_order({key: ids}, {key: got.get(key, [])})
        outcome.count("ingest_event", problem is None, n=len(ids))
        if problem:
            outcome.mismatch(f"ingest: {problem}")
    extra = sorted(set(got) - set(want))
    if extra:
        outcome.mismatch(f"ingest: unexpected streams {extra[:3]}")
    if not revs_ok:
        outcome.mismatch("ingest: stored revisions are not gapless from 0")

    meta_sql = ("SELECT user_id, stream_id, count(*) AS n, count(*) - 1 AS max_rev,"
                " min(epoch(time::TIMESTAMPTZ))::BIGINT AS t_min,"
                " max(epoch(time::TIMESTAMPTZ))::BIGINT AS t_max FROM wire GROUP BY ALL")
    cols = ["user_id", "stream_id", "n", "max_rev", "t_min", "t_max"]
    for name, sql, got_rows, c in (
        ("metadata", meta_sql, replay["metadata"], cols),
        ("types", "SELECT type, count(*) AS count FROM wire GROUP BY ALL", replay["types"],
         ["type", "count"]),
    ):
        problem = compare_tables(c, got_rows, c, con.execute(sql).fetchall())
        outcome.count(f"replay_{name}", problem is None)
        if problem:
            outcome.mismatch(f"replay {name}: {problem}")
    for user, stream, n in prefixes:
        problem = check_stream_order({(user, stream): want[(user, stream)][:n]},
                                     {(user, stream): replay[f"prefix:{user}/{stream}"]})
        outcome.count("replay_prefix", problem is None)
        if problem:
            outcome.mismatch(f"replay prefix: {problem}")
    con.close()


def run_ingest(spark, jobs: JobCounter, args, outcome: Outcome) -> tuple[dict, dict]:
    wire_dir = os.path.join(args.workdir, "wire")
    n_events, user_bytes = make_wire_files(args.seed, wire_dir)
    rng = random.Random(f"{args.seed}-replay")
    timings = {"ingest_s": [], "replay_s": [], "batch_ms": [], "add_batch_s": [],
               "add_batch_ratio": [], "replay_op_ms": [], "event_ms": [], "groups": [], "rows_in": 0,
               "files_scanned": 0}
    rounds = rounds_for(args.seconds, INGEST_ROUND_S)
    for r in range(rounds):
        if r:
            shutil.rmtree(root)
        root = os.path.join(args.workdir, f"store-{r}")
        replay, prefixes = ingest_round(
            spark, jobs, wire_dir, root, os.path.join(args.workdir, f"checkpoint-{r}"),
            rng, r, timings)
        check_ingest(wire_dir, root, replay, prefixes, outcome)
    work_s = sum(timings["ingest_s"]) + sum(timings["replay_s"])
    e2e = {
        "ops_per_s": n_events * rounds / work_s,
        "op_p50_ms": median(timings["event_ms"]),
    }
    stored = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root)
                 for f in fs if f.endswith(".parquet"))
    per_file = [len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(root)]
    per_file = [n for n in per_file if n]
    layers = {
        "streaming.batches": len(timings["batch_ms"]) / rounds,
        "streaming.batch_p50_ms": median(timings["batch_ms"]),
        "streaming.batch_max_ms": max(timings["batch_ms"]),
        "streaming.add_batch_s": median(timings["add_batch_s"]),
        "streaming.last_to_first_batch_ratio": median(timings["add_batch_ratio"]),
        "streaming.rows_in": timings["rows_in"] / rounds,
        "streaming.rows_appended": sum(file_rows(root)),
        "store.files_written": sum(per_file),
        "store.files_per_stream_mean": sum(per_file) / max(1, len(per_file)),
        "store.files_per_stream_max": max(per_file),
        "store.bytes_on_disk_mb": stored / 2**20,
        "store.bytes_per_user_byte": stored / user_bytes,
        "replay.s": median(timings["replay_s"]),
        "replay.files_scanned": timings["files_scanned"],
        "spark.exec_s": work_s / rounds,
        **job_totals(jobs, timings["groups"], rounds),
    }
    detail = {
        "rounds": rounds,
        "events": n_events,
        "ingest_s": [round(x, 3) for x in timings["ingest_s"]],
        "replay_s": [round(x, 3) for x in timings["replay_s"]],
        "batch_ms": timings["batch_ms"],
        "op_p95_ms": round(pct(timings["event_ms"], 95), 3),
        "store_bytes_per_user_byte": round(stored / user_bytes, 4),
    }
    return e2e, {"layers": layers, "detail": detail, "groups": set(timings["groups"]),
                 "rounds": rounds}


def job_totals(jobs: JobCounter, groups: list[str], rounds: int) -> dict[str, float]:
    totals = [0, 0, 0]
    for g in groups:
        totals = [a + b for a, b in zip(totals, jobs.counts(g))]
    return {"spark.exec_jobs": totals[0] / rounds, "spark.stages": totals[1] / rounds,
            "spark.tasks": totals[2] / rounds}


def file_rows(root: str) -> list[int]:
    import pyarrow.parquet as pq

    return [pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]


def warm_ingest(spark, workdir: str) -> None:
    """One small ingest and replay into a throw-away store, so Python
    workers and the streaming path start before timing."""
    from hematite_spark.store import EventStore
    from hematite_spark.streaming import stream_append_to_store

    wire = os.path.join(workdir, "warm-wire")
    os.makedirs(wire)
    with open(os.path.join(wire, "warm.json"), "w") as f:
        for i in range(200):
            f.write(json.dumps({
                "specversion": "1.0", "id": f"w{i}", "source": "/warm", "type": "warm",
                "time": "2026-01-01T00:00:00Z", "data": "{}", "user_id": "warm",
                "stream_id": f"s{i % 8}", "ingest_order": i}) + "\n")
    root = os.path.join(workdir, "warm-store")
    store = EventStore(spark, root)
    q = stream_append_to_store(
        spark.readStream.schema(WIRE_SCHEMA).json(wire), store, os.path.join(workdir, "warm-ckpt"))
    q.awaitTermination()
    store.events_df().groupBy("stream_id").count().collect()
    shutil.rmtree(root)


# -- catalog ---------------------------------------------------------------


def warm_catalog(spark, qs: dict) -> dict:
    """Run every query once with its rows collected: code generation and
    Python workers are in place before timing, and the rows go to the
    oracle check."""
    results = {}
    for name in CATALOG:
        df = qs[name](spark, DATA_DIR)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
        del df
        gc.collect()
        release_all_checkpoints(spark)
    return results


def check_catalog(results: dict, oracle: dict, outcome: Outcome) -> None:
    import duckdb

    con = duckdb.connect()
    for t in sorted(os.listdir(DATA_DIR)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{DATA_DIR}/{t}'")
    for name in CATALOG:
        res = con.execute(oracle[name])
        want_cols = [d[0] for d in res.description]
        cols, rows = results[name]
        problem = compare_tables(list(cols), rows, want_cols, res.fetchall())
        outcome.count(f"oracle:{name}", problem is None)
        if problem:
            outcome.mismatch(f"{name}: {problem}")
    con.close()


def run_catalog(spark, jobs: JobCounter, args, qs: dict, results: dict,
                outcome: Outcome) -> tuple[dict, dict]:
    """Timed passes. Each query's output rows are counted on their way to
    the noop sink, and must number as many as the oracle-checked rows of
    its first run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    per_query: dict[str, dict[str, list[float]]] = {n: {"build": [], "exec": []} for n in CATALOG}
    walls: list[float] = []
    pass_s: list[float] = []
    retained = 0
    rounds = rounds_for(args.seconds, CATALOG_PASS_S)
    for r in range(rounds):
        t0 = time.perf_counter()
        for name in CATALOG:
            df, build = jobs.run(f"build:{name}:{r}", lambda: qs[name](spark, DATA_DIR))
            seen = Observation(f"rows:{name}:{r}")
            _, exe = jobs.run(f"exec:{name}:{r}", lambda: df.observe(
                seen, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save())
            per_query[name]["build"].append(build)
            per_query[name]["exec"].append(exe)
            walls.append((build + exe) * 1000)
            n, want = seen.get["n"], len(results[name][1])
            outcome.count("query", n == want)
            if n != want:
                outcome.mismatch(f"{name} pass {r}: {n} rows, expected {want}")
            retained = max(retained, persistent_rdds(spark))
            del df
            gc.collect()
            release_all_checkpoints(spark)
        pass_s.append(time.perf_counter() - t0)
    # each query's latency is its median over the passes
    per_query_ms = [
        median([(b + e) * 1000 for b, e in zip(per_query[n]["build"], per_query[n]["exec"])])
        for n in CATALOG
    ]
    e2e = {
        "ops_per_s": len(walls) / sum(w / 1000 for w in walls),
        "op_p50_ms": median(per_query_ms),
    }
    layers: dict[str, float] = {"spark.retained_rdds_max": retained}
    build_jobs = exec_jobs = stages = tasks = 0
    for name in CATALOG:
        bj = bs = bt = ej = es = et = 0
        for r in range(rounds):
            j, s, t = jobs.counts(f"build:{name}:{r}")
            bj, bs, bt = bj + j, bs + s, bt + t
            j, s, t = jobs.counts(f"exec:{name}:{r}")
            ej, es, et = ej + j, es + s, et + t
        layers[f"query.{name}.build_s"] = median(per_query[name]["build"])
        layers[f"query.{name}.exec_s"] = median(per_query[name]["exec"])
        layers[f"query.{name}.build_jobs"] = bj / rounds
        build_jobs += bj
        exec_jobs += ej
        stages += bs + es
        tasks += bt + et
    layers["queries.build_s"] = sum(median(per_query[n]["build"]) for n in CATALOG)
    layers["queries.build_jobs"] = build_jobs / rounds
    layers["spark.exec_s"] = sum(median(per_query[n]["exec"]) for n in CATALOG)
    layers["spark.exec_jobs"] = exec_jobs / rounds
    layers["spark.stages"] = stages / rounds
    layers["spark.tasks"] = tasks / rounds
    detail = {
        "rounds": rounds,
        "pass_s": [round(x, 3) for x in pass_s],
        "query_s": dict(zip(CATALOG, (round(ms / 1000, 3) for ms in per_query_ms))),
        "op_p95_ms": round(pct(per_query_ms, 95), 3),
    }
    groups = {f"{k}:{n}:{r}" for k in ("build", "exec") for n in CATALOG for r in range(rounds)}
    return e2e, {"layers": layers, "detail": detail, "groups": groups, "rounds": rounds}


# -- main --------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["stream_ingest", "catalog"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    events_dir = configure(args.workdir, bool(args.trace))
    outcome = Outcome()

    mem = TreeMemory()
    if args.trace:
        mem.start()
    try:
        t0 = time.perf_counter()
        from hematite_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        try:
            jobs = JobCounter(spark)
            t1 = time.perf_counter()
            if args.workload == "catalog":
                import __spark_entry__ as entry

                qs = entry.queries()
                results = warm_catalog(spark, qs)
                warm_s = time.perf_counter() - t1
                check_catalog(results, entry.oracle_sql(), outcome)
                host = HostWindow()
                e2e, extra = run_catalog(spark, jobs, args, qs, results, outcome)
            else:
                warm_ingest(spark, args.workdir)
                warm_s = time.perf_counter() - t1
                host = HostWindow()
                e2e, extra = run_ingest(spark, jobs, args, outcome)
            host_rec = host.record()
        finally:
            stop_spark(spark)
    finally:
        mem.stop()
    metrics = {"setup_s": start_s + warm_s, **e2e}
    if args.trace:
        extra["detail"]["end_to_end_traced"] = metrics
        metrics = dict(extra["layers"])
        metrics["session.peak_rss_mb"] = mem.peak_mb
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warm_s
        totals = event_log_totals(events_dir, extra["groups"])
        metrics.update({k: v / extra["rounds"] for k, v in totals.items()})
    write_result(args.result, outcome, metrics, {"host": host_rec, **extra["detail"]})


if __name__ == "__main__":
    main()
