"""HTTP workloads: a closed-loop load generator against the server
process (``http_server.py``).

``http_hot``: each client is its own tenant with one stream, grown to
1,000 events (one parquet file each) through ``EventStore.append``
before the server starts. Clients repeat a fixed round of 11 requests:
one append carrying the exact expected revision, then five point reads
and five 50-event page reads in a seeded order; the reference's
post-and-read iteration has the same 1 : 10 ratio of appends to reads.
Every token hits the verifier's cache.

``http_cold``: 2,048 tenants, about twice the verifier's 1,024-token
cache, each with a few short streams. Every tenant starts with one
stream of two events, written through the library before the server
starts. Clients repeat a round of five requests, one of each operation
in a seeded order, each for a seeded-random tenant of their own:
single-event append (``expected_revision=any``), point read, 10-event
page read, stream listing (``GET /streams?sort=``) and stream metadata.

The shares of operation types are fixed by the round and every client
stops at a round's end, so runs of a faster or slower program are
medians over the same mix. Every client owns its tenants, so the
generator's ledger is exact. One keep-alive connection per client,
``TCP_NODELAY`` set, each request written in one ``send``.
"""

from __future__ import annotations

import argparse
import bisect
import http.client
import json
import multiprocessing
import os
import random
import socket
import subprocess
import sys
import threading
import time
import uuid
from urllib.parse import quote

from common import ROOT, HostWindow, Outcome, median, ncpu, pct, write_result
from checks import (
    Ledger,
    check_append,
    check_events,
    check_listing,
    check_metadata,
    check_point,
)
from hematite_spark.api import es384
from hematite_spark.store import EventStore

ISSUER = "perfbench"
AUDIENCE = "hematite"
KID = "perfbench-1"
SERVER = os.path.join(ROOT, "perfbench", "http_server.py")
SETUP_REPEATS = 3

HOT_EVENTS = 1000  # events per stream before the server starts
HOT_READS = ["point_read"] * 5 + ["page_read"] * 5  # per append
HOT_PAGE = 50

COLD_TENANTS = 2048
COLD_STREAMS = 3
COLD_PAGE = 10
COLD_ROUND = ["append", "point_read", "page_read", "listing", "metadata"]
SORTS = ["id", "-id", "revision", "-revision", "usage", "-usage", "last_modified", "-last_modified"]


def make_event(rng: random.Random, tenant: str, seq: int, data: bool) -> dict:
    """A minimal CloudEvent (``specversion``, ``type``, uuid ``id``,
    ``source``), as the reference's load scripts post. With ``data``
    it also carries a JSON object of about 100 bytes."""
    ev = {
        "specversion": "1.0",
        "type": "com.example.perfbench",
        "id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
        "source": f"/perfbench/{tenant}",
    }
    if data:
        ev["datacontenttype"] = "application/json"
        ev["data"] = {"seq": seq, "amount": rng.randrange(10**6),
                      "note": "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=48))}
    return ev


def mint(priv: int, tenant: str) -> str:
    return es384.mint_token(priv, {"sub": tenant, "iss": ISSUER, "aud": AUDIENCE}, kid=KID)


# -- server process ----------------------------------------------------------


class ServerProcess:
    def __init__(self, root: str, jwks_path: str, spans_path: str, trace: int) -> None:
        self.spans_path = spans_path
        self.proc = subprocess.Popen(
            [sys.executable, SERVER, "--root", root, "--jwks", jwks_path,
             "--spans-out", spans_path, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            self.stop()
            raise RuntimeError(f"server did not start: {line!r}")
        self.port = int(line.split()[1])

    def wait_healthy(self, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        while True:
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                conn.request("GET", "/health")
                resp = conn.getresponse()
                resp.read()
                conn.close()
                if resp.status == 200:
                    return
            except OSError:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.01)

    def stop(self) -> dict:
        """Close stdin, wait for exit, return what the server wrote out."""
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            raise
        if os.path.exists(self.spans_path):
            with open(self.spans_path) as f:
                return json.load(f)
        return {}


# -- client ------------------------------------------------------------------


class Client:
    """One closed-loop client: one keep-alive connection, one tenant set."""

    def __init__(self, idx: int, port: int, tokens: dict, ledger: Ledger, outcome: Outcome,
                 rng: random.Random, data: bool) -> None:
        self.idx = idx
        self.port = port
        self.tokens = tokens
        self.ledger = ledger
        self.outcome = outcome
        self.rng = rng
        self.data = data  # appends carry a ``data`` payload
        self.record = True  # False during warm-up: checked, not timed
        self.samples: list[tuple[str, float, float]] = []  # (op, start, end)
        self.conn: http.client.HTTPConnection | None = None
        self.seq = 0

    def _connect(self) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        self.conn.connect()
        self.conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def request(self, op: str, method: str, path: str, tenant: str, body: bytes | None = None):
        """Send one request, time it, return (status, decoded body)."""
        if self.conn is None:
            self._connect()
        headers = {"Authorization": f"Bearer {self.tokens[tenant]}"}
        if body is not None:
            headers["Content-Type"] = "application/json"
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body, headers=headers)
            resp = self.conn.getresponse()
            raw = resp.read()
        except (OSError, http.client.HTTPException) as exc:
            self.close()
            self.outcome.count(op, False)
            return None, str(exc)
        t1 = time.perf_counter()
        if self.record:
            self.samples.append((op, t0, t1))
        try:
            return resp.status, json.loads(raw) if raw else None
        except ValueError:
            return resp.status, raw

    def _judge(self, op: str, status, problem: str | None) -> None:
        """A wrong status fails the operation; a wrong body on the right
        status makes the run incorrect."""
        if status is None:
            return  # transport failure, already counted
        ok = status in (200, 201)
        self.outcome.count(op, ok)
        if ok and problem:
            self.outcome.mismatch(f"client {self.idx} {op}: {problem}")

    # operations -------------------------------------------------------

    def append(self, tenant: str, stream: str, exact: bool) -> None:
        events = self.ledger.events(tenant, stream)
        ev = make_event(self.rng, tenant, self.seq, self.data)
        self.seq += 1
        expected = str(len(events)) if exact else "any"
        status, body = self.request(
            "append", "POST", f"/streams/{quote(stream)}/events?expected_revision={expected}",
            tenant, json.dumps(ev).encode())
        problem = check_append(len(events), status, body) if status is not None else None
        if status == 201:
            events.append(ev)
        self._judge("append", status, problem)

    def point_read(self, tenant: str, stream: str) -> None:
        events = self.ledger.events(tenant, stream)
        r = self.rng.randrange(len(events))
        status, body = self.request("point_read", "GET", f"/streams/{quote(stream)}/events/{r}", tenant)
        problem = None
        if status is not None:
            problem = check_point(events[r], r, body)
        self._judge("point_read", status, problem)

    def page_read(self, tenant: str, stream: str, limit: int) -> None:
        events = self.ledger.events(tenant, stream)
        off = self.rng.randrange(max(1, len(events) - limit + 1))
        status, body = self.request(
            "page_read", "GET",
            f"/streams/{quote(stream)}/events?page[offset]={off}&page[limit]={limit}", tenant)
        problem = None
        if status is not None:
            want = events[off:off + limit]
            problem = check_events(want, off, body)
        self._judge("page_read", status, problem)

    def listing(self, tenant: str) -> None:
        sort = self.rng.choice(SORTS)
        status, body = self.request("listing", "GET", f"/streams?sort={sort}", tenant)
        problem = None
        if status is not None:
            want = self.ledger.tenant_streams(tenant)
            problem = check_listing(want, sort, body)
        self._judge("listing", status, problem)

    def metadata(self, tenant: str, stream: str) -> None:
        n = len(self.ledger.events(tenant, stream))
        status, body = self.request("metadata", "GET", f"/streams/{quote(stream)}", tenant)
        problem = None
        if status is not None:
            problem = check_metadata(stream, n, body)
        self._judge("metadata", status, problem)


def run_hot(client: Client, tenant: str, deadline: float) -> None:
    """Whole rounds: one exact-revision append, then the round's reads
    in a seeded order."""
    stream = "hot-stream"
    while time.perf_counter() < deadline:
        client.append(tenant, stream, exact=True)
        for op in client.rng.sample(HOT_READS, len(HOT_READS)):
            if op == "point_read":
                client.point_read(tenant, stream)
            else:
                client.page_read(tenant, stream, HOT_PAGE)


def run_cold(client: Client, tenants: list[str], deadline: float) -> None:
    """Whole rounds: every operation once, in a seeded order, each for a
    seeded-random tenant."""
    while time.perf_counter() < deadline:
        for op in client.rng.sample(COLD_ROUND, len(COLD_ROUND)):
            tenant = client.rng.choice(tenants)
            if op == "append":
                client.append(tenant, f"s{client.rng.randrange(COLD_STREAMS)}", exact=False)
            elif op == "listing":
                client.listing(tenant)
            else:
                stream = client.rng.choice(sorted(client.ledger.tenant_streams(tenant)))
                if op == "point_read":
                    client.point_read(tenant, stream)
                elif op == "page_read":
                    client.page_read(tenant, stream, COLD_PAGE)
                else:
                    client.metadata(tenant, stream)


# -- tracing -----------------------------------------------------------------


OPS = ("append", "point_read", "page_read", "listing", "metadata")


def latencies_by_op(clients: list[Client]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for c in clients:
        for op, s, e in c.samples:
            out.setdefault(op, []).append((e - s) * 1000)
    return out


def layer_metrics(spans: list, clients: list[Client], tenant_client: dict[str, int]) -> dict:
    """Per-layer numbers from the server's spans and the clients' request
    intervals. Spans of one server thread belong to one connection; an
    auth span names the tenant and so the client, and every span is put
    in the client request whose interval contains it."""
    by_thread: dict[int, list] = {}
    for kind, tid, t0, t1, note in spans:
        by_thread.setdefault(tid, []).append((t0, t1, kind, note))
    inner: dict[tuple[int, int], float] = {}  # (client, request index) -> traced time
    for rows in by_thread.values():
        owner = next((tenant_client.get(n) for _, _, k, n in rows if k == "auth.verify" and n), None)
        if owner is None:
            continue
        reqs = clients[owner].samples
        starts = [s for _, s, _ in reqs]
        for t0, t1, kind, _ in rows:
            if kind == "auth.signature":
                continue  # nested inside auth.verify
            i = bisect.bisect_right(starts, t0) - 1
            if i >= 0 and t1 <= reqs[i][2]:
                inner[(owner, i)] = inner.get((owner, i), 0.0) + (t1 - t0)
    out: dict[str, float] = {}
    by_op = latencies_by_op(clients)
    for op in OPS:
        lat = by_op.get(op, [])
        self_ms = [
            (e - s - inner.get((c.idx, i), 0.0)) * 1000
            for c in clients for i, (o, s, e) in enumerate(c.samples) if o == op
        ]
        out[f"api.{op}_p50_ms"] = median(lat)
        out[f"api.{op}_p95_ms"] = pct(lat, 95)
        out[f"api.self_{op}_ms"] = median(self_ms)
    out["api.requests"] = sum(len(c.samples) for c in clients)

    def durations(kind: str) -> list[float]:
        return [(t1 - t0) * 1000 for k, _, t0, t1, _ in spans if k == kind]

    verify = durations("auth.verify")
    out["auth.verify_calls"] = len(verify)
    out["auth.verify_busy_s"] = sum(verify) / 1000
    out["auth.verify_p50_ms"] = median(verify)
    out["auth.verify_p95_ms"] = pct(verify, 95)
    out["auth.signature_checks"] = len(durations("auth.signature"))
    store_busy = 0.0
    for name in ("append", "query", "get_event", "streams", "get_stream"):
        d = durations(f"store.{name}")
        store_busy += sum(d)
        out[f"store.{name}_p50_ms"] = median(d)
        if name in ("append", "query"):
            out[f"store.{name}_p95_ms"] = pct(d, 95)
    out["store.busy_s"] = store_busy / 1000
    return out


def store_footprint(root: str) -> tuple[dict[str, float], int]:
    """Parquet files per stream directory and bytes on disk."""
    counts = []
    total = 0
    for d, _, names in os.walk(root):
        n = [x for x in names if x.endswith(".parquet")]
        if n:
            counts.append(len(n))
            total += sum(os.path.getsize(os.path.join(d, x)) for x in n)
    return {
        "store.files_written": sum(counts),
        "store.files_per_stream_mean": sum(counts) / max(1, len(counts)),
        "store.files_per_stream_max": max(counts, default=0),
        "store.bytes_on_disk_mb": total / 2**20,
    }, total


# -- input generation and read-back, spread over worker processes ---------


def _inputs(job: tuple[str, int, int, bool, list[str]]) -> list[tuple[str, str, str, list[dict]]]:
    """Each tenant's token and first stream, written through the library:
    for http_hot 1,000 events in single appends (one file each, as the
    HTTP path writes them), for http_cold two events in one append."""
    root, seed, priv, hot, tenants = job
    store = EventStore(None, root)
    out = []
    for t in tenants:
        rng = random.Random(f"{seed}-populate-{t}")
        if hot:
            stream, evs = "hot-stream", [make_event(rng, t, 0, False) for _ in range(HOT_EVENTS)]
            for ev in evs:
                store.append(t, stream, ev)
        else:
            stream, evs = "s0", [make_event(rng, t, -1 - i, True) for i in range(2)]
            store.append(t, stream, evs)
        out.append((t, mint(priv, t), stream, evs))
    return out


def _read_back(job: tuple[str, list]) -> list[tuple[str, str | None]]:
    """Every ledger stream read back through the library."""
    root, streams = job
    store = EventStore(None, root)
    out = []
    for tenant, stream, events in streams:
        got = []
        while len(got) < len(events):
            page = store.query(tenant, stream, start=len(got), limit=1000)
            if not page:
                break
            got.extend(page)
        out.append((f"{tenant}/{stream}", check_events(events, 0, got)))
    return out


def in_workers(fn, jobs: list) -> list:
    """Map ``fn`` over ``jobs`` in one spawned worker per CPU; the
    workers have exited when this returns."""
    pool = multiprocessing.get_context("spawn").Pool(min(len(jobs), ncpu()))
    try:
        return [x for part in pool.map(fn, jobs) for x in part]
    finally:
        pool.close()
        pool.join()


def chunks(xs: list, n: int) -> list[list]:
    return [xs[i::n] for i in range(n)]


# -- main --------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["http_hot", "http_cold"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    hot = args.workload == "http_hot"
    n_clients = min(4, ncpu())
    outcome = Outcome()
    ledger = Ledger()

    # inputs: a key pair, each tenant's token and first stream
    phases = {"start": time.perf_counter()}
    priv, pub = es384.generate_keypair()
    root = os.path.join(args.workdir, "store")
    if hot:
        tenants = [f"hot-{args.seed}-{c}" for c in range(n_clients)]
    else:
        tenants = [f"cold-{args.seed}-{t:04d}" for t in range(COLD_TENANTS)]
    tokens = {}
    for t, token, stream, evs in in_workers(_inputs, [(root, args.seed, priv, hot, part)
                                                      for part in chunks(tenants, ncpu())]):
        tokens[t] = token
        ledger.events(t, stream).extend(evs)
    tenant_client = {t: i % n_clients for i, t in enumerate(tenants)}
    jwks_path = os.path.join(args.workdir, "jwks.json")
    with open(jwks_path, "w") as f:
        json.dump({"keys": [es384.jwk_from_public(pub, kid=KID)]}, f)

    phases["inputs"] = time.perf_counter()
    # set-up: start the server several times, keep the last one
    spans_path = os.path.join(args.workdir, "spans.json")
    setups = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        server = ServerProcess(root, jwks_path, spans_path, args.trace)
        server.wait_healthy()
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            server.stop()

    host = HostWindow()
    clients = [
        Client(c, server.port, tokens, ledger, outcome, random.Random(f"{args.seed}-client-{c}"),
               data=not hot)
        for c in range(n_clients)
    ]
    mine = {c: [t for t in tenants if tenant_client[t] == c] for c in range(n_clients)}
    window: dict[str, float] = {}

    def open_window() -> None:
        window["start"] = time.perf_counter()
        window["deadline"] = window["start"] + args.seconds

    start_line = threading.Barrier(n_clients, action=open_window)

    def drive(c: Client) -> None:
        try:
            if hot:
                # a fresh server reads each stream's 1,000 file footers on
                # the first read and their (source, id) pairs on the first
                # append: checked, but outside the timed window
                c.record = False
                c.point_read(mine[c.idx][0], "hot-stream")
                c.append(mine[c.idx][0], "hot-stream", exact=True)
                c.record = True
            start_line.wait()
            if hot:
                run_hot(c, mine[c.idx][0], window["deadline"])
            else:
                run_cold(c, mine[c.idx], window["deadline"])
        except Exception as exc:  # a client bug must fail the run, not hang it
            start_line.abort()
            outcome.mismatch(f"client {c.idx} crashed: {exc!r}")

    threads = [threading.Thread(target=drive, args=(c,)) for c in clients[1:]]
    for th in threads:
        th.start()
    drive(clients[0])  # the main thread is the first client
    for th in threads:
        th.join()
    t_start = window.get("start", time.perf_counter())
    elapsed = time.perf_counter() - t_start
    host_rec = host.record()
    for c in clients:
        c.close()
    served = server.stop()

    phases["run"] = time.perf_counter()
    # full read-back through the library, after the server is gone
    streams = [(t, s, evs) for (t, s), evs in sorted(ledger.streams.items()) if evs]
    for key, problem in in_workers(_read_back, [(root, part) for part in
                                                chunks(streams, min(ncpu(), len(streams)))]):
        outcome.count("read_back", problem is None)
        if problem:
            outcome.mismatch(f"read-back {key}: {problem}")
    user_bytes = sum(len(json.dumps(e).encode()) for evs in ledger.streams.values() for e in evs)
    footprint, stored = store_footprint(root)
    phases["read_back"] = time.perf_counter()

    lat = [(e - s) * 1000 for c in clients for (_, s, e) in c.samples]
    by_op = latencies_by_op(clients)
    metrics = {
        "setup_s": median(setups),
        "ops_per_s": len(lat) / elapsed,
        # each operation type counts once, whatever its share of requests
        "op_p50_ms": sum(median(xs) for xs in by_op.values()) / max(1, len(by_op)),
    }
    detail_e2e = {}
    if args.trace:
        detail_e2e = {"end_to_end_traced": metrics}
        spans = [sp for sp in served.get("spans", []) if sp[2] >= t_start]
        metrics = layer_metrics(spans, clients, tenant_client)
        metrics.update(footprint)
        metrics["api.server_peak_rss_mb"] = served["peak_rss_mb"]
        metrics["store.bytes_per_user_byte"] = stored / max(1, user_bytes)
    detail = {
        "host": host_rec,
        "latency_by_op": {
            op: {"n": len(xs), "p50_ms": round(median(xs), 3), "p95_ms": round(pct(xs, 95), 3)}
            for op, xs in sorted(by_op.items())
        },
        "op_p95_ms": round(pct(lat, 95), 3),
        "setup_runs_s": [round(s, 4) for s in setups],
        "phase_end_s": {k: round(v - phases["start"], 2) for k, v in phases.items()},
        "store_bytes_per_user_byte": round(stored / max(1, user_bytes), 4),
        "streams": sum(1 for evs in ledger.streams.values() if evs),
        **detail_e2e,
    }
    write_result(args.result, outcome, metrics, detail)


if __name__ == "__main__":
    main()
