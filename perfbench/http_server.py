"""The HTTP server under test, in its own process.

Runs the library's own ``HematiteServer`` with an ``ES384Verifier`` over
a static JWKS and an ``EventStore`` with its default settings; no Spark
session is created, because no HTTP route calls Spark. With
``--trace 1`` the server gets a store proxy and a verifier wrapper that
time every call into ``EventStore``'s public methods and every token
verification (plus every signature check inside it), keep the spans in
memory and write them out at shutdown.

The process prints ``READY <port>`` once it listens and shuts down when
its standard input closes (or on SIGTERM).

    python3 perfbench/http_server.py --root DIR --jwks FILE --spans-out FILE [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hematite_spark.api import es384  # noqa: E402
from hematite_spark.api.server import HematiteServer  # noqa: E402
from hematite_spark.store import EventStore  # noqa: E402

ISSUER = "perfbench"
AUDIENCE = "hematite"
STORE_METHODS = ("append", "query", "get_event", "streams", "get_stream", "delete_stream")


class Spans:
    """In-memory span log: (kind, thread id, start, end, note)."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []

    def add(self, kind: str, t0: float, t1: float, note: str = "") -> None:
        self.rows.append((kind, threading.get_ident(), t0, t1, note))


class StoreProxy:
    """Times each call into the store's public methods."""

    def __init__(self, store: EventStore, spans: Spans) -> None:
        self._store = store
        self._spans = spans

    def __getattr__(self, name):
        attr = getattr(self._store, name)
        if name not in STORE_METHODS:
            return attr

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return attr(*args, **kwargs)
            finally:
                self._spans.add(f"store.{name}", t0, time.perf_counter())

        return timed


class VerifierWrapper:
    """Times each token verification; the subject names the tenant and so
    the client whose request the span belongs to."""

    def __init__(self, verifier, spans: Spans) -> None:
        self._verifier = verifier
        self._spans = spans

    def __call__(self, token: str) -> str:
        t0 = time.perf_counter()
        sub = ""
        try:
            sub = self._verifier(token)
            return sub
        finally:
            self._spans.add("auth.verify", t0, time.perf_counter(), sub)


def _trace_signature_checks(spans: Spans) -> None:
    """Span each ECDSA check the verifier makes (cache misses only)."""
    inner = es384.verify_raw

    def verify_raw(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return inner(*args, **kwargs)
        finally:
            spans.add("auth.signature", t0, time.perf_counter())

    es384.verify_raw = verify_raw


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--jwks", required=True)
    ap.add_argument("--spans-out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    with open(args.jwks) as f:
        jwks = json.load(f)
    store = EventStore(None, args.root)
    verifier = es384.ES384Verifier(jwks, issuer=ISSUER, audience=AUDIENCE)
    spans = Spans()
    if args.trace:
        _trace_signature_checks(spans)
        server = HematiteServer(StoreProxy(store, spans), verifier=VerifierWrapper(verifier, spans))
    else:
        server = HematiteServer(store, verifier=verifier)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    threading.Thread(target=lambda: (sys.stdin.read(), stop.set()), daemon=True).start()
    print(f"READY {server.server_address[1]}", flush=True)
    while not stop.wait(0.2):
        pass
    server.shutdown()
    server.server_close()
    thread.join()
    out = {
        "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "spans": spans.rows,
    }
    with open(args.spans_out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
