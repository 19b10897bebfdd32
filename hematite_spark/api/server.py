"""HTTP API layer: the reference's service surface over the Spark
event store (reference api.rs:140-148 routes, JSON:API error
documents api.rs:42-119, immutability cache headers api.rs:239 +
277-288, pagination clamps api.rs:271-272).

Stdlib-only (ThreadingHTTPServer): the engine ships no web framework
dependency; each request thread hits the EventStore, whose per-stream
locks give the same concurrency discipline as the reference's
DashMap + per-stream mutex (server.rs:58).

Routes (reference api.rs:140-148):
  GET    /health
  GET    /streams?sort=
  GET    /streams/{s}
  DELETE /streams/{s}
  GET    /streams/{s}/events?page[offset]=&page[limit]=
  POST   /streams/{s}/events?expected_revision=
  GET    /streams/{s}/events/{rownum}

Routes also include GET /openapi.yaml serving this API's spec
(reference api.rs:138-141).

Auth: Bearer JWT, user = `sub` claim (reference openid.rs:10-12,
api.rs:187). ``verifier=`` is required: construct an
``es384.ES384Verifier`` from a JWKS document (+ issuer/audience), which
checks the ES384 signature through the ``cryptography`` library
(es384.py; reference openid.rs:39-153), or pass any callable(token) ->
user_id that raises ``AuthError`` on a bad token. 401 semantics match
the reference: missing/malformed bearer → 401.

Deliberate deviations from reference quirks (SURVEY.md §2 error
table): point read past end of an existing stream → 404 (reference:
500); invalid expected_revision → 400 (reference: 401).
"""

from __future__ import annotations

import json
import os
import re
import threading
import traceback
from email.utils import formatdate
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable
from urllib.parse import parse_qs, unquote, urlparse

from hematite_spark.store import (
    EmptyAppend,
    EventStore,
    ExpectedRevision,
    InvalidEvent,
    RevisionMismatch,
    SourceIdConflict,
    StreamNotFound,
)

IMMUTABLE = "public, max-age=31536000, immutable"  # api.rs:239
NO_CACHE = "no-cache"  # api.rs:286 (partial pages may still grow)
MAX_LIMIT = 1000  # api.rs:271
DEFAULT_LIMIT = 50  # api.rs:272


class AuthError(Exception):
    pass


def _jsonapi_error(status: int, title: str, detail: str) -> dict[str, Any]:
    """JSON:API-style error document (reference api.rs:42-119)."""
    return {"errors": [{"status": str(status), "title": title, "detail": detail}]}


class _Handler(BaseHTTPRequestHandler):
    server: "HematiteServer"
    protocol_version = "HTTP/1.1"
    # headers and body go out in two writes; with Nagle on, the body
    # waits for the client's delayed ACK (~40 ms per keep-alive response)
    disable_nagle_algorithm = True

    # -- plumbing ------------------------------------------------------

    def log_message(self, fmt, *args):  # silence default stderr noise
        pass

    def _drain_body(self) -> bytes:
        """Read (and return) the request body. Called at the TOP of
        every method handler: on an HTTP/1.1 keep-alive connection an
        unread body would be parsed as the next request line
        (connection desync) — GET/DELETE with a body included."""
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            length = 0
        return self.rfile.read(length) if length > 0 else b""

    def _send(
        self,
        status: int,
        body: Any,
        headers: dict[str, str] | None = None,
        raw: bytes | None = None,
        content_type: str = "application/json",
    ) -> None:
        data = raw if raw is not None else (json.dumps(body).encode() if body is not None else b"")
        self._responded = True
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(data)))
        # secure headers middleware (reference main.rs:43-57)
        self.send_header("X-Content-Type-Options", "nosniff")
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        if data:
            self.wfile.write(data)

    def _error(self, status: int, title: str, detail: str) -> None:
        self._send(status, _jsonapi_error(status, title, detail))

    def _user(self) -> str | None:
        """Bearer auth → user id, or None after sending 401
        (reference api.rs:153-190)."""
        auth = self.headers.get("Authorization", "")
        if not auth.startswith("Bearer "):
            self._error(401, "Unauthorized", "missing bearer token")
            return None
        try:
            return self.server.verifier(auth[len("Bearer ") :])
        except AuthError as exc:
            self._error(401, "Unauthorized", str(exc))
            return None

    def _dispatch(self, route: Callable[[], None]) -> None:
        """Run one request's route. An exception no route handles (an
        ``OSError`` from the store, a bug in a custom verifier) becomes
        a JSON:API 500 when no response has started, so the client gets
        an answer and the keep-alive connection stays usable; the
        traceback goes to stderr, as ``socketserver`` would print it."""
        self._responded = False
        try:
            route()
        except Exception:
            if self._responded:
                raise
            traceback.print_exc()
            self._error(500, "Internal Server Error", "unexpected server error")

    # -- routing -------------------------------------------------------

    _R_STREAMS = re.compile(r"^/streams/?$")
    _R_STREAM = re.compile(r"^/streams/([^/]+)/?$")
    _R_EVENTS = re.compile(r"^/streams/([^/]+)/events/?$")
    _R_EVENT = re.compile(r"^/streams/([^/]+)/events/(\d+)/?$")

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self._dispatch(self._get)

    def _get(self) -> None:
        self._drain_body()
        url = urlparse(self.path)
        q = parse_qs(url.query)
        if url.path in ("/health", "/health/"):
            # reference health check (server.rs:123-126, api.rs:121-128)
            self._send(200, {"status": "pass"}, {"Cache-Control": "max-age=60"})
            return
        if url.path == "/openapi.yaml":
            # serve the spec, unauthenticated (reference api.rs:138-141)
            spec = os.path.join(os.path.dirname(os.path.abspath(__file__)), "openapi.yaml")
            with open(spec, "rb") as f:
                self._send(200, None, raw=f.read(), content_type="application/yaml")
            return
        user = self._user()
        if user is None:
            return
        store = self.server.store
        if self._R_STREAMS.match(url.path):
            sort = q.get("sort", [None])[0]
            try:
                streams = store.streams(user, sort=sort)
            except ValueError as exc:  # unknown sort key → 400 (api.rs:330-334)
                self._error(400, "Bad Request", str(exc))
                return
            self._send(200, streams)
            return
        if m := self._R_EVENT.match(url.path):
            stream_id, rownum = unquote(m.group(1)), int(m.group(2))
            try:
                ev = store.get_event(user, stream_id, rownum)
            except StreamNotFound:
                self._error(404, "Not Found", f"stream {stream_id!r} not found")
                return
            if ev is None:  # deviation: 404, not the reference's 500
                self._error(404, "Not Found", f"no event at revision {rownum}")
                return
            self._send(200, ev, {"Cache-Control": IMMUTABLE})  # api.rs:239
            return
        if m := self._R_EVENTS.match(url.path):
            stream_id = unquote(m.group(1))
            try:
                offset = int(q.get("page[offset]", ["0"])[0])
                limit = int(q.get("page[limit]", [str(DEFAULT_LIMIT)])[0])
            except ValueError as exc:
                self._error(400, "Bad Request", f"invalid pagination parameter: {exc}")
                return
            # clamp like the reference's usize parse + min() (api.rs:271-272)
            offset = max(offset, 0)
            limit = min(max(limit, 0), MAX_LIMIT)
            events = store.query(user, stream_id, start=offset, limit=limit)
            # full NON-EMPTY page ⇒ immutable (it can never change);
            # partial page may still grow ⇒ no-cache (api.rs:277-288)
            cache = IMMUTABLE if limit > 0 and len(events) == limit else NO_CACHE
            self._send(200, events, {"Cache-Control": cache})
            return
        if m := self._R_STREAM.match(url.path):
            stream_id = unquote(m.group(1))
            try:
                meta = store.get_stream(user, stream_id)
            except StreamNotFound:
                self._error(404, "Not Found", f"stream {stream_id!r} not found")
                return
            # Last-Modified enables HTTP conditional caching of stream
            # metadata (reference api.rs:384-387)
            self._send(
                200,
                meta,
                {"Last-Modified": formatdate(meta["last_modified"], usegmt=True)},
            )
            return
        self._error(404, "Not Found", self.path)  # main.rs fallback

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch(self._post)

    def _post(self) -> None:
        url = urlparse(self.path)
        q = parse_qs(url.query)
        raw = self._drain_body()
        user = self._user()
        if user is None:
            return
        m = self._R_EVENTS.match(url.path)
        if not m:
            self._error(404, "Not Found", self.path)
            return
        stream_id = unquote(m.group(1))
        raw_expected = q.get("expected_revision", ["any"])[0]
        try:
            expected = ExpectedRevision.parse(raw_expected)
        except ValueError as exc:  # deviation: 400, not the reference's 401
            self._error(400, "Bad Request", str(exc))
            return
        try:
            body = json.loads(raw)
        except json.JSONDecodeError as exc:
            self._error(400, "Bad Request", f"invalid JSON body: {exc}")
            return
        try:
            # untagged Single | Batch payload (api.rs:449-454)
            new_rev = self.server.store.append(user, stream_id, body, expected)
        except RevisionMismatch as exc:  # api.rs:509-523
            self._error(409, "Conflict", str(exc))
            return
        except SourceIdConflict as exc:  # api.rs:524-537
            self._error(409, "Conflict", str(exc))
            return
        except (InvalidEvent, TypeError, KeyError) as exc:  # 422 (openapi.yaml:38-39)
            self._error(422, "Unprocessable Entity", f"not a CloudEvents v1.0 payload: {exc}")
            return
        except EmptyAppend as exc:
            self._error(400, "Bad Request", str(exc))
            return
        # 201 + Content-Location of the new head event (api.rs:495-504)
        head = f"/streams/{m.group(1)}/events/{new_rev - 1}"
        self._send(201, {"revision": new_rev}, {"Content-Location": head})

    def do_DELETE(self) -> None:  # noqa: N802
        self._dispatch(self._delete)

    def _delete(self) -> None:
        self._drain_body()
        url = urlparse(self.path)
        user = self._user()
        if user is None:
            return
        m = self._R_STREAM.match(url.path)
        if not m:
            self._error(404, "Not Found", self.path)
            return
        stream_id = unquote(m.group(1))
        if self.server.store.delete_stream(user, stream_id):
            self._send(204, None)
        else:
            self._error(404, "Not Found", f"stream {stream_id!r} not found")


class HematiteServer(ThreadingHTTPServer):
    """The reference's axum service, stdlib-shaped. One instance per
    store; request threads share the store's per-stream locks."""

    daemon_threads = True

    def __init__(
        self,
        store: EventStore,
        host: str = "127.0.0.1",
        port: int = 0,
        verifier: Callable[[str], str] | None = None,
    ):
        """``verifier`` (e.g. ``es384.ES384Verifier``) is required: there
        is no unauthenticated mode, since any client could otherwise
        mint a ``sub`` and read/write any tenant."""
        if verifier is None:
            raise ValueError(
                "no verifier configured: pass verifier= (e.g. "
                "es384.ES384Verifier(jwks, issuer=..., audience=...))"
            )
        super().__init__((host, port), _Handler)
        self.store = store
        self.verifier = verifier

    @property
    def url(self) -> str:
        return f"http://{self.server_address[0]}:{self.server_address[1]}"

    def start_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


def serve(
    store: EventStore,
    host: str = "127.0.0.1",
    port: int = 8080,
    verifier: Callable[[str], str] | None = None,
) -> None:
    """Blocking entry point (the reference's main.rs boot sequence).
    Refuses to start without a verifier."""
    HematiteServer(store, host, port, verifier=verifier).serve_forever()
