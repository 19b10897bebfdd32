"""HTTP API-parity tests — the reference's Bruno collection
(api/*.bru) and k6 status checks as pytest: create 201 + OCC
threading, point/paged reads with cache-header semantics, stream
metadata, delete 204, list + sort, health, and the error table
(401/400/404/409/422)."""

import base64
import json
import urllib.error
import urllib.request

import pytest

from hematite_spark.api import HematiteServer
from hematite_spark.api.es384 import (
    ES384Verifier,
    generate_keypair,
    jwk_from_public,
    mint_token,
)
from hematite_spark.api.server import AuthError
from hematite_spark.store import EventStore

_PRIV, _PUB = generate_keypair()


def _b64(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


def _token(sub: str) -> str:
    """ES384 token for ``sub`` signed by the ``api`` fixture's key."""
    return mint_token(_PRIV, {"sub": sub})


def _unsigned_token(sub: str) -> str:
    """Forged JWS-shaped token (alg none, no signature) claiming ``sub``."""
    enc = lambda d: _b64(json.dumps(d).encode())
    return f"{enc({'alg': 'none'})}.{enc({'sub': sub})}.x"


@pytest.fixture()
def api(tmp_path):
    store = EventStore(None, str(tmp_path / "store"))
    server = HematiteServer(store, port=0, verifier=ES384Verifier([jwk_from_public(_PUB)]))
    server.start_background()
    yield server
    server.shutdown()


def _req(api, method, path, body=None, sub="user-1", auth=True):
    req = urllib.request.Request(api.url + path, method=method)
    if auth:
        req.add_header("Authorization", f"Bearer {_token(sub)}")
    data = None
    if body is not None:
        data = json.dumps(body).encode()
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req, data=data) as resp:
            raw = resp.read()
            return resp.status, dict(resp.headers), json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, dict(e.headers), json.loads(raw) if raw else None


EV = lambda i: {"specversion": "1.0", "id": f"ev-{i}", "source": "bruno", "type": "t", "data": {"i": i}}


def test_health_no_auth(api):
    status, headers, body = _req(api, "GET", "/health", auth=False)
    assert status == 200 and body == {"status": "pass"}
    assert headers["Cache-Control"] == "max-age=60"


def test_create_event_201_and_content_location(api):
    status, headers, body = _req(api, "POST", "/streams/s1/events", EV(0))
    assert status == 201 and body == {"revision": 1}
    assert headers["Content-Location"] == "/streams/s1/events/0"


def test_occ_threading_revision_between_requests(api):
    # Bruno: "Create event expecting correct revision"
    _, _, b1 = _req(api, "POST", "/streams/s1/events", EV(0))
    status, _, b2 = _req(api, "POST", f"/streams/s1/events?expected_revision={b1['revision']}", EV(1))
    assert status == 201 and b2 == {"revision": 2}
    status, _, err = _req(api, "POST", "/streams/s1/events?expected_revision=0", EV(2))
    assert status == 409
    assert err["errors"][0]["status"] == "409"


def test_batch_append_and_paged_read(api):
    _req(api, "POST", "/streams/s1/events", [EV(i) for i in range(10)])
    status, headers, page = _req(api, "GET", "/streams/s1/events?page[offset]=1&page[limit]=1")
    assert status == 200 and len(page) == 1 and page[0]["id"] == "ev-1"
    assert "immutable" in headers["Cache-Control"]  # full page
    status, headers, page = _req(api, "GET", "/streams/s1/events?page[offset]=8&page[limit]=5")
    assert len(page) == 2
    assert headers["Cache-Control"] == "no-cache"  # partial page may grow


def test_point_read_immutable_and_404s(api):
    _req(api, "POST", "/streams/s1/events", EV(0))
    status, headers, ev = _req(api, "GET", "/streams/s1/events/0")
    assert status == 200 and ev["id"] == "ev-0" and ev["data"] == {"i": 0}
    assert "immutable" in headers["Cache-Control"]
    assert _req(api, "GET", "/streams/s1/events/99")[0] == 404  # deviation: not 500
    assert _req(api, "GET", "/streams/nope/events/0")[0] == 404


def test_stream_metadata_list_sort_delete(api):
    _req(api, "POST", "/streams/b/events", [EV(i) for i in range(3)])
    _req(api, "POST", "/streams/a/events", EV(9))
    status, _, meta = _req(api, "GET", "/streams/b")
    assert status == 200 and meta["revision"] == 3 and meta["usage"] > 0
    _, _, listing = _req(api, "GET", "/streams?sort=-revision")
    assert [s["id"] for s in listing] == ["b", "a"]
    assert _req(api, "GET", "/streams?sort=bogus")[0] == 400
    assert _req(api, "DELETE", "/streams/a")[0] == 204
    assert _req(api, "DELETE", "/streams/a")[0] == 404
    _, _, listing = _req(api, "GET", "/streams")
    assert [s["id"] for s in listing] == ["b"]


def test_tenant_isolation_via_sub_claim(api):
    _req(api, "POST", "/streams/s1/events", EV(0), sub="alice")
    assert _req(api, "GET", "/streams/s1/events/0", sub="alice")[0] == 200
    assert _req(api, "GET", "/streams/s1/events/0", sub="bob")[0] == 404
    assert [s["id"] for s in _req(api, "GET", "/streams", sub="bob")[2]] == []


def test_error_table(api):
    assert _req(api, "GET", "/streams", auth=False)[0] == 401
    status, _, err = _req(api, "POST", "/streams/s/events", EV(0), auth=False)
    assert status == 401 and err["errors"][0]["status"] == "401"
    assert _req(api, "POST", "/streams/s/events?expected_revision=bogus", EV(0))[0] == 400
    assert _req(api, "POST", "/streams/s/events", {"not": "cloudevents"})[0] == 422
    assert _req(api, "POST", "/streams/s/events", [])[0] == 400  # empty batch
    # duplicate (source, id) → 409 (A10, enforced)
    _req(api, "POST", "/streams/s/events", EV(0))
    assert _req(api, "POST", "/streams/s/events", EV(0))[0] == 409
    assert _req(api, "GET", "/bogus/route")[0] == 404


def test_keepalive_survives_error_paths(api):
    """POST bodies are drained before early-exit responses, so an
    HTTP/1.1 keep-alive connection stays usable after 401/400 —
    undrained bytes would be parsed as the next request line."""
    import http.client

    host, port = api.server_address
    conn = http.client.HTTPConnection(host, port)
    try:
        body = json.dumps(EV(0))
        # 401 with a body, same socket must stay in sync
        conn.request("POST", "/streams/s/events", body=body)
        r = conn.getresponse(); r.read()
        assert r.status == 401
        conn.request("GET", "/health")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read()) == {"status": "pass"}
        # 400 (bad expected_revision) with a body, same socket again
        conn.request("POST", "/streams/s/events?expected_revision=zz", body=body,
                     headers={"Authorization": f"Bearer {_token('user-1')}"})
        r = conn.getresponse(); r.read()
        assert r.status == 400
        conn.request("GET", "/health")
        r = conn.getresponse(); r.read()
        assert r.status == 200
    finally:
        conn.close()


def test_keepalive_response_not_held_by_nagle(api):
    """A keep-alive response goes out without waiting for the client's
    delayed ACK: the header and body writes are not held back by
    Nagle's algorithm (which costs ~40 ms per response)."""
    import http.client
    import socket
    import statistics
    import time

    host, port = api.server_address
    conn = http.client.HTTPConnection(host, port)
    try:
        conn.connect()
        conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        walls = []
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("GET", "/health")
            r = conn.getresponse()
            r.read()
            walls.append(time.perf_counter() - t0)
            assert r.status == 200
    finally:
        conn.close()
    assert statistics.median(walls) < 0.020, walls


def test_openapi_spec_served(api):
    """GET /openapi.yaml serves the spec unauthenticated (reference
    api.rs:138-141)."""
    req = urllib.request.Request(api.url + "/openapi.yaml", method="GET")
    with urllib.request.urlopen(req) as resp:
        raw = resp.read().decode()
        assert resp.status == 200
        assert "yaml" in resp.headers["Content-Type"]
    assert "openapi:" in raw and "/streams/{stream}/events" in raw


def test_stream_metadata_last_modified_header(api):
    """GET /streams/{s} sends Last-Modified for HTTP conditional
    caching (reference api.rs:384-387)."""
    _req(api, "POST", "/streams/s1/events", EV(0))
    status, headers, meta = _req(api, "GET", "/streams/s1")
    assert status == 200
    lm = headers["Last-Modified"]
    assert lm.endswith(" GMT")
    from email.utils import parsedate_to_datetime

    assert int(parsedate_to_datetime(lm).timestamp()) == meta["last_modified"]


def test_keepalive_survives_get_delete_with_body(api):
    """GET/DELETE requests carrying a body are drained too — the
    keep-alive connection must stay in sync afterwards."""
    import http.client

    host, port = api.server_address
    conn = http.client.HTTPConnection(host, port)
    try:
        conn.request(
            "GET", "/health", body=b'{"sneaky": "body"}',
            headers={"Content-Length": "18"},
        )
        r = conn.getresponse(); r.read()
        assert r.status == 200
        conn.request("GET", "/health")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read()) == {"status": "pass"}
        conn.request(
            "DELETE", "/streams/none", body=b'{"x": 1}',
            headers={"Authorization": f"Bearer {_token('user-1')}", "Content-Length": "8"},
        )
        r = conn.getresponse(); r.read()
        assert r.status == 404
        conn.request("GET", "/health")
        r = conn.getresponse(); r.read()
        assert r.status == 200
    finally:
        conn.close()


def test_unexpected_store_error_is_a_500_on_a_live_connection():
    """An exception no route handles (here an OSError from the store)
    gets a JSON:API 500, and the keep-alive connection stays usable."""
    import http.client

    class FailingStore:
        def query(self, *args, **kwargs):
            raise OSError("storage unavailable")

    server = HematiteServer(FailingStore(), port=0, verifier=ES384Verifier([jwk_from_public(_PUB)]))
    server.start_background()
    host, port = server.server_address
    conn = http.client.HTTPConnection(host, port)
    try:
        conn.request("GET", "/streams/s/events", headers={"Authorization": f"Bearer {_token('user-1')}"})
        r = conn.getresponse()
        body = json.loads(r.read())
        assert r.status == 500
        assert body["errors"][0]["status"] == "500"
        assert "storage unavailable" not in json.dumps(body)  # no internals leak
        conn.request("GET", "/health")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read()) == {"status": "pass"}
    finally:
        conn.close()
        server.shutdown()


def test_server_refuses_to_start_without_verifier(tmp_path):
    """The server has no unauthenticated mode: no verifier, no start."""
    store = EventStore(None, str(tmp_path / "store"))
    with pytest.raises(ValueError, match="verifier"):
        HematiteServer(store, port=0)


def test_es384_signed_auth_end_to_end(tmp_path):
    """Real signature verification: a properly signed token is
    accepted; a tampered signature, wrong issuer, wrong audience, and
    an expired token are all rejected with 401."""
    import time as _time

    priv, pub = generate_keypair()
    verifier = ES384Verifier(
        {"keys": [jwk_from_public(pub, kid="k1")]},
        issuer="https://auth.example",
        audience="hematite",
    )
    store = EventStore(None, str(tmp_path / "store"))
    server = HematiteServer(store, port=0, verifier=verifier)
    server.start_background()
    try:
        claims = {
            "sub": "alice",
            "iss": "https://auth.example",
            "aud": "hematite",
            "exp": _time.time() + 600,
        }
        good = mint_token(priv, claims, kid="k1")

        def call(token, method="POST", path="/streams/s1/events", body=EV(0)):
            req = urllib.request.Request(server.url + path, method=method)
            req.add_header("Authorization", f"Bearer {token}")
            data = json.dumps(body).encode() if body is not None else None
            if data:
                req.add_header("Content-Type", "application/json")
            try:
                with urllib.request.urlopen(req, data=data) as resp:
                    return resp.status
            except urllib.error.HTTPError as e:
                e.read()
                return e.code

        assert call(good) == 201
        assert call(good, method="GET", path="/streams/s1/events/0", body=None) == 200
        # tampered signature → 401
        tampered = good[:-4] + ("AAAA" if good[-4:] != "AAAA" else "BBBB")
        assert call(tampered, method="GET", path="/streams/s1", body=None) == 401
        # forged unsigned token (alg none) → 401
        assert call(_unsigned_token("alice"), method="GET", path="/streams/s1", body=None) == 401
        # wrong issuer / wrong audience / expired → 401
        assert call(mint_token(priv, {**claims, "iss": "https://evil"}), ) == 401
        assert call(mint_token(priv, {**claims, "aud": "other"})) == 401
        assert call(mint_token(priv, {**claims, "exp": _time.time() - 600})) == 401
        # token signed by a DIFFERENT key (claims identical) → 401
        other_priv, _ = generate_keypair()
        assert call(mint_token(other_priv, claims, kid="k1")) == 401
    finally:
        server.shutdown()


def test_jwks_discovery_refresh_on_rotation(tmp_path):
    """JWKS discovery parity (reference openid.rs:49-74, VERDICT r2
    item 5): the verifier fetches keys from jwks_uri via an injected
    fetcher; after the provider rotates to a new kid, a token signed
    by the rotated key triggers an unknown-kid refetch and verifies;
    within the refresh cooldown an unknown kid is a 401 WITHOUT a
    refetch; TTL expiry refreshes on the normal path."""
    import time as _time

    priv1, pub1 = generate_keypair()
    priv2, pub2 = generate_keypair()
    provider = {"keys": [jwk_from_public(pub1, kid="k1")]}
    fetches = []

    def fetcher(uri):
        fetches.append(uri)
        return provider

    now = [1000.0]
    verifier = ES384Verifier(
        jwks_uri="https://auth.example/jwks.json",
        fetcher=fetcher,
        issuer=None,
        audience=None,
        clock=lambda: now[0],
        jwks_ttl=300.0,
        refresh_cooldown=30.0,
    )
    assert fetches == ["https://auth.example/jwks.json"]  # boot fetch
    claims = {"sub": "alice", "exp": now[0] + 3600}
    assert verifier(mint_token(priv1, claims, kid="k1")) == "alice"

    # provider rotates: k2 signs, k1 retired. Within the cooldown an
    # unknown kid must NOT refetch → 401
    rotated = mint_token(priv2, {**claims, "sub": "bob"}, kid="k2")
    n_fetches = len(fetches)
    with pytest.raises(AuthError, match="unknown key id"):
        verifier(rotated)
    assert len(fetches) == n_fetches  # no refetch inside the cooldown

    # past the cooldown the unknown kid forces an early refetch and
    # the rotated-key token verifies
    provider = {"keys": [jwk_from_public(pub2, kid="k2")]}
    now[0] += 31.0
    assert verifier(rotated) == "bob"
    assert len(fetches) == n_fetches + 1

    # a k1 token now fails (key withdrawn), still without hammering:
    # the refetch just happened, cooldown applies again
    stale = mint_token(priv1, {**claims, "sub": "carol"}, kid="k1")
    with pytest.raises(AuthError, match="unknown key id"):
        verifier(stale)
    assert len(fetches) == n_fetches + 1

    # TTL expiry refreshes on the normal lookup path (fresh token —
    # a cached token short-circuits before key lookup by design)
    now[0] += 301.0
    assert verifier(mint_token(priv2, {**claims, "sub": "erin"}, kid="k2")) == "erin"
    assert len(fetches) == n_fetches + 2

    # a failed fetch keeps serving the cached keys (IdP flap ≠ outage)
    def broken(uri):
        fetches.append(uri)
        raise OSError("connection refused")

    verifier._fetcher = broken
    now[0] += 301.0
    assert verifier(mint_token(priv2, {**claims, "sub": "dave"}, kid="k2")) == "dave"


def test_pagination_validation_and_clamps(api):
    _req(api, "POST", "/streams/s/events", [EV(i) for i in range(3)])
    assert _req(api, "GET", "/streams/s/events?page[offset]=abc")[0] == 400
    assert _req(api, "GET", "/streams/s/events?page[limit]=x")[0] == 400
    status, headers, page = _req(api, "GET", "/streams/s/events?page[limit]=0")
    assert status == 200 and page == []
    assert headers["Cache-Control"] == "no-cache"  # empty page is NOT immutable
    status, _, page = _req(api, "GET", "/streams/s/events?page[offset]=-5&page[limit]=-1")
    assert status == 200 and page == []


def test_malformed_tokens_get_401_on_a_live_connection(api):
    """Tokens that decode but have the wrong shape — a non-object header
    or claims set, a non-string kid, a signed exp or nbf that is not a
    finite number — get a JSON:API 401, and the keep-alive connection
    stays usable."""
    import http.client

    claims = _b64(json.dumps({"sub": "user-1"}).encode())
    signature = _token("user-1").split(".")[2]
    malformed = [
        f"{_b64(b'[1]')}.{claims}.{signature}",
        mint_token(_PRIV, [1]),
        mint_token(_PRIV, {"sub": "user-1"}, kid=["key-1"]),
        mint_token(_PRIV, {"sub": "user-1", "exp": "soon"}),
        mint_token(_PRIV, {"sub": "user-1", "nbf": [0]}),
        mint_token(_PRIV, {"sub": "user-1", "exp": 10**400}),
    ]
    host, port = api.server_address
    conn = http.client.HTTPConnection(host, port)
    try:
        for token in malformed:
            conn.request("GET", "/streams", headers={"Authorization": f"Bearer {token}"})
            r = conn.getresponse()
            body = json.loads(r.read())
            assert r.status == 401, token
            assert body["errors"][0]["status"] == "401"
            conn.request("GET", "/health")
            r = conn.getresponse()
            assert r.status == 200 and json.loads(r.read()) == {"status": "pass"}
    finally:
        conn.close()


def test_token_cache_under_threads_returns_each_tokens_own_sub():
    """More distinct tokens than the verifier caches, verified from more
    threads than cores in interleaved, repeating orders: every call
    returns the ``sub`` of the token it was given, hit or miss."""
    import random
    import sys
    import threading

    verifier = ES384Verifier([jwk_from_public(_PUB)])
    subs = [f"tenant-{i:04d}" for i in range(1100)]
    tokens = [_token(sub) for sub in subs]
    wrong = []

    def worker(seed):
        rng = random.Random(seed)
        for i in [rng.randrange(len(tokens)) for _ in range(800)]:
            got = verifier(tokens[i])
            if got != subs[i]:
                wrong.append((i, got))

    threads = [threading.Thread(target=worker, args=(seed,)) for seed in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []


def test_cached_token_expires(monkeypatch):
    """A cache hit skips the signature check but not the expiry check."""
    from hematite_spark.api import es384

    checks = []
    inner = es384.verify_raw
    monkeypatch.setattr(es384, "verify_raw", lambda *a: checks.append(1) or inner(*a))
    now = [1000.0]
    verifier = ES384Verifier([jwk_from_public(_PUB)], clock=lambda: now[0], leeway=30.0)
    token = mint_token(_PRIV, {"sub": "alice", "exp": 1100})
    assert verifier(token) == "alice"
    now[0] = 1130.0  # exp + leeway: still valid
    assert verifier(token) == "alice"
    assert len(checks) == 1
    now[0] = 1130.5
    with pytest.raises(AuthError, match="token expired"):
        verifier(token)


# Known answer: a JWK and a token signed by an independent pure-Python
# ECDSA P-384 implementation (random nonce; claims sub, iss, aud).
_KAT_JWK = {
    "kty": "EC",
    "crv": "P-384",
    "kid": "kat",
    "x": "aaFLMEgO_91iuOLvvgS5DNPWVMKDxhd75VPDXkzdY7kK7RPovIy4MZdm2etEhuNz",
    "y": "dPANASTMhPtmi7aaoPbQ5u1909uyU98QEeq4IKdkNk1MtZZDGu70o2gRrBmt-WFG",
}
_KAT_TOKEN = (
    "eyJhbGciOiJFUzM4NCIsInR5cCI6IkpXVCIsImtpZCI6ImthdCJ9"
    ".eyJzdWIiOiJrYXQtdXNlciIsImlzcyI6Imh0dHBzOi8vYXV0aC5leGFtcGxlIiwiYXVkIjoiaGVtYXRpdGUifQ"
    ".y1dYsszztSZX_vDE04Hgu0NZjL5DJnJfZVKkEQDnylh-MR72-IiHIUOCNV4-GrMKY-xLWJoY6k2viXDWthxLxVKTM"
    "WFLivMFXUclXV5f9iRVXkiNjUALumpMSjoWA8Pb"
)
# order of the P-384 base point (FIPS 186-4 D.1.2.4)
_P384_N = int(
    "ffffffffffffffffffffffffffffffffffffffffffffffff"
    "c7634d81f4372ddf581a0db248b0a77aecec196accc52973",
    16,
)


def test_es384_known_answer_and_edge_cases():
    verifier = ES384Verifier([_KAT_JWK], issuer="https://auth.example", audience="hematite")
    assert verifier(_KAT_TOKEN) == "kat-user"

    header, payload, sig64 = _KAT_TOKEN.split(".")
    raw = bytearray(base64.urlsafe_b64decode(payload + "=" * (-len(payload) % 4)))
    raw[raw.index(b"kat-user")] ^= 1  # one payload byte: "kat-user" → "jat-user"
    with pytest.raises(AuthError, match="signature verification failed"):
        verifier(f"{header}.{_b64(bytes(raw))}.{sig64}")

    sig = base64.urlsafe_b64decode(sig64 + "=" * (-len(sig64) % 4))
    r, s = int.from_bytes(sig[:48], "big"), int.from_bytes(sig[48:], "big")
    for r_, s_ in [(0, s), (r, 0), (_P384_N, s), (r, _P384_N)]:
        forged = _b64(r_.to_bytes(48, "big") + s_.to_bytes(48, "big"))
        with pytest.raises(AuthError, match="signature verification failed"):
            verifier(f"{header}.{payload}.{forged}")
    for bad in (sig[:95], sig + b"\0"):
        with pytest.raises(AuthError, match="malformed ES384 signature"):
            verifier(f"{header}.{payload}.{_b64(bad)}")

    y = int.from_bytes(base64.urlsafe_b64decode(_KAT_JWK["y"] + "=="), "big")
    off_curve = {**_KAT_JWK, "y": _b64((y + 1).to_bytes(48, "big"))}
    with pytest.raises(ValueError):
        ES384Verifier([off_curve])
