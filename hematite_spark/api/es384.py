"""ES384 (ECDSA over NIST P-384 + SHA-384) JWT verification — the
reference's auth model (reference openid.rs:39-153: JWKS key set, ES384
signature check, issuer/audience validation).

The curve arithmetic is OpenSSL's, reached through the ``cryptography``
package, a required dependency of ``hematite_spark.api``: importing this
module fails if it is missing, and there is no fallback. A verify costs
under a millisecond, and ``ES384Verifier`` caches verified tokens.

``generate_keypair`` and ``mint_token`` let tests and tooling make real
signed tokens. The private key is a plain int so it pickles into worker
processes; production key custody is out of scope — the server only
ever verifies.
"""

from __future__ import annotations

import base64
import functools
import json
import math
import time
from typing import Any, Callable

from cryptography.exceptions import InvalidSignature
from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.asymmetric import ec
from cryptography.hazmat.primitives.asymmetric.utils import (
    decode_dss_signature,
    encode_dss_signature,
)

from hematite_spark.api.server import AuthError

_CURVE = ec.SECP384R1()
_ECDSA = ec.ECDSA(hashes.SHA384())


def verify_raw(pub: ec.EllipticCurvePublicKey, message: bytes, r: int, s: int) -> bool:
    """ECDSA verification of the JWS ``r || s`` pair over ``message``.
    Out-of-range r or s (0, or >= the group order) is a plain False."""
    try:
        pub.verify(encode_dss_signature(r, s), message, _ECDSA)
    except InvalidSignature:
        return False
    return True


def generate_keypair() -> tuple[int, tuple[int, int]]:
    numbers = ec.generate_private_key(_CURVE).private_numbers()
    return numbers.private_value, (numbers.public_numbers.x, numbers.public_numbers.y)


# ---- JOSE / JWK plumbing -------------------------------------------


def _b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def _b64url_encode(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


def jwk_from_public(pub: tuple[int, int], kid: str = "key-1") -> dict[str, str]:
    return {
        "kty": "EC",
        "crv": "P-384",
        "kid": kid,
        "x": _b64url_encode(pub[0].to_bytes(48, "big")),
        "y": _b64url_encode(pub[1].to_bytes(48, "big")),
    }


def _public_from_jwk(jwk: dict[str, Any]) -> ec.EllipticCurvePublicKey:
    """Raises ValueError for a non-P-384 key or a point off the curve."""
    if jwk.get("kty") != "EC" or jwk.get("crv") != "P-384":
        raise ValueError(f"not a P-384 EC key: {jwk.get('kty')}/{jwk.get('crv')}")
    x = int.from_bytes(_b64url_decode(jwk["x"]), "big")
    y = int.from_bytes(_b64url_decode(jwk["y"]), "big")
    return ec.EllipticCurvePublicNumbers(x, y, _CURVE).public_key()


def mint_token(
    priv: int,
    claims: dict[str, Any],
    kid: str = "key-1",
    header_extra: dict[str, Any] | None = None,
) -> str:
    """Compact-JWS ES384 token (for tests/dev tooling)."""
    header = {"alg": "ES384", "typ": "JWT", "kid": kid, **(header_extra or {})}
    h = _b64url_encode(json.dumps(header, separators=(",", ":")).encode())
    p = _b64url_encode(json.dumps(claims, separators=(",", ":")).encode())
    signing_input = f"{h}.{p}".encode()
    der = ec.derive_private_key(priv, _CURVE).sign(signing_input, _ECDSA)
    r, s = decode_dss_signature(der)
    sig = _b64url_encode(r.to_bytes(48, "big") + s.to_bytes(48, "big"))
    return f"{h}.{p}.{sig}"


def _numeric_date(claims: dict[str, Any], name: str) -> float | None:
    """A JWT NumericDate claim (RFC 7519 §2): absent, or a finite JSON
    number; anything else makes the token invalid."""
    value = claims.get(name)
    if value is None:
        return None
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        try:
            if math.isfinite(value):
                return float(value)
        except OverflowError:  # an int beyond the float range
            pass
    raise AuthError(f"{name} claim is not a finite number")


def _default_jwks_fetcher(uri: str) -> dict[str, Any]:
    """HTTPS JWKS fetch (stdlib urllib; the injectable default). The
    reference does the same GET against the provider's jwks_uri
    (openid.rs:49-74); tests inject an in-memory fetcher instead."""
    import urllib.request

    with urllib.request.urlopen(uri, timeout=10) as resp:  # noqa: S310
        return json.loads(resp.read())


class ES384Verifier:
    """Verifying callable for the API server's ``verifier=`` hook:
    checks the ES384 signature against a JWKS key set, then the
    issuer/audience/expiry claims, and returns ``sub`` — mirroring
    the reference's middleware (openid.rs:78-105: JWKS-cached verify
    + issuer and audience checks; api.rs:153-231). Any token it cannot
    accept, malformed ones included, raises ``AuthError``.

    Key material comes from either a static ``jwks`` document
    (``{"keys": [...]}`` or a bare key list) or JWKS *discovery*
    (reference openid.rs:49-74: fetch the key set from the provider's
    ``jwks_uri`` and cache it): pass ``jwks_uri`` plus an injectable
    ``fetcher(uri) -> jwks-document`` (defaults to an HTTPS fetch via
    urllib). The fetched set is cached for ``jwks_ttl`` seconds, and
    an *unknown kid* triggers an early refetch — the key-rotation
    path: a provider signing with a freshly rotated key becomes
    verifiable at the next request instead of after TTL expiry.
    Unknown-kid refetches are rate-limited by ``refresh_cooldown`` so
    garbage kids can't turn into an IdP hammering vector; without a
    fetcher an unknown kid is a plain 401.
    """

    def __init__(
        self,
        jwks: dict[str, Any] | list[dict[str, Any]] | None = None,
        issuer: str | None = None,
        audience: str | None = None,
        clock: Callable[[], float] = time.time,
        leeway: float = 30.0,
        jwks_uri: str | None = None,
        fetcher: Callable[[str], dict[str, Any]] | None = None,
        jwks_ttl: float = 300.0,
        refresh_cooldown: float = 30.0,
    ):
        if jwks is None and jwks_uri is None:
            raise ValueError("one of jwks / jwks_uri is required")
        self.jwks_uri = jwks_uri
        self._fetcher = fetcher or (_default_jwks_fetcher if jwks_uri else None)
        self.jwks_ttl = jwks_ttl
        self.refresh_cooldown = refresh_cooldown
        self.issuer = issuer
        self.audience = audience
        self.clock = clock
        self.leeway = leeway
        self._keys: dict[str | None, ec.EllipticCurvePublicKey] = {}
        self._fetched_at: float | None = None
        if jwks is not None:
            self._load_keys(jwks)
        else:
            self._refresh()
        # Bearer clients resend the same token until it expires, so a
        # hit skips decoding, key lookup and the signature check;
        # __call__ re-checks exp on every call. Failures are not cached.
        self._verify_cached = functools.lru_cache(maxsize=1024)(self._verify)

    def _load_keys(self, jwks: dict[str, Any] | list[dict[str, Any]]) -> None:
        keys = jwks.get("keys", []) if isinstance(jwks, dict) else jwks
        parsed: dict[str | None, ec.EllipticCurvePublicKey] = {}
        for jwk in keys:
            parsed[jwk.get("kid")] = _public_from_jwk(jwk)
        if not parsed:
            raise ValueError("empty JWKS")
        self._keys = parsed

    def _refresh(self) -> None:
        """Fetch the JWKS from jwks_uri and swap the key set. A failed
        or empty fetch keeps the previous keys (a flapping IdP must
        not take auth down with it) unless there are none yet."""
        doc = self._fetcher(self.jwks_uri)  # type: ignore[misc]
        try:
            self._load_keys(doc)
        except ValueError:
            if not self._keys:
                raise
        self._fetched_at = self.clock()

    def _lookup_key(self, kid: str | None):
        """kid → public key, with the discovery lifecycle around it:
        TTL-expired cache refetches first; an unknown kid forces an
        early refetch (key rotation), rate-limited by the cooldown."""
        if self._fetcher is not None and self._fetched_at is not None:
            if self.clock() - self._fetched_at > self.jwks_ttl:
                try:
                    self._refresh()
                except Exception:  # noqa: BLE001 — keep serving cached keys
                    self._fetched_at = self.clock()  # back off one TTL
        # a kid-less token may use a single-key set; a token whose kid
        # is NOT in the set is an unknown kid (the rotation signal) —
        # falling back to an unrelated key would mask rotations
        def pick(k):
            return self._keys.get(k) or (
                k is None and len(self._keys) == 1 and next(iter(self._keys.values()))
            )

        pub = pick(kid)
        if not pub and self._fetcher is not None and self._fetched_at is not None:
            if self.clock() - self._fetched_at >= self.refresh_cooldown:
                try:
                    self._refresh()
                except Exception:  # noqa: BLE001
                    self._fetched_at = self.clock()
                pub = pick(kid)
        return pub

    def __call__(self, token: str) -> str:
        sub, exp = self._verify_cached(token)
        if exp is not None and self.clock() > exp + self.leeway:
            raise AuthError("token expired")
        return sub

    def _verify(self, token: str) -> tuple[str, float | None]:
        """Full check of one token → (sub, exp); exp is left to the caller."""
        parts = token.split(".")
        if len(parts) != 3:
            raise AuthError("not a JWS compact token")
        try:
            header = json.loads(_b64url_decode(parts[0]))
            claims = json.loads(_b64url_decode(parts[1]))
            sig = _b64url_decode(parts[2])
        except Exception as exc:  # noqa: BLE001 — any decode failure is a 401
            raise AuthError(f"undecodable token: {exc}") from exc
        if not isinstance(header, dict) or not isinstance(claims, dict):
            raise AuthError("token header and claims must be JSON objects")
        if header.get("alg") != "ES384":
            raise AuthError(f"unsupported alg {header.get('alg')!r}")
        if len(sig) != 96:
            raise AuthError("malformed ES384 signature")
        kid = header.get("kid")
        if kid is not None and not isinstance(kid, str):
            raise AuthError(f"key id is not a string: {kid!r}")
        pub = self._lookup_key(kid)
        if not pub:
            raise AuthError(f"unknown key id {kid!r}")
        r = int.from_bytes(sig[:48], "big")
        s = int.from_bytes(sig[48:], "big")
        signing_input = f"{parts[0]}.{parts[1]}".encode()
        if not verify_raw(pub, signing_input, r, s):
            raise AuthError("signature verification failed")
        # claims (openid.rs:94-105: issuer + audience; exp/nbf standard)
        if self.issuer is not None and claims.get("iss") != self.issuer:
            raise AuthError(f"issuer mismatch: {claims.get('iss')!r}")
        if self.audience is not None:
            aud = claims.get("aud")
            auds = aud if isinstance(aud, list) else [aud]
            if self.audience not in auds:
                raise AuthError(f"audience mismatch: {aud!r}")
        exp = _numeric_date(claims, "exp")
        nbf = _numeric_date(claims, "nbf")
        if nbf is not None and self.clock() < nbf - self.leeway:
            raise AuthError("token not yet valid")
        sub = claims.get("sub")
        if not sub:
            raise AuthError("missing sub claim")
        return str(sub), exp
