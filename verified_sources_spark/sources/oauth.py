"""OAuth2 token acquisition + refresh middleware for the REST framework.

The reference authenticates its Google-family and SaaS connectors with
OAuth2 credential objects that lazily fetch and refresh access tokens:

- google_sheets / google_analytics: refresh-token flow against the GCP
  token endpoint (reference sources/google_sheets/setup_script_gcp_oauth.py:24-33,
  the produced refresh_token is exchanged per run)
- zendesk: a long-lived OAuth access token attached as a Bearer header
  (reference sources/zendesk/helpers/credentials.py:32-37)
- salesforce: username-password and client-credentials OAuth2 flows
  (reference sources/salesforce/helpers/client.py:42-114)

Here the same three RFC 6749 grant shapes are one provider class, and
the *refresh* behavior is transport middleware:

- proactive: a token is re-acquired before use once ``expires_in`` (minus
  a skew margin) has elapsed — the normal steady-state path, no 401s hit
  the API.
- reactive: a 401 from the resource server invalidates the cached token
  and the request is retried ONCE with a freshly acquired token — covers
  server-side revocation that expiry tracking cannot see.

The JWT-bearer grant (salesforce client.py:94, Google service accounts)
is :class:`JwtBearerProvider`: RFC 7523 §2.1 — a fresh RS256-signed
assertion per token request, signed by ``sources.rsa_jwt`` (pure-stdlib
RSA, see that module's scope note).

Thread-safe: a provider shared by transports on many threads (a
caller's own pool) serializes acquisition under a lock, so a fleet of
workers waking up to an expired token performs one token request, not
N.  An executor-side fan-out (``rest.fetch_distributed``) ships each
task its own copy.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from typing import Any

from verified_sources_spark.sources.rest import TransportError


class OAuth2Error(TransportError):
    """Token endpoint rejected the grant (carries the HTTP status)."""


class OAuth2TokenProvider:
    """Acquires and caches an OAuth2 access token (RFC 6749 §4.3/§4.4/§6).

    ``grant_type`` is one of ``client_credentials``, ``refresh_token``,
    ``password``.  Extra form fields (``scope``, ``audience``, salesforce's
    ``format``...) pass through ``extra``.  If a refresh response rotates
    the refresh token (RFC 6749 §6 allows it; Google does this for
    one-time-use tokens), the new one replaces the stored one.

    ``post`` is injectable for tests; the default lazily imports
    ``requests`` (same optional dependency as ``HttpTransport``).
    ``clock`` is injectable so expiry can be driven without sleeping.
    """

    def __init__(
        self,
        token_url: str,
        client_id: str,
        client_secret: str = "",
        grant_type: str = "client_credentials",
        refresh_token: str | None = None,
        username: str | None = None,
        password: str | None = None,
        scope: str | None = None,
        extra: dict[str, str] | None = None,
        expiry_skew: float = 30.0,
        post: Callable[[str, dict[str, str]], tuple[int, dict]] | None = None,
        clock: Callable[[], float] = time.monotonic,
    ):
        if grant_type not in ("client_credentials", "refresh_token", "password"):
            raise ValueError(f"unsupported grant_type: {grant_type!r}")
        if grant_type == "refresh_token" and not refresh_token:
            raise ValueError("refresh_token grant requires a refresh_token")
        if grant_type == "password" and (username is None or password is None):
            raise ValueError("password grant requires username and password")
        self.token_url = token_url
        self.client_id = client_id
        self.client_secret = client_secret
        self.grant_type = grant_type
        self.refresh_token = refresh_token
        self.username = username
        self.password = password
        self.scope = scope
        self.extra = dict(extra or {})
        self.expiry_skew = expiry_skew
        self._post = post if post is not None else self._requests_post
        self._clock = clock
        self._lock = threading.Lock()
        self._token: str | None = None
        self._token_type = "Bearer"
        self._expires_at: float | None = None  # None = no expiry reported
        self.n_token_requests = 0  # observable for tests / rate accounting

    @staticmethod
    def _requests_post(url: str, form: dict[str, str]) -> tuple[int, dict]:
        try:
            import requests
        except ImportError as e:  # pragma: no cover - env without requests
            raise ImportError("OAuth2TokenProvider requires 'requests' (or inject post=)") from e
        resp = requests.post(url, data=form, timeout=30.0)
        try:
            body = resp.json() if resp.content else {}
        except ValueError:
            body = {"error": resp.text[:200]}
        return resp.status_code, body

    def _grant_form(self) -> dict[str, str]:
        form = {"grant_type": self.grant_type, "client_id": self.client_id}
        if self.client_secret:
            form["client_secret"] = self.client_secret
        if self.grant_type == "refresh_token":
            form["refresh_token"] = str(self.refresh_token)
        elif self.grant_type == "password":
            form["username"] = str(self.username)
            form["password"] = str(self.password)
        if self.scope:
            form["scope"] = self.scope
        form.update(self.extra)
        return form

    def _acquire_locked(self) -> None:
        status, body = self._post(self.token_url, self._grant_form())
        self.n_token_requests += 1
        if status >= 400 or "access_token" not in body:
            raise OAuth2Error(status, f"token endpoint: {body.get('error', body)}")
        self._token = str(body["access_token"])
        self._token_type = str(body.get("token_type") or "Bearer")
        expires_in = body.get("expires_in")
        self._expires_at = (
            self._clock() + float(expires_in) - self.expiry_skew
            if expires_in is not None
            else None
        )
        # RFC 6749 §6: the server MAY rotate the refresh token
        if body.get("refresh_token"):
            self.refresh_token = str(body["refresh_token"])

    def _expired_locked(self) -> bool:
        if self._token is None:
            return True
        return self._expires_at is not None and self._clock() >= self._expires_at

    def authorization(self) -> str:
        """``Authorization`` header value, acquiring/refreshing as needed."""
        with self._lock:
            if self._expired_locked():
                self._acquire_locked()
            return f"{self._token_type} {self._token}"

    def invalidate(self, token: str | None = None) -> None:
        """Drop the cached token (reactive path, after a 401).

        ``token`` guards the double-invalidate race: if another thread
        already replaced the rejected token, keep the new one.
        """
        with self._lock:
            if token is None or self._token is None or token.endswith(self._token):
                self._token = None
                self._expires_at = None


class JwtBearerProvider(OAuth2TokenProvider):
    """RFC 7523 JWT-bearer grant: the Google service-account /
    Salesforce JWT flow.

    Each token request posts ``grant_type=urn:ietf:params:oauth:
    grant-type:jwt-bearer`` with a FRESHLY signed assertion (``iat``/
    ``exp`` stamped at request time — a cached assertion would expire
    independently of the access token and start failing exchanges).
    ``private_key_pem`` accepts PKCS#8 or PKCS#1 PEM — the format inside
    a downloaded Google service-account JSON's ``private_key`` field.

    Inherits the proactive-expiry + reactive-401 refresh middleware
    behavior from :class:`OAuth2TokenProvider` unchanged.
    """

    GRANT_TYPE = "urn:ietf:params:oauth:grant-type:jwt-bearer"

    def __init__(
        self,
        token_url: str,
        issuer: str,
        private_key_pem: str,
        scope: str | None = None,
        subject: str | None = None,
        audience: str | None = None,
        assertion_lifetime: int = 3600,
        key_id: str | None = None,
        expiry_skew: float = 30.0,
        post: Callable[[str, dict[str, str]], tuple[int, dict]] | None = None,
        clock: Callable[[], float] = time.monotonic,
        wall_clock: Callable[[], float] = time.time,
    ):
        from verified_sources_spark.sources.rsa_jwt import parse_pem_private_key

        super().__init__(
            token_url=token_url,
            client_id=issuer,
            grant_type="client_credentials",  # placeholder; _grant_form overrides
            scope=scope,
            expiry_skew=expiry_skew,
            post=post,
            clock=clock,
        )
        self._key = parse_pem_private_key(private_key_pem)
        self.issuer = issuer
        self.subject = subject
        self.audience = audience if audience is not None else token_url
        self.assertion_lifetime = assertion_lifetime
        self.key_id = key_id
        self._wall_clock = wall_clock

    def _grant_form(self) -> dict[str, str]:
        from verified_sources_spark.sources.rsa_jwt import jwt_bearer_assertion

        return {
            "grant_type": self.GRANT_TYPE,
            "assertion": jwt_bearer_assertion(
                self._key,
                issuer=self.issuer,
                audience=self.audience,
                scope=self.scope,
                subject=self.subject,
                lifetime=self.assertion_lifetime,
                now=self._wall_clock(),
                key_id=self.key_id,
            ),
        }


class StaticTokenProvider:
    """A pre-issued long-lived token (zendesk's oauth_token shape,
    reference sources/zendesk/helpers/credentials.py:32-37). ``invalidate``
    is a no-op — there is nothing to refresh to, so a 401 propagates."""

    def __init__(self, token: str, token_type: str = "Bearer"):
        self._value = f"{token_type} {token}"

    def authorization(self) -> str:
        return self._value

    def invalidate(self, token: str | None = None) -> None:
        pass
