"""GraphQL HTTP server with JWT (HS256) auth — stdlib only.

Reference parity: the SimpleGQL server
(python/zef/graphql/simplegql/server2.py:27-110) reads a Bearer token
from a configurable auth header, verifies HS256 against a preshared
key (RS256 via JWK in the reference — needs a JWK client, not
available here), checks the audience, optionally unpacks a namespace
claim, and refuses non-public access without auth; generated per-type
auth rules then restrict what a query may see. Here:

- ``encode_jwt`` / ``decode_jwt``: HS256 JWT via hmac/hashlib (no
  external jwt lib in this environment), with exp + aud validation.
- ``AuthConfig``: header / audience / namespace / public, plus
  per-type rules {type_name: callable(claims) -> filter-dict | bool}
  — a returned filter is AND-merged into every query<T>/get<T>/
  aggregate<T> over that type (row-level security compiled INTO the
  DataFrame plan, not post-filtered), False denies outright.
- ``GraphQLHTTPServer``: ThreadingHTTPServer; POST /graphql executes
  documents through GraphQLEngine; GET returns a health line like the
  reference's health-check response.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time as _time
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable


# -- minimal HS256 JWT ------------------------------------------------

def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _unb64url(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def encode_jwt(claims: dict, secret: str) -> str:
    header = _b64url(json.dumps({"alg": "HS256", "typ": "JWT"},
                                separators=(",", ":")).encode())
    payload = _b64url(json.dumps(claims, separators=(",", ":")).encode())
    signing_input = f"{header}.{payload}".encode()
    sig = hmac.new(secret.encode(), signing_input, hashlib.sha256).digest()
    return f"{header}.{payload}.{_b64url(sig)}"


class AuthError(Exception):
    pass


def decode_jwt(token: str, secret: str,
               audience: str | None = None) -> dict:
    try:
        header_b64, payload_b64, sig_b64 = token.split(".")
    except ValueError:
        raise AuthError("malformed token")
    signing_input = f"{header_b64}.{payload_b64}".encode()
    expect = hmac.new(secret.encode(), signing_input,
                      hashlib.sha256).digest()
    if not hmac.compare_digest(expect, _unb64url(sig_b64)):
        raise AuthError("bad signature")
    header = json.loads(_unb64url(header_b64))
    if header.get("alg") != "HS256":
        raise AuthError(f"unsupported alg {header.get('alg')!r}")
    claims = json.loads(_unb64url(payload_b64))
    if "exp" in claims and _time.time() > float(claims["exp"]):
        raise AuthError("token expired")
    if audience is not None:
        aud = claims.get("aud")
        ok = audience in aud if isinstance(aud, list) else aud == audience
        if not ok:
            raise AuthError("wrong audience")
    return claims


# -- per-type auth rules ----------------------------------------------

@dataclass
class AuthConfig:
    secret: str
    header: str = "authorization"          # reference: configurable
    audience: str | None = None
    namespace: str | None = None           # unpack claims[namespace]
    public: bool = False                   # allow unauthenticated?
    #: type name -> rule(claims) -> filter-dict (row-level security,
    #: AND-merged) | True (allow) | False (deny)
    rules: dict = dc_field(default_factory=dict)

    def resolve(self, headers: dict) -> dict | None:
        """Bearer-token flow of server2.py:27-74; returns claims or
        None (when public and no token)."""
        lower = {k.lower(): v for k, v in headers.items()}
        raw = lower.get(self.header.lower(), "").strip()
        if not raw:
            if not self.public:
                raise AuthError("no auth and public is False")
            return None
        parts = raw.split()
        if len(parts) != 2 or parts[0] != "Bearer":
            raise AuthError("invalid auth header")
        claims = decode_jwt(parts[1], self.secret, self.audience)
        if self.namespace is not None:
            claims = claims[self.namespace]
        return claims

    def filter_for(self, tname: str, claims: dict | None):
        """None = unrestricted; dict = AND-merge; raises on deny."""
        rule = self.rules.get(tname)
        if rule is None:
            return None
        out = rule(claims)
        if out is True or out is None:
            return None
        if out is False:
            raise AuthError(f"access to {tname} denied")
        return out


class AuthedEngine:
    """Wraps a GraphQLEngine so per-type auth filters compile into
    the plan (generate_api2.py:1207-1248 analogue)."""

    def __init__(self, engine, auth: AuthConfig):
        self.engine = engine
        self.auth = auth

    def execute(self, query: str, variables: dict | None = None,
                claims: dict | None = None) -> dict:
        eng = self.engine
        auth = self.auth
        orig_df = eng.df

        def authed_df(tname, args, selection):
            extra = auth.filter_for(tname, claims)
            if extra is not None:
                fil = args.get("filter")
                args = {**args,
                        "filter": ({"and": [fil, extra]} if fil
                                   else extra)}
            return orig_df(tname, args, selection)

        eng.df = authed_df
        try:
            return eng.execute(query, variables)
        finally:
            eng.df = orig_df


# -- HTTP server ------------------------------------------------------

# largest POST body the server reads; a longer Content-Length gets 413
MAX_REQUEST_BYTES = 1 << 20


def make_server(engine, auth: AuthConfig | None = None,
                host: str = "127.0.0.1", port: int = 0,
                max_streams: int = 64,
                heartbeat_seconds: float = 10.0):
    """ThreadingHTTPServer serving POST /graphql {query, variables}
    and — the over-the-wire half of per-type subscriptions (reference
    generates onT subscription fields per type, simplegql/
    generate_api2.py:80-292) — GET /graphql/stream?query=... as a
    Server-Sent-Events stream: the subscription document registers
    through engine.execute_subscription and every published change
    event is written as one ``event: next`` SSE frame; client
    disconnect cancels the registration. Auth (when configured)
    gates the stream with the same Bearer-token resolution as POST.
    Returns the server object (``.server_address`` has the bound
    port); call ``serve_forever`` / ``shutdown`` yourself or use
    ``serve_in_thread``.

    Stream resilience (the reference rides a resilient WebSocket,
    generate_api2.py): each stream opens with an SSE ``retry:``
    reconnect hint, emits an ``event: heartbeat`` frame after
    ``heartbeat_seconds`` of silence (liveness signal AND disconnect
    probe — a dead client raises on the write, freeing the handler
    thread and cancelling its subscription), and at most
    ``max_streams`` streams run concurrently: excess connects get
    503 + Retry-After instead of a silently-queued thread."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    authed = AuthedEngine(engine, auth) if auth is not None else None
    stream_count = [0]
    stream_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):          # silence test noise
            pass

        def _send(self, code: int, body: dict | str):
            data = (json.dumps(body) if isinstance(body, dict)
                    else body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json"
                             if isinstance(body, dict) else "text/plain")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            from urllib.parse import parse_qs, urlparse
            parsed = urlparse(self.path)
            if parsed.path.rstrip("/") == "/graphql/stream":
                q = parse_qs(parsed.query)
                try:
                    variables = json.loads(
                        q.get("variables", ["null"])[0] or "null")
                except json.JSONDecodeError as e:
                    self._send(400, {"errors": [
                        {"message": f"bad variables: {e}"}]})
                    return
                self._sse(q.get("query", [""])[0], variables)
                return
            # health check (reference returns a waiting banner)
            self._send(200, "Server waiting for GraphQL requests")

        def _sse(self, query: str, variables):
            import queue as _queue
            import time as _time
            if auth is not None:
                try:
                    auth.resolve(dict(self.headers))
                except AuthError as e:
                    self._send(401, {"errors": [{"message": str(e)}]})
                    return
            with stream_lock:
                if stream_count[0] >= max_streams:
                    self.send_response(503)
                    self.send_header("Retry-After", "5")
                    self.send_header("Content-Type", "application/json")
                    body = json.dumps({"errors": [{"message":
                        f"stream limit {max_streams} reached"}]}).encode()
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                stream_count[0] += 1
            events: _queue.Queue = _queue.Queue()
            try:
                handles = engine.execute_subscription(
                    query, events.put, variables)
            except Exception as e:
                with stream_lock:
                    stream_count[0] -= 1
                self._send(400, {"errors": [{"message": str(e)}]})
                return
            try:
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                # SSE reconnect hint: a dropped client retries itself
                self.wfile.write(b"retry: 3000\n\n")
                self.wfile.flush()
                last_beat = _time.monotonic()
                while True:
                    try:
                        ev = events.get(timeout=0.5)
                    except _queue.Empty:
                        now = _time.monotonic()
                        if now - last_beat >= heartbeat_seconds:
                            # typed heartbeat frame: liveness signal
                            # clients can observe (comments are
                            # invisible to EventSource handlers)
                            self.wfile.write(
                                b"event: heartbeat\ndata: {}\n\n")
                            last_beat = now
                        else:
                            # cheap disconnect probe between beats
                            self.wfile.write(b": keep-alive\n\n")
                        self.wfile.flush()
                        continue
                    frame = json.dumps(ev, default=str)
                    self.wfile.write(
                        f"event: next\ndata: {frame}\n\n".encode())
                    self.wfile.flush()
                    last_beat = _time.monotonic()
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass                        # client went away
            finally:
                with stream_lock:
                    stream_count[0] -= 1
                for h in handles.values():
                    h.cancel()

        def do_POST(self):
            if self.path.rstrip("/") not in ("", "/graphql", "/gql"):
                self._send(404, {"errors": [{"message": "not found"}]})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                if n < 0:               # rfile.read(-1) waits for EOF
                    raise ValueError(n)
                if n > MAX_REQUEST_BYTES:
                    self._send(413, {"errors": [
                        {"message": "request body too large"}]})
                    return
                req = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._send(400, {"errors": [{"message": "bad request"}]})
                return
            claims = None
            if auth is not None:
                try:
                    claims = auth.resolve(dict(self.headers))
                except AuthError as e:
                    self._send(401, {"errors": [{"message": str(e)}]})
                    return
            try:
                if authed is not None:
                    data = authed.execute(req.get("query", ""),
                                          req.get("variables"),
                                          claims)
                else:
                    data = engine.execute(req.get("query", ""),
                                          req.get("variables"))
                self._send(200, {"data": data})
            except AuthError as e:
                self._send(403, {"errors": [{"message": str(e)}]})
            except Exception as e:  # GraphQL errors -> error payload
                self._send(200, {"errors": [{"message": str(e)}]})

    srv = ThreadingHTTPServer((host, port), Handler)
    srv._stream_count = stream_count   # observability/test hook
    return srv


def serve_in_thread(server):
    """Start serve_forever on a daemon thread; returns the thread."""
    import threading
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
