"""Mock load-API server — the engine's sink test double (SURVEY M1-M4).

Mirrors the reference's mock server routes (mock-load-api-server/
main.go:22-64): ``POST /load`` and ``GET /health``, 404 otherwise; records
every request (batch size, headers, body) and supports failure injection
and configurable delay for exercising the DLQ path.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


@dataclass
class RecordedRequest:
    path: str
    content_type: str
    auth_header: str
    body: bytes
    idem_key: str = ""

    @property
    def batch(self) -> list[dict]:
        return json.loads(self.body)

    @property
    def batch_size(self) -> int:
        return len(self.batch)


@dataclass
class MockApiState:
    requests: list[RecordedRequest] = field(default_factory=list)
    fail_remaining: int = 0  # fail the next N /load posts with HTTP 500
    fail_all: bool = False
    delay_s: float = 0.0  # M3's simulated processing delay
    # Idempotency-Key dedup (the receiver half of effectively-once
    # delivery): a keyed POST whose key was already accepted gets a
    # 200 but is recorded as a duplicate, not re-applied.
    dedup_keys: bool = False
    seen_keys: set = field(default_factory=set)
    duplicate_posts: int = 0
    rejected_bodies: list[bytes] = field(default_factory=list)  # failed POSTs
    lock: threading.Lock = field(default_factory=threading.Lock)


class MockApiServer:
    """stdlib ThreadingHTTPServer on an ephemeral port."""

    def __init__(self) -> None:
        self.state = MockApiState()
        state = self.state

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def do_GET(self):
                if self.path == "/health":  # M2
                    self._respond(200, {"status": "ok"})
                else:
                    self._respond(404, {"error": "not found"})

            def do_POST(self):
                if self.path != "/load":  # M1 routing
                    self._respond(404, {"error": "not found"})
                    return
                length = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(length)
                if state.delay_s:
                    time.sleep(state.delay_s)
                idem_key = self.headers.get("Idempotency-Key", "")
                with state.lock:
                    fail = state.fail_all or state.fail_remaining > 0
                    if fail and state.fail_remaining > 0:
                        state.fail_remaining -= 1
                    duplicate = (
                        not fail
                        and state.dedup_keys
                        and idem_key != ""
                        and idem_key in state.seen_keys
                    )
                    if fail:
                        state.rejected_bodies.append(body)
                    elif duplicate:
                        state.duplicate_posts += 1
                    else:
                        if state.dedup_keys and idem_key:
                            state.seen_keys.add(idem_key)
                        state.requests.append(
                            RecordedRequest(
                                path=self.path,
                                content_type=self.headers.get("Content-Type", ""),
                                auth_header=self.headers.get("Authorization", ""),
                                body=body,
                                idem_key=idem_key,
                            )
                        )
                if fail:
                    self._respond(500, {"status": "error"})
                else:
                    # a duplicate still acks 200 — idempotent receivers
                    # acknowledge replays so the sender can move on
                    self._respond(200, {"status": "success"})  # M3

            def _respond(self, code: int, payload: dict):
                data = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    @property
    def endpoint(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/load"

    def start(self) -> "MockApiServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def total_rows_received(self) -> int:
        with self.state.lock:
            return sum(r.batch_size for r in self.state.requests)
