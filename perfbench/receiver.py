"""The harness-owned load receiver, run as its own process.

Modelled on ``tests/mock_api.py``: ``POST /load`` with a bearer token,
``GET /health``, a fixed per-POST delay, and rejection (HTTP 500) of every
k-th POST by arrival order.  Each POST is logged before it is answered, so
once the sink pass returns every accepted body is in the log::

    {"seq", "arrive", "done", "rows", "bytes", "accepted"}<TAB><body>

    python3 perfbench/receiver.py --log L --port-file F [--delay S]
        [--reject-every K] [--token T]
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def serve(log_path: str, port_file: str, delay_s: float, reject_every: int,
          token: str) -> None:
    lock = threading.Lock()
    arrivals = [0]
    log = open(log_path, "a", buffering=1)  # noqa: SIM115

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def do_GET(self):
            self._respond(200 if self.path == "/health" else 404)

        def do_POST(self):
            arrive = time.monotonic()
            body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
            if self.path != "/load":
                self._respond(404)
                return
            if self.headers.get("Authorization", "") != f"Bearer {token}":
                self._respond(401)
                return
            with lock:
                arrivals[0] += 1
                seq = arrivals[0]
            if delay_s:
                time.sleep(delay_s)
            accepted = not (reject_every and seq % reject_every == 0)
            rows = len(json.loads(body)) if accepted else 0
            meta = {"seq": seq, "arrive": arrive, "done": time.monotonic(),
                    "rows": rows, "bytes": len(body), "accepted": accepted}
            line = json.dumps(meta) + "\t" + (body.decode() if accepted else "")
            with lock:
                log.write(line + "\n")
            self._respond(200 if accepted else 500)

        def _respond(self, code: int) -> None:
            self.send_response(code)
            self.send_header("Content-Length", "0")
            self.end_headers()

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    tmp = port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, port_file)
    try:
        server.serve_forever()
    finally:
        log.close()


def read_log(log_path: str, offset: int) -> tuple[list[dict], list[dict], int]:
    """Entries written since byte ``offset``: ``(posts, accepted rows,
    new offset)``."""
    posts, rows = [], []
    with open(log_path, "rb") as fh:
        fh.seek(offset)
        data = fh.read()
    for line in data.decode().splitlines():
        meta, body = line.split("\t", 1)
        meta = json.loads(meta)
        posts.append(meta)
        if meta["accepted"]:
            rows.extend(json.loads(body))
    return posts, rows, offset + len(data)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--log", required=True)
    p.add_argument("--port-file", required=True)
    p.add_argument("--delay", type=float, default=0.0)
    p.add_argument("--reject-every", type=int, default=0)
    p.add_argument("--token", default="")
    a = p.parse_args()
    serve(a.log, a.port_file, a.delay, a.reject_every, a.token)


if __name__ == "__main__":
    main()
