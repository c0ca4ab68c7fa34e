"""Mock CRM for the benchmark, run as its own process.

    python3 perfbench/crm.py

Prints ``PORT <n>`` on its first stdout line, then serves until stdin
closes (the benchmark holds the pipe, so the server dies with it). The
failure rate starts at 0; ``PUT /config`` is the only way to change it.

* ``POST /customers`` answers 201, or 503 when a keyed hash of
  (email, attempt number as seen by this server) falls below the failure
  rate. The failing set therefore does not depend on arrival order or on
  how the client schedules its retries. The key is fixed, so a customer
  fails the same way under every run seed: the seed varies the inputs,
  not the sink, and the backoff the failures cause does not swing from
  seed to seed.
* ``PUT /config`` with ``{"fail_rate": x}`` changes the rate.
* ``GET /stats`` returns the counters: requests, connections, status
  mix, handler busy seconds, and per email every attempt as
  ``[epoch_s, status]`` plus the payload of its first 201.

It speaks HTTP/1.1 with keep-alive, so a client that reuses connections
shows up in ``connections``.
"""

from __future__ import annotations

import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


FAIL_KEY = b"csv-crm-upload-bench"


def fails(email: str, attempt: int, rate: float) -> bool:
    """Deterministic 503 decision for the ``attempt``-th POST of ``email``."""
    if rate <= 0:
        return False
    h = hashlib.blake2b(f"{email}|{attempt}".encode(), digest_size=8, key=FAIL_KEY).digest()
    return int.from_bytes(h, "big") / 2.0**64 < rate


class CRMState:
    def __init__(self):
        self.fail_rate = 0.0
        self.lock = threading.Lock()
        self.requests = 0
        self.connections = 0
        self.status: dict[int, int] = {}
        self.busy_s = 0.0
        self.attempts: dict[str, list] = {}
        self.payloads: dict[str, dict] = {}

    def post(self, payload: dict) -> int:
        email = str(payload.get("email"))
        with self.lock:
            seen = self.attempts.setdefault(email, [])
            code = 503 if fails(email, len(seen) + 1, self.fail_rate) else 201
            seen.append([time.time(), code])
            if code == 201:
                self.payloads.setdefault(email, payload)
            self.requests += 1
            self.status[code] = self.status.get(code, 0) + 1
        return code

    def stats(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "connections": self.connections,
                "status": {str(k): v for k, v in self.status.items()},
                "busy_s": self.busy_s,
                "attempts": self.attempts,
                "payloads": self.payloads,
            }


def make_handler(state: CRMState):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self):
            super().setup()
            with state.lock:
                state.connections += 1

        def _reply(self, code: int, body: bytes = b"") -> None:
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            if body:
                self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length", 0)))

        def do_POST(self):
            t0 = time.perf_counter()
            body = self._body()
            if self.path != "/customers":
                self._reply(404)
                return
            self._reply(state.post(json.loads(body)))
            with state.lock:
                state.busy_s += time.perf_counter() - t0

        def do_PUT(self):
            body = self._body()
            if self.path != "/config":
                self._reply(404)
                return
            with state.lock:
                state.fail_rate = float(json.loads(body)["fail_rate"])
            self._reply(204)

        def do_GET(self):
            if self.path != "/stats":
                self._reply(404)
                return
            self._reply(200, json.dumps(state.stats()).encode())

        def log_message(self, *args):
            pass

    return Handler


def main() -> None:
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(CRMState()))
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_port}", flush=True)
    sys.stdin.read()  # until the benchmark closes the pipe
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
