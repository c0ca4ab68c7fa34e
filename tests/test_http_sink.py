"""HTTP sink contract (S6/T5): one keep-alive connection per partition,
HTTP/1.0 servers still served, and every transport failure — refused
connection, malformed reply — is a failed attempt (status -1) under the
usual backoff, never an exception that fails the Spark task."""

from __future__ import annotations

import socket
import socketserver
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from csv_crm_upload_spark.sinks.http_sink import upload_partition, upload_pending
from tests.mock_crm import MockCRM

COLS = ["id", "first_name", "last_name", "email", "phone"]


def _rows(n: int) -> list[dict]:
    return [dict(zip(COLS, (i, "f", "l", f"u{i}@x.com", str(i)))) for i in range(n)]


class _Server:
    """Runs a socketserver in a thread; counts the connections it accepts."""

    def __init__(self, server_cls, handler_cls):
        self.connections = 0
        self.requests = 0
        self.lock = threading.Lock()
        outer = self

        class Counting(handler_cls):
            def setup(self):
                super().setup()
                with outer.lock:
                    outer.connections += 1

        self._server = server_cls(("127.0.0.1", 0), Counting)
        self._server.daemon_threads = True
        self._server.outer = self
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *a):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


class _KeepAliveHandler(BaseHTTPRequestHandler):
    """HTTP/1.1 keep-alive CRM: every 3rd POST gets a 503."""

    protocol_version = "HTTP/1.1"

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        outer = self.server.outer
        with outer.lock:
            outer.requests += 1
            n = outer.requests
        self.send_response(503 if n % 3 == 0 else 201)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *a):
        pass


class _GarbageHandler(socketserver.StreamRequestHandler):
    """Reads one request per connection; answers the first
    `server.garbage` of them with a non-HTTP status line, later ones 201."""

    def handle(self):
        length = 0
        while (line := self.rfile.readline()) not in (b"\r\n", b""):
            if line.lower().startswith(b"content-length:"):
                length = int(line.split(b":")[1])
        self.rfile.read(length)
        outer = self.server.outer
        with outer.lock:
            outer.requests += 1
            n = outer.requests
        if n <= self.server.garbage:
            self.wfile.write(b"GARBAGE\r\n")
        else:
            self.wfile.write(
                b"HTTP/1.1 201 Created\r\nContent-Length: 0\r\nConnection: close\r\n\r\n"
            )


def _garbage_server(garbage: int) -> _Server:
    srv = _Server(socketserver.ThreadingTCPServer, _GarbageHandler)
    srv._server.garbage = garbage
    return srv


def test_keep_alive_server_sees_one_connection_per_partition(spark):
    with _Server(ThreadingHTTPServer, _KeepAliveHandler) as crm:
        out = list(upload_partition(_rows(9), crm.url, max_tries=5, sleep=lambda s: None))
        assert crm.connections == 1  # 503s (with Content-Length) keep it open
        assert {(e, s) for e, s, _ in out} == {(r["email"], 201) for r in _rows(9)}

    pending = spark.createDataFrame([tuple(r.values()) for r in _rows(12)], COLS)
    with _Server(ThreadingHTTPServer, _KeepAliveHandler) as crm:
        results = upload_pending(pending, crm.url, concurrency=2, sleep=lambda s: None).persist()
        try:
            sizes = results.rdd.glom().map(len).collect()
            assert sum(sizes) == 12
            assert results.filter("status = 201").count() == 12
            assert crm.connections == sum(1 for n in sizes if n) <= 2
        finally:
            results.unpersist()


def test_http10_mock_crm_receives_every_row_once():
    rows = _rows(7)
    for fail_every in (0, 3):
        with MockCRM(fail_every=fail_every) as crm:
            out = list(upload_partition(rows, crm.url, max_tries=5, sleep=lambda s: None))
        assert sorted(p["email"] for p in crm.received) == sorted(r["email"] for r in rows)
        assert [s for _, s, _ in out] == [201] * len(rows)
        assert crm.total == len(rows) + crm.failed


def test_refused_port_is_a_failed_row_not_an_exception():
    sock = socket.socket()
    sock.bind(("127.0.0.1", 0))
    port = sock.getsockname()[1]
    sock.close()  # nothing listens on `port` now
    waits: list[float] = []
    url = f"http://127.0.0.1:{port}"
    out = list(upload_partition(_rows(2), url, max_tries=3, sleep=waits.append))
    assert out == [("u0@x.com", -1, 3), ("u1@x.com", -1, 3)]
    assert waits == [1.0, 2.0, 1.0, 2.0]  # fib backoff between attempts, none after the last


def test_garbage_status_line_is_retried_not_raised():
    waits: list[float] = []
    with _garbage_server(garbage=1) as crm:
        out = list(upload_partition(_rows(1), crm.url, max_tries=3, sleep=waits.append))
    assert out == [("u0@x.com", 201, 2)]
    assert waits == [1.0]
    assert crm.requests == 2

    with _garbage_server(garbage=10**6) as crm:
        out = list(upload_partition(_rows(2), crm.url, max_tries=3, sleep=lambda s: None))
    assert out == [("u0@x.com", -1, 3), ("u1@x.com", -1, 3)]
    assert crm.requests == 6


def test_partitions_capped_by_task_slots(spark):
    pending = spark.createDataFrame([tuple(r.values()) for r in _rows(30)], COLS)
    slots = spark.sparkContext.defaultParallelism
    for concurrency in (1, 2, 25):
        results = upload_pending(pending, "http://127.0.0.1:9", concurrency=concurrency)
        assert results.rdd.getNumPartitions() <= min(concurrency, slots)
