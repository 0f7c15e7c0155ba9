"""Benchmark-owned stand-ins for the pipeline's external services.

* :class:`EsBulkStub` speaks Elasticsearch's ``_bulk`` endpoint: it
  parses the NDJSON body (action line + source line per document) and
  answers ``{"errors": false}``.
* :class:`MongoStub` speaks enough MongoDB wire protocol for the
  ``update`` command ``MongoWireTransport`` sends in an ``OP_MSG`` frame.

Both record, per request, the wall-clock receive time, the document ids,
the bytes received and the time spent serving it, so end-to-end latency
is measured at the point where a real service would have the data. Both
serve each connection on its own thread: Spark ships from several
executor tasks at once and a serial stub would add queueing of its own.
"""

from __future__ import annotations

import glob
import json
import os
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from data_pipeline_kafka_ek_spark.streaming import mongo_wire as mw


class EsBulkStub:
    def __init__(self):
        # (recv_time_s, busy_s, n_bytes, [doc ids]) per request
        self.requests: list[tuple[float, float, int, list[str]]] = []
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n)
                t_recv = time.time()
                ids = []
                for line in body.split(b"\n")[0::2]:
                    if line:
                        ids.append(json.loads(line)["index"]["_id"])
                reply = b'{"errors":false}'
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(reply)))
                self.end_headers()
                self.wfile.write(reply)
                with stub._lock:
                    stub.requests.append((t_recv, time.time() - t_recv, n, ids))

            def log_message(self, *args):
                pass

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = True
        self.url = f"http://127.0.0.1:{self._srv.server_port}"
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    def snapshot(self) -> "list[tuple[float, float, int, list[str]]]":
        with self._lock:
            return list(self.requests)

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)


class MongoStub:
    def __init__(self):
        # (recv_time_s, busy_s, n_bytes, [(_id, replacement doc)]) per command
        self.commands: list[tuple[float, float, int, list[tuple[str, dict]]]] = []
        self._lock = threading.Lock()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self.port = self._sock.getsockname()[1]
        # closing a listening socket does not wake a thread blocked in
        # accept(); poll a stop flag instead
        self._sock.settimeout(0.05)
        self._stop = threading.Event()
        self._conns: list[threading.Thread] = []
        self._thread = threading.Thread(target=self._accept, daemon=True)
        self._thread.start()

    def _accept(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            conn.settimeout(30)
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._conns.append(t)

    def _serve(self, conn: socket.socket) -> None:
        with conn:
            try:
                frame = mw._recv_frame(conn)
                t_recv = time.time()
                req_id, _, cmd = mw.parse_op_msg(frame)
                ups = [(u["q"]["_id"], u["u"]) for u in cmd.get("updates", [])]
                conn.sendall(
                    mw.op_msg({"ok": 1.0, "n": len(ups)}, request_id=100, response_to=req_id)
                )
            except (OSError, ValueError, ConnectionError):
                return
            with self._lock:
                self.commands.append((t_recv, time.time() - t_recv, len(frame), ups))

    def snapshot(self) -> "list[tuple[float, float, int, list[tuple[str, dict]]]]":
        with self._lock:
            return list(self.commands)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sock.close()
        for t in self._conns:
            t.join(timeout=10)


class TimedTransport:
    """Picklable wrapper around a sink transport: times each call where it
    runs (an executor's Python worker) and appends ``start end n_docs``
    to a per-process log file under ``log_prefix``, which the driver
    reads back after the run. Keeps the timing outside the engine."""

    def __init__(self, inner, log_prefix: str):
        self.inner, self.log_prefix = inner, log_prefix

    def __call__(self, name: str, docs: list) -> None:
        t0 = time.time()
        try:
            self.inner(name, docs)
        finally:
            t1 = time.time()
            with open(f"{self.log_prefix}.{os.getpid()}", "a", encoding="utf-8") as fh:
                fh.write(f"{t0} {t1} {len(docs)}\n")


def read_call_log(log_prefix: str) -> "list[tuple[float, float, int]]":
    out = []
    for p in glob.glob(log_prefix + ".*"):
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                a, b, n = line.split()
                out.append((float(a), float(b), int(n)))
    return sorted(out)
