"""Stand-in ClickHouse HTTP endpoint for ``NativeHttpSink``.

Run as its own process: ``python3 perfbench/endpoint.py``.  It prints
``PORT <n>`` once listening on 127.0.0.1, answers
every ``POST /?query=INSERT ... FORMAT Native`` with 200, and counts posts,
body bytes and rows.  Rows come from the varint header of each Native
block.  When the block's first column is ``@lineno`` (Int64, optionally
Nullable), its values feed a content checksum (sum of lineno² mod 2^64),
so the benchmark can check that exactly the generated rows arrived.
``GET /stats`` returns the counters as JSON; ``POST /reset`` zeroes them.
Requests are served by at most ``nproc`` threads.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

import numpy as np


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = out = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, pos
        shift += 7


def _string(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = _varint(buf, pos)
    return buf[pos : pos + n].decode(), pos + n


LINENO_COLUMN = "@lineno"


def block_rows_and_checksum(body: bytes) -> tuple[int, int | None]:
    """(rows, lineno checksum or None) of one Native block."""
    _ncols, pos = _varint(body, 0)
    rows, pos = _varint(body, pos)
    name, pos = _string(body, pos)
    ch_type, pos = _string(body, pos)
    if name != LINENO_COLUMN or ch_type not in ("Int64", "Nullable(Int64)"):
        return rows, None
    if ch_type.startswith("Nullable"):
        pos += rows  # null map; the column is NOT NULL in the projection
    vals = np.frombuffer(body, dtype="<u8", count=rows, offset=pos)
    return rows, int(np.sum(vals * vals, dtype=np.uint64))


class _Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.posts = self.bytes = self.rows = self.checksum = 0
        self.unchecked_blocks = 0


class _Server(HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    def __init__(self, addr, handler, threads: int, stats: _Stats):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.stats = stats

    def process_request(self, request, client_address):
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def log_message(self, *args) -> None:
        pass

    def _reply(self, code: int, payload: bytes = b"") -> None:
        self.send_response(code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self) -> None:
        st = self.server.stats
        with st.lock:
            out = {"posts": st.posts, "bytes": st.bytes, "rows": st.rows,
                   "checksum": st.checksum, "unchecked_blocks": st.unchecked_blocks}
        self._reply(200, json.dumps(out).encode())

    def do_POST(self) -> None:
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        st = self.server.stats
        if self.path.startswith("/reset"):
            with st.lock:
                st.reset()
            self._reply(200)
            return
        if "FORMAT+Native" not in self.path and "FORMAT%20Native" not in self.path:
            self._reply(400, b"expected INSERT ... FORMAT Native")
            return
        rows, checksum = block_rows_and_checksum(body)
        with st.lock:
            st.posts += 1
            st.bytes += len(body)
            st.rows += rows
            if checksum is None:
                st.unchecked_blocks += 1
            else:
                st.checksum = (st.checksum + checksum) % (1 << 64)
        self._reply(200)


def _exit_with_parent(parent: int) -> None:
    """Stop when the benchmark that started this process is gone, even if
    it was killed before it could stop us."""
    while os.getppid() == parent:
        time.sleep(1.0)
    os._exit(0)


def main() -> int:
    threading.Thread(target=_exit_with_parent, args=(os.getppid(),), daemon=True).start()
    server = _Server(("127.0.0.1", 0), _Handler, os.cpu_count() or 1, _Stats())
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
