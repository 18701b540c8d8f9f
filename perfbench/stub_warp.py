"""In-process stand-in for a Warp 10 ``/api/v0/update`` endpoint.

A stdlib ``ThreadingHTTPServer`` on localhost. Each POST is checked the
way the benchmark needs: the path, the ``X-Warp10-Token`` header, and
that the body is CRLF-terminated Sensision lines. A POST that fails a
check is answered 4xx and counted as rejected. Accepted lines feed an
order-independent multiset digest (sum of per-line 64-bit hashes) and a
set that detects duplicate deliveries.
"""

from __future__ import annotations

import hashlib
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

UPDATE_PATH = "/api/v0/update"
_MASK = (1 << 64) - 1


def line_hash(line: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")


def digest(lines) -> tuple[int, int]:
    """(count, order-independent digest) of an iterable of byte lines
    (CRLF included), the same fold the stub applies to what it receives."""
    n, acc = 0, 0
    for ln in lines:
        n += 1
        acc = (acc + line_hash(ln)) & _MASK
    return n, acc


class _Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.posts = 0
        self.rejected = 0
        self.lines = 0
        self.bytes = 0
        self.digest = 0
        self.duplicates = 0
        self.busy_s = 0.0
        self.peers: set = set()
        self.seen: set = set()


class StubWarp:
    """Start with ``start()``, stop with ``close()`` (joins the thread)."""

    def __init__(self, token: str) -> None:
        self.token = token
        self.c = _Counters()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args) -> None:
                pass

            def do_POST(self) -> None:
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status, msg = stub._accept(self.path, self.headers, body,
                                           self.client_address)
                out = msg.encode()
                self.send_response(status)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)
                with stub.c.lock:
                    stub.c.busy_s += time.perf_counter() - t0

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="stub-warp", daemon=True)

    @property
    def endpoint(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "StubWarp":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def _accept(self, path, headers, body: bytes, peer) -> tuple[int, str]:
        ok = (path == UPDATE_PATH
              and headers.get("X-Warp10-Token") == self.token
              and body.endswith(b"\r\n"))
        lines = body.split(b"\r\n")[:-1] if ok else []
        hashes = [line_hash(ln + b"\r\n") for ln in lines]
        with self.c.lock:
            self.c.posts += 1
            self.c.peers.add(peer)
            if not ok:
                self.c.rejected += 1
                return 400, "rejected"
            self.c.lines += len(lines)
            self.c.bytes += len(body)
            for h in hashes:
                self.c.digest = (self.c.digest + h) & _MASK
                if h in self.c.seen:
                    self.c.duplicates += 1
                else:
                    self.c.seen.add(h)
        return 200, ""

    def snapshot(self) -> dict:
        """Counters since the last snapshot, which resets them;
        ``connections`` counts distinct client (host, port) pairs, i.e.
        TCP connections opened."""
        with self.c.lock:
            out = {
                "posts": self.c.posts,
                "rejected": self.c.rejected,
                "lines": self.c.lines,
                "bytes": self.c.bytes,
                "digest": self.c.digest,
                "duplicates": self.c.duplicates,
                "connections": len(self.c.peers),
                "busy_s": self.c.busy_s,
            }
            self.c.reset()
        return out
