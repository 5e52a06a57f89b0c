"""Deterministic loopback web fixture for the crawl_fetch_corpus workload.

Serves ``N_HOSTS`` hosts on the loopback addresses 127.0.0.1 .. 127.0.0.N,
all on one port, so a crawled URL (and therefore every doc id derived from
it) is the same on every run that gets the same port. Every path is served:
the page body is the ``html`` bytes of generated page number
``page_index(path)`` with its declared charset in the Content-Type header,
so the decode chain's charset matrix runs on crawled bytes.

The servers speak HTTP/1.0, so each request uses its own connection, and a
semaphore shared by all hosts caps the requests in flight at ``max_conns``
(the fetch partition count). A request that finds every slot taken is
counted in ``waits`` before it blocks; the benchmark checks that a fetch
makes none. A slot is given back before the response goes out, so a client
can only start its next request after the release: a fetch that keeps to
the cap never waits.
"""

from __future__ import annotations

import errno
import hashlib
import http.server
import threading

N_HOSTS = 16
PORT_BASE = 18080
PORT_TRIES = 64


def host_addr(h: int) -> str:
    """Loopback address of host number ``h`` (0-based)."""
    return f"127.0.0.{h + 1}"


def page_index(path: str, n_pages: int) -> int:
    """Generated page served at ``path``: a pure function of the path."""
    return int(hashlib.md5(path.encode("utf-8")).hexdigest()[:12], 16) % n_pages


class _Server(http.server.ThreadingHTTPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, addr, web: "LoopbackWeb"):
        self.web = web
        self._held = threading.local()  # does this request thread hold a slot
        super().__init__(addr, _Handler)

    def process_request(self, request, client_address):
        self.web._enter()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self.web._leave()
            raise

    def process_request_thread(self, request, client_address):
        self._held.slot = True
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.release_slot()

    def release_slot(self) -> None:
        if getattr(self._held, "slot", False):
            self._held.slot = False
            self.web._leave()


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def do_GET(self):  # noqa: N802 (stdlib API name)
        web = self.server.web
        html, charset = web.pages[page_index(self.path, len(web.pages))]
        ctype = "text/html" + (f"; charset={charset}" if charset else "")
        self.server.release_slot()
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(html)))
        self.end_headers()
        self.wfile.write(html)

    def log_message(self, *args):
        pass


class LoopbackWeb:
    """``pages``: list of (html bytes, declared charset or None)."""

    def __init__(self, pages: list[tuple[bytes, str | None]], max_conns: int):
        self.pages = pages
        self.max_conns = max_conns
        self.port: int | None = None
        self.waits = 0
        self._lock = threading.Lock()
        self._slots = threading.BoundedSemaphore(max_conns)
        self._servers: list[_Server] = []
        self._threads: list[threading.Thread] = []

    def _enter(self) -> None:
        if not self._slots.acquire(blocking=False):
            with self._lock:
                self.waits += 1
            self._slots.acquire()

    def _leave(self) -> None:
        self._slots.release()

    def start(self) -> "LoopbackWeb":
        """Bind every host on the first port from PORT_BASE that is free on
        all of them, then serve each from its own thread."""
        for port in range(PORT_BASE, PORT_BASE + PORT_TRIES):
            servers: list[_Server] = []
            try:
                for h in range(N_HOSTS):
                    servers.append(_Server((host_addr(h), port), self))
            except OSError as e:
                for srv in servers:
                    srv.server_close()
                if e.errno != errno.EADDRINUSE:
                    raise
                continue
            self._servers = servers
            self.port = port
            break
        else:
            raise RuntimeError(
                f"no port in {PORT_BASE}..{PORT_BASE + PORT_TRIES - 1} is "
                f"free on all {N_HOSTS} loopback hosts"
            )
        for srv in self._servers:
            t = threading.Thread(target=srv.serve_forever, daemon=True)
            t.start()
            self._threads.append(t)
        return self

    def stop(self) -> None:
        # shutdown() waits out one serve_forever poll; stop hosts in parallel
        stoppers = [threading.Thread(target=srv.shutdown)
                    for srv in self._servers]
        for t in stoppers:
            t.start()
        for t in stoppers + self._threads:
            t.join(timeout=10)
        for srv in self._servers:
            srv.server_close()
        self._servers = []
        self._threads = []

    def base_url(self, h: int) -> str:
        return f"http://{host_addr(h)}:{self.port}"

