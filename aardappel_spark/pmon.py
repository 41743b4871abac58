"""Monitoring exposition and the heartbeat guard (S14 + W2).

Behavioral spec:
  * HTTP server with ``/metrics`` (Prometheus text) and ``/readyz``
    (200 once startup completed, 503 otherwise) —
    /root/reference/internal/pmon/pmon.go:143-183 (SetCompleted + khz
    handler), wiring cmd/aardappel/main.go:231-254,372-382;
  * guard loop: if no FULL heartbeat set arrived within
    ``max_expected_heartbeat_interval`` seconds, warn and raise the
    per-stream ``topic_without_hb`` gauge for streams with missing
    partitions; reset the gauges when heartbeats are healthy —
    /root/reference/internal/hb_tracker/hb_tracker.go:76-122
    (config knob config.go:55).

Everything is stdlib (http.server + threading) — the driver process
serves scrape requests; executors never participate. At any scale this
is O(partitions) metadata.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .metrics import MetricsRegistry


class HeartbeatGuard:
    """W2: fires ``topic_without_hb`` when the engine's heartbeat tracker
    has not stamped a complete fresh set for ``timeout_seconds``, for the
    streams its census finds partitions missing in.

    ``check_once`` is the pure step (testable with a fake clock);
    ``start`` runs it on the reference's sleep-then-check loop
    (hb_tracker.go:77-79)."""

    def __init__(self, engine, timeout_seconds: float, clock=time.time):
        self.engine = engine
        self.timeout = timeout_seconds
        self.clock = clock
        self._started_at = clock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def check_once(self, now: float | None = None) -> dict[str, bool]:
        """One guard step: returns tag -> missing and feeds the metrics
        gauges. Healthy (a full set within the timeout) resets all tags
        to 0, like the reference's resetMon path."""
        now = self.clock() if now is None else now
        hb = self.engine.heartbeats
        streams = self.engine.streams
        metrics: MetricsRegistry = self.engine.metrics
        stale = now - (hb.full_at or self._started_at) > self.timeout
        by_id = hb.missing([s.table_id for s in streams]) if stale else {}
        missing = {s.meta.name: by_id.get(s.table_id, False) for s in streams}
        for tag, miss in missing.items():
            metrics.on_heartbeat_missing(tag, miss)
        return missing

    def start(self) -> None:
        def loop():
            while not self._stop.wait(self.timeout):
                self.check_once()

        self._thread = threading.Thread(
            target=loop, name="hb-guard", daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()


class MonitoringServer:
    """``/metrics`` + ``/readyz`` over stdlib HTTP (pmon.go:143-183).

    Readiness mirrors SetCompleted: 503 until ``set_ready(True)``, and
    (when a ``probe`` is given) 503 again whenever the probe fails —
    e.g. the engine's state row leaving OK."""

    def __init__(
        self,
        metrics: MetricsRegistry,
        host: str = "127.0.0.1",
        port: int = 0,
        probe=None,
    ):
        self.metrics = metrics
        self.probe = probe
        self._ready = False
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet scrapes
                pass

            def do_GET(self):
                if self.path.startswith("/metrics"):
                    body = outer.metrics.render_prometheus().encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain; version=0.0.4")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                elif self.path.startswith("/readyz"):
                    ok = outer._ready and (outer.probe is None or outer.probe())
                    self.send_response(200 if ok else 503)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                else:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def set_ready(self, ready: bool = True) -> None:
        self._ready = ready

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="mon-http", daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def start_monitoring(
    engine, listen: str = "127.0.0.1:0", guard_timeout: float | None = None
) -> tuple[MonitoringServer, HeartbeatGuard]:
    """Wire a running engine to HTTP exposition + the guard, the way
    doMain does (main.go:231-254: server first, SetCompleted after the
    engine is startable; guard from max_expected_heartbeat_interval)."""
    host, _, port = listen.partition(":")

    def probe() -> bool:
        try:
            return engine.state.read()["state"] == "OK"
        except Exception:
            return False

    server = MonitoringServer(
        engine.metrics, host=host or "127.0.0.1", port=int(port or 0), probe=probe
    )
    server.start()
    guard = HeartbeatGuard(engine, guard_timeout if guard_timeout is not None else 10.0)
    guard.start()
    engine.state.ensure_startable()
    server.set_ready(True)
    return server, guard
