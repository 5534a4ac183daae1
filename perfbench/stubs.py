"""Stub APRS-IS server and stub InfluxDB `/write` endpoint, hosted by the
benchmark process, plus the once-per-second backlog sampler and the host
facts that make a contended run visible.

Load comes from this one process: one feed connection, one feeder thread and
at most `nproc` HTTP handler threads.
"""
import http.server
import os
import queue
import resource
import select
import socket
import socketserver
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from gen import ID_PREFIX


def host_facts():
    mhz = []
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("cpu MHz"):
                    mhz.append(float(line.split(":")[1]))
    except OSError:
        pass
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "loadavg_start": load,
            "cpu_mhz": round(sum(mhz) / len(mhz), 1) if mhz else None}


def steal_s():
    """CPU seconds the hypervisor gave other guests, summed over all CPUs
    (/proc/stat); a run that grows it by much was contended."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def harness_cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class AprsIsStub:
    """Accepts the daemon's feed connection (login line, then frames flow
    one way) and its heartbeat connections (login + one heartbeat line, then
    close). A connection that sends nothing after its login within
    `CLASSIFY_S` is the feed."""

    CLASSIFY_S = 0.15

    def __init__(self):
        self.server = socket.socket()
        self.server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(8)
        self.port = self.server.getsockname()[1]
        self.feed = None
        self.feed_ready = threading.Event()
        self.heartbeats = 0
        self.extra_feeds = 0
        self._closing = False
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self):
        while not self._closing:
            try:
                conn, _ = self.server.accept()
            except OSError:
                return
            threading.Thread(target=self._classify, args=(conn,), daemon=True).start()

    def _classify(self, conn):
        try:
            conn.settimeout(30)
            buf = b""
            while b"\n" not in buf:
                chunk = conn.recv(4096)
                if not chunk:
                    conn.close()
                    return
                buf += chunk
            rest = buf.split(b"\n", 1)[1]
            if not rest:
                r, _, _ = select.select([conn], [], [], self.CLASSIFY_S)
                if r:
                    rest = conn.recv(4096)
            if b"heartbeat" in rest:
                self.heartbeats += 1
                conn.close()
                return
            conn.settimeout(None)
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if self.feed is None:
                self.feed = conn
                self.feed_ready.set()
            else:  # a reconnect: frames sent on the old socket are lost
                self.extra_feeds += 1
                self.feed = conn
        except OSError:
            pass

    def close(self):
        self._closing = True
        for s in (self.feed, self.server):
            if s is not None:
                try:
                    s.close()
                except OSError:
                    pass


class Feeder:
    """The single feeder thread. Jobs run in order: ("paced", lines, rate,
    due0) sends `lines` at `rate` frames/s in 10 ms bursts, frame k due at
    due0 + k/rate (`#` comments ride along and take no slot); ("bulk",
    lines) writes everything at once. Each write records how late it ran
    behind its due time."""

    def __init__(self, stub):
        self.stub = stub
        self.jobs = queue.Queue()
        self.lag_ms = []                 # (due, ms late)
        self.sent_emitting = 0           # frames written that emit a line
        self.stop_flag = False
        self.idle = threading.Event()
        self.idle.set()
        self.error = None
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def submit(self, kind, lines, rate=None, due0=None):
        self.idle.clear()
        self.jobs.put((kind, lines, rate, due0))

    def _send(self, lines):
        self.stub.feed.sendall(("\r\n".join(lines) + "\r\n").encode())
        self.sent_emitting += sum(1 for f in lines if ID_PREFIX in f)

    def _run(self):
        while True:
            job = self.jobs.get()
            if job is None:
                return
            kind, lines, rate, due0 = job
            try:
                if kind == "bulk":
                    due = time.monotonic()
                    self._send(lines)
                    self.lag_ms.append((due, (time.monotonic() - due) * 1000.0))
                else:
                    self._paced(lines, rate, due0)
            except OSError as e:
                self.error = repr(e)
            if self.jobs.empty():
                self.idle.set()

    def _paced(self, lines, rate, due0):
        per_burst = max(1, int(rate // 100))
        i, k, n = 0, 0, len(lines)
        while i < n and not self.stop_flag:
            due = due0 + k / rate
            now = time.monotonic()
            if due > now:
                time.sleep(due - now)
            j, taken = i, 0
            while j < n and taken < per_burst:
                if not lines[j].startswith("#"):
                    taken += 1
                j += 1
            self._send(lines[i:j])
            self.lag_ms.append((due, (time.monotonic() - due) * 1000.0))
            i, k = j, k + taken

    def close(self):
        self.stop_flag = True
        self.jobs.put(None)
        self.thread.join(timeout=60)


class _PoolServer(socketserver.TCPServer):
    allow_reuse_address = True

    def __init__(self, addr, handler, workers):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class InfluxStub:
    """`POST /write` answering 204. Each POST is stored with its arrival
    time (time.monotonic, stamped once the body is read); every line of it
    shares that stamp. `watch` names a frame id whose line sets
    `watch_seen`."""

    def __init__(self):
        self.posts = []                  # (arrival_monotonic, body bytes)
        self.lines = 0
        self.last_post = 0.0
        self.watch = None
        self.watch_seen = False
        self.lock = threading.Lock()
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(n)
                t = time.monotonic()
                with stub.lock:
                    stub.posts.append((t, body))
                    stub.lines += body.count(b"\n") + 1 if body else 0
                    stub.last_post = t
                    if stub.watch and stub.watch in body:
                        stub.watch_seen = True
                self.send_response(204)
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = _PoolServer(("127.0.0.1", 0), Handler, os.cpu_count())
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       kwargs={"poll_interval": 0.05}, daemon=True)
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()
        self.server.pool.shutdown(wait=True)


class BacklogSampler:
    """Once per second: emitting frames sent minus lines arrived, i.e. the
    frames the daemon holds (buffered, in a batch, or in flight)."""

    def __init__(self, feeder, influx):
        self.samples = []                # (monotonic, backlog)
        self._stop = threading.Event()

        def run():
            while not self._stop.wait(1.0):
                self.samples.append((time.monotonic(),
                                     feeder.sent_emitting - influx.lines))
        self.thread = threading.Thread(target=run, daemon=True)
        self.thread.start()

    def close(self):
        self._stop.set()
        self.thread.join()
