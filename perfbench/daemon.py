"""The daemon workloads: the real entry point `graft.app.Main` runs as a
child JVM against the stub APRS-IS feed and the stub InfluxDB endpoint.

live_paced     open loop at 2,000 frames/s of the frame mix over 5,000
               stations; each frame timed from its scheduled send time. One
               daemon per run.
backlog_drain  the same mix written all at once, in backlogs of 120,000
               frames, the way a restart after an outage looks. Two daemons
               per untraced run, one after the other; one when traced.
"""
import collections
import math
import os
import statistics
import time

import gen
from check import check, split_posts
from stubs import AprsIsStub, BacklogSampler, Feeder, InfluxStub

RATE = 2000                      # live_paced frames/s
WARM_BACKLOG = 50_000            # live_paced drains this first, so JIT compiles the hot paths
LIVE_WARM_S = 8                  # paced warm-up before the measured window
MIX_STATIONS = 5000
# A measured backlog follows a lead frame by LEAD_S, so a trigger has
# started on the lead alone and the backlog is buffered when the next one
# fires: it then drains in two micro-batches, the source's
# maxFramesPerTrigger (100,000) and the rest. Without the lead, the first
# trigger took whatever the reader held, from a few frames to all of them,
# a backlog drained in two or three batches, and the frames of a third batch
# moved latency_p90_ms by its whole fixed cost
DRAIN_ROUND_FRAMES = 120_000     # < the source's maxBufferedFrames (1,000,000)
LEAD_S = 0.05
# Drain speed differs by up to a third from one daemon JVM to the next on
# the same input (per-task CPU; neither the seed nor the heap size explains
# it), more than between the backlogs of one daemon: an untraced run
# averages two daemons with one warm-up backlog each, rather than one daemon
DRAIN_JVMS = 2
WARM_ROUNDS = 1                  # warm-up backlogs per daemon
DRAIN_WARM_FRAMES = 60_000       # frames in each of them
MIN_ROUNDS = 1                   # measured backlogs per daemon, at least
BATCH_GAP_S = 0.15               # POSTs further apart than this are new batches
QUIET_S = 30                     # give up waiting for lines after this long idle
SETTLE_S = 0.3                   # no POST this long after the batch's last line: done
CLK_TCK = os.sysconf("SC_CLK_TCK")
# JVM thread-name prefixes (Linux keeps 15 characters) -> CPU group
THREAD_GROUPS = [("C2 Compiler", "jit"), ("C1 Compiler", "jit"),
                 ("GC Thread", "gc"), ("G1 ", "gc"), ("VM Thread", "gc"),
                 ("Executor task", "tasks"), ("stream executio", "stream")]


class BenchError(Exception):
    pass


def _q(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s), math.ceil(p * len(s))) - 1)]


def gc_after_mb(path):
    """(JVM uptime s, heap MB after the collection) per `-Xlog:gc` line such
    as `[812ms] GC(3) Pause Young (Normal) (G1 Evacuation Pause) 95M->21M(2048M) 3.1ms`."""
    out = []
    try:
        with open(path) as f:
            for line in f:
                arrow = line.find("M->")
                if line.startswith("[") and arrow > 0:
                    out.append((int(line[1:line.index("ms]")]) / 1000.0,
                                float(line[arrow + 3:line.index("M(", arrow)])))
    except OSError:
        pass
    return out


class Daemon:
    """One `graft.app.Main` child with its own stubs and checkpoint dir."""

    def __init__(self, env, tag, trace_file=None):
        self.env = env
        self.gc_log = env.path("gc-%s.log" % tag)
        self.aprs = AprsIsStub()
        self.influx = InfluxStub()
        self.feeder = Feeder(self.aprs)
        self.expected = {}           # id -> (fmt, raw, analogs)
        self.due = {}                # id -> due time (monotonic)
        props = ["-Xlog:gc:file=%s:uptimemillis" % self.gc_log]
        if trace_file:
            props += ["-Dspark.extraListeners=perfbench.TaskCounters",
                     "-Dspark.sql.streaming.streamingQueryListeners=perfbench.ProgressLog",
                     "-Dperfbench.trace=" + trace_file]
        args = ["--dbhost", "127.0.0.1", "--dbport", str(self.influx.port),
                "--host", "127.0.0.1", "--port", str(self.aprs.port),
                "--callsign", "BENCH", "--checkpoint", env.path("ckpt-" + tag)]
        self.t_spawn = time.monotonic()
        self.proc = env.spawn("graft.app.Main", args, props, "daemon-" + tag)

    def alive(self):
        return self.proc.poll() is None

    def wait_login(self, timeout=150):
        end = time.monotonic() + timeout
        while not self.aprs.feed_ready.wait(0.05):
            if not self.alive() or time.monotonic() > end:
                raise BenchError("daemon never logged in to the feed (see %s)"
                                 % self.env.log_path(self.proc))

    def send_paced(self, lines, expected, due0, rate):
        k = 0
        for f in lines:
            if f.startswith("#"):
                continue
            if gen.ID_PREFIX in f:
                self.due[gen.ID_RE.search(f).group(0)] = due0 + k / rate
            k += 1
        self._expect(expected)
        self.feeder.submit("paced", lines, rate, due0)

    def send_bulk(self, lines, expected):
        self._expect(expected)
        t0 = time.monotonic()
        for ident, _, _, _ in expected:
            self.due[ident] = t0
        self.feeder.submit("bulk", lines)
        return t0

    def _expect(self, expected):
        for ident, fmt, raw, analogs in expected:
            self.expected[ident] = (fmt, raw, analogs)
        # the last frame of a batch is a beacon: its line marks the end
        with self.influx.lock:
            self.influx.watch, self.influx.watch_seen = expected[-1][0].encode(), False

    def wait_lines(self, deadline_s=150):
        """Until every expected line has arrived, or the line of the last
        frame sent has arrived and no POST followed for SETTLE_S (a frame the
        daemon loses has no line to wait for). False if the stub stays quiet
        for QUIET_S or the deadline passes first."""
        end = time.monotonic() + deadline_s
        last, last_change = -1, time.monotonic()
        while True:
            n = self.influx.lines
            now = time.monotonic()
            if self.feeder.idle.is_set() and (
                    n >= len(self.expected) or (
                        self.influx.watch_seen and now - self.influx.last_post > SETTLE_S)):
                return True
            if n != last:
                last, last_change = n, now
            if now - last_change > QUIET_S or now > end or not self.alive():
                return False
            time.sleep(0.01)

    def wait_all(self, feed):
        """wait_lines, then a fence when lines are still owed: one more
        beacon, sent after the last batch's marker line has arrived. Micro-
        batches run one at a time and each finishes its POSTs before the next
        starts, so the fence's line arriving means every line before it has
        been written; a late POST of the last batch is not cut off."""
        if not self.wait_lines():
            return False
        if self.influx.lines >= len(self.expected):
            return True
        self.send_bulk(*feed.probe())
        return self.wait_lines()

    def last_arrival(self):
        with self.influx.lock:
            return max(t for t, _ in self.influx.posts)

    def cpu_s(self):
        """Process CPU seconds, total and per thread group."""
        groups = collections.Counter()
        task_dir = "/proc/%d/task" % self.proc.pid
        for t in os.listdir(task_dir):
            try:
                with open("%s/%s/comm" % (task_dir, t)) as f:
                    comm = f.read()
                with open("%s/%s/stat" % (task_dir, t)) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:      # thread ended meanwhile
                continue
            group = next((g for p, g in THREAD_GROUPS if comm.startswith(p)), "other")
            groups[group] += (int(fields[11]) + int(fields[12])) / CLK_TCK
        # the process total also counts threads that have already ended
        with open("/proc/%d/stat" % self.proc.pid) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK, groups

    def peak_rss_mb(self):
        with open("/proc/%d/status" % self.proc.pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError("no VmHWM in /proc status")

    def check(self):
        with self.influx.lock:
            posts = list(self.influx.posts)
        return check(split_posts(posts), self.expected)

    def stop(self):
        self.env.kill(self.proc)
        self.aprs.close()            # unblocks a feeder stuck in sendall
        self.feeder.close()
        self.influx.close()


def start(env, tag, feed, trace_file=None):
    """Spawn, log in, send one probe frame; setup ends when its line lands."""
    d = Daemon(env, tag, trace_file)
    d.wait_login()
    lines, expected = feed.probe()
    d.send_bulk(lines, expected)
    if not d.wait_lines(deadline_s=120):
        d.stop()
        raise BenchError("probe line never arrived (see %s)" % env.log_path(d.proc))
    d.setup_s = d.last_arrival() - d.t_spawn
    env.span("setup", d.t_spawn, d.last_arrival(), "run")
    return d


def batch_medians(d, ids):
    """The median frame latency, from due time to arrival, of each micro-batch
    (POSTs closer than BATCH_GAP_S). The first and last batch of the window
    hold only part of their frames and are dropped."""
    pts = sorted((d.arrival[i], (d.arrival[i] - d.due[i]) * 1000.0)
                 for i in ids if i in d.arrival)
    batches, cur, last_t = [], [], None
    for t, lat in pts:
        if last_t is not None and t - last_t > BATCH_GAP_S:
            batches.append(cur)
            cur = []
        cur.append(lat)
        last_t = t
    if cur:
        batches.append(cur)
    if len(batches) > 4:
        batches = batches[1:-1]
    return [statistics.median(b) for b in batches]


def frame_latencies(d, ids):
    return [(d.arrival[i] - d.due[i]) * 1000.0 for i in ids if i in d.arrival]


def run(env, workload, seed, seconds, trace, log, known_defects=False):
    """Runs one daemon workload; returns (attempted, failed, metrics, info).
    An untraced backlog_drain splits its measured `seconds` over DRAIN_JVMS
    daemons, one after the other, each fed by its own Feed."""
    trace_file = env.path("progress.jsonl") if trace else None
    jvms = DRAIN_JVMS if workload == "backlog_drain" and not trace else 1
    runs = []
    for k in range(jvms):
        feed = gen.Feed(seed if k == 0 else "%d/%d" % (seed, k), MIX_STATIONS, known_defects)
        runs.append(_run_one(env, workload, feed, seconds / jvms, trace_file,
                             "main" if k == 0 else "main%d" % k, log))
    failed = sum(r["report"]["failed"] for r in runs)
    attempted = sum(r["report"]["expected"] for r in runs)

    # p90: nearest rank over every measured frame, a tail across the
    # batches. p50, live: micro-batches are the samples. p50, drain: over
    # every measured frame too; a backlog's median frame lands in whichever
    # micro-batch the admission cap and the reader's progress put it, so a
    # median per backlog jumps by a whole batch from one backlog to the next
    pooled = [x for r in runs for ids in r["measured"]["ids"]
              for x in frame_latencies(r["d"], ids)]
    if not pooled:
        raise BenchError("no measured frame arrived: %s" % [r["report"] for r in runs])
    if workload == "live_paced":
        d, measured = runs[0]["d"], runs[0]["measured"]
        p50s = batch_medians(d, measured["ids"][0])
        p50 = statistics.median(p50s)
        arrived = [d.arrival[i] for i in measured["ids"][0] if i in d.arrival]
        suite_s = max(arrived, default=measured["start"]) - measured["start"]
    else:
        p50s = [statistics.median(v) for r in runs for v in
                (frame_latencies(r["d"], ids) for ids in r["measured"]["ids"]) if v]
        p50 = statistics.median(pooled)
        suite_s = statistics.mean(r["measured"]["suite_s"] for r in runs)
    frames = sum(r["measured"]["frames"] for r in runs)
    metrics = {
        "setup_s": (statistics.mean(r["d"].setup_s for r in runs), "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_p90_ms": (_q(pooled, 0.9), "ms"),
        # each daemon's median over its backlogs, then the mean over daemons
        "drain_fps": (statistics.mean(statistics.median(r["measured"]["fps"])
                                      for r in runs), "1/s"),
        "cpu_ms_per_kframe": (sum(r["measured"]["cpu_s"] for r in runs) * 1e6 / frames, "ms"),
        "peak_rss_mb": (max(r["peak"] for r in runs), "MB"),
        "suite_s": (suite_s, "s"),
    }
    info = {"check": [r["report"] for r in runs] if jvms > 1 else runs[0]["report"],
            "latency_p50_samples": [round(x, 1) for x in p50s],
            "setup_s": [r["d"].setup_s for r in runs],
            "rounds_fps": [r["measured"]["fps"] for r in runs],
            "frames_measured": frames}
    if trace:
        from layers import layer_metrics
        r = runs[0]
        info["layers"] = layer_metrics(env, r["d"], r["sampler"], r["phase"],
                                       trace_file, r["measured"])
    return attempted, failed, metrics, info


def _run_one(env, workload, feed, seconds, trace_file, tag, log):
    """Starts one daemon, runs the workload on it for `seconds`, stops it and
    checks its output."""
    d = start(env, tag, feed, trace_file)
    log("%s: setup %.2f s" % (tag, d.setup_s))
    sampler = BacklogSampler(d.feeder, d.influx)
    phase = {}
    try:
        t0 = time.monotonic()
        if workload == "live_paced":
            measured = live(env, d, feed, seconds, phase)
        else:
            measured = drain(env, d, feed, seconds, phase)
        ok = d.wait_all(feed)
        peak = d.peak_rss_mb()
        log("%s: workload phase %.1f s" % (tag, time.monotonic() - t0))
    finally:
        sampler.close()
        d.stop()
    t0 = time.monotonic()
    report, d.arrival = d.check()
    log("%s: check %.1f s" % (tag, time.monotonic() - t0))
    report["complete"] = ok
    report["feeder_error"] = d.feeder.error
    report["heartbeats"] = d.aprs.heartbeats
    report["reconnects"] = d.aprs.extra_feeds
    if d.feeder.error or d.aprs.extra_feeds:
        report["failed"] = max(report["failed"], 1)
    return {"d": d, "sampler": sampler, "phase": phase, "measured": measured,
            "report": report, "peak": peak}


def warm_up(env, d, feed, frames, next_frames=0):
    """Drains one backlog of `frames`; returns feed.mix(next_frames), made
    while the backlog drains, when next_frames is not 0."""
    lines, expected = feed.mix(frames)
    t = d.send_bulk(lines, expected)
    # generated in send order: expected analogs follow the EQNS sent before
    after = feed.mix(next_frames) if next_frames else None
    if not d.wait_lines():
        raise BenchError("warm-up backlog did not drain")
    env.span("warmup", t, d.last_arrival(), "run")
    return after


def live(env, d, feed, seconds, phase):
    """A warm-up backlog and a paced warm-up, then the measured window of
    `seconds`; paced frames keep one schedule across both."""
    warm_up(env, d, feed, WARM_BACKLOG)
    # generated in send order: expected analogs follow the EQNS sent before
    warm_lines, warm_exp = feed.mix(RATE * LIVE_WARM_S)
    lines, expected = feed.mix(int(RATE * seconds))
    due0 = time.monotonic() + 0.05
    d.send_paced(warm_lines, warm_exp, due0, RATE)
    w0 = due0 + LIVE_WARM_S
    w1 = w0 + seconds
    d.send_paced(lines, expected, w0, RATE)
    time.sleep(max(0.0, w0 - time.monotonic()))
    cpu0, th0 = d.cpu_s()
    time.sleep(max(0.0, w1 - time.monotonic()))
    cpu1, th1 = d.cpu_s()
    d.wait_lines()
    frames = gen.frame_count(lines)
    phase.update(start=w0, end=w1, lines=lines)
    env.span("paced warmup", due0, w0, "run")
    env.span("measured", w0, w1, "run")
    return {"ids": [[e[0] for e in expected]], "start": w0,
            "fps": [frames / (d.last_arrival() - w0)],
            "cpu_s": cpu1 - cpu0, "threads": th1 - th0, "frames": frames}


def drain(env, d, feed, seconds, phase):
    """Backlogs written at once and drained completely: WARM_ROUNDS of
    DRAIN_WARM_FRAMES to warm up, then as many of DRAIN_ROUND_FRAMES as
    `seconds` of draining take."""
    pending = None
    for k in range(WARM_ROUNDS):
        pending = warm_up(env, d, feed, DRAIN_WARM_FRAMES,
                          DRAIN_ROUND_FRAMES if k == WARM_ROUNDS - 1 else 0)
    fps, drain_s, ids, cpu, frames, all_lines, busy = [], [], [], 0.0, 0, [], 0.0
    threads = collections.Counter()
    m0 = time.monotonic()
    while len(fps) < MIN_ROUNDS or busy < seconds:
        # the first measured backlog was made during the last warm-up
        lines, expected = pending or feed.mix(DRAIN_ROUND_FRAMES)
        pending = None
        n = gen.frame_count(lines)
        c0, th0 = d.cpu_s()
        d.send_bulk(*feed.probe())
        time.sleep(LEAD_S)
        t0 = d.send_bulk(lines, expected)
        if not d.wait_lines():
            break
        t1 = d.last_arrival()
        c1, th1 = d.cpu_s()
        cpu += c1 - c0
        threads.update(th1 - th0)
        env.span("round", t0, t1, "measured")
        busy += t1 - t0
        fps.append(n / (t1 - t0))
        drain_s.append(t1 - t0)
        ids.append([e[0] for e in expected])
        frames += n
        all_lines.extend(lines)
    m1 = time.monotonic()
    env.span("measured", m0, m1, "run")
    phase.update(start=m0, end=m1, lines=all_lines)
    if not fps:
        raise BenchError("no backlog round drained")
    return {"ids": ids, "fps": fps, "suite_s": statistics.median(drain_s),
            "cpu_s": cpu, "threads": threads, "frames": frames}
