"""Per-layer metrics of a traced daemon run (--trace 1).

Four sources, all outside the program:
- the daemon's own progress reports and task metrics, written per
  micro-batch by the benchmark's listeners (helper/ProgressLog.java,
  helper/TaskCounters.java) registered through Spark configuration;
- the stubs: POSTs, lines per POST, backlog samples and generator lag;
- the daemon's GC log (`-Xlog:gc`): heap occupancy after each collection;
- direct single-thread calls into each layer on the same generated frames
  (helper/Direct.java).

Only batches whose trigger started inside the measured phase count. The
hook time the listeners spend is reported as the tracing overhead.
"""
import datetime
import json
import os
import statistics
import subprocess

from daemon import BenchError, gc_after_mb
from stubs import InfluxStub

DIRECT_FRAMES = 50_000           # parse and reader passes
DIRECT_ROWS = 15_000             # DataFrame passes (state, format, sink)
# the order MicroBatchExecution runs its phases in
PHASES = [("latestOffset", "engine.latest_offset_ms"),
          ("walCommit", "engine.wal_commit_ms"),
          ("getBatch", None),
          ("queryPlanning", "engine.query_planning_ms"),
          ("addBatch", "engine.add_batch_ms"),
          ("commitOffsets", "engine.commit_offsets_ms")]


LAYER_UNITS = {
    "engine.latest_offset_ms": "ms", "engine.wal_commit_ms": "ms",
    "engine.query_planning_ms": "ms", "engine.add_batch_ms": "ms",
    "engine.commit_offsets_ms": "ms", "engine.trigger_ms": "ms",
    "engine.batches": "count", "engine.rows_per_batch": "rows",
    "state.rows_total": "rows", "state.rows_updated": "rows",
    "state.memory_bytes": "B", "state.commit_ms": "ms",
    "exchange.shuffle_bytes_per_frame": "B", "tasks.cpu_ms_per_kframe": "ms",
    "tasks.gc_ms_per_kframe": "ms", "sink.posts": "count",
    "sink.lines_per_post": "lines", "source.backlog_max_frames": "frames",
    "source.backlog_slope_fps": "1/s", "gen.lag_ms_p99": "ms",
    "cpu.jit_ms_per_kframe": "ms", "cpu.gc_ms_per_kframe": "ms",
    "cpu.tasks_ms_per_kframe": "ms", "cpu.stream_ms_per_kframe": "ms",
    "cpu.other_ms_per_kframe": "ms", "jvm.heap_after_gc_mb": "MB",
    "trace.hook_ms_per_batch": "ms", "trace.overhead_frac": "ratio",
    "parse.fps": "1/s", "parse.drop_frac": "ratio", "source.reader_fps": "1/s",
    "state.rows_per_s": "1/s", "format.rows_per_s": "1/s", "sink.lines_per_s": "1/s",
}


def _epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _slope(points):
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(t for t, _ in points) / n
    my = sum(v for _, v in points) / n
    sxx = sum((t - mx) ** 2 for t, _ in points)
    return sum((t - mx) * (v - my) for t, v in points) / sxx if sxx else 0.0


def _p99(values):
    s = sorted(values)
    return s[min(len(s) - 1, int(0.99 * len(s)))] if s else 0.0


def engine_batches(env, trace_file, lo_ms, hi_ms):
    """Ingest-query progress events in [lo_ms, hi_ms) with per-batch deltas
    of the task-metric totals."""
    with open(trace_file) as f:
        events = [json.loads(line) for line in f if line.strip()]
    prev, out = None, []
    for e in events:
        p = e["progress"]
        if not any("Aprs" in s.get("description", "") for s in p.get("sources", [])):
            continue
        if prev is not None:
            e["delta"] = {k: e["counters"][k] - prev["counters"][k] for k in e["counters"]}
            t = _epoch_ms(p["timestamp"])
            if p["numInputRows"] > 0 and lo_ms <= t < hi_ms:
                out.append(e)
        prev = e
    for e in out:
        p = e["progress"]
        t = _epoch_ms(p["timestamp"])
        total = p["durationMs"].get("triggerExecution", 0)
        env.spans.append({"name": "engine.batch", "start_ms": t, "end_ms": t + total,
                          "parent": "measured"})
        for key, _ in PHASES:
            ms = p["durationMs"].get(key)
            if ms:
                env.spans.append({"name": "engine." + key, "start_ms": t,
                                  "end_ms": t + ms, "parent": "engine.batch"})
                t += ms
    return out


def direct_calls(env, lines):
    """Runs helper/Direct.java on the measured frames; returns its metrics."""
    frames = [f for f in lines if not f.startswith("#")][:DIRECT_FRAMES]
    path = env.path("direct-frames.txt")
    with open(path, "w") as f:
        f.write("\n".join(frames) + "\n")
    out = env.path("direct.json")
    sink = InfluxStub()
    try:
        p = env.spawn("perfbench.Direct", [path, out, "http://127.0.0.1:%d" % sink.port,
                                           str(DIRECT_ROWS)],
                      [], "direct")
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            env.kill(p)
            rc = -1
    finally:
        sink.close()
    if rc != 0 or not os.path.exists(out):
        raise BenchError("direct calls failed (see %s)" % env.log_path(p))
    with open(out) as f:
        res = json.load(f)
    env.spans.extend(res["spans"])
    return res["metrics"]


def layer_metrics(env, d, sampler, phase, trace_file, measured):
    lo, hi = env.wall_ms(phase["start"]), env.wall_ms(phase["end"])
    batches = engine_batches(env, trace_file, lo, hi)
    if not batches:
        raise BenchError("no traced batch inside the measured phase")
    prog = [b["progress"] for b in batches]
    rows = sum(p["numInputRows"] for p in prog)
    delta = {k: sum(b["delta"][k] for b in batches) for k in batches[0]["delta"]}
    m = {}
    # means, not medians: the phase means add up to the mean trigger time,
    # and a phase that usually takes 0 ms still shows its occasional cost
    for key, name in PHASES + [("triggerExecution", "engine.trigger_ms")]:
        if name:
            m[name] = (statistics.mean(p["durationMs"].get(key, 0) for p in prog), "ms")
    m["engine.batches"] = (len(prog), "count")
    m["engine.rows_per_batch"] = (rows / len(prog), "rows")
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["state.rows_total"] = (state[-1]["numRowsTotal"], "rows")
    m["state.rows_updated"] = (statistics.mean(s["numRowsUpdated"] for s in state), "rows")
    m["state.memory_bytes"] = (state[-1]["memoryUsedBytes"], "B")
    m["state.commit_ms"] = (statistics.mean(s["commitTimeMs"] for s in state), "ms")
    m["exchange.shuffle_bytes_per_frame"] = (delta["shuffle_write_bytes"] / rows, "B")
    m["tasks.cpu_ms_per_kframe"] = (delta["cpu_ns"] / 1e6 * 1000.0 / rows, "ms")
    m["tasks.gc_ms_per_kframe"] = (delta["gc_ms"] * 1000.0 / rows, "ms")
    with d.influx.lock:
        posts = [body for t, body in d.influx.posts
                 if phase["start"] <= t < phase["end"]]
    n_lines = sum(b.count(b"\n") + 1 for b in posts)
    m["sink.posts"] = (len(posts) / len(prog), "count")
    m["sink.lines_per_post"] = (n_lines / max(1, len(posts)), "lines")
    samples = [(t, v) for t, v in sampler.samples if phase["start"] <= t <= phase["end"]]
    m["source.backlog_max_frames"] = (max((v for _, v in samples), default=0), "frames")
    m["source.backlog_slope_fps"] = (_slope(samples), "1/s")
    lags = [lag for due, lag in d.feeder.lag_ms if phase["start"] <= due <= phase["end"]]
    m["gen.lag_ms_p99"] = (_p99(lags), "ms")
    for group in ("jit", "gc", "tasks", "stream", "other"):
        m["cpu.%s_ms_per_kframe" % group] = (
            measured["threads"].get(group, 0.0) * 1e6 / measured["frames"], "ms")
    hook_ms = delta["hook_ns"] / 1e6 / len(prog)
    m["trace.hook_ms_per_batch"] = (hook_ms, "ms")
    m["trace.overhead_frac"] = (hook_ms / max(1e-9, m["engine.trigger_ms"][0]), "ratio")
    after = [mb for up, mb in gc_after_mb(d.gc_log)
             if phase["start"] <= d.t_spawn + up <= phase["end"]]
    m["jvm.heap_after_gc_mb"] = (max(after, default=0.0), "MB")
    for k, v in direct_calls(env, phase["lines"]).items():
        m[k] = (v, LAYER_UNITS[k])
    return m
