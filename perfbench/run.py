#!/usr/bin/env python3
"""Benchmark of the APRS-IS -> InfluxDB daemon (`graft.app.Main`) and of the
analytics queries (`SparkEntry.queries`).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source when its classes are missing or stale
(`sbt compile`, offline) and the benchmark's JVM helpers (`make -C
perfbench/helper`), then runs one workload (see daemon.py, analytics.py and
README.md).
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Progress, host facts and the check report go to standard error;
every file a run writes stays under .bench_work/ in the checkout.
"""
import argparse
import atexit
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import daemon  # noqa: E402
from daemon import BenchError  # noqa: E402
from layers import LAYER_UNITS  # noqa: E402
from stubs import harness_cpu_s, host_facts, steal_s  # noqa: E402

WORKLOADS = ("live_paced", "backlog_drain", "analytics_barriers")
# tools/run.sh sets -Xmx${SPARK_DRIVER_MEM:-8g}. The benchmark fixes the heap
# at 2 GB instead (-Xms2g -Xmx2g), a daemon on a small box: peak RSS is then
# the heap plus native memory (RocksDB state, threads, code), and does not
# vary with how far G1 grew the heap; the on-heap figure is
# jvm.heap_after_gc_mb
HEAP = "2g"
# tools/run.sh's JVM flags
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Env:
    """The checkout, its work directory, child processes and spans."""

    def __init__(self, root):
        self.root = root
        self.work = os.path.join(root, ".bench_work")
        self.run_dir = os.path.join(self.work, "run")
        self.procs = []
        self.logs = {}
        self.spans = []
        self.mono0, self.wall0 = time.monotonic(), time.time()

    def path(self, name):
        return os.path.join(self.run_dir, name)

    # ------------------------------------------------------------ build
    def build(self):
        for need in ("build.sbt", "src/main/scala", "project/build.properties"):
            if not os.path.exists(os.path.join(self.root, need)):
                raise BenchError("program source not found: %s (run from the "
                                 "root of a checkout)" % need)
        os.makedirs(self.work, exist_ok=True)
        classes = os.path.join(self.root, "target/scala-2.13/classes")
        src = [os.path.join(self.root, p) for p in
               ("build.sbt", "project/build.properties", "src/main")]
        digest = tree_digest(src)
        stamp = os.path.join(self.work, "program.stamp")
        if not (os.path.isdir(classes) and _read(stamp) == digest):
            t0 = time.monotonic()
            log("building the program (sbt compile)")
            env = dict(os.environ, COURSIER_MODE="offline")
            repos = os.path.expanduser("~/.sbt/repositories")
            env.setdefault("SBT_OPTS", SBT_OPTS % repos)
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=self.root, env=env, stdout=sys.stderr,
                               stderr=sys.stderr, timeout=840)
            if r.returncode != 0:
                raise BenchError("sbt compile failed")
            _write(stamp, digest)
            log("built in %.1f s" % (time.monotonic() - t0))
        helper_out = os.path.join(self.work, "helper-classes")
        hdigest = digest + tree_digest([os.path.join(HERE, "helper")])
        hstamp = os.path.join(self.work, "helper.stamp")
        if not (os.path.isdir(helper_out) and _read(hstamp) == hdigest):
            shutil.rmtree(helper_out, ignore_errors=True)
            r = subprocess.run(["make", "-s", "-C", os.path.join(HERE, "helper"),
                                "OUT=" + helper_out, "CP=%s:/opt/spark/jars/*" % classes],
                               stdout=sys.stderr, stderr=sys.stderr, timeout=300)
            if r.returncode != 0:
                raise BenchError("helper build failed")
            _write(hstamp, hdigest)
        # resources as a packaged daemon has them (graft-log4j2.xml);
        # `sbt compile` does not copy them into the classes directory
        resources = os.path.join(self.root, "src/main/resources")
        self.classpath = "%s:%s:%s:/opt/spark/jars/*" % (classes, resources, helper_out)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("tmp", "local", "logs"):
            os.makedirs(self.path(d))

    # -------------------------------------------------------- processes
    def spawn(self, main, args, props, tag):
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        cmd += ["-XX:PerMethodRecompilationCutoff=-1",
                "-XX:PerBytecodeRecompilationCutoff=-1", "-XX:-UsePerfData",
                "-Xms" + HEAP, "-Xmx" + HEAP, "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-Djava.io.tmpdir=" + self.path("tmp"),
                "-Dspark.local.dir=" + self.path("local"),
                "-Dgraft.log.dir=" + self.path("logs")] + props
        cmd += ["-cp", self.classpath, main] + args
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
        out = open(self.path(tag + ".log"), "w")
        p = subprocess.Popen(cmd, cwd=self.run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        out.close()
        self.procs.append(p)
        self.logs[p.pid] = self.path(tag + ".log")
        return p

    def log_path(self, p):
        return self.logs.get(p.pid)

    def kill(self, p):
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()

    def cleanup(self):
        for p in self.procs:
            self.kill(p)

    # ------------------------------------------------------------ spans
    def wall_ms(self, mono):
        return (self.wall0 + (mono - self.mono0)) * 1000.0

    def span(self, name, start, end, parent):
        self.spans.append({"name": name, "start_ms": round(self.wall_ms(start), 3),
                           "end_ms": round(self.wall_ms(end), 3), "parent": parent})


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--known-defects", action="store_true",
                    help="daemon workloads: add the frame shapes the program is "
                         "known to fail (gen.KNOWN_DEFECTS) to the mix")
    a = ap.parse_args()

    env = Env(os.getcwd())
    atexit.register(env.cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    facts = host_facts()
    cpu0, steal0 = harness_cpu_s(), steal_s()
    try:
        env.build()
        t0 = time.monotonic()
        if a.workload == "analytics_barriers":
            import analytics  # loads pandas, pyarrow and duckdb: ~0.5 s a daemon run skips
            attempted, failed, metrics, info = analytics.run(env, a.seed, a.seconds,
                                                             a.trace == 1, log)
        else:
            attempted, failed, metrics, info = daemon.run(env, a.workload, a.seed,
                                                          a.seconds, a.trace == 1, log,
                                                          a.known_defects)
        env.span("run", t0, time.monotonic(), "")
    except (BenchError, subprocess.TimeoutExpired) as e:
        log("error: %s" % e)
        sys.exit(1)
    finally:
        env.cleanup()
    facts["harness_cpu_s"] = round(harness_cpu_s() - cpu0, 3)
    facts["steal_s"] = round(steal_s() - steal0, 2)
    info["host"] = facts
    log("check: " + json.dumps(info.pop("check")))
    if a.trace:
        # every per-layer metric; a layer this workload does not run reads 0
        import analytics
        metrics = {k: (0.0, u) for k, u in {**LAYER_UNITS, **analytics.LAYER_UNITS}.items()}
        metrics.update(info.pop("layers"))
        spans = env.path("spans.json")
        with open(spans, "w") as f:
            json.dump(env.spans, f)
        log("spans: %s (%d)" % (spans, len(env.spans)))
    log("info: " + json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
