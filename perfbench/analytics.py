"""The analytics workload: `SparkEntry.queries` over seeded tables.

analytics_barriers  tables from tables.py, then helper/Analytics.java in one
                    child JVM: a warm-up pass that writes each result for the
                    DuckDB oracle check, then timed passes of TIMED until
                    `--seconds` have elapsed. A traced run times all ten
                    queries of TRACED, one timed pass.

The check runs each query's oracle SQL (`SparkEntry.oracleSql`, the same
twins the repository's correctness gate uses) in DuckDB over the same
tables and compares values exactly, columns sorted by name, in row order. A
query that throws, has no oracle or differs is a failed operation.
"""
import glob
import json
import math
import os
import statistics
import subprocess
import time

import duckdb
import pandas as pd

import tables
from daemon import BenchError, _q, gc_after_mb

# a plain aggregation a barrier change must leave flat, then the two
# `util.Mat`-heavy queries with the most jobs per second of run time
TIMED = ["q01_agg", "q36_minhash_lsh", "q126_epoch_order"]
TRACED = ["q01_agg", "q03_join_multi", "q20_lineprotocol", "q21_calibration_twin",
          "q36_minhash_lsh", "q73_funnel", "q111_ann_ivf_pq", "q123_quality_mixture",
          "q126_epoch_order", "q137_distilled_classifier"]
LAYER_UNITS = {"%s.%s" % (q, k): u for q in TRACED
               for k, u in (("s", "s"), ("jobs", "count"), ("task_s", "s"),
                            ("shuffle_mb", "MB"))}
JVM_TIMEOUT_S = 165


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        an, bn = pd.isna(a), pd.isna(b)
        if isinstance(an, bool) and isinstance(bn, bool) and (an or bn):
            return an and bn
    except (TypeError, ValueError):
        pass
    eq = a == b
    return bool(eq.all()) if hasattr(eq, "all") else bool(eq)


def _canon(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def oracle_check(table_dir, out_dir, names):
    """Per query: None when the Spark result equals its DuckDB oracle, else
    why not."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in tables.NAMES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, table_dir, t))
    verdict = {}
    for name in names:
        if name not in oracle:
            verdict[name] = "no oracle SQL"
            continue
        if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
            verdict[name] = "no result"
            continue
        got = _canon(pd.read_parquet(os.path.join(out_dir, name)))
        exp = _canon(con.sql(oracle[name]).df())
        if list(got.columns) != list(exp.columns):
            verdict[name] = "columns %s, oracle %s" % (list(got.columns), list(exp.columns))
        elif len(got) != len(exp):
            verdict[name] = "%d rows, oracle %d" % (len(got), len(exp))
        elif len(got) == 0:
            verdict[name] = "empty result"
        else:
            diff = next(("%s row %d: %r, oracle %r" % (c, i, x, y)
                         for c in got.columns
                         for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                         if not _cell_eq(x, y)), None)
            verdict[name] = diff
    con.close()
    return verdict


def run(env, seed, seconds, trace, log):
    """Runs analytics_barriers; returns (attempted, failed, metrics, info)."""
    names = TRACED if trace else TIMED
    table_dir = env.path("tables")
    rows = tables.write(seed, table_dir)
    out_dir, result = env.path("results"), env.path("analytics.json")
    gc_log = env.path("gc-analytics.log")
    t_spawn = time.monotonic()
    p = env.spawn("perfbench.Analytics",
                  [table_dir, out_dir, result, str(0 if trace else seconds), ",".join(names)],
                  ["-Xlog:gc:file=%s:uptimemillis" % gc_log], "analytics")
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        env.kill(p)
        raise BenchError("analytics JVM did not finish in %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        raise BenchError("analytics JVM failed (see %s)" % env.log_path(p))
    with open(result) as f:
        res = json.load(f)
    setup_s = res["ready_ms"] / 1000.0 - env.wall_ms(t_spawn) / 1000.0
    env.span("setup", t_spawn, t_spawn + setup_s, "run")
    env.spans.extend(res["spans"])

    t0 = time.monotonic()
    verdict = oracle_check(table_dir, out_dir, names)
    for name, err in res["errors"].items():
        verdict[name] = "threw: " + err
    bad = {k: v for k, v in verdict.items() if v}
    log("oracle check %.1f s" % (time.monotonic() - t0))

    passes = res["passes"]
    timed = [n for n in names if n not in res["errors"]]
    if not timed:
        raise BenchError("every query threw: %s" % res["errors"])
    per_query = {n: statistics.median(p["queries"][n]["s"] for p in passes) for n in timed}
    counters = res["counters"]
    records = sum(c["records"] for c in counters.values())
    timed_s = sum(p["s"] for p in passes)
    cpu_s = sum(p["cpu_s"] for p in passes)
    ms = sorted(v * 1000.0 for v in per_query.values())
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "latency_p90_ms": (_q(ms, 0.9), "ms"),
        "drain_fps": (records / timed_s, "1/s"),
        "cpu_ms_per_kframe": (cpu_s * 1e6 / records, "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "suite_s": (statistics.median(p["s"] for p in passes), "s"),
    }
    report = {"queries": len(names), "failed": len(bad), "why": bad}
    info = {"check": report, "tables": rows, "passes_s": [p["s"] for p in passes],
            "query_s": per_query, "setup_s": setup_s}
    if trace:
        layers = {}
        for n in TRACED:
            runs = [counters.get("%s#%d" % (n, i)) for i in range(len(passes))]
            runs = [c for c in runs if c]
            if n in per_query and runs:
                layers[n + ".s"] = (per_query[n], "s")
                layers[n + ".jobs"] = (statistics.median(c["jobs"] for c in runs), "count")
                layers[n + ".task_s"] = (statistics.median(c["task_ms"] for c in runs) / 1000.0, "s")
                layers[n + ".shuffle_mb"] = (
                    statistics.median(c["shuffle_bytes"] for c in runs) / 1e6, "MB")
        after = [mb for _, mb in gc_after_mb(gc_log)]
        layers["jvm.heap_after_gc_mb"] = (max(after, default=0.0), "MB")
        info["layers"] = layers
    return len(names), len(bad), metrics, info
