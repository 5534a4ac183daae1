package perfbench;

import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.Locale;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

import graft.SparkEntry;
import graft.operators.Dedup;
import graft.util.GraftSession;

/** Runs `SparkEntry.queries` over the benchmark's generated tables, the way
  * `graft.Bench` measures them: each query forced end to end through the
  * `noop` sink, `Dedup.clearCaches()` before every run.
  *
  * Usage: Analytics <tables dir> <out dir> <result json> <seconds> <q1,q2,...>
  *
  * 1. Builds the session (`GraftSession.local`) and records when it is
  *    ready.
  * 2. Warm-up pass: writes each query's result to `<out dir>/<q>` as
  *    parquet and its DuckDB oracle SQL to `<out dir>/oracle_sql.json`, for
  *    the benchmark's correctness check.
  * 3. Timed passes until `seconds` have elapsed, at least one.
  *
  * Per query and timed pass it records wall seconds, jobs, task seconds
  * (executor run time), shuffle bytes written and input records read, from
  * a listener keyed by a local property; per pass, the process CPU; at the
  * end, the peak resident memory. A query that throws is recorded as an
  * error and never timed. */
public class Analytics {
  private static final String KEY = "perfbench.query";

  /** job, task and shuffle totals per query run */
  static final class Stats extends SparkListener {
    final Map<Integer, String> stageKey = new ConcurrentHashMap<>();
    final Map<String, long[]> totals = new ConcurrentHashMap<>();

    long[] of(String key) {
      return totals.computeIfAbsent(key, k -> new long[4]);
    }

    @Override public void onJobStart(SparkListenerJobStart e) {
      String key = e.properties() == null ? null : e.properties().getProperty(KEY);
      if (key != null) synchronized (this) { of(key)[0]++; }
    }

    @Override public void onStageSubmitted(SparkListenerStageSubmitted e) {
      String key = e.properties() == null ? null : e.properties().getProperty(KEY);
      if (key != null) stageKey.put(e.stageInfo().stageId(), key);
    }

    @Override public void onTaskEnd(SparkListenerTaskEnd e) {
      String key = stageKey.get(e.stageId());
      TaskMetrics m = e.taskMetrics();
      if (key == null || m == null) return;
      synchronized (this) {
        long[] t = of(key);
        t[1] += m.executorRunTime();
        t[2] += m.shuffleWriteMetrics().bytesWritten();
        t[3] += m.inputMetrics().recordsRead();
      }
    }
  }

  private static final long WALL0 = System.currentTimeMillis();
  private static final long NANO0 = System.nanoTime();

  private static double wallMs(long nano) {
    return WALL0 + (nano - NANO0) / 1e6;
  }

  private static String q(String s) {
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < ' ') b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }

  private static double cpuSeconds() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime() / 1e9;
  }

  /** VmHWM of this process, read before it exits */
  private static double peakRssMb() throws java.io.IOException {
    for (String line : Files.readAllLines(Paths.get("/proc/self/status"))) {
      if (line.startsWith("VmHWM:")) {
        return Long.parseLong(line.replaceAll("[^0-9]", "")) / 1024.0;
      }
    }
    throw new IllegalStateException("no VmHWM in /proc/self/status");
  }

  @SuppressWarnings("unchecked")
  private static Dataset<Row> plan(SparkSession spark, String name, String dir) {
    scala.Function2<SparkSession, String, Dataset<Row>> fn =
        (scala.Function2<SparkSession, String, Dataset<Row>>) SparkEntry.queries().apply(name);
    return fn.apply(spark, dir);
  }

  public static void main(String[] args) throws Exception {
    String dir = args[0], out = args[1];
    double seconds = Double.parseDouble(args[3]);
    String[] names = args[4].split(",");
    SparkSession spark = GraftSession.local("perfbench-analytics");
    Stats stats = new Stats();
    spark.sparkContext().addSparkListener(stats);
    double readyMs = wallMs(System.nanoTime());

    StringBuilder json = new StringBuilder();
    json.append(String.format(Locale.ROOT, "{\"ready_ms\":%.3f,\"errors\":{", readyMs));
    StringBuilder oracle = new StringBuilder("{");
    StringBuilder spans = new StringBuilder();
    Map<String, Boolean> failed = new ConcurrentHashMap<>();
    long w0 = System.nanoTime();
    for (String name : names) {
      Dedup.clearCaches();
      long t0 = System.nanoTime();
      try {
        plan(spark, name, dir).coalesce(1).write().mode("overwrite")
            .parquet(out + "/" + name);
      } catch (Throwable e) {
        if (!failed.isEmpty()) json.append(',');
        failed.put(name, true);
        json.append(q(name)).append(':').append(q(String.valueOf(e)));
      }
      spans.append(String.format(Locale.ROOT,
          "{\"name\":\"%s.warmup\",\"start_ms\":%.3f,\"end_ms\":%.3f,\"parent\":\"warmup\"},",
          name, wallMs(t0), wallMs(System.nanoTime())));
      scala.Option<String> sql = SparkEntry.oracleSql().get(name);
      if (sql.isDefined()) {
        if (oracle.length() > 1) oracle.append(',');
        oracle.append(q(name)).append(':').append(q(sql.get()));
      }
    }
    Files.write(Paths.get(out, "oracle_sql.json"),
        oracle.append('}').toString().getBytes(StandardCharsets.UTF_8));
    json.append(String.format(Locale.ROOT,
        "},\"warmup\":[%.3f,%.3f],\"passes\":[", wallMs(w0), wallMs(System.nanoTime())));

    long start = System.nanoTime();
    int pass = 0;
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      if (pass > 0) json.append(',');
      double cpu0 = cpuSeconds();
      long p0 = System.nanoTime();
      json.append("{\"queries\":{");
      boolean first = true;
      for (String name : names) {
        if (failed.containsKey(name)) continue;
        String key = name + "#" + pass;
        Dedup.clearCaches();
        spark.sparkContext().setLocalProperty(KEY, key);
        long t0 = System.nanoTime();
        plan(spark, name, dir).write().format("noop").mode("overwrite").save();
        long t1 = System.nanoTime();
        spark.sparkContext().setLocalProperty(KEY, null);
        spans.append(String.format(Locale.ROOT,
            "{\"name\":\"%s\",\"start_ms\":%.3f,\"end_ms\":%.3f,\"parent\":\"pass%d\"},",
            name, wallMs(t0), wallMs(t1), pass));
        if (!first) json.append(',');
        first = false;
        json.append(String.format(Locale.ROOT, "%s:{\"s\":%.6f}", q(name), (t1 - t0) / 1e9));
      }
      long p1 = System.nanoTime();
      spans.append(String.format(Locale.ROOT,
          "{\"name\":\"pass%d\",\"start_ms\":%.3f,\"end_ms\":%.3f,\"parent\":\"timed\"},",
          pass, wallMs(p0), wallMs(p1)));
      json.append(String.format(Locale.ROOT, "},\"s\":%.6f,\"cpu_s\":%.6f}",
          (p1 - p0) / 1e9, cpuSeconds() - cpu0));
      pass++;
    }
    spark.sparkContext().listenerBus().waitUntilEmpty();
    json.append("],\"counters\":{");
    boolean first = true;
    for (Map.Entry<String, long[]> e : stats.totals.entrySet()) {
      long[] t = e.getValue();
      if (!first) json.append(',');
      first = false;
      json.append(String.format(Locale.ROOT,
          "%s:{\"jobs\":%d,\"task_ms\":%d,\"shuffle_bytes\":%d,\"records\":%d}",
          q(e.getKey()), t[0], t[1], t[2], t[3]));
    }
    if (spans.length() > 0) spans.setLength(spans.length() - 1);
    json.append(String.format(Locale.ROOT, "},\"peak_rss_mb\":%.3f", peakRssMb()));
    json.append(",\"spans\":[").append(spans).append("]}");
    spark.stop();
    Files.write(Paths.get(args[2]), json.toString().getBytes(StandardCharsets.UTF_8));
  }
}
