package perfbench;

import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.List;
import java.util.Locale;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.functions;

import graft.parse.AprsWireParser;
import graft.sinks.InfluxLineSink;
import graft.sources.AprsIsPartition;
import graft.sources.AprsIsReaderFactory;
import graft.sources.AprsIsSource;
import graft.streaming.TelemetryProcessor;
import graft.transform.AprsLineProtocol;

/** Single-threaded direct calls into each daemon layer on the benchmark's
  * generated frames — the baseline the daemon's numbers are read against.
  *
  * Usage: Direct <frames file> <out json> <influx url> <DataFrame frames>
  *
  * Layers, each timed over whole passes after one warm-up pass:
  * AprsWireParser.parse, AprsIsReaderFactory.createReader (parse plus
  * Row to InternalRow), TelemetryProcessor.attach, AprsLineProtocol.lines
  * and InfluxLineSink.writeBatch (to the benchmark's stub endpoint). The
  * DataFrame layers run on local[1] over the first frames only. Writes the
  * rates and one span per pass. */
public class Direct {
  private static final long WALL0 = System.currentTimeMillis();
  private static final long NANO0 = System.nanoTime();
  private static final StringBuilder spans = new StringBuilder();
  private static int spanCount = 0;

  private static double ms(long nano) {
    return WALL0 + (nano - NANO0) / 1e6;
  }

  private static void span(String name, long start, long end, String parent) {
    if (spanCount++ > 0) spans.append(',');
    spans.append(String.format(Locale.ROOT,
        "{\"name\":\"%s\",\"start_ms\":%.3f,\"end_ms\":%.3f,\"parent\":\"%s\"}",
        name, ms(start), ms(end), parent));
  }

  interface Pass { long run() throws Exception; }

  private static final long MIN_NS = 1_000_000_000L;

  /** Warm-up passes for MIN_NS / 2, then passes until MIN_NS has elapsed
    * (at least `minPasses`); returns work units per second over the timed
    * passes. */
  private static double rate(String name, Pass pass, int minPasses)
      throws Exception {
    long w0 = System.nanoTime();
    do pass.run(); while (System.nanoTime() - w0 < MIN_NS / 2);
    span(name + ".warmup", w0, System.nanoTime(), "direct");
    long units = 0, t0 = System.nanoTime(), t = t0;
    int passes = 0;
    while (passes < minPasses || t - t0 < MIN_NS) {
      long p0 = System.nanoTime();
      units += pass.run();
      t = System.nanoTime();
      span(name, p0, t, "direct");
      passes++;
    }
    return units / ((t - t0) / 1e9);
  }

  public static void main(String[] args) throws Exception {
    String[] frames = Files.readAllLines(Paths.get(args[0]), StandardCharsets.UTF_8)
        .stream().filter(l -> !l.isEmpty() && !l.startsWith("#"))
        .toArray(String[]::new);
    String url = args[2];
    long now = System.currentTimeMillis() / 1000;
    long root0 = System.nanoTime();

    long dropped = 0;
    for (String f : frames) if (AprsWireParser.parse(f, now).isEmpty()) dropped++;
    double parseFps = rate("parse", () -> {
      for (String f : frames) AprsWireParser.parse(f, now);
      return frames.length;
    }, 2);

    double readerFps = rate("reader", () -> {
      PartitionReader<InternalRow> r = new AprsIsReaderFactory()
          .createReader(new AprsIsPartition(frames, 0L));
      while (r.next()) r.get();
      r.close();
      return frames.length;
    }, 2);

    long s0 = System.nanoTime();
    SparkSession spark = SparkSession.builder().master("local[1]")
        .appName("perfbench-direct")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    List<Row> rows = new ArrayList<>();
    int dfFrames = Math.min(frames.length, Integer.parseInt(args[3]));
    for (int i = 0; i < dfFrames; i++) {
      scala.Option<Row> o = AprsWireParser.parse(frames[i], now);
      if (o.isEmpty()) continue;
      Row r = o.get();
      Object[] vals = new Object[r.length() + 1];
      for (int k = 0; k < r.length(); k++) vals[k] = r.get(k);
      vals[r.length()] = (long) i;
      rows.add(RowFactory.create(vals));
    }
    Dataset<Row> parsed = spark.createDataFrame(rows, AprsIsSource.fullSchema())
        .localCheckpoint();
    long nRows = parsed.count();
    span("session+input", s0, System.nanoTime(), "direct");

    double stateRps = rate("state", () -> {
      TelemetryProcessor.attach(parsed, "_seq").write().format("noop")
          .mode("overwrite").save();
      return nRows;
    }, 3);

    double formatRps = rate("format", () -> {
      AprsLineProtocol.lines(parsed,
          functions.lit(null).cast("array<array<double>>"))
          .write().format("noop").mode("overwrite").save();
      return nRows;
    }, 3);

    Dataset<Row> lines = AprsLineProtocol.lines(parsed,
        functions.lit(null).cast("array<array<double>>")).localCheckpoint();
    long nLines = lines.count();
    scala.Option<String> none = scala.Option.apply(null);
    double sinkLps = rate("sink", () -> {
      InfluxLineSink.writeBatch(lines, url, "bench", 5000, none, none);
      return nLines;
    }, 3);
    spark.stop();
    span("direct", root0, System.nanoTime(), "run");

    String json = String.format(Locale.ROOT,
        "{\"frames\":%d,\"rows\":%d,\"lines\":%d,\"metrics\":{"
            + "\"parse.fps\":%.3f,\"parse.drop_frac\":%.6f,"
            + "\"source.reader_fps\":%.3f,\"state.rows_per_s\":%.3f,"
            + "\"format.rows_per_s\":%.3f,\"sink.lines_per_s\":%.3f},"
            + "\"spans\":[%s]}",
        frames.length, nRows, nLines, parseFps, dropped / (double) frames.length,
        readerFps, stateRps, formatRps, sinkLps, spans);
    Files.write(Paths.get(args[1]), json.getBytes(StandardCharsets.UTF_8));
  }
}
