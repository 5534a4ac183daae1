package perfbench;

import java.io.FileOutputStream;
import java.io.IOException;
import java.io.OutputStreamWriter;
import java.io.Writer;
import java.nio.charset.StandardCharsets;

import org.apache.spark.sql.streaming.StreamingQueryListener;

/** Appends one JSON line per micro-batch to the file named by the
  * {@code perfbench.trace} system property: the engine's own progress
  * report (durations, state-operator metrics) plus the task-metric totals
  * of {@link TaskCounters} at that moment. Each line is flushed, so the
  * file is complete however the daemon ends. Registered through
  * {@code spark.sql.streaming.streamingQueryListeners}. */
public class ProgressLog extends StreamingQueryListener {
  private final Writer out;

  public ProgressLog() throws IOException {
    out = new OutputStreamWriter(new FileOutputStream(
        System.getProperty("perfbench.trace"), true), StandardCharsets.UTF_8);
  }

  @Override
  public void onQueryStarted(QueryStartedEvent e) {}

  @Override
  public void onQueryTerminated(QueryTerminatedEvent e) {}

  @Override
  public void onQueryProgress(QueryProgressEvent e) {
    long t0 = System.nanoTime();
    String line = "{\"wall_ms\":" + System.currentTimeMillis()
        + ",\"counters\":" + TaskCounters.json()
        + ",\"progress\":" + e.progress().json() + "}\n";
    synchronized (this) {
      try {
        out.write(line);
        out.flush();
      } catch (IOException ex) {
        System.err.println("[perfbench] trace write failed: " + ex);
      }
    }
    TaskCounters.hookNs.addAndGet(System.nanoTime() - t0);
  }
}
