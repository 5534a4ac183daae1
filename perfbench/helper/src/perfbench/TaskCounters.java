package perfbench;

import java.util.concurrent.atomic.AtomicLong;

import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerTaskEnd;

/** Running totals of task metrics, read by {@link ProgressLog} at every
  * micro-batch so per-batch deltas can be taken. Registered in the daemon
  * through {@code spark.extraListeners}. */
public class TaskCounters extends SparkListener {
  static final AtomicLong tasks = new AtomicLong();
  static final AtomicLong cpuNs = new AtomicLong();
  static final AtomicLong runMs = new AtomicLong();
  static final AtomicLong gcMs = new AtomicLong();
  static final AtomicLong shuffleWriteBytes = new AtomicLong();
  static final AtomicLong shuffleReadBytes = new AtomicLong();
  /** Time spent inside the benchmark's listener callbacks. */
  static final AtomicLong hookNs = new AtomicLong();

  @Override
  public void onTaskEnd(SparkListenerTaskEnd end) {
    long t0 = System.nanoTime();
    TaskMetrics m = end.taskMetrics();
    if (m != null) {
      tasks.incrementAndGet();
      cpuNs.addAndGet(m.executorCpuTime());
      runMs.addAndGet(m.executorRunTime());
      gcMs.addAndGet(m.jvmGCTime());
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics().bytesWritten());
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics().totalBytesRead());
    }
    hookNs.addAndGet(System.nanoTime() - t0);
  }

  static String json() {
    return "{\"tasks\":" + tasks.get() + ",\"cpu_ns\":" + cpuNs.get()
        + ",\"run_ms\":" + runMs.get() + ",\"gc_ms\":" + gcMs.get()
        + ",\"shuffle_write_bytes\":" + shuffleWriteBytes.get()
        + ",\"shuffle_read_bytes\":" + shuffleReadBytes.get()
        + ",\"hook_ns\":" + hookNs.get() + "}";
  }
}
