package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round tooling: run queries with a listener that counts
  * Spark jobs / stages / task time — the "how many sequential driver
  * round-trips does this query pay" number the bench total hides.
  * Usage: tools/run.sh graft.Profile <sfDir> <name> [name...]
  * Each query runs once for warm-up, then once measured, forced end to
  * end through the `noop` sink with `Dedup.clearCaches()` before each run
  * (perfbench's analytics discipline). A relative diagnostic over any
  * roster and scale factor, not a recorded artifact. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.util.GraftSession.local("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val taskMs = new AtomicLong()
    val inBytes = new AtomicLong()
    val shBytes = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        inBytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        shBytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    })
    names.foreach { name =>
      def run(): Unit = {
        graft.operators.Dedup.clearCaches()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      run() // warm-up
      Thread.sleep(300) // let listener events drain
      jobs.set(0); stages.set(0); taskMs.set(0)
      inBytes.set(0); shBytes.set(0)
      val t0 = System.nanoTime()
      run()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"PROFILE $name sec=$sec%.3f jobs=${jobs.get} " +
        f"stages=${stages.get} taskSec=${taskMs.get / 1000.0}%.1f " +
        f"inMB=${inBytes.get / 1048576.0}%.1f shMB=${shBytes.get / 1048576.0}%.1f")
    }
    spark.stop()
  }
}
