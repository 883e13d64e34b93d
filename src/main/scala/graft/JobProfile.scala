package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query cost BREAKDOWN harness for the optimization rounds: it
  * separates the three budgets a tiny-SF bench actually spends —
  * Catalyst work (analyze/optimize/plan, driver single-threaded), job
  * count (each tiny job pays fixed scheduling latency), and task
  * volume — so an optimization targets the right one (guide §1:
  * measure first). Listener events arrive asynchronously; the bus is
  * drained before the counters are reset and again before they are
  * printed, so no event of the query is missed. Naming a query
  * several times times it several times (`JobProfile q82 q82 q82`).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobProfile q296... */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.timingSession()
    Bench.warmUp(spark, sfDir)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        if (verbose) {
          val i = s.stageInfo
          val m = i.taskMetrics
          stageLog.add(f"    stage=${i.stageId}%-4d tasks=${i.numTasks}%-3d " +
            f"run=${m.executorRunTime / 1e3}%6.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%6.2fs " +
            f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dKB " +
            f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dKB " +
            i.name.takeWhile(_ != '\n').take(80))
        }
      }
    })
    for (name <- args) SparkEntry.queries.get(name) match {
      case None => System.err.println(s"[jobprofile] unknown query: $name")
      case Some(fn) =>
        GraftBus.drain(spark.sparkContext)
        jobs.set(0); stages.set(0); tasks.set(0); stageLog.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        // Builder time includes any eager work a query does while
        // CONSTRUCTING its frame (localCheckpoints, collects, train
        // loops) — at tiny SF that is often most of the wall clock.
        val tBuilt = System.nanoTime()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val tPlanned = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tDone = System.nanoTime()
        GraftBus.drain(spark.sparkContext)
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
        System.err.println(s"[jobprofile] $name total=${s(t0, tDone)}s " +
          s"build=${s(t0, tBuilt)}s plan=${s(tBuilt, tPlanned)}s " +
          s"exec=${s(tPlanned, tDone)}s jobs=${jobs.get} " +
          s"stages=${stages.get} tasks=${tasks.get}")
        if (verbose) stageLog.forEach(l => System.err.println(l))
    }
    spark.stop()
  }
}
