package graft.layerbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one fresh session, a closed loop.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --lake-root <dir> --work <dir> --expected <file> --result <file>
  *        [--spans <file>] [--t0-ns <epoch ns of process launch>]
  *        [--record <file> --record-dir <dir>]
  *
  * Set-up (session creation and one untimed warm-up pass) is followed
  * by round(seconds / nominal pass seconds) timed passes, at least one.
  * An untraced run reports the end-to-end metrics. A traced run makes
  * one extra untraced pass first (to price the tracing), then attaches
  * a listener and records spans; it reports the per-layer metrics.
  * The result object is written to `--result`; `run.py` prints it. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val t0Ns = a.get("t0-ns").map(_.toLong).getOrElse(epochNs())
    val workload = Workloads.byName(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val recording = a.contains("record")
    val expected =
      if (recording) Map.empty[String, String]
      else Json.readStringMap(new String(Files.readAllBytes(Paths.get(arg("expected")))))
    val work = Paths.get(arg("work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val tracer = new Tracer(s"${workload.name}-seed$seed-trace${if (traced) 1 else 0}",
      enabled = false)
    val spark: SparkSession = graft.Bench.timingSession()
    System.err.println(f"[layerbench] session ready at ${(epochNs() - t0Ns) / 1e9}%.3f s")
    try {
      val record = if (recording) Some(mutable.Map.empty[String, String]) else None
      val ctx = new Ctx(spark, arg("lake-root"), work, seed, cores, tracer, expected,
        record, a.get("record-dir"))
      workload.warmUp(ctx)
      val setupS = (epochNs() - t0Ns) / 1e9

      val h = new Harness(tracer)
      val nPasses = math.max(1, math.round(seconds / workload.nominalPassS).toInt)
      val listener = new LayerListener
      val passes = mutable.ArrayBuffer.empty[PassResult]
      def runPass(p: Int): Unit = {
        val before = h.all.size
        val extra = tracer.span("pass", "pass" -> p.toString)(workload.pass(ctx, h, p))
        val storage = spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum / Workloads.MB
        passes += PassResult(p, tracer.enabled, h.all.drop(before),
          extra + ("spark.storage_mb" -> storage))
      }
      if (traced) {
        runPass(0) // untraced reference pass for the overhead ratio
        spark.sparkContext.addSparkListener(listener)
        tracer.onEnter = id => LayerListener.tag(spark.sparkContext, id)
        h.onCheck = () => LayerListener.tag(spark.sparkContext, -1)
        tracer.enabled = true
      }
      (0 until nPasses).foreach(i => runPass(if (traced) i + 1 else i))
      tracer.enabled = false

      val heapMb = retainedHeapMb()
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Report.endToEnd(passes.toSeq, setupS, heapMb)
        else {
          org.apache.spark.LayerbenchBus.drain(spark.sparkContext)
          Report.perLayer(passes.toSeq, tracer, listener, cores)
        }
      a.get("spans").foreach(p => tracer.writeJsonl(Paths.get(p)))
      record.foreach { rec =>
        Files.writeString(Paths.get(arg("record")), Json.writeStringMap(rec.toMap))
        a.get("record-dir").foreach(d => Files.writeString(
          Paths.get(d, "oracle_sql.json"),
          Json.writeStringMap(graft.SparkEntry.oracleSql.filter(kv => rec.contains(kv._1)))))
      }
      val m = metrics.map { case (n, v, u) =>
        s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
      }.mkString(", ")
      val correct = h.failed == 0 && h.attempted > 0
      val line = s"""{"correct": $correct, "attempted": ${h.attempted}, """ +
        s""""failed": ${h.failed}, "metrics": {$m}}"""
      Files.writeString(Paths.get(arg("result")), line + "\n")
      System.err.println(f"[layerbench] result at ${(epochNs() - t0Ns) / 1e9}%.3f s")
      h.all.foreach(r => System.err.println(
        f"[layerbench] ${r.phase}%-8s p${r.pass} ${r.name}%-36s " +
          (if (r.ok) f"${r.seconds}%.3fs" else "FAILED")))
      System.err.println(f"[layerbench] setup_s=$setupS%.3f ops=${h.attempted} " +
        s"failed=${h.failed} passes=${passes.size}")
    } finally spark.stop()
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Driver heap still referenced after full collections. Spark frees
    * broadcast, shuffle and checkpoint state from a cleaner thread once
    * a collection has found it unreachable, so collect, let the cleaner
    * run, and collect again. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / Workloads.MB
  }
}

/** One timed pass: its op records and the workload's own layer values. */
final case class PassResult(pass: Int, traced: Boolean, ops: Seq[OpRecord],
    extra: Map[String, Double]) {
  def okOps: Seq[OpRecord] = ops.filter(_.ok)
  def wallS: Double = okOps.map(_.seconds).sum
  def phaseS(phase: String): Double = okOps.filter(_.phase == phase).map(_.seconds).sum
}
