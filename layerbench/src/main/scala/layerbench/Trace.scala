package graft.layerbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span (0 for the run's root); every span of a run carries
  * the same `run` id. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, attrs: Map[String, String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest through a stack: a span opened
  * inside another is its child. When disabled, [[span]] only runs the
  * body, so untraced runs pay nothing for it. Spans are kept in
  * memory and written out once, when the run ends ([[writeJsonl]]). */
final class Tracer(val run: String, var enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  /** Called with the innermost open span's id whenever it changes. */
  var onEnter: Int => Unit = _ => ()

  /** Adds to a `System.nanoTime` reading to give epoch nanoseconds. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, run, t0, System.nanoTime(), attrs.toMap)
        stack = stack.tail
        onEnter(parent)
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = done.sortBy(_.startNs).map { s =>
      val a = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run":${Json.str(s.run)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"attrs":{$a}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Spark-side counters for a traced run, attached through the public
  * listener API. Every job the harness starts carries the local
  * property [[OpKey]] (the id of the span that issued it), so stages
  * and tasks are attributed to the op, and check jobs (outside every
  * op span) are told apart from timed ones. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]() // (owner span, submit ms)
  val stages = new ConcurrentLinkedQueue[StageRecord]()
  val tasks = new ConcurrentLinkedQueue[TaskRecord]()

  private def owner(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = owner(e.properties)
    jobs.add((o, e.time))
    e.stageIds.foreach(stageOwner.putIfAbsent(_, o))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOwner.putIfAbsent(e.stageInfo.stageId, owner(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRecord(
      stageOwner.getOrDefault(i.stageId, -1), i.numTasks,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(TaskRecord(stageOwner.getOrDefault(e.stageId, -1),
      e.taskInfo.launchTime, e.taskInfo.finishTime))
}

object LayerListener {
  val OpKey = "layerbench.span"

  final case class StageRecord(owner: Int, tasks: Int, runS: Double,
      cpuS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, output: Long, outputRecords: Long)
  final case class TaskRecord(owner: Int, launchMs: Long, finishMs: Long)

  /** Mark every job started from this thread with the current span. */
  def tag(sc: SparkContext, span: Int): Unit =
    sc.setLocalProperty(OpKey, span.toString)

  /** Wall milliseconds inside [lo, hi) that none of `tasks` covers. */
  def gapMs(tasks: Iterable[TaskRecord], lo: Long, hi: Long): Long = {
    val iv = tasks.iterator
      .map(t => (math.max(t.launchMs, lo), math.min(t.finishMs, hi)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (hi - lo) - covered
  }

  def snapshot[T](q: ConcurrentLinkedQueue[T]): Seq[T] = q.asScala.toSeq
}
