package graft.layerbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def harness = new Harness(new Tracer("spec", enabled = true), _ => ())

  test("an op that throws is counted as failed and never timed") {
    val h = harness
    assert(h.op("good", "query", 0)(41 + 1)(r => if (r == 42) None else Some("bad")))
    assert(!h.op[Int]("boom", "query", 0)(throw new IllegalStateException("x"))(_ => None))
    assert(h.attempted == 2 && h.failed == 1)
    val boom = h.all.find(_.name == "boom").get
    assert(!boom.ok && boom.seconds.isNaN && boom.error.contains("IllegalStateException"))
  }

  test("an op with a wrong result is counted as failed and never timed") {
    val h = harness
    assert(!h.op("wrong", "query", 0)("result")(_ => Some("checksum differs")))
    assert(!h.op("check throws", "query", 0)("result")(_ => sys.error("no")))
    assert(h.failed == 2 && h.all.forall(r => !r.ok && r.seconds.isNaN))
  }

  test("failed ops stay out of every timing metric and count in the fail ratio") {
    val h = harness
    h.op("fast-but-broken", "query", 0)(())(_ => Some("wrong"))
    h.op("ok", "query", 0)(Thread.sleep(20))(_ => None)
    val pass = PassResult(0, traced = false, h.all, Map.empty)
    val m = Report.endToEnd(Seq(pass), 1.0, 10.0).map(t => t._1 -> t._2).toMap
    assert(m("op_p50_s") >= 0.02 && m("op_tail_s") == m("op_p50_s"))
    assert(m("wall_s") == pass.okOps.map(_.seconds).sum)
    assert(h.failed.toDouble / h.attempted == 0.5)
  }

  test("the tail is p90 below a hundred ops, ten-beyond above it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)) == 9.0)
    assert(Stats.tail((1 to 50).map(_.toDouble)) == 45.0)
    assert(Stats.tail((1 to 200).map(_.toDouble)) == 190.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("op spans nest their layer spans and record the run id") {
    val t = new Tracer("run-x", enabled = true)
    val h = new Harness(t, _ => ())
    h.op("q", "query", 0) {
      t.span("operators.build")(())
      t.span("spark.exec")(())
    }(_ => None)
    val op = t.spans.find(_.name == "op").get
    val kids = t.spans.filter(_.parent == op.id)
    assert(kids.map(_.name) == Seq("operators.build", "spark.exec"))
    assert(t.spans.forall(_.run == "run-x"))
    assert(kids.forall(k => k.startNs >= op.startNs && k.endNs <= op.endNs))
  }

  test("driver gap is the op time no task covers") {
    val tasks = Seq(LayerListener.TaskRecord(1, 100, 200),
      LayerListener.TaskRecord(1, 150, 250), LayerListener.TaskRecord(1, 400, 500))
    assert(LayerListener.gapMs(tasks, 0, 600) == 600 - 150 - 100)
    assert(LayerListener.gapMs(Nil, 0, 600) == 600)
  }
}
