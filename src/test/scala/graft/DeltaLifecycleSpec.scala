package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** The delta lifecycle of [[Artifacts]] — [[Artifacts.appendDelta]],
  * [[Artifacts.withDeltas]] / [[Artifacts.deltasOnly]] and
  * [[Artifacts.compactionSource]] — driven over a plain one-column
  * parquet layout (`<home>/t`, column `v`) with no operator involved,
  * so the contract is pinned independently of any artifact family. */
class DeltaLifecycleSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_delta_spec_")
      .resolve("home").toString

  private def writeRows(rows: Long*)(d: String): Unit =
    rows.toDF("v").write.mode("overwrite").parquet(s"$d/t")

  private def values(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  /** A committed base home holding rows 1, 2 under params "base|v1". */
  private def base(): String = {
    val dir = freshDir()
    Artifacts.durable("deltaSpecBase", dir, "base|v1")(writeRows(1L, 2L))
    dir
  }

  test("append onto an uncommitted home fails loudly and writes nothing") {
    val dir = freshDir()
    intercept[IllegalArgumentException] {
      Artifacts.appendDelta("deltaSpec", dir, "d1", "delta|v1")(
        writeRows(3L))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "a refused append must not create the delta tree")
  }

  test("re-appending a delta name leaves durableBuilds flat") {
    val dir = base()
    val before = Artifacts.durableBuilds.get()
    val d1 = Artifacts.appendDelta("deltaSpec", dir, "d1", "delta|v1")(
      writeRows(3L))
    assert(d1 == Artifacts.deltaDir(dir, "d1"))
    assert(Artifacts.durableBuilds.get() == before + 1)
    // same owner: memo hit; another owner: the committed marker
    Artifacts.appendDelta("deltaSpec", dir, "d1", "delta|v1")(
      _ => fail("re-append rebuilt the delta"))
    Artifacts.appendDelta("deltaSpec2", dir, "d1", "delta|v1")(
      _ => fail("re-append from a fresh owner rebuilt the delta"))
    assert(Artifacts.durableBuilds.get() == before + 1)
    assert(values(Artifacts.withDeltas(spark, dir, "t")) == Seq(1L, 2L, 3L))
  }

  test("withDeltas unions committed deltas in name order; an " +
      "uncommitted delta dir is invisible") {
    val dir = base()
    assert(Artifacts.deltasOnly(spark, dir, "t").isEmpty)
    Artifacts.appendDelta("deltaSpec", dir, "b", "delta|v1")(writeRows(20L))
    Artifacts.appendDelta("deltaSpec", dir, "a", "delta|v1")(writeRows(10L))
    // a crashed appender: payload present, no commit marker
    writeRows(99L)(s"${Artifacts.canonical(dir)}/deltas/c")
    val all = Artifacts.withDeltas(spark, dir, "t")
    assert(values(all) == Seq(1L, 2L, 10L, 20L),
      "an uncommitted delta leaked into the serving union")
    assert(values(Artifacts.deltasOnly(spark, dir, "t").get) ==
      Seq(10L, 20L))
    // an explicit base frame replaces the artifact's own table
    assert(values(Artifacts.withDeltas(spark, dir, "t", Seq(7L).toDF("v")))
      == Seq(7L, 10L, 20L))
    // the fold's union order: base, then deltas by name
    val home = Artifacts.canonical(dir)
    val scanned = all.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.map(_.toUri.getPath).mkString(",")
        case other => other.toString
      }
      case other => other.toString
    }
    assert(scanned == Seq(s"$home/t", s"$home/deltas/a/t",
      s"$home/deltas/b/t"), scanned.mkString("\n"))
  }

  test("compactionSource: committed source with equal params passes; a " +
      "stamp mismatch fails with 'was built with'") {
    val dir = base()
    assert(Artifacts.compactionSource(dir, "base|v1") ==
      Artifacts.canonical(dir))
    val e = intercept[IllegalArgumentException] {
      Artifacts.compactionSource(dir, "base|v2")
    }
    assert(e.getMessage.contains("was built with"), e.getMessage)
    intercept[IllegalArgumentException] {
      Artifacts.compactionSource(freshDir(), "base|v1")
    }
  }
}
