package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Prints the master and shuffle partitions [[Bench.timingSession]]
  * ends up with in this JVM. */
object TimingSessionChild {
  def main(args: Array[String]): Unit = {
    val spark = Bench.timingSession()
    println(s"SESSION master=${spark.sparkContext.master} " +
      s"shuffle=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"tz=${spark.conf.get("spark.sql.session.timeZone")}")
    spark.stop()
  }
}

/** The session factory defers to a launcher: spark-submit hands its
  * `--master` and `--conf`s to the driver JVM as `spark.*` system
  * properties, and those must reach the session. Each case forks a
  * fresh JVM (a session's master is fixed once per JVM). */
class TimingSessionSpec extends AnyFunSuite {

  private def session(props: String*): String = {
    val jvm = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(jvm.toString, "-Xmx512m") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      props ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.TimingSessionChild")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "3")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), out)
    assert(p.exitValue() == 0, out)
    out.linesIterator.find(_.startsWith("SESSION ")).getOrElse(fail(out))
  }

  test("a launcher's master and shuffle partitions reach the session") {
    assert(session("-Dspark.master=local[2]",
      "-Dspark.sql.shuffle.partitions=6") ==
      "SESSION master=local[2] shuffle=6 tz=UTC")
  }

  test("without a launcher the session runs local[SPARK_GRAFT_CPUS]") {
    assert(session() == "SESSION master=local[3] shuffle=3 tz=UTC")
  }
}
