package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The session tier of the build-once device: [[Artifacts.durable]] at
  * an [[Artifacts.sessionHome]] builds once per (session object,
  * family, key). */
class SessionHomeSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark

  private def home(s: org.apache.spark.sql.SparkSession,
      key: String): String =
    Artifacts.sessionHome(s, "graft_sessionhome_spec_", key)

  private def build(p: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "x"), "v")

  test("a second call with the same session, family and key serves " +
      "without rebuilding") {
    val h = home(spark, "same")
    assert(h == home(spark, "same"))
    assert(h.contains("/graft_sessionhome_spec_"), h)
    assert(h != home(spark, "other"))
    assert(h != Artifacts.sessionHome(spark, "graft_other_spec_", "same"))
    val before = Artifacts.durableBuilds.get()
    Artifacts.durable(spark, h)(build)
    assert(Artifacts.durableBuilds.get() == before + 1)
    Artifacts.durable(spark, home(spark, "same"))(
      _ => fail("the second call rebuilt the artifact"))
    assert(Artifacts.durableBuilds.get() == before + 1)
    assert(Artifacts.isCommitted(h))
  }

  test("spark.newSession() gets its own home and its own build") {
    val s2 = spark.newSession()
    val h1 = home(spark, "fresh")
    val h2 = home(s2, "fresh")
    assert(h1 != h2 && h2 == home(s2, "fresh"))
    // one exit-deleted root holds every session's homes
    assert(java.nio.file.Paths.get(h1).getParent ==
      java.nio.file.Paths.get(h2).getParent)
    val before = Artifacts.durableBuilds.get()
    Artifacts.durable(spark, h1)(build)
    Artifacts.durable(s2, h2)(build)
    assert(Artifacts.durableBuilds.get() == before + 2)
  }

  test("two threads racing on one key build once") {
    val h = home(spark, "race")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          Artifacts.durable(spark, h) { p =>
            builds.incrementAndGet(); Thread.sleep(100); build(p)
          }
        }
      }))
      go.countDown()
      assert(calls.map(_.get()).toSet == Set(Artifacts.canonical(h)))
      assert(builds.get() == 1, s"expected one build, got ${builds.get()}")
    } finally pool.shutdown()
  }
}
