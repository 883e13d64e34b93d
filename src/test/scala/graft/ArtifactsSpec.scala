package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Artifacts]] plumbing: the build-once contract of the memo
  * behind [[Artifacts.durable]] (r12 ADVICE: no map-wide lock across a
  * multi-minute build), driven through session homes, and digest
  * stability. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark

  private def home(key: String): String =
    Artifacts.sessionHome(spark, "graft_memo_spec_", key)

  test("KeyedMemo builds once per key, retries after a failed build, " +
      "and never serializes unrelated keys") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // 8 threads race the same key: exactly one build
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = (1 to 8).map(_ => pool.submit(
      new java.util.concurrent.Callable[String] {
        def call(): String = Artifacts.durable(spark, home("k")) { _ =>
          builds.incrementAndGet(); Thread.sleep(50)
        }
      }))
    assert(results.map(_.get()).toSet == Set(Artifacts.canonical(home("k"))))
    assert(builds.get() == 1, s"expected one build, got ${builds.get()}")

    // a failed build leaves the cell retryable (old getOrElseUpdate
    // semantics): next call re-runs and succeeds
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    def flakyBuild(p: String): Unit =
      if (flaky.incrementAndGet() == 1) throw new RuntimeException("boom")
    intercept[RuntimeException] {
      Artifacts.durable(spark, home("flaky"))(flakyBuild)
    }
    assert(Artifacts.durable(spark, home("flaky"))(flakyBuild) ==
      Artifacts.canonical(home("flaky")))
    assert(Artifacts.isCommitted(home("flaky")))

    // a slow build of key A must NOT block key B (the lock is the
    // cell's, not the map's): B completes while A is still sleeping
    val gate = new java.util.concurrent.CountDownLatch(1)
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val fa = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String = Artifacts.durable(spark, home("slow")) { _ =>
        aStarted.countDown(); gate.await()
      }
    })
    aStarted.await()
    val b = Artifacts.durable(spark, home("fast"))(_ => ()) // would deadlock map-wide
    assert(b == Artifacts.canonical(home("fast")) && !fa.isDone)
    gate.countDown()
    assert(fa.get() == Artifacts.canonical(home("slow")))
    pool.shutdown()
  }

  test("digest: 16 lowercase hex chars, distinct for distinct keys, " +
      "stable across calls") {
    val d1 = Artifacts.digest("/data/sf0.01")
    val d2 = Artifacts.digest("/data/sf0.1")
    assert(d1.matches("[0-9a-f]{16}") && d2.matches("[0-9a-f]{16}"))
    assert(d1 != d2)
    assert(d1 == Artifacts.digest("/data/sf0.01"))
  }
}
