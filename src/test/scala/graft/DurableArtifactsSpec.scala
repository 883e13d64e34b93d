package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The r13 verdict's top item: durable at-rest artifacts. Pins
  *  - commit-marker transactionality (a partial build is rebuilt, a
  *    committed one is served as-is),
  *  - COLD-SESSION serving: a fresh session serves bit-identically
  *    from the committed index with the build counter FLAT (no
  *    retraining) — the "build once, serve many" economics surviving
  *    the process boundary,
  *  - durable ≡ session-tier bit-identity for both the ANN serve and
  *    the incremental-SemDeDup decision,
  *  - loud failure when a dir is reused with different build params,
  *  - partition pruning on the lake scan (the q327 plan guarantee,
  *    re-proven on the parquet-path read).
  */
class DurableArtifactsSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  private def t = Tables(spark, "/root/testdata/sf0.001")
  private def emb = t.embeddings.select(col("vec_id"), col("embedding"))

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_durable_spec_")
      .resolve("idx").toString

  /** The IVF-exact serve (k=5, cells=8, iters=2) over the DURABLE
    * index in `dir`: the catalog tier's probe + prune + rank core on
    * the committed lake frames. */
  private def servedDurable(s: org.apache.spark.sql.SparkSession,
      queries: org.apache.spark.sql.DataFrame,
      embeddings: org.apache.spark.sql.DataFrame, dir: String,
      nprobe: Int = 2): org.apache.spark.sql.DataFrame = {
    val (vectors, cents) =
      Similarity.ivfExactIndexDurable(s, embeddings, dir, 8, 2)
    Similarity.ivfExactServeFrames(queries, vectors, cents, 5, nprobe)
  }

  test("durable: build once, commit marker written last, rebuild only " +
      "when uncommitted") {
    val dir = freshDir()
    val before = Artifacts.durableBuilds.get()
    var built = 0
    Artifacts.durable(this, dir, "p=1") { d =>
      built += 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, "payload"), "x")
    }
    assert(built == 1 && Artifacts.isCommitted(dir))
    assert(Artifacts.durableBuilds.get() == before + 1)
    // same owner+params: memo hit, no stat, no rebuild
    Artifacts.durable(this, dir, "p=1")(_ => built += 1)
    // different owner simulating a fresh JVM: marker short-circuits
    Artifacts.durable("owner2", dir, "p=1")(_ => built += 1)
    assert(built == 1)
    assert(Artifacts.durableBuilds.get() == before + 1)
    // an UNCOMMITTED dir (crashed build: payload present, no marker)
    // is rebuilt, not served
    val partial = freshDir()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(partial))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(partial, "payload"), "garbage")
    var rebuilt = 0
    Artifacts.durable(this, partial, "p=1")(_ => rebuilt += 1)
    assert(rebuilt == 1 && Artifacts.isCommitted(partial))
  }

  test("durable: a dir reused with DIFFERENT params fails loudly " +
      "instead of serving the wrong artifact") {
    val dir = freshDir()
    Artifacts.durable(this, dir, "cells=8")(_ => ())
    val e = intercept[IllegalArgumentException] {
      Artifacts.durable(this, dir, "cells=16")(_ => ())
    }
    assert(e.getMessage.contains("cells=8") &&
      e.getMessage.contains("cells=16"))
    // concretely: the IVF builder refuses a quantizer-param mismatch
    val idx = freshDir()
    Similarity.ivfExactIndexDurable(spark, emb, idx, cells = 4,
      iters = 1)
    intercept[IllegalArgumentException] {
      Similarity.ivfExactIndexDurable(spark, emb, idx, cells = 8,
        iters = 1)
    }
  }

  test("COLD-SESSION serving: a fresh session answers bit-identically " +
      "from the committed index without retraining, for both the ANN " +
      "serve and the SemDeDup decision") {
    val dir = freshDir()
    val queries = emb.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // session 1 builds and serves
    val served1 = servedDurable(spark, queries, emb, dir)
      .collect().map(_.toSeq)
    val builds = Artifacts.durableBuilds.get()
    assert(Artifacts.isCommitted(dir))
    // a FRESH session (new session state — the closest one JVM gets
    // to a cold start; the memo is keyed per session, so this call
    // must go back to disk) serves the SAME answers with the build
    // counter FLAT
    val s2 = spark.newSession()
    val t2 = Tables(s2, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding"))
    val q2 = t2.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served2 = servedDurable(s2, q2, t2, dir)
      .collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == builds,
      "cold-session serve retrained the quantizer")
    assert(served1.toSeq == served2.toSeq)
    // the durable serve equals the session-catalog tier bit-for-bit
    val catalog = Similarity.ivfExactServeQueries(spark, queries, emb,
      key = "durable-spec-parity").collect().map(_.toSeq)
    assert(served1.toSeq == catalog.toSeq)

    // the SemDeDup decision: durable ≡ session tier, and the fresh
    // session's decision rides the SAME artifact without a rebuild
    val inc = emb.filter(pmod(col("vec_id"), lit(10L)) === 3)
    val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 3)
    val dDir = freshDir()
    val d1 = Similarity.semDedupAgainstIndexDurable(spark, inc, base,
      dDir).collect().map(_.toSeq)
    val buildsD = Artifacts.durableBuilds.get()
    val inc2 = t2.filter(pmod(col("vec_id"), lit(10L)) === 3)
    val base2 = t2.filter(pmod(col("vec_id"), lit(10L)) =!= 3)
    val d2 = Similarity.semDedupAgainstIndexDurable(s2, inc2, base2,
      dDir).collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == buildsD)
    assert(d1.toSeq == d2.toSeq)
    val session = Similarity.semDedupAgainstIndex(spark, inc, base,
      key = "durable-spec-dedup").collect().map(_.toSeq)
    assert(d1.toSeq == session.toSeq)
  }

  test("durable screen base: fresh session serves bit-identically " +
      "with the BUCKET SPEC recovered (no rebuild, base never " +
      "evaluated) and equals the session-scoped tier") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val base = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val dir = freshDir()
    val d1 = Dedup.crossCorpusNewFromDurableArtifact(spark, cand, base,
      dir).collect().map(_.toSeq).sortBy(_.toString)
    // session tier parity (a session-home build of its own)
    val sess = Dedup.crossCorpusNewFromArtifact(spark, cand, base,
      key = "durable-screen-parity").collect().map(_.toSeq)
      .sortBy(_.toString)
    assert(d1.toSeq == sess.toSeq)
    val builds = Artifacts.durableBuilds.get()
    // fresh session: no rebuild, the by-name base is never evaluated.
    // newSession SHARES the catalog, so drop the build session's
    // registration first — otherwise the test inherits it and never
    // exercises the CREATE TABLE re-declaration path (the r14 ADVICE
    // finding)
    val s2 = spark.newSession()
    s2.sql("DROP TABLE IF EXISTS graft_screen_d_" +
      Artifacts.digest(Artifacts.canonical(dir)))
    // at this corpus size the anti join would broadcast, which
    // sidesteps bucketing entirely — force the sort-merge path so the
    // recovered bucket spec is actually exercised by the plan
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs2 = Tables(s2, "/root/testdata/sf0.001").documents
    val cand2 = docs2.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val served = Dedup.crossCorpusNewFromDurableArtifact(s2, cand2,
      sys.error("base evaluated on the committed path"), dir)
    val d2 = served.collect().map(_.toSeq).sortBy(_.toString)
    assert(Artifacts.durableBuilds.get() == builds)
    assert(d1.toSeq == d2.toSeq)
    // the re-declared catalog table carries the bucket spec: the
    // anti-join's base side scans bucketed files (read.parquet would
    // have planned an Exchange + 'Bucketed: false' here)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"bucket spec lost on reload:\n$plan")
  }

  test("durable portable near-dup base: fresh session probes the " +
      "at-rest band buckets without re-shingling the base; equals " +
      "the inline q335 tier bit-for-bit") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val dir = freshDir()
    val d1 = Dedup.portableIncrementalNearDupsDurable(spark, docs, dir)
      .collect().map(_.toSeq)
    val builds = Artifacts.durableBuilds.get()
    val inline = Dedup.portableIncrementalNearDups(docs)
      .collect().map(_.toSeq)
    assert(d1.toSeq == inline.toSeq,
      "durable serve != inline q335 decision")
    val s2 = spark.newSession()
    val docs2 = Tables(s2, "/root/testdata/sf0.001").documents
    val d2 = Dedup.portableIncrementalNearDupsDurable(s2, docs2, dir)
      .collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == builds,
      "cold-session serve rebuilt the base buckets")
    assert(d1.toSeq == d2.toSeq)
  }

  test("durable postings: fresh session self-joins the committed " +
      "bucketed layout without re-tokenizing (no rebuild, documents " +
      "never evaluated); equals the session-scoped q299 tier") {
    import graft.operators.TextAnalysis
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val dir = freshDir()
    val d1 = TextAnalysis.sparseCosinePairsDurable(spark, docs, dir)
      .collect().map(_.toSeq)
    // session tier parity (a session-home build of its own)
    val sess = TextAnalysis.sparseCosinePairsMaterialized(spark,
      "/root/testdata/sf0.001").collect().map(_.toSeq)
    assert(d1.toSeq == sess.toSeq)
    val builds = Artifacts.durableBuilds.get()
    val s2 = spark.newSession()
    val d2 = TextAnalysis.sparseCosinePairsDurable(s2,
      sys.error("documents evaluated on the committed path"), dir)
      .collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == builds)
    assert(d1.toSeq == d2.toSeq)
  }

  test("nearDupBaseStaleness: rides the q337 artifact (no second " +
      "build); counts decompose exactly (entries per band = docs per " +
      "side, buckets ≤ entries, max ≤ entries)") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val dir = freshDir()
    // the dedup tier builds the artifact ...
    Dedup.portableIncrementalNearDupsDurable(spark, docs, dir).collect()
    val builds = Artifacts.durableBuilds.get()
    // ... and the monitor consumes the SAME one
    val card = Dedup.nearDupBaseStaleness(spark, docs, dir).collect()
    assert(Artifacts.durableBuilds.get() == builds,
      "monitor rebuilt the artifact")
    val nBase = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3).count()
    val nInc = docs.filter(pmod(col("doc_id"), lit(10L)) === 3).count()
    assert(card.length == 4) // one row per band at the default split
    card.foreach { r =>
      assert(r.getLong(1) == nBase && r.getLong(2) == nInc,
        s"structural entry counts off: $r")
      val (nbk, nbm) = (r.getLong(3), r.getLong(4))
      assert(nbk > 0 && nbk <= nBase && nbm >= nbk)
      assert(r.getDouble(5) == nBase.toDouble / nbk)
      assert(r.getDouble(6) == (nBase + nInc).toDouble / nbm)
      assert(r.getLong(7) <= nBase && r.getLong(8) >= r.getLong(7))
    }
    // an EMPTY nightly increment still reports the base-health
    // columns (left join + coalesce — the gate is cheapest exactly
    // then, it must not return an empty card)
    val noInc = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
    val dir2 = freshDir()
    val card2 = Dedup.nearDupBaseStaleness(spark, noInc, dir2).collect()
    assert(card2.length == 4, "empty increment dropped the card")
    card2.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(1) > 0 &&
        r.getLong(7) > 0, s"base health lost on empty increment: $r")
      assert(r.getLong(4) == r.getLong(3), "merged == base when inc empty")
    }
  }

  // ------------------------------------------------------------------
  // Publish-race and commit-protocol coverage (the r14 verdict's #4
  // plus the Hadoop-FS port's marker-mode protocol).
  // ------------------------------------------------------------------

  private def withProp[T](key: String, value: String)(body: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("two racing first-builders: both build, exactly ONE publish " +
      "executes, the loser discards its staging copy and serves the " +
      "winner's committed tree, no debris survives") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    val before = Artifacts.durableBuilds.get()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def racer(owner: String) = new Thread(() => {
      try Artifacts.durable(owner, dir, "p=1") { d =>
        builds.incrementAndGet()
        // both builders are HERE at once — neither saw a committed
        // tree, both will publish
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Files.writeString(Paths.get(d, "payload"), owner)
      } catch { case t: Throwable => errors.add(t) }
    })
    val t1 = racer("racerA"); val t2 = racer("racerB")
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(errors.isEmpty, s"racer failed: ${errors.peek()}")
    assert(builds.get() == 2, "both racers should have built")
    assert(Artifacts.durableBuilds.get() == before + 1,
      "exactly one publish must count")
    assert(Artifacts.isCommitted(dir))
    // the served tree is ONE complete build, not a mix
    val payload = Files.readString(Paths.get(dir, "payload"))
    assert(payload == "racerA" || payload == "racerB")
    // the loser's staging copy (and any trash) is gone
    val s = Files.list(Paths.get(dir).getParent)
    val leftovers =
      try {
        val it = s.iterator()
        var acc = List.empty[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith(".graft_")) acc ::= n
        }
        acc
      } finally s.close()
    assert(leftovers.isEmpty, s"race left debris: $leftovers")
  }

  test("a params-mismatched racer that loses the publish race fails " +
      "loudly instead of serving the winner's artifact") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.CountDownLatch(1)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val tB = new Thread(() => {
      try {
        Artifacts.durable("mismatchB", dir, "p=2") { d =>
          bStarted.countDown()
          // hold B's build open until A has PUBLISHED, so B is
          // guaranteed to lose the race
          aDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
          Files.writeString(Paths.get(d, "payload"), "B")
        }
        ()
      } catch { case t: Throwable => err.set(t) }
    })
    tB.start()
    assert(bStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Artifacts.durable("winnerA", dir, "p=1") { d =>
      Files.writeString(Paths.get(d, "payload"), "A")
    }
    aDone.countDown()
    tB.join(60000)
    val e = err.get()
    assert(e != null, "the mismatched loser must not serve silently")
    assert(e.getMessage.contains("p=1") && e.getMessage.contains("p=2"),
      s"loser's error should name both params: ${e.getMessage}")
    // the winner's artifact is intact and still serves
    assert(Artifacts.isCommitted(dir))
    assert(Files.readString(Paths.get(dir, "payload")) == "A")
  }

  test("marker-mode commit (object-store protocol): in-place build, " +
      "marker written last, lock released, debris cleared on rebuild, " +
      "committed tree served as-is") {
    import java.nio.file.{Files, Paths}
    withProp("graft.artifacts.commit", "marker") {
      val dir = freshDir()
      val before = Artifacts.durableBuilds.get()
      Artifacts.durable("marker1", dir, "p=1") { d =>
        // marker mode builds in PRIVATE staging next to the target
        // (never in place — an interleaved builder must not be able
        // to touch this tree mid-build), moved in under the lock
        assert(Artifacts.canonical(d) != Artifacts.canonical(dir) &&
          Paths.get(d).getFileName.toString.startsWith(".graft_build_"),
          s"marker-mode build dir should be private staging, got $d")
        Files.writeString(Paths.get(d, "payload"), "x")
      }
      assert(Artifacts.isCommitted(dir))
      assert(Files.readString(Paths.get(dir, "payload")) == "x",
        "staged build was not moved into the target")
      assert(Artifacts.durableBuilds.get() == before + 1)
      assert(!Files.exists(Paths.get(dir, Artifacts.BuildLock)),
        "build lock must be released after commit")
      // the staged build's manifest moved in with it and verifies
      assert(Artifacts.verifyArtifact(dir) == ((1, 1)))
      // a fresh owner serves the committed tree without rebuilding
      Artifacts.durable("marker2", dir, "p=1")(_ =>
        fail("rebuilt a committed artifact"))
      assert(Artifacts.durableBuilds.get() == before + 1)
      // crash debris (payload, no marker) is cleared and rebuilt
      val partial = freshDir()
      Files.createDirectories(Paths.get(partial))
      Files.writeString(Paths.get(partial, "stale"), "junk")
      Artifacts.durable("marker3", partial, "p=1") { d =>
        Files.writeString(Paths.get(d, "payload"), "y")
      }
      assert(Artifacts.isCommitted(partial))
      assert(!Files.exists(Paths.get(partial, "stale")),
        "debris survived the in-place rebuild")
    }
  }

  test("marker-mode: a contender blocked by the build lock serves the " +
      "winner's marker without double-building; a lock released " +
      "without a marker is re-contended; a stale lock fails loudly") {
    import java.nio.file.{Files, Paths}
    withProp("graft.artifacts.commit", "marker") {
      // (a) winner commits while the contender polls
      val dir = freshDir()
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, Artifacts.BuildLock), "held")
      val winner = new Thread(() => {
        Thread.sleep(300)
        Files.writeString(Paths.get(dir, Artifacts.ParamsFile), "p=1")
        Files.write(Paths.get(dir, Artifacts.CommitMarker),
          Array.emptyByteArray)
        Files.delete(Paths.get(dir, Artifacts.BuildLock))
      })
      winner.start()
      val before = Artifacts.durableBuilds.get()
      Artifacts.durable("contender", dir, "p=1")(_ =>
        fail("double-built under a held lock"))
      assert(Artifacts.durableBuilds.get() == before,
        "the contender must serve, not build")
      winner.join()
      // (b) a lock released without a marker (failed build) lets the
      // contender take over and build
      val dir2 = freshDir()
      Files.createDirectories(Paths.get(dir2))
      Files.writeString(Paths.get(dir2, Artifacts.BuildLock), "dying")
      val quitter = new Thread(() => {
        Thread.sleep(300)
        Files.delete(Paths.get(dir2, Artifacts.BuildLock))
      })
      quitter.start()
      var built = 0
      Artifacts.durable("takeover", dir2, "p=1") { d =>
        built += 1
        Files.writeString(Paths.get(d, "payload"), "z")
      }
      quitter.join()
      assert(built == 1 && Artifacts.isCommitted(dir2))
      // (c) a stale lock past the wait budget fails loudly instead of
      // hanging forever
      withProp("graft.artifacts.lockWaitMs", "400") {
        val dir3 = freshDir()
        Files.createDirectories(Paths.get(dir3))
        Files.writeString(Paths.get(dir3, Artifacts.BuildLock), "stale")
        val e = intercept[RuntimeException] {
          Artifacts.durable("staled", dir3, "p=1")(_ =>
            fail("built under a stale foreign lock"))
        }
        assert(e.getMessage.contains("timed out"), e.getMessage)
      }
    }
  }

  test("payload manifest: every durable build writes one before the " +
      "marker; verifyArtifact passes a clean tree and detects a " +
      "corrupted payload, a missing file, a stray file, and a " +
      "pre-manifest artifact — in both commit modes") {
    import java.nio.file.{Files, Paths}
    for (mode <- Seq("rename", "marker")) withProp(
        "graft.artifacts.commit", mode) {
      val dir = freshDir()
      Artifacts.durable(s"manifest-$mode", dir, "p=1") { d =>
        Files.writeString(Paths.get(d, "a.bin"), "alpha")
        Files.createDirectories(Paths.get(d, "t"))
        Files.writeString(Paths.get(d, "t", "part-0"), "rows")
      }
      assert(Files.exists(Paths.get(dir, Artifacts.ManifestFile)))
      // clean tree verifies; both payload files are listed + hashed
      assert(Artifacts.verifyArtifact(dir) == ((2, 2)))
      // sampling checks existence+size for all, md5 for a fraction
      val (checked, total) = Artifacts.verifyArtifact(dir, 1e-9)
      assert(checked == 0 && total == 2)
      // a corrupted payload (same path, different bytes) is detected
      Files.writeString(Paths.get(dir, "a.bin"), "ALPHA")
      val e1 = intercept[Exception](Artifacts.verifyArtifact(dir))
      assert(e1.getMessage.contains("checksum") ||
        e1.getMessage.contains("Checksum"), e1.getMessage)
      Files.writeString(Paths.get(dir, "a.bin"), "alpha")
      // a size change is caught before any hashing
      Files.writeString(Paths.get(dir, "t", "part-0"), "torn payload!")
      val e2 = intercept[Exception](Artifacts.verifyArtifact(dir))
      assert(e2.getMessage.contains("bytes") ||
        e2.getMessage.contains("Checksum"), e2.getMessage)
      Files.writeString(Paths.get(dir, "t", "part-0"), "rows")
      // a missing payload file is detected
      Files.delete(Paths.get(dir, "a.bin"))
      val e3 = intercept[Exception](Artifacts.verifyArtifact(dir))
      assert(e3.getMessage.contains("MISSING"), e3.getMessage)
      Files.writeString(Paths.get(dir, "a.bin"), "alpha")
      // a STRAY payload file (an interleaved writer's signature) is
      // detected
      Files.writeString(Paths.get(dir, "t", "part-1-stray"), "junk")
      val e4 = intercept[Exception](Artifacts.verifyArtifact(dir))
      assert(e4.getMessage.contains("stray") ||
        e4.getMessage.contains("manifest"), e4.getMessage)
      Files.delete(Paths.get(dir, "t", "part-1-stray"))
      // a committed DELTA is outside the home's manifest (it has its
      // own) — appending must not break the home's verification
      Artifacts.durable(s"manifest-delta-$mode",
        Artifacts.deltaDir(dir, "d1"), "p=1") { d =>
        Files.writeString(Paths.get(d, "rows"), "delta")
      }
      assert(Artifacts.verifyArtifact(dir) == ((2, 2)))
      assert(Artifacts.verifyArtifact(Artifacts.deltaDir(dir, "d1"))
        == ((1, 1)))
    }
    // the OPT-IN serve-side check: with verifyOnServe set, a fresh
    // owner serving a committed-but-corrupted tree fails loudly
    // instead of silently reading torn payload
    withProp("graft.artifacts.verifyOnServe", "1.0") {
      val vDir = freshDir()
      Artifacts.durable("serveVerifyBuild", vDir, "p=1") { d =>
        Files.writeString(Paths.get(d, "data"), "good bytes")
      }
      // clean serve passes
      Artifacts.durable("serveVerifyOk", vDir, "p=1")(_ =>
        fail("rebuilt a committed artifact"))
      Files.writeString(Paths.get(vDir, "data"), "evil bytes!")
      val e6 = intercept[Exception] {
        Artifacts.durable("serveVerifyCorrupt", vDir, "p=1")(_ =>
          fail("rebuilt a committed artifact"))
      }
      assert(e6.getMessage.contains("checksum") ||
        e6.getMessage.contains("bytes"), e6.getMessage)
    }
    // a pre-manifest artifact fails loudly with a rebuild instruction
    val old = freshDir()
    Files.createDirectories(Paths.get(old))
    Files.writeString(Paths.get(old, "payload"), "x")
    Files.writeString(Paths.get(old, Artifacts.ParamsFile), "p=1")
    Files.write(Paths.get(old, Artifacts.CommitMarker),
      Array.emptyByteArray)
    val e5 = intercept[Exception](Artifacts.verifyArtifact(old))
    assert(e5.getMessage.contains("pre-manifest"), e5.getMessage)
  }

  test("a file: URI artifact home rides the same Hadoop-FS seam as the " +
      "plain local path — same canonical home, build dir handed back " +
      "as a plain path, cross-form serving without rebuild") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    val uri = "file:" + dir
    assert(Artifacts.canonical(uri) == Artifacts.canonical(dir))
    Artifacts.durable("uriOwner", uri, "p=1") { d =>
      // non-Hadoop writers (java.nio, local tools) must be able to use
      // the staging dir verbatim
      assert(!d.startsWith("file:"), s"staging dir is a URI: $d")
      Files.writeString(Paths.get(d, "payload"), "x")
    }
    assert(Artifacts.isCommitted(uri) && Artifacts.isCommitted(dir))
    Artifacts.durable("plainOwner", dir, "p=1")(_ =>
      fail("plain-path caller rebuilt the URI-built artifact"))
  }

  test("registerBucketedTable verifies an existing catalog entry: " +
      "matching re-registration no-ops, a stale location or a " +
      "mismatched bucket spec fails loudly") {
    val loc1 = freshDir(); val loc2 = freshDir()
    val name = "graft_regtest_" + Artifacts.digest(loc1)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Artifacts.registerBucketedTable(spark, name, loc1, "fp STRING",
      "fp", 8, sortCol = Some("fp"))
    // identical request: verifying no-op
    Artifacts.registerBucketedTable(spark, name, loc1, "fp STRING",
      "fp", 8, sortCol = Some("fp"))
    val e1 = intercept[IllegalArgumentException] {
      Artifacts.registerBucketedTable(spark, name, loc2, "fp STRING",
        "fp", 8, sortCol = Some("fp"))
    }
    assert(e1.getMessage.contains("stale"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Artifacts.registerBucketedTable(spark, name, loc1, "fp STRING",
        "fp", 16, sortCol = Some("fp"))
    }
    assert(e2.getMessage.contains("bucket spec"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Artifacts.registerBucketedTable(spark, name, loc1, "fp STRING",
        "fp", 8, sortCol = None)
    }
    assert(e3.getMessage.contains("bucket spec"), e3.getMessage)
    spark.sql(s"DROP TABLE $name")
  }

  test("the durable serve scan partition-prunes the lake vector table") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val dir = freshDir()
    val queries = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = servedDurable(spark, queries, emb, dir, nprobe = 2)
    served.collect()
    val scans = scansOf(served.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains(dir))
      .filterNot(_.metadata("Location").contains("cents"))
    assert(scans.nonEmpty, "no scan of the durable vector table found")
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("cell"),
      scan.metadata("PartitionFilters"))
    assert(scan.relation.partitionSchema.fieldNames.contains("cell"))
    val allCells = spark.read.parquet(s"$dir/t")
      .select("cell").distinct().count()
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead > 0 && partsRead <= 2 && partsRead < allCells,
      s"read $partsRead of $allCells partitions at nprobe=2")
  }
}
