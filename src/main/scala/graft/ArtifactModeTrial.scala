package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ARTIFACT-PROTOCOL economics trial — the r15 verdict's #7 plus the
  * delta-growth row of #2:
  *
  *  1. COMMIT-MODE overhead: the same durable builds + nightly delta
  *     append + at-rest serve, once under the `rename` protocol
  *     (staging + one atomic directory rename — local/HDFS) and once
  *     under forced `marker` mode (staged build, entry-by-entry
  *     move-in under the lock, marker last — the object-store
  *     protocol), at 1× and `factor`× base. The claim on trial: the
  *     marker protocol's extra cost is the move-in + lock I/O — a
  *     per-ENTRY term, not a per-byte re-read — and SERVING is
  *     mode-independent (both serve a committed tree).
  *  2. DELTA-GROWTH economics: serve time of the exact screen as its
  *     committed delta count grows 1 → 8 (each delta an
  *     increment-sized nightly append), then after COMPACTION folds
  *     them — the measured basis for the q349 card's trigger: union
  *     width costs a per-delta planning + scan term, and the fold
  *     returns serve to its single-table cost without touching the
  *     corpus.
  *
  * Usage: runMain graft.ArtifactModeTrial [baseSfDir] [factor] [workDir]
  */
object ArtifactModeTrial {

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir =
      if (args.length > 2) args(2) else "/tmp/graft_iscale"
    val spark = Bench.timingSession()
    IngestScaleTrial.buildGrown(spark, baseDir, s"$workDir/x$factor",
      factor)
    Bench.warmUp(spark, baseDir)

    import operators.Dedup
    val docsS = Tables(spark, baseDir).documents
    val docsB = spark.read
      .parquet(s"$workDir/x$factor/documents.parquet")
    val docSpan = docsS.agg(max(col("doc_id"))).head.getLong(0) + 1
    val incDocs = docsS.filter(pmod(col("doc_id"), lit(10L)) === 3)
      .localCheckpoint()

    import Bench.{best2, clock}
    def home(p: String): String =
      Artifacts.tempDir(s"graft_amode_${p}_").resolve("a").toString

    val cases = Seq(
      ("base_x1",
        docsS.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L)),
        docsS.filter(pmod(col("doc_id"), lit(10L)) === 4)),
      (s"base_x$factor",
        docsB.filter(!(pmod(col("doc_id"), lit(10L)).isin(3L, 4L) &&
          col("doc_id") < docSpan) &&
          !(pmod(col("doc_id"), lit(10L)) === 3 &&
            col("doc_id") >= docSpan)),
        docsB.filter(pmod(col("doc_id"), lit(10L)) === 4 &&
          col("doc_id") < docSpan)))

    // ---- part 1: commit-mode overhead ----
    def runMode(label: String, mode: String, base0: DataFrame,
        day1: DataFrame, emit: Boolean): Unit = {
      val prev = sys.props.get("graft.artifacts.commit")
      sys.props("graft.artifacts.commit") = mode
      try {
        val base = base0.localCheckpoint()
        val nBase = base.count()
        val (scr, near) = (home(s"scr_$mode"), home(s"near_$mode"))
        val (tScr, _) = clock(
          Dedup.materializedScreenBaseDurable(spark, base, scr))
        val (tNear, _) = clock(
          Dedup.portableNearDupBaseDurableFrom(spark, base, near))
        val (tApp, _) = clock(
          Dedup.appendFpsToScreenBase(spark, day1, scr, "m4"))
        val tServe = best2(Dedup.crossCorpusNewFromAppendedArtifact(
          spark, incDocs, base, scr))
        if (emit)
          println(f"$label%-10s $mode%-7s $nBase%8d $tScr%9.2f " +
            f"$tNear%9.2f $tApp%9.2f $tServe%9.2f")
      } finally prev match {
        case Some(v) => sys.props("graft.artifacts.commit") = v
        case None => sys.props -= "graft.artifacts.commit"
      }
    }
    runMode("warmup", "rename", cases.head._2, cases.head._3,
      emit = false)
    println(f"${"cell"}%-10s ${"mode"}%-7s ${"n_base"}%8s " +
      f"${"scr_bld_s"}%9s ${"near_bld_s"}%9s ${"append_s"}%9s " +
      f"${"serve_s"}%9s")
    cases.foreach { case (label, base0, day1) =>
      runMode(label, "rename", base0, day1, emit = true)
      runMode(label, "marker", base0, day1, emit = true)
    }

    // ---- part 2: delta-growth economics (rename mode, big base) ----
    val (_, bigBase0, day1Big) = cases.last
    val bigBase = bigBase0.localCheckpoint()
    val scr8 = home("scr_growth")
    Dedup.materializedScreenBaseDurable(spark, bigBase, scr8)
    println(f"${"n_deltas"}%8s ${"serve_s"}%9s")
    val serve0 = best2(Dedup.crossCorpusNewFromAppendedArtifact(
      spark, incDocs, bigBase, scr8))
    println(f"${0}%8d $serve0%9.2f")
    (1 to 8).foreach { k =>
      // each nightly delta is an increment-sized slice (disjoint ids
      // via the day-1 slice shifted per night)
      Dedup.appendFpsToScreenBase(spark,
        day1Big.withColumn("text",
          concat(col("text"), lit(s" night$k"))), scr8, s"n$k")
      if (Seq(1, 2, 4, 8).contains(k)) {
        val t = best2(Dedup.crossCorpusNewFromAppendedArtifact(
          spark, incDocs, bigBase, scr8))
        println(f"$k%8d $t%9.2f")
      }
    }
    val scr8c = home("scr_compacted")
    val (tCompact, _) =
      clock(Dedup.compactScreenBase(spark, scr8, scr8c))
    val tServeC = best2(Dedup.crossCorpusNewFromAppendedArtifact(
      spark, incDocs, bigBase, scr8c))
    println(f"${"compact"}%8s $tServeC%9.2f  (fold itself " +
      f"$tCompact%.2f s, artifact rows only)")
    spark.stop()
  }
}
