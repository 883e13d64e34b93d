package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ADMISSION-MANIFEST growth trial — the r14 verdict's #6: the
  * composed nightly manifest (q340/q341/q342) claims "the sum of its
  * screens, never a corpus pass", pinned until now by plan specs and
  * single bench cells. This trial MEASURES the composition with the
  * increment held FIXED while the base grows `factor`×:
  *
  *  - increment: the BASE corpus's doc_id % 10 = 3 slice with its
  *    embedding sidecar — identical at both scales (tonight's crawl
  *    doesn't grow because the archive did);
  *  - base_x1: the base corpus minus the increment;
  *  - base_xN: the grown corpus minus the increment's id slots —
  *    document replicas append a replica token (near-copies: a bigger
  *    archive really does hold more near-dups of tonight's batch, the
  *    [[ScaleTrial]] convention) and embedding replicas perturb dim 0
  *    (the [[EmbedScaleTrial]] dense convention);
  *  - build: the three one-time durable-artifact builds (screen fps +
  *    bloom, near-dup band buckets, exact IVF index) — allowed to grow
  *    ~linearly, paid once per base lifetime (the q328/q339 gates
  *    decide when again);
  *  - serve: each screen served from its at-rest artifact, then the
  *    COMPOSED manifest ([[operators.Ingest.admitBatch]] — the q341/
  *    q342 serving core). The claims on trial: manifest ≈ flat as the
  *    base grows, and manifest ≈ Σ(screen serves) (the composition
  *    adds assembly joins, never a corpus pass).
  *
  * The session-tier contrast is the build column itself: a
  * session-scoped job (q340's shape) pays ≈ build + serve every JVM;
  * the at-rest job pays serve — the amortization grows with the base
  * exactly as build does.
  *
  * Usage: runMain graft.IngestScaleTrial [baseSfDir] [factor] [workDir]
  */
object IngestScaleTrial {

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir =
      if (args.length > 2) args(2) else "/tmp/graft_iscale"
    val spark = Bench.timingSession()
    buildGrown(spark, baseDir, s"$workDir/x$factor", factor)
    Bench.warmUp(spark, baseDir)

    import operators.{Dedup, Ingest, Similarity}
    val docsS = Tables(spark, baseDir).documents
    val embS = Tables(spark, baseDir).embeddings
      .select(col("vec_id"), col("embedding"))
    val docsB = spark.read
      .parquet(s"$workDir/x$factor/documents.parquet")
    val embB = spark.read
      .parquet(s"$workDir/x$factor/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val docSpan = docsS.agg(max(col("doc_id"))).head.getLong(0) + 1
    val vecSpan = embS.agg(max(col("vec_id"))).head.getLong(0) + 1

    // tonight's crawl: FIXED at both scales
    val incDocs = docsS.filter(pmod(col("doc_id"), lit(10L)) === 3)
      .localCheckpoint()
    val incVecs = embS.filter(pmod(col("vec_id"), lit(10L)) === 3)
      .localCheckpoint()
    val records = incDocs
      .join(embS.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("embedding"))
      .localCheckpoint()
    val nInc = records.count()

    val cases = Seq(
      ("base_x1",
        docsS.filter(pmod(col("doc_id"), lit(10L)) =!= 3),
        embS.filter(pmod(col("vec_id"), lit(10L)) =!= 3)),
      (s"base_x$factor",
        docsB.filter(!(pmod(col("doc_id"), lit(10L)) === 3 &&
          col("doc_id") < docSpan)),
        embB.filter(!(pmod(col("vec_id"), lit(10L)) === 3 &&
          col("vec_id") < vecSpan))))

    import Bench.{best2, clock}

    def runCase(label: String, baseDocs0: DataFrame,
        baseEmb0: DataFrame, emit: Boolean): Unit = {
      val baseDocs = baseDocs0.localCheckpoint()
      val baseEmb = baseEmb0.localCheckpoint()
      val nBase = baseDocs.count()
      def home(p: String) =
        Artifacts.tempDir(s"graft_iscale_${p}_").resolve("a").toString
      val (screenDir, nearDir, semDir) =
        (home("scr"), home("near"), home("sem"))
      // one-time builds (the session tier re-pays these per JVM)
      val (tB1, _) = clock(
        Dedup.materializedScreenBaseDurable(spark, baseDocs, screenDir))
      val (tB2, _) = clock(
        Dedup.portableNearDupBaseDurableFrom(spark, baseDocs, nearDir))
      val (tB3, _) = clock(
        Similarity.ivfExactIndexDurable(spark, baseEmb, semDir))
      val tBuild = tB1 + tB2 + tB3
      // steady-state screen serves from the committed artifacts
      val tExact = best2(Dedup.crossCorpusNewFromDurableArtifact(
        spark, incDocs, baseDocs, screenDir))
      val tNear = best2(Dedup.portableIncNearDupsAgainstArtifact(
        spark, incDocs, baseDocs, nearDir))
      val tSem = best2(Similarity.semDedupAgainstIndexDurable(
        spark, incVecs, baseEmb, semDir))
      // the COMPOSED manifest from the same artifacts (q341/q342's
      // serving core)
      val tManifest = best2(Ingest.admitBatch(spark, records,
        baseDocs, baseEmb, nearDir, semDir, screenDir))
      if (emit)
        println(f"$label%-10s $nBase%8d $tBuild%8.2f $tExact%8.2f " +
          f"$tNear%8.2f $tSem%8.2f $tManifest%10.2f " +
          f"${tExact + tNear + tSem}%8.2f")
    }
    // one UNMEASURED full pass on the small case first: the pipeline
    // JITs its codegen + parquet paths there, so the measured cells
    // compare data volumes instead of warm-up order (the first trial
    // run showed base_x10 "faster" than base_x1 purely because x1 ran
    // first and paid all the first-touch costs)
    runCase("warmup", cases.head._2, cases.head._3, emit = false)
    println(f"${"cell"}%-10s ${"n_base"}%8s ${"build_s"}%8s " +
      f"${"exact_s"}%8s ${"near_s"}%8s ${"sem_s"}%8s " +
      f"${"manifest_s"}%10s ${"sum_scr"}%8s")
    cases.foreach { case (label, baseDocs0, baseEmb0) =>
      runCase(label, baseDocs0, baseEmb0, emit = true)
    }
    println(s"increment fixed at n=$nInc (the base corpus's % 10 = 3 " +
      "slice + embedding sidecar) at both scales; manifest_s is the " +
      "at-rest composition (admitBatch); a session-tier job pays " +
      "build_s + manifest_s per JVM")
    spark.stop()
  }

  /** Grown documents + embeddings twin (only the two tables the
    * admission manifest reads), idempotent on the embeddings
    * _SUCCESS marker. */
  def buildGrown(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    if (new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS")
        .exists()) return
    new java.io.File(outDir).mkdirs()
    val docs = Tables(spark, baseDir).documents
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    (0 until factor).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        .withColumn("text",
          if (i == 0) col("text")
          else concat(col("text"), lit(s" replica$i")))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables(spark, baseDir).embeddings
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    (0 until factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * vecSpan))
        .withColumn("embedding", transform(col("embedding"),
          (x, idx) => when(idx === 0,
            x + lit(i * 1e-3f)).otherwise(x).cast("float")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
