package graft
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {

  /** The one session factory. A launcher's master (spark-submit's
    * `--master`, or `-Dspark.master`) and its shuffle partitions win;
    * without one the session runs `local[SPARK_GRAFT_CPUS]` with as many
    * shuffle partitions. Verify builds with no `conf`, the timing
    * session with its AQE settings ([[timingSession]]). */
  private[graft] def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master"))
      builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of Bench, JobProfile, Explain, the trials and the WAQI
    * app — if they diverged, profiled times and dumped plans would stop
    * being representative of bench times. Verify's outputs are not all
    * the same under it: q148_quality_classifier and
    * q193_classifier_sampled read other float probabilities. */
  private[graft] def timingSession(): SparkSession = session(
    // AQE coalescing floor (guide §2.2): with parallelismFirst on,
    // the post-shuffle target is max(bytes/parallelism,
    // minPartitionSize) — at production shuffle sizes the first
    // term dominates and this floor is unread; in the small-shuffle
    // regime the 1 MB default serializes CPU-dense stages (shingle
    // arrays, signature/verify passes decompress far wider than
    // their shuffle bytes). Parameterised, local default 64k.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION", "64k"),
    // let AQE apply the same byte-based sizing to persisted plans
    // (off by default only to keep cached output partitioning
    // stable for reuse, which nothing here relies on)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Warm the JVM (codegen, parquet reader, shuffle paths) so the
    * first measured query isn't charged for JIT + classloading. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    try SparkEntry.queries.get("q01_pricing_summary")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case NonFatal(e) =>
      System.err.println(
        s"[bench] warm-up q01_pricing_summary failed: ${e.getMessage}")
    }

  /** Wall seconds of evaluating `f`, and its value. */
  private[graft] def clock[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Materialize `df` through the noop sink (every row produced,
    * nothing written). */
  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The trials' clock: best-of-2 wall seconds of BUILDING `f` and
    * materializing it through the noop sink. Construction sits inside
    * the clock because several operators (describe, dup clustering,
    * equi-depth offsets, the IVF/PQ tiers) legitimately collect or
    * count model-sized results while the DataFrame is being built. */
  private[graft] def best2(f: => DataFrame): Double = {
    def once = clock(noop(f))._1
    math.min(once, once)
  }

  /** PAIRED-BENCH serve mode (`--serve`): read query names from stdin
    * one per line, run each against SPARK_GRAFT_SF_DIR through the
    * same noop-sink timing as the batch main, and answer with one
    * line — `TIME <name> <seconds>` (full precision), or
    * `UNKNOWN <name>`; the `LIST` command answers
    * `QUERIES <n1> <n2> …`; EOF exits. scripts/paired_bench.py drives
    * TWO builds' serve processes ALTERNATELY per query inside one
    * session, so the window term (noisy-neighbor drift — the r14
    * adjudication needed a control-worktree rebuild to defeat it)
    * cancels pairwise and the per-query paired ratio is meaningful
    * on its own. */
  private def serve(): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = timingSession()
    warmUp(spark, sfDir)
    println("READY")
    Console.out.flush()
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      val name = line.trim
      if (name == "LIST")
        println("QUERIES " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(" "))
      else if (name.nonEmpty) SparkEntry.queries.get(name) match {
        case Some(fn) =>
          val t0 = System.nanoTime()
          // a failed query must not masquerade as a fast timing: the
          // ok/err flag rides the answer (scripts/paired_bench.py
          // excludes err cells and reports them)
          val ok =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite")
                .save()
              true
            } catch { case NonFatal(e) =>
              System.err.println(
                s"[bench] $name failed: ${e.getMessage}")
              false
            }
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"TIME $name $sec%.4f ${if (ok) "ok" else "err"}")
        case None => println(s"UNKNOWN $name")
      }
      Console.out.flush()
      line = in.readLine()
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--serve")) { serve(); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = timingSession()
    warmUp(spark, sfDir)
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      // noop sink forces full materialization of every column (a bare
      // count() would let Catalyst prune the projections away).
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Optional comma-separated name-prefix filter for targeted
    // re-measurement (the bench-adjudication double-run protocol:
    // re-time ONE suspect query without paying for the registry).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // best of 2 passes per query: the environment is a shared VM with
    // noisy-neighbor variance up to ~2x on individual runs, and the
    // second pass also measures steady-state (JIT-warm) latency
    val sorted = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .sortBy(_._1)
    // a query that throws on either pass is never a timing: it is left
    // out of the line's queries/rest/value and listed as failed
    val pass1 = sorted.map { case (name, fn) => name -> once(name, fn) }.toMap
    val best = sorted.map { case (name, fn) =>
      val sec = for (a <- pass1(name); b <- once(name, fn))
        yield math.min(a, b)
      System.err.println(
        sec.fold(s"[bench] $name FAILED")(v => f"[bench] $name $v%.2fs"))
      name -> sec
    }
    val results = best.collect { case (name, Some(sec)) => name -> sec }
    val failed = best.collect { case (name, None) => name }
    writeDetail(results, failed, sfDir, fullRun = only.isEmpty)
    println(buildJson(results, sfDir, failed))
    spark.stop()
  }

  /** Full-precision per-query artifact (BENCH_DETAIL.json next to the
    * capped stdout line): round-10 adjudication showed the stdout
    * line's integer-capped values can't settle a cross-round per-query
    * question (q158: was "7" a 4.9 s or a 7.4 s?) — the full-precision
    * numbers existed only on stderr, which no artifact kept. The
    * stdout line stays the driver contract (tail-window budget); this
    * file is committed history. Filtered (SPARK_GRAFT_BENCH_ONLY)
    * runs only write it when given an explicit path, so a targeted
    * re-run can't masquerade as a registry-wide record. */
  private def writeDetail(results: Seq[(String, Double)],
      failed: Seq[String], sfDir: String, fullRun: Boolean): Unit = {
    val path = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
      .orElse(if (fullRun) Some("BENCH_DETAIL.json") else None)
    path.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        detailJson(results, failed, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}")
      }
    }
  }

  /** BENCH_DETAIL.json's content: full-precision timings of the
    * queries that ran, their total, and the names of those that threw
    * under `"failed"`. */
  private[graft] def detailJson(results: Seq[(String, Double)],
      failed: Seq[String], sfDir: String): String = {
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // sfDir is a caller-supplied path: escape JSON string specials
    // (a quote/backslash in it must not corrupt the committed file)
    val sfJson = jsonEscape(sfDir)
    val qs = results
      .map { case (n, v) => s""""$n":${num(v)}""" }.mkString(",")
    val fs = failed.map(n => s""""${jsonEscape(n)}"""").mkString(",")
    s"""{"sf":"$sfJson","unit":"sec","best_of":2,""" +
      s""""total":${num(results.map(_._2).sum)},"queries":{$qs},""" +
      s""""failed":[$fs]}""" + "\n"
  }

  // Full-name per-query timings go to stderr for humans; the stdout
  // JSON is the DRIVER's per-query record and must be a line its
  // parser provably decodes while staying under the 2000-char output
  // tail window it is read back from (rounds 1-4 exceeded it and the
  // line never parsed).
  //
  // HISTORY of the encoding, and why r17 reverted it: at ~200 queries
  // the full-precision map outgrew the window, and rounds 9-16
  // compressed keys (decimal -> base36 -> a parallel {"k","v"} array
  // pair with single-digit capped values). That kept every query on
  // the line, but the driver's PERF parser decodes NONE of the
  // compressed generations — PERF_r16.per_query came out as the two
  // literal keys "k"/"v" with digit-string "values" (~1e247), i.e.
  // the compression traded the driver's per-query regression
  // detection for in-line completeness nobody could read
  // (VERDICT r16 "What's wrong" #1). The ONLY generation the driver
  // demonstrably parsed per-query (BENCH_r06-r08.parsed.queries) is
  // the plain object with "qNN" keys and float seconds, so r17
  // returns to exactly that shape:
  //   - keys are the registry name's numeric prefix ("q135_dup_span"
  //     -> "q135") — the form scripts/bench_compare.py already
  //     canonicalizes as its legacy generation, so cross-round diffs
  //     keep working;
  //   - values are full-precision seconds (%.2f), so a c8-vs-c32
  //     scaling ratio and a round-over-round per-query ratio are both
  //     finite and meaningful;
  //   - the line cannot hold 346 such entries, so entries are filled
  //     SLOWEST-FIRST under a byte budget and the remainder is summed
  //     into "rest" (+"n_rest" count). A regression is, by
  //     construction, slow — any query that matters enters the kept
  //     set by regressing; only the sub-cutoff flat tail (~<1.5 s
  //     cells, fixed per-query overhead) aggregates. The COMPLETE
  //     full-precision, full-name map is committed alongside in
  //     BENCH_DETAIL.json (the "detail" field names it);
  //   - the "metric"/"value"/"unit"/"queries" skeleton is driver
  //     contract (its parser keys on those literals) — never rename.
  //     "rest"/"sf" rode the r06-r08 lines that parsed, so they are
  //     proven-ignorable-or-read; "n_rest"/"n_failed"/"detail" are new
  //     keys a JSON parser skips;
  //   - queries that threw (`failed`) are in neither "queries", "rest"
  //     nor "value"; "n_failed" counts them.
  // BenchFormatSpec guards the worst-case length against query growth.
  def buildJson(results: Seq[(String, Double)], sfDir: String,
      failed: Seq[String] = Nil): String = {
    def num(v: Double, dp: String): String =
      String.format(java.util.Locale.ROOT, dp, Double.box(v))
    val total = num(results.map(_._2).sum, "%.2f")
    val sfJson = jsonEscape(sfDir)
    // skeleton measured with worst-case widths for rest/n_rest so the
    // greedy fill can never overshoot the budget
    val skeleton = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":{},"rest":999999.99,"n_rest":9999,"n_failed":9999,""" +
      s""""detail":"BENCH_DETAIL.json","sf":"$sfJson"}"""
    var room = LineBudget - skeleton.length
    val bySlowest = results.sortBy { case (n, v) => (-v, n) }
    val kept = Vector.newBuilder[String]
    var nKept = 0
    var restSum = 0.0
    for ((name, sec) <- bySlowest) {
      val e = "\"" + name.takeWhile(_ != '_') + "\":" + num(sec, "%.2f")
      val cost = e.length + (if (nKept > 0) 1 else 0) // comma
      if (room >= cost) { kept += e; nKept += 1; room -= cost }
      else restSum += sec
    }
    val qs = kept.result().mkString(",")
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":{$qs},"rest":${num(restSum, "%.2f")}""" +
      s""","n_rest":${results.size - nKept},"n_failed":${failed.size}""" +
      s""","detail":"BENCH_DETAIL.json","sf":"$sfJson"}"""
  }

  /** JSON string-content escaping (the text between the quotes):
    * quote and backslash, the short forms for LF, CR and TAB, and a
    * four-hex-digit unicode escape for every other control char
    * (< 0x20) — a raw control char in a path or in hand-written
    * oracle SQL would otherwise make the reader's JSON parse fail.
    * Verify's `oracle_sql.json` and Bench's stdout line share it. */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** stdout-line byte budget: the 2000-char tail the driver reads the
    * line back from, minus the measured ~76-char sbt success trailer
    * that follows it, minus slack for locale drift in that trailer. */
  private[graft] val LineBudget = 1800
}
