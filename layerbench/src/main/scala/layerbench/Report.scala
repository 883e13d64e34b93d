package graft.layerbench

/** Turns a run's passes (and, when traced, its spans and Spark
  * counters) into named metrics: (name, value, unit). */
object Report {

  def endToEnd(passes: Seq[PassResult], setupS: Double,
      heapMb: Double): Seq[(String, Double, String)] = {
    val ops = passes.flatMap(_.okOps).map(_.seconds)
    // with no op left to time the run reports zeros and `correct: false`
    def orZero(f: => Double) = if (ops.isEmpty) 0.0 else f
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", orZero(Stats.median(passes.map(_.wallS))), "s"),
      ("op_p50_s", orZero(Stats.median(ops)), "s"),
      ("op_tail_s", orZero(Stats.tail(ops)), "s"),
      ("heap_retained_mb", heapMb, "MB"))
  }

  /** Per-layer metrics, in the order and units of BENCHMARK.json. Each
    * is the median over the traced passes of its per-pass value. */
  val PerLayer: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "spark.plan_s" -> "s", "spark.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.jobs_per_op" -> "count",
    "spark.driver_gap_s" -> "s", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.task_busy_ratio" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.storage_mb" -> "MB",
    "Artifacts.publish_s" -> "s", "Artifacts.serve_s" -> "s",
    "Artifacts.bytes_written_mb" -> "MB", "Artifacts.files" -> "count",
    "sources.fetch_s" -> "s", "sources.tasks" -> "count",
    "sources.parse_s" -> "s", "sources.error_payloads" -> "count",
    "operators.Flatten.rows" -> "count", "operators.Describe.report_s" -> "s",
    "sinks.jdbc_s" -> "s", "sinks.jdbc_rows" -> "count",
    "sinks.parquet_s" -> "s", "sinks.parquet_mb" -> "MB",
    "pipeline.attempts" -> "count", "pipeline.rows_per_s" -> "1/s",
    "bench.ops" -> "count", "bench.fail_ratio" -> "ratio",
    "bench.trace_overhead" -> "ratio", "bench.span_cover_min" -> "ratio")

  def perLayer(passes: Seq[PassResult], tracer: Tracer, l: LayerListener,
      cores: Int): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: subtree(s.id))
    val stages = LayerListener.snapshot(l.stages)
    val tasks = LayerListener.snapshot(l.tasks)
    val jobs = LayerListener.snapshot(l.jobs)
    def ms(ns: Long) = (ns + tracer.epochOffsetNs) / 1000000L

    val traced = passes.filter(_.traced)
    val perPass: Seq[Map[String, Double]] = traced.map { pr =>
      val passSpan = spans.find(s => s.name == "pass" &&
        s.attrs.get("pass").contains(pr.pass.toString))
        .getOrElse(sys.error(s"no span for pass ${pr.pass}"))
      val ops = kids.getOrElse(passSpan.id, Nil).filter(_.name == "op")
      // every span id under each op, the op itself included
      val opTree: Map[Span, Set[Int]] =
        ops.map(o => o -> (subtree(o.id).map(_.id).toSet + o.id)).toMap
      val inOps = opTree.values.flatten.toSet
      val st = stages.filter(s => inOps(s.owner))
      val tk = tasks.filter(t => inOps(t.owner))
      def spanS(name: String) =
        subtree(passSpan.id).filter(_.name == name).map(_.seconds).sum
      def ownedBy(name: String): Set[Int] =
        subtree(passSpan.id).filter(_.name == name)
          .flatMap(s => subtree(s.id).map(_.id) :+ s.id).toSet
      val opWall = ops.map(_.seconds).sum
      val gapS = ops.map { o =>
        val ids = opTree(o)
        LayerListener.gapMs(tk.filter(t => ids(t.owner)), ms(o.startNs), ms(o.endNs))
      }.sum / 1e3
      val cover = ops.map { o =>
        kids.getOrElse(o.id, Nil).map(_.seconds).sum / o.seconds
      }
      val nJobs = jobs.count { case (owner, _) => inOps(owner) }.toDouble
      val parquetIds = ownedBy("sinks.parquet")
      val fetchIds = ownedBy("sources.fetch")
      val mb = Workloads.MB
      val e = pr.extra
      Map(
        "operators.build_s" -> spanS("operators.build"),
        "spark.plan_s" -> spanS("spark.plan"),
        "spark.exec_s" -> spanS("spark.exec"),
        "spark.jobs" -> nJobs,
        "spark.jobs_per_op" -> nJobs / math.max(ops.size, 1),
        "spark.driver_gap_s" -> gapS,
        "spark.tasks" -> st.map(_.tasks).sum.toDouble,
        "spark.executor_cpu_s" -> st.map(_.cpuS).sum,
        "spark.task_busy_ratio" ->
          tk.map(t => t.finishMs - t.launchMs).sum / 1e3 / (opWall * cores),
        "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
        "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
        "spark.spill_mb" -> st.map(_.spill).sum / mb,
        "spark.gc_s" -> st.map(_.gcS).sum,
        "spark.input_mb" -> st.map(_.input).sum / mb,
        "spark.output_mb" -> st.map(_.output).sum / mb,
        "Artifacts.publish_s" -> pr.phaseS("publish"),
        "Artifacts.serve_s" -> pr.phaseS("serve"),
        "sources.fetch_s" -> spanS("sources.fetch"),
        "sources.tasks" -> st.filter(s => fetchIds(s.owner)).map(_.tasks).sum.toDouble,
        "sources.parse_s" -> spanS("sources.parse"),
        "operators.Flatten.rows" ->
          st.filter(s => parquetIds(s.owner)).map(_.outputRecords).sum.toDouble,
        "operators.Describe.report_s" -> spanS("operators.Describe.report"),
        "sinks.jdbc_s" -> spanS("sinks.jdbc"),
        "sinks.parquet_s" -> spanS("sinks.parquet"),
        "pipeline.rows_per_s" ->
          (if (pr.wallS > 0) e.getOrElse("sinks.jdbc_rows", 0.0) / pr.wallS else 0.0),
        "bench.ops" -> pr.ops.size.toDouble,
        "bench.fail_ratio" -> pr.ops.count(!_.ok).toDouble / math.max(pr.ops.size, 1),
        "bench.span_cover_min" -> (if (cover.isEmpty) 0.0 else cover.min)
      ) ++ e
    }
    val untracedWall = passes.filterNot(_.traced).map(_.wallS)
    val overhead =
      if (untracedWall.isEmpty || perPass.isEmpty) Double.NaN
      else Stats.median(traced.map(_.wallS)) / Stats.median(untracedWall)
    PerLayer.map { case (name, unit) =>
      val v =
        if (name == "bench.trace_overhead") overhead
        else if (perPass.isEmpty) Double.NaN
        else Stats.median(perPass.map(_.getOrElse(name, 0.0)))
      (name, v, unit)
    }
  }
}
