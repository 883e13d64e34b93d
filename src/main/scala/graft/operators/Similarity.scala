package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Three tiers, in increasing scale-readiness:
  *
  *  1. [[cosineTopK]] — brute force: broadcast the (small) query set
  *     against the full corpus, rank per query. This is the correctness
  *     baseline and, with a broadcast join + TakeOrdered-style window,
  *     is actually the right plan whenever |queries| is small: one scan
  *     of the corpus, no corpus-side shuffle of vectors.
  *  2. [[annRandomHyperplane]] — sign-random-projection LSH: 16-bit
  *     signatures from fixed seeded hyperplanes, banded 8x2; candidates
  *     share a band bucket, then exact rerank. Corpus-side cost is one
  *     projection pass + bucket join; recall measured in tests.
  *  3. [[ivfTopK]] — IVF coarse quantization: a spherical k-means
  *     quantizer trained in-engine ([[kmeansCentroids]], Lloyd rounds
  *     as DataFrame ops) assigns each vector to a cell; queries probe
  *     the `nprobe` nearest cells only. At 100 TB this is the layout
  *     you'd bake into the table (partitionBy(cell)), turning ANN
  *     into partition pruning.
  */
object Similarity {

  private val Dim = 64

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))

  /** Brute-force exact top-k neighbors for query vectors `vec_id < nQueries`. */
  def cosineTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = withNorm(embeddings)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val sims = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("nrm").as("nn"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("qv"), col("nv")), col("qn"), col("nn"))
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** All-pairs similarity join at a threshold chosen inside a wide gap
    * of the data's similarity distribution. O(n²) verification is fine
    * at bench scale; the LSH/IVF paths below are the candidate pruners
    * you switch to when n² stops fitting. */
  def similarPairs(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    // the non-equi pair join is a broadcast nested loop whose probe
    // side carries the O(n²) dot products: an under-partitioned scan
    // serializes them on one core (Par.fanOut — no-op at scale; the
    // per-pair cosine is row-local, so placement never changes values)
    val emb = withNorm(Par.fanOut(embeddings))
    val a = emb.select(col("vec_id").as("d1"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("d2"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb"))
          .as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** Embedding-cosine near-duplicate DEDUP: the pairwise similarity
    * join promoted to a keep/drop decision per vector. Pairs at
    * `threshold` feed the generic star-rounds connected-components
    * operator ([[Dedup.dupClusters]] — similarity is not transitive,
    * so near-dup groups are components), and each vector's
    * representative is its component minimum; vectors off the
    * similarity graph represent themselves. Returns
    * (vec_id, rep_id, keep) — fully oracle-checkable because the
    * closure of a SQL-expressible pair set is itself SQL (DuckDB
    * recursive CTE), so this pins the CC machinery on a real
    * similarity graph, complementing q133's temporal-session graph.
    *
    * Scale: the exact all-pairs candidate tier is the bench-scale
    * choice only; at 100 TB swap the generator for the banded-LSH
    * candidates of [[annRandomHyperplane]] (same downstream CC —
    * the decision layer doesn't care who produced the pairs). */
  def embeddingDedup(embeddings: DataFrame,
      threshold: Double = 0.45): DataFrame = {
    val pairs = similarPairs(embeddings, threshold)
      .select(col("d1"), col("d2"))
    val reps = Dedup.dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    embeddings.select(col("vec_id"))
      .join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication with the pair space bounded by k-means cells —
    * cluster the embeddings, compare cosine ONLY within a cell, keep
    * one representative (the component minimum) per intra-cell
    * near-dup group. Exactly [[embeddingDedup]]'s decision layer with
    * the all-pairs candidate generator swapped for the clustered one:
    * candidate volume drops from n² to Σ|cell|², and at 100 TB the
    * cell id doubles as the partition-pruning layout (each cell's
    * pair join is cell-local, embarrassingly parallel across cells —
    * the paper runs exactly this shape over LAION). Pairs that CROSS
    * a cell boundary are missed by construction; that recall trade is
    * the algorithm, not an approximation bug, and the k=1 degenerate
    * config recovers [[embeddingDedup]] bit-for-bit (spec-pinned).
    *
    * Returns (vec_id, cell, rep_id, keep) — rows-only for the oracle
    * (k-means seeding is engine-specific); the spec pins planted
    * near-dup groups and the k=1 equivalence. */
  def semDedup(embeddings: DataFrame, k: Int = 8,
      threshold: Double = 0.45): DataFrame = {
    val emb = withNorm(embeddings)
    val cells = assignCells(emb, kmeansCentroids(emb, k))
    val e = emb.join(cells, "vec_id")
    val a = e.select(col("cell"), col("vec_id").as("d1"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("d2"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb"))
          .as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"))
    val reps = Dedup.dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    embeddings.select(col("vec_id"))
      .join(cells, Seq("vec_id"), "left")
      .join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** ORACLE-REPLAYABLE SemDeDup — [[semDedup]] with the engine-
    * specific spherical quantizer swapped for [[kmeansCentroidsExact]]
    * (the q313 device), which takes the flagship semantic-dedup
    * OPERATOR itself out of rows-only: cells from decimal-exact L2
    * Lloyd rounds, intra-cell pairs by the q31-convention exact
    * cosine, components via [[Dedup.dupClusters]] whose closure the
    * oracle replays as a recursive CTE (the q136 device), component-
    * minimum representatives. Identical decision layer to
    * [[semDedup]] — only the quantizer arithmetic differs — so the
    * same cross-cell recall trade applies and the k=1 degenerate
    * config still recovers [[embeddingDedup]] bit-for-bit
    * (spec-pinned). Same 100 TB shape: cell-local pair joins,
    * edge-sized CC shuffles. */
  /** CLUSTER-BALANCED corpus sampling — topic balancing for training
    * mixes: the per-source quota discipline (q236/q227) re-pointed at
    * SEMANTIC cells. Every vector is assigned to its exact k-means
    * cell (the q313 quantizer, so the kept set replays in the
    * oracle) and each cell keeps at most `perCell` members, ranked
    * by a PORTABLE deterministic pseudo-random key (salted
    * md5-prefix of vec_id): over-represented modes are capped to a
    * flat budget while tail topics survive intact — the
    * cluster-granularity counterpart of domain reweighting in
    * multi-domain curation (DoReMi, arXiv:2305.10429; cluster-based
    * pruning, Sorscher et al. arXiv:2206.14486 — SemDeDup's cell
    * device re-pointed at budgets instead of dedup).
    *
    * Scale: assignment is crossJoin(broadcast(k cells)) — linear,
    * vectors never shuffle for it; the quota is ONE rank window
    * partitioned by cell over an 8-byte key (embeddings don't ride
    * the window), so the shuffle is id-sized and cell-keyed — no
    * global window, no pair blow-up. */
  def clusterBalancedSample(embeddings: DataFrame, cells: Int = 8,
      iters: Int = 2, perCell: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val celled =
      assignCellsExact(emb, kmeansCentroidsExact(emb, cells, iters))
    val rk = conv(substring(md5(concat(lit("cbs:"),
      col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("cell"))
      .orderBy(rk.asc, col("vec_id").asc)
    celled
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= perCell)
      .select(col("vec_id"), col("cell"), col("pos"))
      .orderBy(col("vec_id"))
  }

  def semDedupExact(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.45): DataFrame = {
    val emb = withNorm(embeddings)
    val cells = assignCellsExact(embeddings,
      kmeansCentroidsExact(embeddings, k, iters))
    val e = emb.join(cells, "vec_id")
    val a = e.select(col("cell"), col("vec_id").as("d1"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("d2"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb"))
          .as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"))
    val reps = Dedup.dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    embeddings.select(col("vec_id"))
      .join(cells, Seq("vec_id"), "left")
      .join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Fixed hyperplanes from a seeded generator — deterministic across
    * runs and engines; materialized as literal arrays in the plan. */
  private def hyperplanes(nPlanes: Int): Seq[Column] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(array(Seq.fill(Dim)(lit(rnd.nextGaussian())): _*))
  }

  /** Sign-random-projection signature: bit k = (v · plane_k) > 0. */
  def rpSignature(v: Column, planes: Seq[Column]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, p) > 0, shiftleft(lit(1), i)).otherwise(0)
    }.reduce(_.bitwiseOR(_))

  /** ANN via banded random-hyperplane LSH + exact rerank. */
  def annRandomHyperplane(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nPlanes: Int = 16, bands: Int = 8): DataFrame = {
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes)
    val emb = withNorm(embeddings)
      .withColumn("sig", rpSignature(col("embedding"), planes))
    val banded = emb.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          shiftright(col("sig"), bnd * bitsPerBand)
            .bitwiseAND((1 << bitsPerBand) - 1).as("bk"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val qSide = banded.filter(col("vec_id") < nQueries)
      .select(col("band"), col("bk"), col("vec_id").as("query_id"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val cands = banded
      .join(broadcast(qSide), Seq("band", "bk"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("embedding"), col("nrm"), col("qv"), col("qn"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("qv"), col("embedding")), col("qn"),
          col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Spherical k-means coarse quantizer, trained as DataFrame ops:
    * seed centroids are the first k vectors by `vec_id`
    * (deterministic), then `iters` Lloyd rounds of
    * assign-by-max-cosine (crossJoin against the BROADCAST k×Dim
    * centroid set, `max_by` argmax — one map-side pass over the
    * corpus, no shuffle of the vectors themselves) and re-center
    * (element-wise mean via [[centroids]], fully distributed). Between
    * rounds only the k centroid arrays (k·Dim doubles — model
    * parameters, not data) are collected, which also truncates the
    * iteration's lineage. Returns (cell, centroid). */
  def kmeansCentroids(emb: DataFrame, k: Int = 16, iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    val corpus = emb.select(col("vec_id"), col("embedding"), col("nrm"))
    // one take(1) probe for the vector width (callers pass persisted
    // or scan-rooted frames, so this is a sub-ms job) — it sizes the
    // per-position mean accumulators of every round's re-center
    val dim = corpus.select(col("embedding")).take(1)
      .headOption.map(_.getSeq[Any](0).length).getOrElse(0)
    // Round 1 assigns against the RAW float seed vectors (centroid is
    // array<float> there, array<double> from round 2 on — preserved
    // exactly by collecting the floats and re-entering them as a
    // float-typed LocalRelation); later rounds are centLit doubles.
    // r17: all round models are true LocalRelations, so the per-round
    // broadcast builds stop scheduling one job each (see centLit).
    val seedRows = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toSeq
    var cents: DataFrame = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("centroid",
          ArrayType(FloatType, containsNull = false), nullable = false)))
      val data: java.util.List[org.apache.spark.sql.Row] =
        new java.util.ArrayList(seedRows.size)
      seedRows.foreach { case (c, v) =>
        data.add(org.apache.spark.sql.Row(c, v))
      }
      spark.createDataFrame(data, schema)
    }
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, cents)
        .join(corpus, "vec_id")
        .select(col("cell"), col("embedding"))
      val rows = centroids(assigned, "cell", dim).collect()
      cents = centLit(spark,
        rows.toSeq.map(r =>
          r.getAs[Int]("cell") -> r.getAs[Seq[Double]]("centroid")))
    }
    cents
  }

  /** Nearest-centroid assignment: one broadcast crossJoin + argmax
    * (`max_by` over a (csim, -cell) ordering struct — ties go to the
    * smallest cell id, so the assignment is total and deterministic). */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(
        cents.withColumn("cn", norm(col("centroid")))))
      .select(col("vec_id"), col("cell"),
        cosinePrenormed(dot(col("embedding"), col("centroid")),
          col("nrm"), col("cn")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"),
        struct(col("csim"), (-col("cell")).as("nc"))).as("cell"))

  /** Element-wise mean vector per cell — fully distributed, no
    * driver-side vector math. r17 (guide §2.3 "aggregate before you
    * shuffle", §1.2): ONE cell-keyed aggregation with Dim `avg`
    * accumulators instead of posexplode + groupBy(cell, pos) +
    * collect_list re-assembly — the Dim× row amplification never
    * enters the exchange and the second shuffle disappears. Values
    * are bit-identical: each position's partial sums accumulate the
    * same floats in the same row order and merge in the same
    * partition order as the exploded form (proven by a full Verify
    * output diff, r17). */
  def centroids(emb: DataFrame, cellCol: String, dim: Int): DataFrame =
    emb.groupBy(col(cellCol).as("cell"))
      .agg(array((0 until dim).map(i =>
        avg(col("embedding").getItem(i))): _*).as("centroid"))

  /** IVF ANN: a trained spherical-k-means coarse quantizer
    * ([[kmeansCentroids]]) partitions the corpus into cells; queries
    * probe only the `nprobe` cells whose centroids are nearest, and
    * exact-rank inside those cells. At 100 TB the cell assignment is
    * the layout you'd bake into the table (partitionBy(cell)), turning
    * ANN into partition pruning. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nprobe: Int = 3, cells: Int = 16, iters: Int = 3): DataFrame = {
    val emb = withNorm(embeddings).persist()
    val cents = kmeansCentroids(emb, cells, iters)
      .withColumn("cn", norm(col("centroid")))
    val celled = emb.join(assignCells(emb, cents), "vec_id")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    try ivfServe(
      ivfProbedCells(queries, cents, nprobe),
      celled.select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding"), col("nrm")),
      k)
    finally emb.unpersist(false)
  }

  /** The probe step shared by the in-memory and at-rest IVF tiers:
    * rank the broadcast centroids per query, keep the `nprobe`
    * nearest cells. ONE implementation, so the tiers cannot diverge
    * on tie-breaking or ordering. */
  private def ivfProbedCells(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("qn"), col("cell"),
        cosinePrenormed(dot(col("qv"), col("centroid")), col("qn"),
          col("cn")).as("csim"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
  }

  /** The serve step shared by both IVF tiers: exact-rank the probed
    * cells' candidates per query. `candidates` carries
    * (neighbor_id, cell, embedding, nrm) from either the in-memory
    * celled frame or the pruned at-rest scan. */
  private def ivfServe(probed: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("qv"), col("embedding")), col("qn"),
          col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The AT-REST form of [[ivfTopK]]'s index — what the docstring
    * there promises, materialized: the corpus is written to the lake
    * `partitionBy(cell)` (cell = trained coarse-quantizer assignment)
    * with the k×Dim centroid model as a sidecar table, so an ANN
    * query becomes PARTITION PRUNING over the vector table. Written
    * once per (session, key) like the q162 bucketed tables and the
    * q194 near-dup base. Returns the vector table name; the sidecar
    * is `<name>_cents`. */
  private val ivfIndexTables =
    new graft.Artifacts.KeyedMemo[(SparkSession, String), String]
  def materializedIvfIndex(s: SparkSession, embeddings: DataFrame,
      key: String, cells: Int = 16, iters: Int = 3): String =
    // the build PARAMETERS are part of the identity: a caller reusing
    // a key with different cells/iters gets its own artifact, never a
    // silent serve of the first build's layout
    ivfIndexTables.getOrBuild((s, s"$key|c=$cells|i=$iters")) {
      val name =
        s"graft_ivf_${graft.Artifacts.digest(s"$key|c=$cells|i=$iters")}"
      val dir = graft.Artifacts.tempDir("graft_ivf_")
      val emb = withNorm(embeddings).persist()
      try {
        val cents = kmeansCentroids(emb, cells, iters)
        cents.write.option("path", s"$dir/cents").mode("overwrite")
          .saveAsTable(name + "_cents")
        emb.join(assignCells(emb, cents), "vec_id")
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
          .write.partitionBy("cell")
          .option("path", s"$dir/t").mode("overwrite").saveAsTable(name)
      } finally emb.unpersist(false)
      name
    }

  /** The AT-REST form of [[ivfPqTopK]]'s index — IVF cells AND the PQ
    * model written to the lake ONCE per (session, key), so serving
    * pays only probe + pruned scans (the q205/q299 at-rest
    * convention, here for the FAISS IVFADC shape): on top of
    * [[materializedIvfIndex]]'s partitionBy(cell) vector table +
    * centroid sidecar, this adds `<name>_pq_cb` (the m×ksub codebook
    * model — broadcast-sized) and `<name>_pq_codes` (one (vec_id,
    * sub, code) row per subspace, partitionBy(cell) so the ADC scan
    * partition-prunes exactly like the vector scan). Returns the base
    * vector-table name. */
  private val ivfPqIndexTables =
    new graft.Artifacts.KeyedMemo[(SparkSession, String), (String, String)]
  def materializedIvfPqIndex(s: SparkSession, embeddings: DataFrame,
      key: String, cells: Int = 16, iters: Int = 3, m: Int = 8,
      ksub: Int = 16): (String, String) =
    // memo key and sidecar names carry EVERY build parameter (the
    // base's cells/iters via materializedIvfIndex's own digest, the
    // PQ m/ksub here), so two PQ configs over one base coexist and a
    // mismatched key reuse cannot serve the wrong codebook
    ivfPqIndexTables.getOrBuild((s, s"$key|c=$cells|i=$iters|m=$m|k=$ksub")) {
      val table = materializedIvfIndex(s, embeddings, key, cells, iters)
      val pq = s"graft_ivfpq_${graft.Artifacts.digest(
        s"$key|c=$cells|i=$iters|m=$m|k=$ksub")}"
      val dir = graft.Artifacts.tempDir("graft_ivfpq_")
      val cb = pqCodebooks(embeddings, m, ksub, iters)
      cb.write.option("path", s"$dir/cb").mode("overwrite")
        .saveAsTable(pq + "_cb")
      val cellOf = s.table(table).select(col("vec_id"), col("cell"))
      pqAssign(pqSubvectors(embeddings, m), cb)
        .withColumnRenamed("cell", "code")
        .join(cellOf, "vec_id")
        .write.partitionBy("cell")
        .option("path", s"$dir/codes").mode("overwrite")
        .saveAsTable(pq + "_codes")
      (table, pq)
    }

  /** IVF-PQ top-k served FROM the at-rest index — [[ivfPqTopK]] with
    * the one-time quantizer + codebook training amortized into the
    * table layout (the q302 bench cell folds training into the serve;
    * this is the steady-state serving cost, the q299-vs-q202
    * precedent applied to ANN): probe the broadcast centroid sidecar,
    * turn the `nprobe` cells into a static partition filter on BOTH
    * the codes table (ADC scans codes, never vectors) and the vector
    * table (exact rerank reads raw vectors only for probed cells —
    * the shortlist is a subset by construction), rank by the same
    * sub-sorted ADC fold, exact-rerank the `rerank·k` shortlist.
    * Deterministic training ⇒ bit-identical to [[ivfPqTopK]]
    * (spec-pinned). Rows-only for the oracle (k-means init
    * convention, q34/q160/q205). */
  def ivfPqTopKServed(s: SparkSession, embeddings: DataFrame,
      key: String, nQueries: Int = 10, k: Int = 5, nprobe: Int = 3,
      cells: Int = 16, iters: Int = 3, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4): DataFrame =
    ivfPqServeQueries(s,
      embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qv")),
      embeddings, key, k, nprobe, cells, iters, m, ksub, rerank)

  /** [[ivfPqTopKServed]] for an ARBITRARY (query_id, qv) frame — the
    * per-micro-batch transform of the IVF-PQ serving STREAM (the
    * q311 economics applied to unbounded query traffic): each batch
    * probes the broadcast sidecar, partition-prunes the codes AND
    * vector tables to its probed cells, ADC-ranks, exact-reranks.
    * Stateless stream-static — no watermark; the artifact is the
    * static side. q311 is exactly this with the vec_id < nQueries
    * slice (bit-identical by construction), and StreamingSpec pins
    * stream == q311's batch ranking with MemoryStream. */
  def ivfPqServeQueries(s: SparkSession, queries0: DataFrame,
      embeddings: DataFrame, key: String, k: Int = 5, nprobe: Int = 3,
      cells: Int = 16, iters: Int = 3, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4): DataFrame = {
    val (table, pq) = materializedIvfPqIndex(s, embeddings, key, cells,
      iters, m, ksub)
    val cents = s.table(table + "_cents")
      .withColumn("cn", norm(col("centroid")))
    val queries = queries0
      .select(col("query_id"), col("qv"), norm(col("qv")).as("qn"))
    val probed = ivfProbedCells(queries, cents, nprobe)
    val touched = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    def pruned(t: DataFrame): DataFrame =
      if (touched.isEmpty) t.filter(lit(false))
      else t.filter(col("cell").isin(touched.map(Int.box): _*))
    val scan = pruned(s.table(table))
    val cand = scan.select(col("vec_id").as("neighbor_id"), col("cell"))
      .join(broadcast(probed.select(col("query_id"), col("cell"))),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val cb = s.table(pq + "_cb")
    val codes = pruned(s.table(pq + "_codes"))
      .select(col("vec_id"), col("sub"), col("code"))
    val qtable = pqSubvectors(
        queries0.select(col("query_id").as("vec_id"),
          col("qv").as("embedding")), m)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        subDist2(col("sv"), col("centroid")).as("d2"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = cand
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(qtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("sub"), col("d2")))),
        lit(0.0), (acc, x) => acc + x.getField("d2")).as("adist"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerank)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("neighbor_id"))
    shortlist
      .join(scan.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .join(broadcast(queries0), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        subDist2(col("nv"), transform(col("qv"),
          x => x.cast("double"))).as("d2"))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("d2"), col("adist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Stream of query vectors → per-micro-batch [[ivfPqServeQueries]]
    * into idempotent per-batch parquet — the IVF-PQ serving stream
    * (q311's steady-state layout answering unbounded query
    * traffic). */
  def ivfPqServedStream(s: SparkSession, queryStream: DataFrame,
      embeddings: DataFrame, key: String, path: String,
      checkpoint: String, k: Int = 5, nprobe: Int = 3, cells: Int = 16,
      iters: Int = 3, m: Int = 8, ksub: Int = 16, rerank: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.streaming.StreamingOps.writeBatchIdempotent(
          ivfPqServeQueries(s, batch, embeddings, key, k, nprobe,
            cells, iters, m, ksub, rerank),
          batchId, path))

  /** IVF top-k served FROM the at-rest index: queries rank the
    * sidecar centroids (a broadcast k×Dim model), pick their `nprobe`
    * cells, and the union of probed cell ids — at most `cells` ints,
    * parallelism-sized driver state — becomes a static `cell IN (…)`
    * PARTITION filter on the vector table, so the scan reads
    * O(probed cells) of the corpus, never all of it. This is the
    * 100 TB serving path: the expensive quantizer training amortizes
    * into the table layout, and every query's cost is bounded by the
    * cells it probes. `pruned = false` scans the whole table with the
    * probe logic unchanged — the spec pins pruned ≡ unpruned (the
    * filter only removes cells no query probes) plus the
    * PartitionFilters entry and a partitions-read < cells metric. */
  def ivfTopKMaterialized(s: SparkSession, embeddings: DataFrame,
      key: String, nQueries: Int = 10, k: Int = 5, nprobe: Int = 3,
      cells: Int = 16, iters: Int = 3, pruned: Boolean = true): DataFrame = {
    val table = materializedIvfIndex(s, embeddings, key, cells, iters)
    val cents = s.table(table + "_cents")
      .withColumn("cn", norm(col("centroid")))
    val queries = withNorm(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val probed = ivfProbedCells(queries, cents, nprobe)
    val scan =
      if (!pruned) s.table(table)
      else {
        val touched = probed.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).sorted
        if (touched.isEmpty) s.table(table).filter(lit(false))
        else s.table(table).filter(col("cell").isin(touched.map(Int.box): _*))
      }
    ivfServe(probed,
      scan.select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding"), col("nrm")),
      k)
  }

  /** IVF-PQ serving — the FAISS IVFADC layout (Jégou, Douze & Schmid
    * 2011, §IV: inverted lists bound WHICH vectors a query touches,
    * product quantization bounds WHAT is read per vector), composed
    * from the two at-rest tiers this library already ships: the query
    * probes the [[materializedIvfIndex]] sidecar centroids and turns
    * its `nprobe` cells into the q205 static partition filter (reads
    * O(probed cells) of the vector table), then ranks the probed
    * candidates by PQ asymmetric distance — m table lookups per
    * candidate against the broadcast query distance tables, the
    * corpus scanned as CODES — and exact-reranks only the `rerank·k`
    * shortlist with raw vectors. At 100 TB this is THE ANN serving
    * shape: partition pruning bounds I/O, codes bound bytes-per-
    * candidate (4·Dim bytes → m), and raw vectors page in only for
    * the shortlist. Codebooks train on the full corpus (model-sized
    * driver state, the kmeansCentroids discipline); the ADC fold is
    * sub-sorted for run determinism (q127 pattern). Rows-only by
    * design (k-means init is engine-specific — q34/q160/q205's
    * convention); the spec plants an exact twin that must surface at
    * rank 1 with ADC and exact distance 0. */
  def ivfPqTopK(s: SparkSession, embeddings: DataFrame, key: String,
      nQueries: Int = 10, k: Int = 5, nprobe: Int = 3, cells: Int = 16,
      iters: Int = 3, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4): DataFrame = {
    val table = materializedIvfIndex(s, embeddings, key, cells, iters)
    val cents = s.table(table + "_cents")
      .withColumn("cn", norm(col("centroid")))
    val queries = withNorm(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val probed = ivfProbedCells(queries, cents, nprobe)
    val touched = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scan =
      if (touched.isEmpty) s.table(table).filter(lit(false))
      else s.table(table)
        .filter(col("cell").isin(touched.map(Int.box): _*))
    val cand = scan.select(col("vec_id").as("neighbor_id"), col("cell"))
      .join(broadcast(probed.select(col("query_id"), col("cell"))),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val cb = pqCodebooks(embeddings, m, ksub, iters)
    val codes = pqAssign(pqSubvectors(
        scan.select(col("vec_id"), col("embedding")), m), cb)
      .withColumnRenamed("cell", "code")
    val qtable = pqSubvectors(
        embeddings.filter(col("vec_id") < nQueries), m)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        subDist2(col("sv"), col("centroid")).as("d2"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = cand
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(qtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("sub"), col("d2")))),
        lit(0.0), (acc, x) => acc + x.getField("d2")).as("adist"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerank)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("neighbor_id"))
    shortlist
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .join(broadcast(embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        subDist2(col("nv"), transform(col("qv"),
          x => x.cast("double"))).as("d2"))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("d2"), col("adist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ORACLE-REPLAYABLE k-means — the round-12 answer to "can the IVF
    * quantizer be deterministic enough for SQL?": yes, by composing
    * two devices this library already proves hash-exact. Seeds are
    * the first `k` vectors' double-cast values (SQL-expressible);
    * each Lloyd round assigns by CLASSIC L2 argmin over a fixed
    * left-associated difference-square fold (the q146 assignment,
    * bit-identical to `l2Sql`'s term expansion) with ties to the
    * smallest cell, and re-centers through the q139 decimal device
    * (shortest-decimal float parse → DECIMAL(18,12) sums,
    * order-independent → ONE correctly-rounded double division), so
    * every round's centroids — and therefore every cell assignment —
    * replay bit-for-bit in DuckDB as unrolled CTEs. The spherical
    * cosine quantizer of [[kmeansCentroids]] keeps the production
    * role (its float mean re-centering is cheaper and
    * partial-aggregates without the decimal detour); THIS tier is
    * the auditable one — the q29→q300 / q28→q312 portable-family
    * move applied to ANN bucketing. Between rounds only k·Dim
    * doubles collect (model-sized, the kmeansCentroids discipline).
    * A cell that loses all members drops out identically in both
    * engines (GROUP BY over assigned cells). */
  def kmeansCentroidsExact(emb: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    var cents: Seq[(Int, collection.Seq[Double])] = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"),
        transform(col("embedding"), x => x.cast("double")))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq
    // vector width from the already-collected seeds (test fixtures use
    // widths other than the corpus Dim) — sizes the per-position mean
    // accumulators below without an extra probe job
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 1 to iters) {
      val assigned = assignCellsExact(emb, centLit(spark, cents))
      // r17 (guide §2.3/§1.2): one cell-keyed aggregation with Dim
      // decimal-mean accumulators replaces posexplode + two groupBys —
      // decimal sums are order-independent by construction, so the
      // q139 shortest-decimal means are unchanged (and the oracle's
      // unrolled CTEs still match hash-exactly; driver-checked).
      cents = assigned
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .groupBy(col("cell"))
        .agg(array((0 until dim).map(i =>
          sum(col("embedding").getItem(i).cast("string")
            .cast("decimal(18,12)")).cast("string").cast("double") /
            count(lit(1))): _*).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
        .sortBy(_._1).toSeq
    }
    centLit(spark, cents)
  }

  private def centLit(spark: SparkSession,
      cents: Seq[(Int, collection.Seq[Double])]): DataFrame = {
    // r17: a true LocalRelation instead of explode-over-literals — the
    // per-round broadcast of the centroid model then collects
    // driver-locally instead of scheduling a job per round (the
    // explode plan is not folded by ConvertToLocalRelation).
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid",
        ArrayType(DoubleType, containsNull = false), nullable = false)))
    val data: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList(cents.size)
    cents.foreach { case (c, v) =>
      data.add(org.apache.spark.sql.Row(c, v))
    }
    spark.createDataFrame(data, schema)
  }

  /** L2 argmin assignment with ties to the smallest cell — one
    * broadcast crossJoin + `min_by` over the (d2, cell) struct, the
    * exact shape the oracle states as
    * `row_number() OVER (ORDER BY d2, cell) = 1`. */
  def assignCellsExact(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        subDist2(col("embedding"), col("centroid")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))

  /** HASH-EXACT IVF top-k over the [[kmeansCentroidsExact]] quantizer
    * — the full ANN serving pipeline (train → assign → probe → serve)
    * with a DuckDB oracle: queries rank the k cells by the same L2
    * fold (nprobe smallest, ties to cell), candidates in probed cells
    * exact-rank by L2 with ties to neighbor_id. Takes the IVF
    * BUCKETING tier out of rows-only: q34/q205 keep the spherical
    * production quantizer, this is the driver-checked proof that the
    * cell machinery (seeding, Lloyd rounds, probe and serve ranking)
    * is exactly what the docstrings claim. Same 100 TB shape as q205
    * (cells = partition pruning); only the quantizer arithmetic
    * differs. */
  def ivfTopKExact(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nprobe: Int = 2, cells: Int = 8, iters: Int = 2): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val cents = kmeansCentroidsExact(emb, cells, iters)
    val celled = assignCellsExact(emb, cents).join(emb, "vec_id")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ivfExactServe(ivfExactProbe(queries, cents, nprobe),
      celled.select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding")), k)
  }

  /** The probe step of the exact-IVF family: rank the broadcast
    * centroids per query by the fixed L2 fold, keep the `nprobe`
    * nearest cells (ties to cell) — shared by the inline tier
    * ([[ivfTopKExact]]) and the at-rest serving tier
    * ([[ivfExactServeQueries]]) so the two cannot drift. */
  private def ivfExactProbe(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("d2c"), col("cell"))
    queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        subDist2(col("qv"), col("centroid")).as("d2c"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** The serve step of the exact-IVF family: exact-rank the probed
    * cells' candidates per query by the same L2 fold, ties to
    * neighbor_id. */
  private def ivfExactServe(probed: DataFrame, celled: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("neighbor_id"))
    celled
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        subDist2(col("embedding"),
          transform(col("qv"), x => x.cast("double"))).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The AT-REST form of the EXACT quantizer's index — q205's
    * materialization convention applied to [[kmeansCentroidsExact]]:
    * the corpus written `partitionBy(cell)` under the decimal-exact
    * cell assignment, the k×Dim exact centroids as a sidecar. Built
    * once per (session, key); because the quantizer is
    * oracle-replayable, everything SERVED from this layout stays
    * hash-exact — the first at-rest ANN artifact with that
    * property. */
  private val ivfExactIndexTables =
    new graft.Artifacts.KeyedMemo[(SparkSession, String), String]
  def materializedIvfExactIndex(s: SparkSession, embeddings: DataFrame,
      key: String, cells: Int = 8, iters: Int = 2): String =
    // cells/iters are folded into the memo key AND the table digest:
    // the q327/q328 sharing (same key, same defaults) still hits one
    // build, but a caller reusing a key with different quantizer
    // parameters gets a fresh artifact instead of the first build's
    ivfExactIndexTables.getOrBuild((s, s"$key|c=$cells|i=$iters")) {
      val name =
        s"graft_ivfx_${graft.Artifacts.digest(s"$key|c=$cells|i=$iters")}"
      val dir = graft.Artifacts.tempDir("graft_ivfx_")
      val emb = embeddings.select(col("vec_id"), col("embedding"))
        .persist()
      try {
        val cents = kmeansCentroidsExact(emb, cells, iters)
        cents.write.option("path", s"$dir/cents").mode("overwrite")
          .saveAsTable(name + "_cents")
        assignCellsExact(emb, cents).join(emb, "vec_id")
          .select(col("vec_id"), col("embedding"), col("cell"))
          .write.partitionBy("cell")
          .option("path", s"$dir/t").mode("overwrite").saveAsTable(name)
      } finally emb.unpersist(false)
      name
    }

  /** The DURABLE form of [[materializedIvfExactIndex]] — the r13
    * verdict's top item closed: the SAME layout (`$dir/t`
    * partitionBy(cell) vectors, `$dir/cents` exact centroids) written
    * under a caller-supplied LAKE path with a last-write commit
    * marker, served as-is on every later call INCLUDING FROM A FRESH
    * JVM — where the session-scoped catalog variant, whose tables
    * live in an exit-deleted temp dir, would silently retrain. The
    * quantizer is deterministic, so build-then-serve and
    * reload-then-serve are bit-identical (DurableArtifactsSpec pins a
    * cold-session serve with the build counter flat); a dir reused
    * with different cells/iters fails loudly via the params sidecar.
    * This is the missing half of the "build once, serve many" 100 TB
    * economics: the nightly-ingest consumers (q327/q328's shapes) and
    * the serving consumers (q319's shape) read one artifact across
    * JOBS, not just across queries of one session. Returns the
    * (vectors, centroids) frames read straight from the lake;
    * filtering `cell` on the vectors frame partition-prunes exactly
    * like the catalog table (spec-pinned). */
  def ivfExactIndexDurable(s: SparkSession, embeddings: DataFrame,
      dir: String, cells: Int = 8, iters: Int = 2)
      : (DataFrame, DataFrame) = {
    val d = graft.Artifacts.durable(s, dir, s"ivfx|c=$cells|i=$iters") {
      d =>
        val emb = embeddings.select(col("vec_id"), col("embedding"))
          .persist()
        try {
          val cents = kmeansCentroidsExact(emb, cells, iters)
          cents.write.mode("overwrite").parquet(s"$d/cents")
          assignCellsExact(emb, cents).join(emb, "vec_id")
            .select(col("vec_id"), col("embedding"), col("cell"))
            .write.partitionBy("cell").mode("overwrite")
            .parquet(s"$d/t")
        } finally emb.unpersist(false)
    }
    (s.read.parquet(s"$d/t"), s.read.parquet(s"$d/cents"))
  }

  /** Static partition filter for the touched-cell scan — empty probe
    * sets short-circuit to an empty (still partition-pruned) scan. */
  private def prunedToTouched(vectors: DataFrame,
      touched: Seq[Int]): DataFrame =
    if (touched.isEmpty) vectors.filter(lit(false))
    else vectors.filter(col("cell").isin(touched.map(Int.box): _*))

  /** Serve an ARBITRARY (query_id, qv) frame from the at-rest exact
    * index — the STREAMING-ANN-SERVING twin's per-micro-batch
    * transform (stream-static, stateless: each batch of query vectors
    * probes the broadcast sidecar, turns its probed cells into a
    * static partition filter, and exact-ranks the pruned scan). Same
    * arithmetic as [[ivfTopKExact]]'s probe+serve end to end, so the
    * result is bit-identical to the inline tier on the same queries
    * (spec-pinned) AND hash-exact against the unrolled-Lloyd oracle —
    * the first driver-checked ANN SERVING tier. At 100 TB each batch
    * reads O(probed cells) of the corpus; the quantizer cost is
    * amortized into the table layout (the q311 economics with q313's
    * auditability). */
  def ivfExactServeQueries(s: SparkSession, queries: DataFrame,
      embeddings: DataFrame, key: String, k: Int = 5, nprobe: Int = 2,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val table = materializedIvfExactIndex(s, embeddings, key, cells,
      iters)
    ivfExactServeFrames(queries, s.table(table),
      s.table(table + "_cents"), k, nprobe)
  }

  /** The probe + prune + exact-rank core over EXPLICIT index frames —
    * the catalog-table tier ([[ivfExactServeQueries]]) passes its
    * session tables; DurableArtifactsSpec passes the durable lake
    * index ([[ivfExactIndexDurable]]) to pin the two bit-identical. */
  private[graft] def ivfExactServeFrames(queries: DataFrame,
      vectors: DataFrame, cents: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val probed = ivfExactProbe(queries, cents, nprobe)
    val touched = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    ivfExactServe(probed,
      prunedToTouched(vectors, touched)
        .select(col("vec_id").as("neighbor_id"), col("cell"),
          col("embedding")), k)
  }

  /** Stream of query vectors → per-micro-batch
    * [[ivfExactServeQueries]] into idempotent per-batch parquet (the
    * q83/q145 stream-twin convention: the SAME transform runs batch
    * and stream; StreamingSpec pins stream == batch with
    * MemoryStream). Stateless — no watermark needed; the artifact is
    * the static side Spark re-plans per batch. */
  def ivfExactServedStream(s: SparkSession, queryStream: DataFrame,
      embeddings: DataFrame, key: String, path: String,
      checkpoint: String, k: Int = 5, nprobe: Int = 2, cells: Int = 8,
      iters: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.streaming.StreamingOps.writeBatchIdempotent(
          ivfExactServeQueries(s, batch, embeddings, key, k, nprobe,
            cells, iters),
          batchId, path))

  /** INCREMENTAL SemDeDup against the AT-REST exact index — the
    * nightly-ingest shape: a new-crawl slice dedups against the
    * at-rest base WITHOUT retraining the quantizer or rescanning the
    * base. The increment is the deterministic slice vec_id % 10 = 3
    * (the q163/q124 perturbation convention); the base (everything
    * else) is materialized once via [[materializedIvfExactIndex]].
    * Each new vector assigns to ONE cell under the index's broadcast
    * centroid sidecar (the q319 probe at nprobe=1), the base scan is
    * PARTITION-PRUNED to the touched cells, and the SemDeDup decision
    * — cos ≥ threshold against ANY base member of the cell, dup_of =
    * best match (max sim, ties to min base id) — joins
    * increment-vs-pruned-cells ONLY. At 100 TB the work scales with
    * the increment and the touched-cell fraction, never the base
    * (the q311/q319 serving economics applied to the semantic-dedup
    * DECISION). Same cross-cell recall trade as [[semDedup]]; seeds
    * are the base's first `cells` ids, so a seed id belonging to the
    * increment simply isn't a seed — both engines agree by
    * construction. Threshold 0.35 (the q320 convention: sits in an
    * empirical gap AND keeps the oracle-SF result non-trivial). */
  def semDedupIncremental(s: SparkSession, embeddings: DataFrame,
      key: String, threshold: Double = 0.35, cells: Int = 8,
      iters: Int = 2): DataFrame =
    semDedupAgainstIndex(s,
      embeddings.filter(pmod(col("vec_id"), lit(10L)) === 3)
        .select(col("vec_id"), col("embedding")),
      embeddings.filter(pmod(col("vec_id"), lit(10L)) =!= 3),
      key, threshold, cells, iters)

  /** [[semDedupIncremental]] on the DURABLE artifact — the registered
    * cold-start shape (q330): same slice convention, same decision
    * core, same oracle as q327; only the artifact's home differs (a
    * commit-marked lake dir instead of the exit-deleted temp tree),
    * so a re-run in a FRESH JVM serves instead of retraining. */
  def semDedupIncrementalDurable(s: SparkSession, embeddings: DataFrame,
      dir: String, threshold: Double = 0.35, cells: Int = 8,
      iters: Int = 2): DataFrame =
    semDedupAgainstIndexDurable(s,
      embeddings.filter(pmod(col("vec_id"), lit(10L)) === 3)
        .select(col("vec_id"), col("embedding")),
      embeddings.filter(pmod(col("vec_id"), lit(10L)) =!= 3),
      dir, threshold, cells, iters)

  /** The durable-artifact home for a given dataset dir — the
    * [[graft.Artifacts.durableDirFor]] convention keyed to the
    * embeddings table. */
  def ivfExactDurableDir(d: String): String =
    graft.Artifacts.durableDirFor("ivfx", d, "embeddings.parquet")

  /** The core of [[semDedupIncremental]] over an ARBITRARY frame of
    * new vectors — also the per-micro-batch transform of the
    * streaming twin ([[semDedupIncrementalStream]]): same artifact,
    * same probe, same decision, so stream == batch by construction. */
  def semDedupAgainstIndex(s: SparkSession, inc: DataFrame,
      base: DataFrame, key: String, threshold: Double = 0.35,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val table =
      materializedIvfExactIndex(s, base, key + "#incbase", cells, iters)
    semDedupDecide(inc, s.table(table), s.table(table + "_cents"),
      threshold)
  }

  /** [[semDedupAgainstIndex]] against the DURABLE index: the nightly
    * ingest as it actually runs across JOBS — tonight's JVM builds
    * (or finds) the committed base index at `dir` and dedups its
    * increment against partition-pruned cells; tomorrow's JVM reuses
    * the same artifact without retraining. Bit-identical to the
    * session tier by shared decision core (and both ride the same
    * q327 oracle — q330). */
  def semDedupAgainstIndexDurable(s: SparkSession, inc: DataFrame,
      base: DataFrame, dir: String, threshold: Double = 0.35,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val (vectors, cents) =
      ivfExactIndexDurable(s, base, dir, cells, iters)
    semDedupDecide(inc, vectors, cents, threshold)
  }

  /** APPEND new vectors to the durable exact index WITHOUT
    * retraining: each vector argmin-assigns under the artifact's
    * COMMITTED centroid sidecar — the identical assignment the serve
    * applies to queries — and lands as a commit-marked delta
    * ([[graft.Artifacts.appendDelta]]) partitioned by cell, so
    * (artifact + deltas) is ROW-IDENTICAL to the index rebuilt over
    * the union WITH THE ARTIFACT'S CENTROIDS (the frozen-quantizer
    * rebuild; spec-pinned). Appending never moves the centroids —
    * quantizer drift under appended mass is exactly what the
    * staleness card (q328) monitors, and the RETRAIN decision stays
    * with that gate: this is the nightly path, rebuild is the
    * gate-fired path. */
  def appendToIvfIndex(s: SparkSession, newVecs: DataFrame,
      dir: String, deltaName: String): String = {
    val canon = graft.Artifacts.canonical(dir)
    graft.Artifacts.appendDelta(s, canon, deltaName, "ivfxdelta|v1") {
      // read after appendDelta's committed-base guard
      val cents = s.read.parquet(s"$canon/cents")
      d => assignCellsExact(newVecs, cents).join(newVecs, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$d/t")
    }
  }

  /** COMPACT an exact index's accumulated deltas into a fresh durable
    * home: the centroid sidecar copies VERBATIM (the quantizer stays
    * frozen — no retrain, no re-assignment: every row already carries
    * its cell) and (base partitions ∪ every committed delta) rewrite
    * as one cell-partitioned table under `outDir`. Compaction reads
    * index rows only — the source corpus is never touched — and
    * serving from the compacted home is bit-identical to serving from
    * (index + deltas) (spec-pinned). Use it when the delta COUNT
    * outgrows what nightly serving should union while q328's
    * staleness card still says the quantizer is healthy; the
    * gate-fired RETRAIN remains the full-rebuild path. The old home
    * stays behind (source fingerprint still live — GC refuses it);
    * retire it explicitly once consumers move. */
  def compactIvfIndex(s: SparkSession, dir: String, outDir: String,
      cells: Int = 8, iters: Int = 2): String = {
    val stamp = s"ivfx|c=$cells|i=$iters"
    val canon = graft.Artifacts.compactionSource(dir, stamp)
    graft.Artifacts.durable(s, outDir, stamp) { d =>
      s.read.parquet(s"$canon/cents")
        .write.mode("overwrite").parquet(s"$d/cents")
      graft.Artifacts.withDeltas(s, canon, "t")
        .select(col("vec_id"), col("embedding"), col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$d/t")
    }
  }

  /** The (vectors, centroids) frames of a durable index PLUS all its
    * committed deltas — the serving side of the append path. A cell
    * filter pushes into every member scan: the base stays
    * partition-pruned, and each delta is increment-sized. */
  def ivfExactIndexAppended(s: SparkSession, base: => DataFrame,
      dir: String, cells: Int = 8, iters: Int = 2)
      : (DataFrame, DataFrame) = {
    val (vecs, cents) = ivfExactIndexDurable(s, base, dir, cells, iters)
    (graft.Artifacts.withDeltas(s, dir, "t", vecs), cents)
  }

  /** [[semDedupAgainstIndexDurable]] against (index + committed
    * deltas) — the decision core unchanged, candidates now include
    * appended members of the touched cells. */
  def semDedupAgainstAppendedIndex(s: SparkSession, inc: DataFrame,
      base: => DataFrame, dir: String, threshold: Double = 0.35,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val (vectors, cents) =
      ivfExactIndexAppended(s, base, dir, cells, iters)
    semDedupDecide(inc, vectors, cents, threshold)
  }

  /** q344's shape — one nightly maintenance cycle of the semantic
    * index: day-0 base (vec_id % 10 ∉ {3,4}) trained + materialized
    * durable, day-1 vectors (% 10 = 4) APPENDED under the frozen
    * centroids, day-2 increment (% 10 = 3) SemDeDup'd against the
    * appended index. The oracle trains on the day-0 slice and
    * argmin-assigns the UNION membership (% 10 <> 3) to those
    * centroids — the frozen-quantizer semantics stated in SQL
    * ([[semDedupAppendedChain]]). */
  def semDedupIncrementalAppended(s: SparkSession,
      embeddings: DataFrame, dir: String, threshold: Double = 0.35,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val base0 = e.filter(!pmod(col("vec_id"), lit(10L)).isin(3L, 4L))
    ivfExactIndexDurable(s, base0, dir, cells, iters)
    appendToIvfIndex(s,
      e.filter(pmod(col("vec_id"), lit(10L)) === 4), dir, "m4")
    semDedupAgainstAppendedIndex(s,
      e.filter(pmod(col("vec_id"), lit(10L)) === 3), base0, dir,
      threshold, cells, iters)
  }

  /** Durable home for the APPEND-cycle index (q342/q344): the day-0
    * %10∉{3,4} base is a DIFFERENT input than q330's %10<>3 base —
    * same knobs, different data must never share a durable dir. */
  def ivfExactAppendDurableDir(d: String): String =
    graft.Artifacts.durableDirFor("ivfx9", d, "embeddings.parquet")

  /** Durable home for the COMPACTED fold of the append-cycle index
    * (q348's day-3): convention-named so GC liveness parses it. */
  def ivfExactCompactDurableDir(d: String): String =
    graft.Artifacts.durableDirFor("ivfx9c", d, "embeddings.parquet")

  /** The assign + prune + best-match decision core over EXPLICIT
    * index frames — shared by the catalog and durable tiers.
    * private[graft]: the maintenance spec replays the
    * frozen-quantizer rebuild through it. */
  private[graft] def semDedupDecide(inc: DataFrame, vectors: DataFrame,
      cents: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignCellsExact(inc, cents)
    val touched = assigned.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scan = prunedToTouched(vectors, touched)
    val incE = withNorm(inc).join(assigned, "vec_id")
      .select(col("vec_id"), col("cell"),
        col("embedding").as("va"), col("nrm").as("na"))
    val baseE = withNorm(scan.select(col("vec_id").as("base_id"),
        col("cell"), col("embedding")))
      .select(col("cell"), col("base_id"),
        col("embedding").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("base_id"))
    val best = incE.join(baseE, Seq("cell"))
      .select(col("vec_id"), col("base_id"),
        cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb"))
          .as("sim"))
      .filter(col("sim") >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("base_id").as("dup_of"))
    assigned.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  /** INDEX-STALENESS monitor — the operational gate after each
    * incremental ingest ([[semDedupIncremental]]): has the new data
    * shifted the cell occupancy enough that the at-rest quantizer
    * should be retrained? Rebuilding a 100 TB index is the most
    * expensive operation in the serving stack; this card is the
    * number that gates it. Per cell (full outer over index cells ∪
    * increment cells): base/increment counts, the pre-ingest share,
    * the post-ingest share, and |drift|. Integers end to end until
    * three single IEEE divisions and one subtraction — hash-exact in
    * any engine. Base counts read ONLY the index table's partition
    * column; the increment assigns against the broadcast sidecar —
    * the monitor never touches vectors of the base. Same memo key as
    * q327, so monitoring and dedup share ONE artifact build. */
  def indexStaleness(s: SparkSession, embeddings: DataFrame,
      key: String, cells: Int = 8, iters: Int = 2): DataFrame = {
    val base = embeddings.filter(pmod(col("vec_id"), lit(10L)) =!= 3)
    val inc = embeddings.filter(pmod(col("vec_id"), lit(10L)) === 3)
      .select(col("vec_id"), col("embedding"))
    val table =
      materializedIvfExactIndex(s, base, key + "#incbase", cells, iters)
    val baseCounts = s.table(table).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"))
    val incCounts = assignCellsExact(inc, s.table(table + "_cents"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_inc"))
    val joined = baseCounts.join(incCounts, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_inc"), lit(0L)).as("n_inc"))
    val tot = joined.agg(sum(col("n_base")).as("tb"),
      sum(col("n_inc")).as("ti"))
    joined.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_base"), col("n_inc"),
        (col("n_base").cast("double") / col("tb").cast("double"))
          .as("share_base"),
        ((col("n_base") + col("n_inc")).cast("double") /
          (col("tb") + col("ti")).cast("double")).as("share_merged"))
      .withColumn("drift", abs(col("share_merged") - col("share_base")))
      .orderBy(col("cell"))
  }

  /** Stream of new crawl vectors → per-micro-batch
    * [[semDedupAgainstIndex]] into idempotent per-batch parquet —
    * the nightly ingest run CONTINUOUSLY (the q83/q145 stream-twin
    * convention; the exact transform the batch tier runs, so
    * StreamingSpec's stream == batch pin is by construction).
    * Stateless: the at-rest index is the static side Spark re-plans
    * per batch; each batch reads O(touched cells) of the base. */
  def semDedupIncrementalStream(s: SparkSession, vecStream: DataFrame,
      base: DataFrame, key: String, path: String, checkpoint: String,
      threshold: Double = 0.35, cells: Int = 8, iters: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.streaming.StreamingOps.writeBatchIdempotent(
          semDedupAgainstIndex(s, batch, base, key, threshold, cells,
            iters),
          batchId, path))

  /** Per-label embedding centroids (class prototypes — the reduction
    * behind nearest-class-mean classification, IVF cell refresh, and
    * per-cluster drift monitoring), accumulated EXACTLY: each float
    * routes through its shortest decimal representation into
    * DECIMAL(18,12) (float32's shortest repr carries <= 12 fractional
    * digits, so the parse is lossless and engine-independent — unlike
    * a direct float->decimal cast, where engines disagree on whether
    * the BINARY value or its printed form is rounded), the sum is
    * associative decimal arithmetic, and only the final mean is one
    * correctly-rounded double division. Order-independent, so partial
    * aggregation stays enabled.
    *
    * Scale: one explode to (rows x dim), one groupBy(label, pos) that
    * partial-aggregates map-side down to |labels| x dim rows — the
    * shuffle carries only per-task partials, never vectors. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        col("col").cast("string").cast("decimal(18,12)").as("v"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("v")).cast("string").cast("double") / count(lit(1)))
          .as("centroid"))
      .orderBy(col("label"), col("pos"))

  /** Embedding DISPERSION card — mean pairwise dot product per label
    * WITHOUT the pair join, via the sum-vector identity
    * Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖². A tight (redundant, mirror-farm)
    * cluster reads high, a topically diverse one reads low — the
    * per-source/per-class diversity diagnostic read before deciding
    * whether a feed adds breadth or copies (the embedding-space
    * complement to q237's gram-overlap matrix), at the cost of two
    * partial aggregates instead of C(n,2) pairs.
    *
    * Exactness: components and their squares accumulate as exact
    * decimals (the q139 shortest-decimal device; v² at DECIMAL(37,24)
    * is lossless for float inputs), each per-label sum collapses to a
    * double once via the engine-independent string cast, and ‖S‖² is
    * a pos-ordered left fold from a 0.0 seed — the identical IEEE add
    * chain DuckDB states with list_reduce. Final stats are one
    * fixed-shape double expression.
    *
    * Scale: one explode to (rows × dim) partial-aggregated map-side
    * to |labels| × dim rows; the label rollup touches |labels| × dim
    * rows. NO pair join, NO window — the shuffle never carries
    * vectors, and cost is linear in corpus size at any label count. */
  def dispersionCard(emb: DataFrame): DataFrame = {
    val parts = emb.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        col("col").cast("string").cast("decimal(18,12)").as("v"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
    val perLabel = parts
      .select(col("label"), col("pos"), col("n"),
        col("s").cast("string").cast("double").as("sd"), col("ss"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        expr("transform(array_sort(collect_list(struct(pos, sd)))," +
          " x -> x.sd)").as("svec"),
        sum(col("ss")).cast("string").cast("double").as("ssq"))
    val snorm2 = aggregate(col("svec"), lit(0.0), (acc, x) => acc + x * x)
    perLabel
      .select(col("label"), col("n_vecs"), snorm2.as("snorm2"), col("ssq"),
        when(col("n_vecs") > 1,
          (snorm2 - col("ssq")) / (col("n_vecs").cast("double") *
            (col("n_vecs") - lit(1)).cast("double"))).as("mean_pair_dot"),
        (col("ssq") / col("n_vecs").cast("double")).as("mean_norm2"))
      .orderBy(col("label"))
  }

  /** Per-label centroid DRIFT between two corpus snapshots — q163's
    * ingest-monitoring gate moved to embedding space: has a class /
    * source's semantic center MOVED between the base corpus and the
    * fresh snapshot (a feed that changed topic, an embedding-model
    * version skew, a poisoned crawl)? Snapshot split is the
    * deterministic vec_id parity (the q265 side convention); per side
    * the exact decimal centroid ([[labelCentroids]]), then cosine
    * between the two centroid vectors plus the squared L2 shift —
    * both as pos-ordered seeded left folds (the identical IEEE chain
    * DuckDB states with list_reduce), one fixed-shape final
    * expression each.
    *
    * Scale: two |labels|×dim partial-aggregate rollups and a
    * |labels|-row join — corpus vectors never shuffle, output is
    * model-sized, and the "snapshots" generalize to any two frames
    * (base table vs increment) since the split is just a filter. */
  def centroidDrift(emb: DataFrame): DataFrame = {
    def sideVecs(f: Column, nName: String, vName: String): DataFrame =
      labelCentroids(emb.filter(f))
        .groupBy(col("label"))
        .agg(max(col("n_vecs")).as(nName),
          expr("transform(array_sort(collect_list(struct(pos, centroid)))," +
            " x -> x.centroid)").as(vName))
    val base = sideVecs(pmod(col("vec_id"), lit(2)) === 0, "n_base", "bvec")
    val snap = sideVecs(pmod(col("vec_id"), lit(2)) === 1, "n_snap", "svec")
    def fold(pairs: Column) = aggregate(pairs, lit(0.0), (acc, x) => acc + x)
    val dotBS = fold(zip_with(col("bvec"), col("svec"), (x, y) => x * y))
    val n2b = fold(zip_with(col("bvec"), col("bvec"), (x, y) => x * y))
    val n2s = fold(zip_with(col("svec"), col("svec"), (x, y) => x * y))
    val shift2 = fold(zip_with(col("bvec"), col("svec"), (x, y) => {
      val d = x - y
      d * d
    }))
    base.join(snap, "label")
      .select(col("label"), col("n_base"), col("n_snap"),
        (dotBS / (sqrt(n2b) * sqrt(n2s))).as("cos_sim"),
        shift2.as("shift2"))
      .orderBy(col("label"))
  }

  /** Nearest-centroid classification — assign every vector to the
    * closest [[labelCentroids]] prototype (squared L2), the semantic-
    * tagging / cluster-assignment pass of a curation pipeline and the
    * probe step of IVF. The centroid table collapses to |labels| rows
    * of dim-sorted arrays and BROADCASTS; the corpus is scanned once,
    * each row computing |labels| fold-ordered distances row-locally —
    * vectors never shuffle, so the plan is scan-shaped at any corpus
    * size. The argmin is min(struct(dist2, label)): partial-
    * aggregatable, ties (none in practice) break to the smaller
    * label, matching the oracle's (dist2, label) window order. */
  def nearestCentroid(emb: DataFrame): DataFrame = {
    val cents = labelCentroids(emb)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, centroid)))," +
        " x -> x.centroid)").as("cvec"))
    val dist2 = aggregate(
      zip_with(col("embedding"), col("cvec"), (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label").as("true_label"),
        col("c_label"), dist2.as("dist2"))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(min(struct(col("dist2"), col("c_label"))).as("m"))
      .select(col("vec_id"), col("true_label"),
        col("m.c_label").as("pred_label"), col("m.dist2").as("dist2"))
      .orderBy(col("vec_id"))
  }

  /** Centroid-distance OUTLIER screen — every vector's squared L2 to
    * its OWN label's exact centroid, gated at the per-label p95: the
    * embedding-space anomaly detector (the off-topic page inside a
    * feed, the mislabeled cluster member) that a curation pass runs
    * before trusting per-source embedding statistics. Rank-based
    * gate on purpose: a mean+k·σ cut would need a cross-row float
    * sum (order-dependent); the p95 is an ORDER STATISTIC computed by
    * the distributed exact-quantile machinery (counts + distributed
    * rank, q89's bitwise-`quantile_cont` precedent) — no global
    * window, no float accumulation, hash-exact.
    *
    * Scale: centroids collapse to a broadcast |labels|×dim model
    * (q139), dist2 is a row-local codegen fold (vectors never
    * shuffle), the quantile pass shuffles (label, dist2) value counts
    * partial-aggregated map-side, and the thresholds return as a
    * |labels|-sized literal map. */
  def centroidOutliers(emb: DataFrame, p: Double = 0.95): DataFrame = {
    val cents = labelCentroids(emb)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, centroid)))," +
        " x -> x.centroid)").as("cvec"))
    val dist2 = aggregate(
      zip_with(col("embedding"), col("cvec"), (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    val scored = emb.join(broadcast(cents), col("label") === col("c_label"))
      .select(col("vec_id"), col("label"), dist2.as("dist2"))
    val thr = Describe.groupedExactQuantiles(scored, "label",
      Seq("dist2"), Seq(p)).map { case ((g, _), v) => g -> v.head }
    val thrExpr = try_element_at(
      map(thr.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[Column]
      }: _*), col("label").cast("string"))
    scored
      .select(col("vec_id"), col("label"), col("dist2"),
        thrExpr.as("p95"), (col("dist2") > thrExpr).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** Cluster SEPARATION card (Dunn 1974's ratio idea in its
    * order-statistic form) — per label: the MEDIAN squared distance
    * to the own exact centroid (cohesion), the nearest OTHER centroid
    * with its squared distance (separation), and the separation/
    * cohesion ratio. The pre-flight audit before trusting a labeling
    * or k-means partition for SemDeDup/curation decisions: ratio ≫ 1
    * = clusters are tight and far apart; ratio ≲ 1 = the partition's
    * internal spread swallows the gap (don't route dedup through it).
    * Complements q276 (outliers WITHIN a label) and q284 (the graph
    * twin of this card).
    *
    * Exactness: the q276 recipe end to end — decimal-exact centroids
    * (q139), row-local left-fold dist², cohesion as an ORDER
    * STATISTIC (p50 via the distributed exact-quantile machinery, no
    * cross-row float sum anywhere), separation as a \|labels\|²
    * row-local fold with a min(struct) argmin, ratio ONE division.
    *
    * Scale: centroids collapse to a broadcast \|labels\|×dim model,
    * the quantile pass shuffles (label, dist2) value counts partial-
    * aggregated map-side, the centroid-pair matrix is \|labels\|²
    * driver-free rows. Vectors never shuffle. */
  def clusterSeparation(emb: DataFrame): DataFrame = {
    val cents = labelCentroids(emb)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, centroid)))," +
        " x -> x.centroid)").as("cvec"))
      .localCheckpoint(false)
    val dist2 = aggregate(
      zip_with(col("embedding"), col("cvec"), (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    val scored = emb.join(broadcast(cents), col("label") === col("c_label"))
      .select(col("vec_id"), col("label"), dist2.as("dist2"))
    val med = Describe.groupedExactQuantiles(scored, "label",
      Seq("dist2"), Seq(0.5)).map { case ((g, _), v) => g -> v.head }
    val medExpr = try_element_at(
      map(med.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[Column]
      }: _*), col("label").cast("string"))
    val cd2 = aggregate(
      zip_with(col("a.cvec"), col("b.cvec"), (x, y) => {
        val d = x - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    val sep = cents.as("a")
      .join(cents.as("b"), col("a.c_label") =!= col("b.c_label"))
      .select(col("a.c_label").as("label"), cd2.as("cd2"),
        col("b.c_label").as("other"))
      .groupBy(col("label"))
      .agg(min(struct(col("cd2"), col("other"))).as("m"))
      .select(col("label"), col("m.other").as("nearest_label"),
        col("m.cd2").as("separation"))
    scored.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(sep, Seq("label"))
      .select(col("label"), col("n_vecs"), medExpr.as("cohesion_med"),
        col("nearest_label"), col("separation"),
        (col("separation") / medExpr).as("ratio"))
      .orderBy(col("label"))
  }

  /** CLUSTER-ADJACENT training order — in-context pretraining's data
    * layout (Shi et al. 2023, arXiv:2310.10638: place related
    * documents in the same context window so cross-document reasoning
    * has something to attend to): every vector is assigned to its
    * nearest [[labelCentroids]] prototype, and the global reading
    * order concatenates clusters (epoch-seeded hash order inside each
    * cluster) — the exact OPPOSITE layout of q238's source
    * interleaving, built from the same machinery. A trainer reading
    * positions in order sees one semantic neighborhood at a time.
    *
    * The naive statement is `row_number() OVER (ORDER BY cluster,
    * md5(seed||id), id)` — a global single-reducer sort, stated
    * verbatim in the oracle and avoided here: per-(cluster, hex-byte
    * shard) local ranks + two broadcast prefix tables (≤256 rows per
    * cluster for shard offsets, |clusters| rows for cluster bases).
    * Every window is PARTITIONED; shuffle cost is the assignment's
    * |labels|×dim rollup plus two tiny count rollups. */
  def clusterAdjacentOrder(emb: DataFrame, epoch: Int = 0): DataFrame = {
    val assign = nearestCentroid(emb)
      .select(col("vec_id"), col("pred_label").as("cluster"))
    val sharded = assign
      .withColumn("k", md5(concat(lit(s"sem$epoch:"),
        col("vec_id").cast("string"))))
      .withColumn("shard_id", conv(substring(col("k"), 1, 2), 16, 10)
        .cast("int"))
    val wLocal = Window.partitionBy(col("cluster"), col("shard_id"))
      .orderBy(col("k"), col("vec_id"))
    val wOff = Window.partitionBy(col("cluster")).orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("cluster"), col("shard_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("cluster"), col("shard_id"),
        coalesce(sum(col("n")).over(wOff), lit(0L)).as("off"))
    val ranked = sharded
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("cluster", "shard_id"))
      .select(col("vec_id"), col("cluster"),
        (col("local_rn") + col("off") - 1).as("c_rank"))
    // cluster-base offsets as ONE broadcast sorted struct array folded
    // row-locally (q238's device) — no unpartitioned window anywhere
    val sizes = ranked.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .agg(sort_array(collect_list(struct(col("cluster").as("c"),
        col("n").as("n")))).as("sz"))
    ranked.crossJoin(broadcast(sizes))
      .select(col("vec_id"), col("cluster"),
        (aggregate(col("sz"), lit(0L), (acc, x) =>
          acc + when(x.getField("c") < col("cluster"), x.getField("n"))
            .otherwise(lit(0L))) + col("c_rank") + 1).as("pos"))
      .orderBy(col("vec_id"))
  }

  /** Per-vertex triangle counts on the similarity graph — the classic
    * distributed graph primitive (clustering coefficient, community
    * density; Suri & Vassilvitskii 2011, WWW, is the MapReduce
    * treatment). Edges are canonically oriented d1 < d2, so each
    * triangle materializes exactly once as (a<b<c): one self-join
    * extends a→b with b→c wedges, one more confirms the closing a→c
    * edge — both equi-joins on vertex keys, no cartesian anywhere.
    * At 100 TB orient edges by DEGREE instead of id (same algebra,
    * bounds wedge fan-out by sqrt(m)) and the joins bucket on vertex. */
  def triangleCounts(embeddings: DataFrame,
      threshold: Double = 0.3): DataFrame = {
    val e = similarPairs(embeddings, threshold).select(col("d1"), col("d2"))
    val tri = e.alias("ab")
      .join(e.alias("bc"), col("ab.d2") === col("bc.d1"))
      .join(e.alias("ac"),
        col("ac.d1") === col("ab.d1") && col("ac.d2") === col("bc.d2"))
      .select(col("ab.d1").as("a"), col("ab.d2").as("b"),
        col("bc.d2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("vec_id"))
  }

  /** Slice the corpus into (vec_id, sub, subvector) rows — the long
    * layout every PQ stage shares. */
  private def pqSubvectors(embeddings: DataFrame, m: Int): DataFrame = {
    val dsub = Dim / m
    embeddings.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${m - 1}), s -> struct(" +
        s"CAST(s AS INT) AS sub, " +
        s"slice(embedding, s*$dsub + 1, $dsub) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
  }

  /** Squared L2 between a float subvector and a double centroid. */
  private def subDist2(sv: Column, centroid: Column): Column =
    aggregate(
      zip_with(sv, centroid, (x, y) => {
        val d = x.cast("double") - y; d * d
      }),
      lit(0.0), (acc, t) => acc + t)

  /** Nearest codebook cell per (vector, subspace): argmin by
    * (dist2, cell) — total and deterministic. */
  def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame =
    pqAssignSv(subs, codebook)
      .select(col("vec_id"), col("sub"), col("cell"))

  /** [[pqAssign]] retaining the subvector column. The codebook rolls
    * up to ONE per-sub centroid array (m rows, broadcast), so the
    * assignment is a NARROW per-row argmin inside codegen —
    * `array_min(struct(d2, cell))` reproduces the old
    * `min_by(cell, struct(d2, cell))` tie-break bit-for-bit — instead
    * of an n·m·ksub row explosion through a (vec_id, sub)-keyed
    * shuffle per Lloyd round. Keeping `sv` on the row also lets the
    * training update read member subvectors without re-joining the
    * subs frame. */
  private def pqAssignSv(subs: DataFrame, codebook: DataFrame): DataFrame = {
    val spark = subs.sparkSession
    // r17: the per-sub cells rollup runs on the DRIVER over the
    // model-sized codebook (m·ksub rows) and re-enters as a
    // LocalRelation — the old in-plan groupBy(sub)+collect_list made
    // every broadcast build a scheduled job (one per Lloyd round).
    // Sorting by (cell) reproduces array_sort(collect_list(struct(
    // cell, centroid))) exactly: cell is unique within sub, so the
    // struct sort ordered by cell alone.
    val cbRows = codebook.select(col("sub"), col("cell"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    import org.apache.spark.sql.types._
    val cellT = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid",
        ArrayType(DoubleType, containsNull = false), nullable = false)))
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cells",
        ArrayType(cellT, containsNull = false), nullable = false)))
    val data: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList()
    cbRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (s, cs) =>
      data.add(org.apache.spark.sql.Row(s,
        cs.sortBy(_._2).map(c => org.apache.spark.sql.Row(c._2, c._3)).toSeq))
    }
    val cells = spark.createDataFrame(data, schema)
    subs.join(broadcast(cells), "sub")
      .select(col("vec_id"), col("sub"), col("sv"),
        array_min(transform(col("cells"), c =>
          struct(subDist2(col("sv"), c.getField("centroid")).as("d2"),
            c.getField("cell").as("cell"))))
          .getField("cell").as("cell"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011, TPAMI 33(1),
    * "Product Quantization for Nearest Neighbor Search"): the vector
    * space splits into `m` subspaces of Dim/m dims; each subspace gets
    * its own `ksub`-centroid L2 k-means codebook. A vector then
    * compresses to m small codes (m bytes at ksub=256; here 16 cells
    * keep the demo readable) — 64·4 bytes -> m bytes, the standard
    * billion-scale ANN memory layout.
    *
    * All m subspaces train in the SAME Lloyd rounds: one exploded
    * (vec_id, sub, subvector) frame, one broadcast-join argmin
    * assignment, one (sub, cell, pos)-keyed recenter — per-round cost
    * is a constant number of corpus passes regardless of m. Between
    * rounds only m·ksub·(Dim/m) = Dim·ksub doubles collect (model
    * parameters, the [[kmeansCentroids]] class), which also truncates
    * the iteration lineage. Seeds are the first ksub vectors' slices
    * (deterministic). */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 3): DataFrame =
    pqTrain(embeddings, m, ksub, iters, x => avg(x))

  /** ORACLE-REPLAYABLE PQ codebooks — q313's decimal-Lloyd device
    * applied PER SUBSPACE (the round-12 verdict's last
    * k-means-dependent rows-only family, closed): identical rounds to
    * [[pqCodebooks]] (same seeds, same fixed-fold L2 argmin with ties
    * to the smallest cell) but re-centered through the q139
    * shortest-decimal device (float → VARCHAR → DECIMAL(18,12) sums,
    * order-independent, ONE correctly-rounded double division), so
    * every round's m×ksub centroids — and therefore every code —
    * replay bit-for-bit in DuckDB as unrolled CTEs. [[pqCodebooks]]'
    * float mean keeps the production role (cheaper, partial-aggregates
    * without the decimal detour); THIS tier is the auditable one. */
  def pqCodebooksExact(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 3): DataFrame =
    pqTrain(embeddings, m, ksub, iters,
      x => sum(x.cast("string").cast("decimal(18,12)"))
        .cast("string").cast("double") / count(lit(1)))

  /** The Lloyd rounds shared by [[pqCodebooks]] (float `avg` mean)
    * and [[pqCodebooksExact]] (q139 decimal mean) — only the
    * re-center aggregate differs, so the two tiers cannot drift in
    * seeding, assignment or round structure.
    *
    * r17 (guide §2.3/§1.2): the re-center is ONE (sub, cell)-keyed
    * aggregation with dsub per-position mean accumulators instead of
    * posexplode + groupBy(sub, cell, pos) + collect_list re-assembly —
    * one exchange per round instead of two, and the dsub× row
    * amplification never leaves the map side. Float-tier values are
    * bit-identical (same additions in the same row order per
    * position, same partition merge order; proven by a full Verify
    * output diff, r17); the decimal tier is order-independent by
    * construction. */
  private def pqTrain(embeddings: DataFrame, m: Int, ksub: Int,
      iters: Int, mean: Column => Column): DataFrame = {
    val spark = embeddings.sparkSession
    val dsub = Dim / m
    val subs = pqSubvectors(embeddings, m).persist()
    // r17: the codebook lives as DRIVER rows between rounds (the
    // kmeansCentroidsExact discipline) and re-enters the plan as a
    // true LocalRelation — the per-round broadcast then collects
    // driver-locally instead of scheduling one job per round to
    // evaluate an explode-over-literals plan. Seeds collect once.
    var cbRows: Seq[(Int, Int, collection.Seq[Double])] =
      subs.filter(col("vec_id") < ksub)
        .select(col("sub"), col("vec_id").cast("int").as("cell"),
          transform(col("sv"), x => x.cast("double")).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    for (_ <- 1 to iters) {
      cbRows = pqAssignSv(subs, cbLocal(spark, cbRows))
        .groupBy(col("sub"), col("cell"))
        .agg(array((0 until dsub).map(i =>
          mean(col("sv").getItem(i))): _*).as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    }
    subs.unpersist(false)
    cbLocal(spark, cbRows)
  }

  /** (sub, cell, centroid) codebook rows as a true LocalRelation —
    * broadcasting (or collecting) it is driver-local, no scheduled
    * job. Row order is irrelevant downstream (set semantics keyed on
    * (sub, cell)); sorted for determinism anyway. */
  private def cbLocal(spark: SparkSession,
      rows: Seq[(Int, Int, collection.Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid",
        ArrayType(DoubleType, containsNull = false), nullable = false)))
    val data: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList(rows.size)
    rows.sortBy(r => (r._1, r._2)).foreach { r =>
      data.add(org.apache.spark.sql.Row(r._1, r._2, r._3))
    }
    spark.createDataFrame(data, schema)
  }

  /** PQ-encode the corpus: each vector as its m-code word (CSV string
    * so the harness can sort scalar rows). 4·Dim bytes -> m codes per
    * vector; at 100 TB the codes column plus the m·ksub codebook IS
    * the searchable index, and the raw vectors page in only for
    * reranking. */
  def pqCodes(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 3): DataFrame =
    pqCodesWith(pqCodebooks(embeddings, m, ksub, iters), embeddings, m)

  /** [[pqCodes]] over the [[pqCodebooksExact]] quantizer — HASH-EXACT
    * against the oracle's unrolled per-subspace Lloyd CTEs: the PQ
    * ENCODING tier leaves rows-only (the q313/q314 precedent for the
    * last k-means-dependent family). */
  def pqCodesExact(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 3): DataFrame =
    pqCodesWith(pqCodebooksExact(embeddings, m, ksub, iters),
      embeddings, m)

  private def pqCodesWith(cb: DataFrame, embeddings: DataFrame,
      m: Int): DataFrame =
    pqAssign(pqSubvectors(embeddings, m), cb)
      .groupBy(col("vec_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        s => s.getField("cell").cast("string")), ",").as("codes"))
      .orderBy(col("vec_id"))

  /** Asymmetric-distance (ADC) top-k with exact rerank: each query
    * precomputes an m × ksub distance TABLE against the codebook
    * (model-sized, broadcast); a corpus vector's approximate distance
    * is then m table lookups summed — the corpus is scanned as CODES,
    * never as vectors. The `rerank·k` best ADC candidates then pull
    * their raw vectors for an exact L2 pass (the [[annRandomHyperplane]]
    * shortlist-then-verify tier — only the shortlist ever touches
    * full vectors). The per-(query, vector) ADC sum folds over the
    * sub-sorted contribution list so results are run-deterministic
    * (q127 pattern); ties and the final order break on neighbor_id. */
  def pqAdcTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      rerank: Int = 4): DataFrame =
    pqAdcTopKWith(pqCodebooks(embeddings, m, ksub, iters), embeddings,
      nQueries, k, m, rerank)

  /** [[pqAdcTopK]] over the [[pqCodebooksExact]] quantizer —
    * HASH-EXACT: the distance TABLES, the sub-sorted ADC fold, the
    * shortlist ranking and the exact rerank all replay in SQL over
    * the oracle's decimal codebooks, taking the FAISS ADC serving
    * shape itself out of rows-only. */
  def pqAdcTopKExact(embeddings: DataFrame, nQueries: Int = 10,
      k: Int = 5, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      rerank: Int = 4): DataFrame =
    pqAdcTopKWith(pqCodebooksExact(embeddings, m, ksub, iters),
      embeddings, nQueries, k, m, rerank)

  private def pqAdcTopKWith(cb: DataFrame, embeddings: DataFrame,
      nQueries: Int, k: Int, m: Int, rerank: Int): DataFrame = {
    val codes = pqAssign(pqSubvectors(embeddings, m), cb)
    val table = pqSubvectors(
        embeddings.filter(col("vec_id") < nQueries), m)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("cell"),
        subDist2(col("sv"), col("centroid")).as("d2"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = codes.join(broadcast(table), Seq("sub", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("sub"), col("d2")))),
        lit(0.0), (acc, x) => acc + x.getField("d2")).as("adist"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerank)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("neighbor_id"))
    shortlist
      .join(embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .join(broadcast(embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        subDist2(col("nv"), transform(col("qv"),
          x => x.cast("double"))).as("d2"))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("d2"), col("adist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** PageRank over the similarity graph — the iterative-graph flagship
    * next to [[triangleCounts]] (one-shot) and [[Dedup.dupClusters]]
    * (convergence-driven): fixed `iters` damped rounds of
    * pr(v) = (1-d)/N + d · Σ_{u~v} pr(u)/deg(u) on the undirected
    * cosine graph at `threshold`. Every node on the graph has degree
    * ≥ 1 (edges are symmetrized pairs), so there are no dangling
    * nodes and mass is conserved by construction.
    *
    * Each round is one equi-join (edges ⨝ ranks on src) + one
    * dst-keyed aggregate, checkpointed lazily (the [[Iterate]] round
    * discipline). The neighbor sum is a 0.0-seeded fold over the
    * src-SORTED contribution list — float addition is order-dependent,
    * and pinning the order is what makes the result bit-identical to
    * the DuckDB oracle's identical fold (the q127/q140 determinism
    * pattern). At 100 TB you would trade that pin for a plain `sum`
    * (partial-aggregatable, map-side combine) and accept 1-ulp run
    * variance; the fold tier is the oracle-exact proof of the
    * algebra. Per-node state is degree-bounded, shuffles are edge-
    * sized — the standard distributed PageRank budget. */
  def pageRank(embeddings: DataFrame, threshold: Double = 0.3,
      iters: Int = 3, damping: Double = 0.85): DataFrame =
    pageRankRun(embeddings, threshold, damping, Iterate.Fixed(iters)).state

  /** [[pageRank]] in any [[Iterate]] mode. */
  private[graft] def pageRankRun(embeddings: DataFrame, threshold: Double,
      damping: Double, mode: Iterate.Mode[DataFrame])
      : Iterate.Result[DataFrame] = {
    val edges = symmetricEdges(similarPairs(embeddings, threshold))
    // the n-count below pins the shared withDeg frame first, so the
    // lazy rounds read its cache
    val withDeg = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(false)
    val n = withDeg.select(col("src")).distinct().count()
    val pr0 = withDeg.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1.0 / n).as("pr"))
      .localCheckpoint(false)
    Iterate(pr0, mode) { pr =>
      withDeg.join(pr, withDeg("src") === pr("id"))
        .select(col("dst"), col("src"),
          (col("pr") / col("deg")).as("contrib"))
        .groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("s"))
        .select(col("dst").as("id"),
          (lit((1.0 - damping) / n) + lit(damping) * col("s")).as("pr"))
        .localCheckpoint(false)
    }.map(_.select(col("id").as("vec_id"), col("pr").as("pagerank"))
      .orderBy(col("vec_id")))
  }

  /** Both directions of each (d1, d2) pair as (src, dst): the edge
    * list every graph operator here walks. Callers choose its
    * checkpoint. */
  private[graft] def symmetricEdges(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("d1"), col("d2"))
    p.union(p.select(col("d2"), col("d1"))).toDF("src", "dst")
  }

  /** Multi-source BFS hop distances on the similarity graph — the
    * "how far is everything from my seed set" primitive (taxonomy
    * expansion from labeled seeds, contamination blast-radius,
    * crawl-frontier depth). Classic frontier relaxation: dist₀ =
    * {seed → 0}, each round joins the current distances to the edge
    * list and keeps the per-node minimum — after r rounds dist(v) =
    * length of the shortest walk ≤ r, so `maxHops` rounds compute
    * exact BFS distances truncated at maxHops (unreached nodes are
    * absent, both engines). All-integer arithmetic: hash-exact
    * against a recursive-CTE oracle with no float caveats at all.
    *
    * Scale: the O(n²) pair join materializes ONCE (localCheckpoint)
    * and each round is one [[bfsRelax]] — frontier-paced, edge-sized
    * shuffles (the [[Iterate]] round discipline). At 100 TB the edge
    * list is the persisted similarity-graph artifact and rounds run
    * on it unchanged. */
  def bfsHops(embeddings: DataFrame, threshold: Double = 0.3,
      nSources: Int = 3, maxHops: Int = 4): DataFrame =
    bfsHopsRun(embeddings, threshold, nSources, Iterate.Fixed(maxHops))
      .state

  /** [[bfsHops]] in any [[Iterate]] mode. */
  private[graft] def bfsHopsRun(embeddings: DataFrame, threshold: Double,
      nSources: Int, mode: Iterate.Mode[DataFrame])
      : Iterate.Result[DataFrame] = {
    val edges = symmetricEdges(similarPairs(embeddings, threshold))
      .localCheckpoint(false)
    val dist = embeddings.filter(col("vec_id") < nSources)
      .select(col("vec_id").as("id"), lit(0L).as("hops"))
      .localCheckpoint(false)
    Iterate(dist, mode)(bfsRelax(edges, "id", eager = false))
      .map(_.select(col("id").as("vec_id"), col("hops"))
        .orderBy(col("vec_id")))
  }

  /** One BFS relaxation round over (`id`, hops) distances: one edge
    * equi-join on src + one min groupBy, checkpointed `eager`ly or
    * lazily (see [[Iterate]]). Shared by [[bfsHops]] and
    * [[CorpusSignals.contaminationBlastRadius]]. */
  private[graft] def bfsRelax(edges: DataFrame, id: String,
      eager: Boolean)(dist: DataFrame): DataFrame =
    dist.join(edges, dist(id) === edges("src"))
      .select(col("dst").as(id), (col("hops") + 1L).as("hops"))
      .union(dist)
      .groupBy(col(id)).agg(min(col("hops")).as("hops"))
      .localCheckpoint(eager)

  /** k-core decomposition by degree peeling — the graph-mining density
    * filter (Seidman 1983): repeatedly delete nodes of degree < k
    * until every survivor has ≥ k neighbors AMONG SURVIVORS. On the
    * similarity graph the k-core is the "dense near-dup neighborhood"
    * detector — nodes a near-dup cluster-collapse would keep pruning,
    * vs. degree-1 hangers-on that a plain threshold keeps.
    *
    * `rounds` peel rounds are run unconditionally (each is a no-op
    * once converged), so the operator is a pure function of
    * (graph, k, rounds) and the oracle can unroll the identical
    * recurrence round by round — the [[CorpusSignals.bpeTrainMerges]]
    * fixed-round discipline. rounds ≥ graph diameter-ish suffices in
    * practice; a planted chain in the spec needs every round. Output
    * is each surviving node with its degree inside the final core.
    *
    * Scale: each round is one degree aggregate + two semi joins, all
    * keyed on node id — edge-sized shuffles, no global state, and the
    * edge set only shrinks. Rounds checkpoint lazily (the [[Iterate]]
    * round discipline). */
  def kCore(embeddings: DataFrame, threshold: Double = 0.3,
      k: Int = 2, rounds: Int = 4): DataFrame =
    kCoreRun(embeddings, threshold, k, Iterate.Fixed(rounds)).state

  /** [[kCore]] in any [[Iterate]] mode. */
  private[graft] def kCoreRun(embeddings: DataFrame, threshold: Double,
      k: Int, mode: Iterate.Mode[DataFrame]): Iterate.Result[DataFrame] = {
    val edges = symmetricEdges(similarPairs(embeddings, threshold))
      .localCheckpoint(false)
    Iterate(edges, mode) { edges =>
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      edges
        .join(keep, edges("src") === keep("id"), "left_semi")
        .join(keep, edges("dst") === keep("id"), "left_semi")
        .localCheckpoint(false)
    }.map(_.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
      .select(col("src").as("vec_id"), col("core_degree"))
      .orderBy(col("vec_id")))
  }

  /** Label-propagation COMMUNITIES on the similarity graph (Raghavan
    * 2007, made deterministic): labels start as node ids; each
    * synchronous round every node adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label — the
    * linear-time community detector that needs no cluster count,
    * complementing [[Dedup.dupClusters]] (connectivity = one
    * community) with density-based splits of connected regions.
    * Fixed `rounds` keeps it a pure function of (graph, rounds) so
    * the oracle unrolls the identical recurrence (the [[kCore]]
    * discipline); all-integer algebra, hash-exact with no float
    * caveats.
    *
    * Scale: each round is one edge equi-join + a (node, label)-keyed
    * count (map-side combinable) + a partial-aggregatable
    * min(struct(−cnt, label)) argmax — edge-sized shuffles, no
    * window (the [[Iterate]] round discipline). */
  def labelPropagation(embeddings: DataFrame, threshold: Double = 0.3,
      rounds: Int = 3): DataFrame =
    labelPropagationRun(embeddings, threshold, Iterate.Fixed(rounds)).state

  /** [[labelPropagation]] in any [[Iterate]] mode. Synchronous LPA
    * can 2-cycle (Raghavan 2007 §3), which an [[Iterate.UntilPair]]
    * test catches against the round before last. */
  private[graft] def labelPropagationRun(embeddings: DataFrame,
      threshold: Double, mode: Iterate.Mode[DataFrame])
      : Iterate.Result[DataFrame] =
    lpaLabels(symmetricEdges(similarPairs(embeddings, threshold))
      .localCheckpoint(false), mode)
      .map(_.select(col("id").as("vec_id"), col("label").as("community"))
        .orderBy(col("vec_id")))

  /** The LPA recurrence over an ALREADY-materializable edge frame —
    * shared by [[labelPropagation]] and [[communityModularity]] so
    * the quality card reuses the detector's edge checkpoint instead
    * of paying the similarity pair join twice. */
  private def lpaLabels(edges: DataFrame, mode: Iterate.Mode[DataFrame])
      : Iterate.Result[DataFrame] = {
    val labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(false)
    Iterate(labels, mode) { labels =>
      edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("b"))
        .select(col("src").as("id"), col("b.l").as("label"))
        .localCheckpoint(false)
    }
  }

  /** The unrolled CTE chain of [[labelPropagation]] ending in
    * `l$rounds` — ONE literal shared by the q226 oracle and the q284
    * modularity oracle (the q156/q209 shared-closure convention, so
    * detector and quality metric cannot drift); the min(struct(−cnt,
    * label)) argmax replays as (count DESC, label) row_number. */
  private def labelPropagationCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT src AS id, label FROM (
         |    SELECT e.src, l.label,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM edges e JOIN l${r - 1} l ON e.dst = l.id
         |    GROUP BY e.src, l.label) t
         |  WHERE rn = 1)""".stripMargin
    }
    s"""pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${simSql("a", "b")} >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id, src AS label FROM edges),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private def labelPropagationOracle(rounds: Int): String =
    s"""WITH ${labelPropagationCtes(rounds)}
       |SELECT id AS vec_id, label AS community FROM l$rounds
       |ORDER BY vec_id""".stripMargin

  /** Community MODULARITY card (Newman 2004, the quality score of a
    * partition): per [[labelPropagation]] community, the contribution
    * in_c/E − (K_c/E)² — intra-community directed-edge fraction minus
    * the degree-null-model expectation — whose sum over communities
    * IS modularity Q. A near-zero Q says the "communities" are no
    * better than random wiring (retire the detector's threshold); a
    * Q near the clique bound says the graph splits cleanly. Every
    * input is an exact integer (in_c, K_c, E); each contribution is
    * one fixed-shape double expression, so the card is hash-exact —
    * no logarithms, no float accumulation (the q268/q283 exact-ratio
    * convention applied to graph quality).
    *
    * Scale: rides the SAME edge relation as the detector — two
    * community-label joins + three keyed rollups (all map-side
    * combinable, outputs \|communities\|-sized) + a 1-row broadcast
    * edge total. No window, no driver state beyond the card. */
  def communityModularity(embeddings: DataFrame, threshold: Double = 0.3,
      rounds: Int = 3): DataFrame = {
    // ONE similarity pair join feeds both the detector and the card
    // (the detector used to run its own — two O(n²) passes for one
    // query); same edge set, same recurrence, identical labels
    val edges = symmetricEdges(similarPairs(embeddings, threshold))
      .localCheckpoint(false)
    val comm = lpaLabels(edges, Iterate.Fixed(rounds)).state
      .select(col("id"), col("label").as("community"))
    val eTotal = edges.agg(count(lit(1)).as("e_total"))
    // plain node-keyed equi-joins (comm is node-sized — never
    // broadcast at scale); both rollups are map-side combinable
    val cSrc = comm.select(col("id").as("sid"), col("community").as("c1"))
    val cDst = comm.select(col("id").as("did"), col("community").as("c2"))
    val labeled = edges
      .join(cSrc, col("src") === col("sid"))
      .join(cDst, col("dst") === col("did"))
    val inC = labeled.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community"))
      .agg(count(lit(1)).as("in_edges"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val degC = deg.join(comm, deg("src") === comm("id"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("deg_sum"))
    degC.join(inC, Seq("community"), "left_outer")
      .na.fill(0L, Seq("in_edges"))
      .crossJoin(broadcast(eTotal))
      .select(col("community"), col("n_nodes"), col("in_edges"),
        col("deg_sum"),
        (col("in_edges").cast("double") / col("e_total").cast("double") -
          (col("deg_sum").cast("double") / col("e_total").cast("double")) *
          (col("deg_sum").cast("double") / col("e_total").cast("double")))
          .as("contrib"))
      .orderBy(col("community"))
  }

  /** Embedding ANISOTROPY card — the dominant-direction variance
    * share of the corpus covariance (top eigenvalue / trace), via
    * IN-ENGINE power iteration: the collapse diagnostic (Ethayarajh
    * 2019 and the representation-collapse literature — embeddings
    * squeezed into a narrow cone make every cosine high, silently
    * breaking the q136/q151/q176 dedup thresholds; var_share near
    * 1/dim = healthy isotropy, near 1 = a collapsed space whose
    * similarity operators need recalibration).
    *
    * Exactness: the covariance is built from EXACT ingredients — the
    * Gram sums Σxᵢxⱼ accumulate as decimal products of shortest-
    * decimal float parses (the q139/q275 device, order-independent)
    * and collapse to double once via the VARCHAR round-trip; the mean
    * outer product uses the q139 exact means. Every power-iteration
    * fan-in is a SORTED fold (the pageRank convention) and the norm
    * is one IEEE sqrt of such a fold, so operator and oracle run the
    * identical add chains.
    *
    * Scale: ONE pass explodes each row to its dim² products and
    * partial-aggregates map-side to a dim²-row matrix (vectors never
    * shuffle; the exchange carries per-task partials only); rounds
    * run on the dim² kernel (localCheckpointed, lineage one round
    * deep). At very large corpora the same card runs on a hash-slice
    * (the q193 sampling knob pattern) — the statistic concentrates. */
  def anisotropyCard(emb: DataFrame, iters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val n = emb.count() // model-sized driver scalar (pageRank precedent)
    // the Gram explode is the one corpus-pass of this card — fan the
    // scan out if it arrived under-partitioned (Par.fanOut is a no-op
    // at scale); both rollups below are decimal-exact, so the
    // repartition cannot move a bit
    val fanned = Par.fanOut(emb)
    val mu = fanned.select(posexplode(col("embedding")))
      .select(col("pos").as("i"),
        col("col").cast("string").cast("decimal(18,12)").as("v"))
      .groupBy(col("i"))
      .agg((sum(col("v")).cast("string").cast("double") / count(lit(1)))
        .as("mu"))
      .localCheckpoint(true)
    // upper triangle only (S is symmetric): halves the decimal
    // multiplies; the mirror below restores the full kernel with the
    // IDENTICAL sums, so the oracle's full-matrix statement matches.
    // The string->decimal element cast is HOISTED out of the pair
    // lambda (guide §1.2 "per-task work"): dim casts per row instead
    // of dim(dim+1) — the products and sums are the same decimals.
    val pairs = expr(
      """flatten(transform(dec, (xi, i) ->
        |  transform(slice(dec, i + 1, size(dec) - i),
        |    (xj, j) -> struct(i AS i, i + j AS j, xi * xj AS p))))
        |""".stripMargin)
    val upper = fanned.select(expr(
        "transform(embedding, x -> CAST(CAST(x AS STRING) AS DECIMAL(18,12)))")
        .as("dec"))
      .select(explode(pairs).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("s"))
    // the dim²-row kernel is MODEL-sized state (dim is fixed by the
    // embedding family, never the corpus), so it collects to the
    // driver — the centroid/codebook precedent — and the power
    // iteration runs there: the distributed plan keeps exactly the
    // passes that touch data (count, mu, Gram rollup) and drops the
    // 5 rounds × (matvec shuffle + norm job + checkpoint) that were
    // pure fixed overhead per round (guide §1.2: the distributed
    // algorithm first). Every fold below replays the old in-engine
    // sorted fold order (ascending key, left fold from 0.0) and the
    // old null algebra (Spark's x/0 = NULL), so the card is
    // bit-identical — oracle-checked at three SFs.
    val kernel = upper
      .unionAll(upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("s")))
      .join(broadcast(mu.select(col("i"), col("mu").as("mi"))), "i")
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mj"))),
        "j")
      .select(col("i"), col("j"),
        (col("s").cast("string").cast("double") / lit(n).cast("double") -
          col("mi") * col("mj")).as("m"))
      .collect()
    type D = java.lang.Double
    def jd(x: Double): D = java.lang.Double.valueOf(x)
    def add(a: D, b: D): D =
      if (a == null || b == null) null else jd(a + b)
    def mul(a: D, b: D): D =
      if (a == null || b == null) null else jd(a * b)
    // Spark Divide: NULL when the divisor is NULL or == 0 (the old
    // plan's semantics for a degenerate zero-norm kernel)
    def div(a: D, b: D): D =
      if (a == null || b == null || b.doubleValue == 0.0) null
      else jd(a / b)
    val m: Array[(Int, Int, D)] = kernel.map(r => (r.getInt(0),
      r.getInt(1), if (r.isNullAt(2)) null else jd(r.getDouble(2))))
    val is: Array[Int] = m.map(_._1).distinct.sorted
    val byI: Map[Int, Array[(Int, D)]] =
      m.groupBy(_._1).map { case (i, rs) =>
        i -> rs.map(t => (t._2, t._3): (Int, D)).sortBy(_._1)
      }
    val zero = jd(0.0)
    def matvec(v: Map[Int, D]): Map[Int, D] =
      is.map { i =>
        i -> byI(i).foldLeft(zero) { case (acc, (j, mij)) =>
          add(acc, mul(mij, v(j)))
        }
      }.toMap
    var v: Map[Int, D] = is.map(_ -> jd(1.0)).toMap
    var it = 0
    while (it < iters) {
      val mv = matvec(v)
      val s2 = is.foldLeft(zero)((acc, i) => add(acc, mul(mv(i), mv(i))))
      val nrm: D = if (s2 == null) null else jd(math.sqrt(s2))
      v = is.map(i => i -> div(mv(i), nrm)).toMap
      it += 1
    }
    val mvF = matvec(v)
    val num = is.foldLeft(zero)((acc, i) => add(acc, mul(v(i), mvF(i))))
    val den = is.foldLeft(zero)((acc, i) => add(acc, mul(v(i), v(i))))
    val diag = m.filter(t => t._1 == t._2).sortBy(_._1)
    val trace = diag.foldLeft(zero)((acc, t) => add(acc, t._3))
    val dim = diag.length.toLong
    // final divisions stay IN SPARK so top_eig/var_share keep the
    // engine's division semantics verbatim
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("trace",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("num",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("den",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val card = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(dim, trace, num, den)),
      schema)
    card.select(lit(n).as("n_vecs"), col("dim"), col("trace"),
        (col("num") / col("den")).as("top_eig"),
        ((col("num") / col("den")) / col("trace")).as("var_share"))
      .orderBy(col("n_vecs"))
  }


  /** Embedding-level SPLIT-LEAKAGE audit — the SEMANTIC twin of
    * q224's lexical leak list: a val/test item whose embedding sits
    * within `threshold` cosine of a train item measures memorization,
    * not generalization, even when no 5-gram overlaps (paraphrases,
    * translations, re-renders — exactly what lexical decontamination
    * misses and SemDeDup-style semantic dedup exists for). Splits
    * come from the q101 md5 device on vec_id (own `esplit:` salt,
    * 80/10/10); cross-split near pairs roll up per unordered split
    * pair with the leak count, the worst similarity, and a
    * deterministic example id. Exact tier: [[similarPairs]]'s
    * brute-force cosine (term-expanded, oracle-replayable); at scale
    * the SAME rollup rides the LSH/IVF candidate generators the way
    * q196 swaps edge tiers. */
  def embeddingSplitLeakage(emb: DataFrame,
      threshold: Double = 0.45): DataFrame =
    splitLeakageRollup(emb, similarPairs(emb, threshold))

  /** The split assignment + cross-split rollup SHARED by the exact
    * (q306) and LSH (q310) leakage tiers — the decision layer never
    * cares who produced the (d1, d2, sim) pairs, exactly the
    * q190→q196 edge-swap convention. */
  private def splitLeakageRollup(emb: DataFrame,
      pairs: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(concat_ws("", lit("esplit:"),
      col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10
    val splitCol = when(bucket < 8, "train").when(bucket < 9, "val")
      .otherwise("test")
    val s = emb.select(col("vec_id"), splitCol.as("split"))
    pairs
      .join(s.select(col("vec_id").as("d1"), col("split").as("sa")),
        "d1")
      .join(s.select(col("vec_id").as("d2"), col("split").as("sb")),
        "d2")
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_leaks"), max(col("sim")).as("max_sim"),
        min(col("d1")).as("example_d1"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** RP-LSH candidate PAIRS at `threshold` — the pair-set twin of
    * [[similarPairs]] whose candidate volume rides banded sign-bucket
    * density, never n²: 32 seeded-hyperplane sign bits
    * ([[rpSignature]]'s family, unpacked as '0'/'1' chars so any band
    * width works), banded 4×8, population-capped buckets
    * ([[Dedup.bandRows]]), bucket self-join, then exact-cosine
    * verification so
    * every emitted pair is TRUE at `threshold`. Emitted pairs are by
    * construction a SUBSET of [[similarPairs]]'s (spec-pinned); the
    * miss probability per pair falls exponentially with similarity
    * (Charikar 2002 — sign agreement per plane is 1 − θ/π), so the
    * near-identical pairs a leakage audit exists to catch are the
    * ones the bands essentially never lose. */
  def rpLshPairs(embeddings: DataFrame, threshold: Double = 0.45,
      nPlanes: Int = 32, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val emb = withNorm(embeddings)
    verifyCosinePairs(emb,
      rpLshCandidates(emb, nPlanes, bands, maxBucket), threshold)
  }

  /** The CANDIDATE tier of [[rpLshPairs]] — exposed so the scale
    * trial can report candidate volume next to wall clocks (the
    * number the b·n²/2^w sizing analysis is actually about). */
  private[graft] def rpLshCandidates(emb: DataFrame, nPlanes: Int,
      bands: Int, maxBucket: Int): DataFrame =
    rpBandedCandidates(emb, hyperplanes(nPlanes), bands, maxBucket)

  /** Banded sign-LSH candidates over ANY plane family — shared by the
    * seeded-gaussian ([[rpLshPairs]]/q310) and md5-portable (q315)
    * tiers, through the [[Dedup.bandRows]] candidate kernel. */
  private def rpBandedCandidates(emb: DataFrame, planes: Seq[Column],
      bands: Int, maxBucket: Int): DataFrame = {
    val perBand = planes.size / bands
    val signs = planes.map(p =>
      when(dot(col("embedding"), p) > 0, lit("1")).otherwise(lit("0")))
    val banded = Dedup.bandRows(emb, Seq(col("vec_id")), Dedup.SignBands,
      (0 until bands).map(b =>
        concat(signs.slice(b * perBand, (b + 1) * perBand): _*)))
    Dedup.selfBucketPairs(banded, Seq("band", "bk"), "vec_id", maxBucket)
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"))
      .distinct()
  }

  /** Exact-cosine verification of a candidate pair set — shared by
    * every banded tier ([[rpLshPairs]], [[portableRpPairs]]). */
  private def verifyCosinePairs(emb: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding"), col("nrm"))
    cands
      .join(v.select(col("vec_id").as("d1"), col("embedding").as("va"),
        col("nrm").as("na")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("embedding").as("vb"),
        col("nrm").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb"))
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** The md5-PORTABLE plane family: coordinate c of plane p =
    * md5("rp:p:c")'s first 32 bits scaled into [-0.5, 0.5) — integer
    * / 2³² − 0.5, every step correctly rounded, so the Scala-side
    * literals here and the oracle's in-SQL derivation produce
    * bit-identical doubles. */
  private def portablePlanes(nPlanes: Int): Seq[Column] =
    (0 until nPlanes).map { p =>
      typedLit((0 until Dim).map { c =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$p:$c".getBytes("UTF-8"))
        val hex = h.take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) / 4294967296.0 - 0.5
      })
    }

  /** PORTABLE RP-LSH near-dup pairs — [[rpLshPairs]] with the
    * seeded-gaussian hyperplanes swapped for [[portablePlanes]]' md5
    * family, which takes the sign-LSH BUCKETING tier itself out of
    * rows-only (the q300/q312 move completed for the third LSH
    * family): signs, 4×8 banding, the bucket cap
    * ([[Dedup.bandRows]]), the bucket self-join and the exact-cosine
    * verification ALL replay in SQL. The sign fold's missing 0.0 seed
    * in SQL's list_reduce is sign-safe (±0.0 compare > 0 identically,
    * and any nonzero term makes the chains bitwise equal). Uniform
    * coordinates are not rotation-invariant like gaussians — the
    * Charikar θ/π agreement is approximate — which costs a
    * driver-checked pair tier nothing: verification keeps only true
    * pairs, bands only shape recall (planted-twin recall is
    * spec-pinned; near-identical vectors agree on every sign at any
    * practical width). */
  def portableRpPairs(embeddings: DataFrame, threshold: Double = 0.45,
      nPlanes: Int = 32, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val emb = withNorm(embeddings)
    verifyCosinePairs(emb,
      rpBandedCandidates(emb, portablePlanes(nPlanes), bands, maxBucket),
      threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** Corpus-size-aware band WIDTH for the sign-LSH tiers — the
    * round-12 embedding-growth trial's measured sizing rule as CODE
    * (it lived only in Scaladoc before): with `bands` bands of w sign
    * bits over n vectors, random-background collisions alone
    * contribute ~bands·n²/2^w candidate pairs, so keeping background
    * work LINEAR in the corpus (≤ `budgetPerRow`·n candidates) needs
    * 2^w ≥ bands·n/budgetPerRow. Returns the smallest such w in
    * [4, 32] — the comparison is done in PURE INTEGERS: the budget is
    * held as micros (round(budget·10⁶) — exact for any budget with ≤6
    * decimal digits) and the division is cleared to
    * `2^w · budgetMicros ≥ bands · n · 10⁶`, so no engine-specific
    * float-division rounding can flip the width at ANY budget, not
    * just the exactly-representable defaults; an oracle scanning the
    * same range with the same shifted comparison picks the identical
    * width and an auto-sized tier stays hash-exact (the product is
    * cleared as a ceil-division so every intermediate stays in
    * int64). Safe through n ≈ 2·10¹² rows at bands=4 — past that,
    * lift to decimal(38,0) (the q139 device).
    * 10× the corpus ⇒ wider bands (spec-pinned): the
    * (b, r) re-tune MinHash deployments apply with corpus growth,
    * made automatic — at the default 8-bit bands a 10× corpus goes
    * collision-dominated silently (3.7M background candidates in the
    * trial's n=20k cell), which is exactly the failure this rule
    * exists to prevent at 100 TB. */
  def signBandWidth(n: Long, bands: Int = 4,
      budgetPerRow: Double = 1.0): Int = {
    val budgetMicros = math.round(budgetPerRow * 1e6)
    require(budgetMicros > 0, s"budgetPerRow too small: $budgetPerRow")
    // 2^w·B ≥ T  ⟺  2^w ≥ ceil(T/B) for positive integers. BigInt on
    // this driver-side scalar: exact at ANY n (the double form
    // saturated correctly but the int64 product could wrap near
    // Long.MaxValue); the SQL replay stays int64 — identical for any
    // corpus an oracle can hold (safe to n ≈ 2·10¹² at bands=4)
    val need = (BigInt(bands) * BigInt(n) * 1000000 + budgetMicros - 1) /
      budgetMicros
    (4 to 32).find(w => (BigInt(1) << w) >= need).getOrElse(32)
  }

  /** [[portableRpPairs]] AUTO-SIZED: band width from [[signBandWidth]]
    * over the corpus count, so the tier keeps its background candidate
    * volume linear at ANY corpus size instead of trusting a fixed
    * 8-bit default that the round-12 trial measured going
    * collision-dominated at 10×. Still hash-exact: the oracle derives
    * the SAME width from count(*) with the same integer-exact scan,
    * then replays the md5 planes, banding, cap and verification —
    * the first driver-checked tier whose own parameters are
    * data-derived. `knownCount` skips the count job when the caller
    * already has it (a catalog row count at 100 TB). `budgetPerRow`
    * is the background-candidate budget (candidates per corpus row)
    * — tightening it below 1 buys wider bands, i.e. less candidate
    * work per row, at the usual sign-LSH recall trade; fractional
    * budgets stay hash-exact because the width comparison is integer
    * ceil-division on micros in BOTH engines (q329). */
  def portableRpPairsAuto(embeddings: DataFrame,
      threshold: Double = 0.45, bands: Int = 4, maxBucket: Int = 10000,
      knownCount: Option[Long] = None,
      budgetPerRow: Double = 1.0): DataFrame = {
    val n = knownCount.getOrElse(embeddings.count())
    portableRpPairs(embeddings, threshold,
      nPlanes = bands * signBandWidth(n, bands, budgetPerRow), bands,
      maxBucket)
  }

  /** The SCALE tier of [[embeddingSplitLeakage]] — the same
    * cross-split rollup over [[rpLshPairs]]' banded candidate edges
    * instead of the brute-force pair join (the q196 edge-swap made
    * code, closing the q306 docstring's promise). Rows-only for the
    * oracle (the hyperplane family is engine-specific); the spec
    * pins the subset property vs the exact tier, planted cross-split
    * near-dup detection, and rollup equality on corpora where the
    * bands lose nothing.
    *
    * SIZING (measured, EmbedScaleTrial): band WIDTH is the log(n)
    * knob. With b bands of w sign bits, random-background collisions
    * alone contribute ~b·n²/2^w candidate pairs — at n=50k the
    * default 8-bit bands are collision-dominated (~20M background
    * pairs), so growing the corpus 10× means widening bands (e.g.
    * nPlanes=64, bands=4 → 16-bit bands cuts the background 256×)
    * exactly as MinHash deployments re-tune (b, r) with corpus size.
    * Wider bands trade recall at LOW similarity; the near-identical
    * band a leakage audit exists for keeps essentially-total recall
    * at any practical width (per-plane agreement ≈ 1 − θ/π → 1). */
  def embeddingSplitLeakageLsh(emb: DataFrame,
      threshold: Double = 0.45, nPlanes: Int = 32,
      bands: Int = 4): DataFrame =
    splitLeakageRollup(emb, rpLshPairs(emb, threshold, nPlanes, bands))

  /** The auto-sized SEMANTIC-LEAKAGE audit over the PORTABLE plane
    * family — q306's cross-split rollup riding [[portableRpPairsAuto]]'s
    * self-sizing candidate tier, which makes the 100 TB leakage-audit
    * path driver-checked END TO END: the band width (from count(*)),
    * the md5 planes, banding, cap, exact-cosine verification, the
    * esplit assignment and the rollup ALL replay in SQL. Threshold
    * pinned at 0.35 (vs q306's 0.45): the oracle-SF corpus's only
    * ≥0.45 banded pair is intra-split, so the higher pin would make
    * the registered rollup trivially empty — and the banded tier's
    * recall at threshold-level similarity is the documented trade
    * anyway (near-identical leaks are the ones bands never lose). */
  def embeddingSplitLeakagePortableAuto(emb: DataFrame,
      threshold: Double = 0.35, bands: Int = 4, maxBucket: Int = 10000,
      knownCount: Option[Long] = None): DataFrame =
    splitLeakageRollup(emb,
      portableRpPairsAuto(emb, threshold, bands, maxBucket, knownCount))

  /** The EXTREME-SCALE tier of [[anisotropyCard]]: the identical card
    * over a deterministic md5 hash-slice of the vectors (the
    * q134/q193 sampling-knob pattern — `keepPer10k` per-10000 rate,
    * own `aniso:` salt so membership is independent of every other
    * sampling device). The anisotropy statistic concentrates (it is a
    * ratio of covariance eigenvalues — a ~50% uniform subsample moves
    * var_share by O(1/√n)), so at 100 TB the card runs on ~1e-4 of
    * the corpus while staying decimal-exact ON THE SLICE: the oracle
    * states the identical integer hash predicate, making the sampled
    * tier as hash-checkable as the full card. One narrow filter in
    * front of the same plan — nothing else changes. */
  def anisotropyCardSampled(emb: DataFrame, keepPer10k: Int = 5000,
      iters: Int = 5): DataFrame = {
    val bucket = conv(substring(md5(concat_ws("", lit("aniso:"),
      col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long") %
      10000
    anisotropyCard(emb.filter(bucket < lit(keepPer10k)), iters)
  }

  /** Degree ASSORTATIVITY card (Newman 2002) — the Pearson
    * correlation of endpoint degrees over the similarity graph's
    * edges: r > 0 = hubs link to hubs (a mirror-farm core that one
    * cluster-cap won't contain), r < 0 = hub-and-spoke (one template
    * page linked by many singletons — cap the hub and the component
    * shatters). The third leg of the graph-quality family: q284
    * scores the partition, q167 the cores, this the degree mixing.
    *
    * Exactness: on the symmetrized edge list the two endpoint-degree
    * marginals are IDENTICAL, so Pearson's sqrt collapses —
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — and every term is an
    * exact integer rollup: ONE double division, no sqrt, no float
    * accumulation (the q268/q283/q287 exact-ratio convention).
    * M·Σx² fits int64 through ~10⁹-edge graphs; promote the three
    * products to decimal beyond.
    *
    * Scale: rides the SAME persisted edge relation as q158/q226/q284
    * — one degree rollup, two node-keyed joins, one map-side global
    * rollup to a 1-row card. Degenerate regular graphs (zero degree
    * variance) are a 0/0 by construction; real similarity graphs
    * never are. */
  def degreeAssortativity(embeddings: DataFrame,
      threshold: Double = 0.3): DataFrame = {
    val edges = symmetricEdges(similarPairs(embeddings, threshold))
      .localCheckpoint(false)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    edges
      .join(deg.select(col("src"), col("dg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("dg").as("dy")), "dst")
      .agg(count(lit(1)).as("m"), sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx")).as("sx"), sum(col("dx") * col("dx")).as("sxx"))
      .select(col("m").as("n_directed_edges"), col("sx").as("sum_deg"),
        ((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
      .orderBy(col("n_directed_edges"))
  }

  /** The unrolled DuckDB twin of [[anisotropyCard]] — same exact
    * Gram/mean ingredients, same sorted matvec folds per round, same
    * sqrt-normalize and Rayleigh quotient. `from` swaps the source
    * relation so the q298 sampled tier states its hash-slice
    * predicate inline (one string, both tiers share every other
    * line — the oracles cannot drift apart). */
  private def anisotropyOracle(iters: Int,
      from: String = "embeddings"): String = {
    val rounds = (1 to iters).map { r =>
      s"""mv$r AS MATERIALIZED (
         |  SELECT i, list_reduce(list_prepend(0.0, list(c ORDER BY j)),
         |    (a, b) -> a + b) AS mv
         |  FROM (SELECT m.i, m.j, m.m * v.v AS c
         |        FROM m JOIN v${r - 1} v ON m.j = v.vi)
         |  GROUP BY i),
         |v$r AS MATERIALIZED (
         |  SELECT i AS vi, mv / (SELECT sqrt(list_reduce(
         |      list_prepend(0.0, list(mv * mv ORDER BY i)),
         |      (a, b) -> a + b)) FROM mv$r) AS v
         |  FROM mv$r)""".stripMargin
    }
    s"""WITH src AS (SELECT * FROM $from),
       |nn AS (SELECT count(*) AS n FROM src),
       |mu AS MATERIALIZED (
       |  SELECT CAST(i - 1 AS INTEGER) AS i,
       |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
       |      AS VARCHAR) AS DOUBLE) / count(*) AS mu
       |  FROM (SELECT embedding[i] AS x, i
       |        FROM (SELECT embedding,
       |                unnest(range(1, len(embedding) + 1)) AS i
       |              FROM src))
       |  GROUP BY 1),
       |t2 AS (
       |  SELECT embedding, i, unnest(range(1, len(embedding) + 1)) AS j
       |  FROM (SELECT embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i
       |        FROM src)),
       |g AS MATERIALIZED (
       |  SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
       |    SUM(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,12)) *
       |        CAST(CAST(embedding[j] AS VARCHAR) AS DECIMAL(18,12)))
       |      AS s
       |  FROM t2 GROUP BY 1, 2),
       |m AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
       |      / CAST((SELECT n FROM nn) AS DOUBLE)
       |      - a.mu * b.mu AS m
       |  FROM g JOIN mu a ON g.i = a.i JOIN mu b ON g.j = b.i),
       |v0 AS (SELECT DISTINCT i AS vi, CAST(1 AS DOUBLE) AS v FROM m),
       |${rounds.mkString(",\n")},
       |mvf AS (
       |  SELECT i, list_reduce(list_prepend(0.0, list(c ORDER BY j)),
       |    (a, b) -> a + b) AS mv
       |  FROM (SELECT m.i, m.j, m.m * v.v AS c
       |        FROM m JOIN v$iters v ON m.j = v.vi)
       |  GROUP BY i),
       |ray AS (
       |  SELECT list_reduce(
       |      list_prepend(0.0, list(v.v * f.mv ORDER BY f.i)),
       |      (a, b) -> a + b) AS num,
       |    list_reduce(list_prepend(0.0, list(v.v * v.v ORDER BY f.i)),
       |      (a, b) -> a + b) AS den
       |  FROM mvf f JOIN v$iters v ON f.i = v.vi),
       |tr AS (
       |  SELECT list_reduce(list_prepend(0.0, list(m ORDER BY i)),
       |      (a, b) -> a + b) AS trace,
       |    CAST(count(*) AS BIGINT) AS dim
       |  FROM m WHERE i = j)
       |SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_vecs, tr.dim,
       |  tr.trace, ray.num / ray.den AS top_eig,
       |  (ray.num / ray.den) / tr.trace AS var_share
       |FROM tr CROSS JOIN ray ORDER BY n_vecs""".stripMargin
  }

  /** The unrolled DuckDB twin of [[kCore]] (same k/rounds, so operator
    * and oracle cannot drift); MATERIALIZED CTEs for the same
    * inlining-blowup reason as the BPE oracle. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val peel = (1 to rounds).map { r =>
      s"""keep$r AS MATERIALIZED (
         |  SELECT src AS id FROM e${r - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN keep$r a ON e.src = a.id
         |  JOIN keep$r b ON e.dst = b.id)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${simSql("a", "b")} >= 0.3),
       |e0 AS MATERIALIZED (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |${peel.mkString(",\n")}
       |SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e$rounds GROUP BY src HAVING count(*) >= $k
       |ORDER BY vec_id""".stripMargin
  }

  /** The unrolled DuckDB twin of [[pageRank]] (same `iters`, so
    * operator and oracle cannot drift); MATERIALIZED CTEs for the
    * same inlining-blowup reason as the BPE oracle. */
  private def pageRankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""pr$r AS MATERIALIZED (
         |  SELECT dst AS id,
         |    (CAST(1 AS DOUBLE) - 0.85) / (SELECT n FROM nn) + 0.85 *
         |      list_reduce(list_prepend(0.0, list(contrib ORDER BY src)),
         |        (a, b) -> a + b) AS pr
         |  FROM (SELECT e.dst, e.src, p.pr / e.deg AS contrib
         |        FROM ed e JOIN pr${r - 1} p ON e.src = p.id)
         |  GROUP BY dst)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${simSql("a", "b")} >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |ed AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.deg FROM edges e
       |  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY src) d ON e.src = d.src),
       |nn AS MATERIALIZED (SELECT count(DISTINCT src) AS n FROM edges),
       |pr0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id,
       |    CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM edges),
       |${rounds.mkString(",\n")}
       |SELECT id AS vec_id, pr AS pagerank FROM pr$iters
       |ORDER BY vec_id""".stripMargin
  }

  /** kNN WEAK-LABELING card — nearest-neighbor label propagation, the
    * zero-training classifier a labeling pipeline uses to extend a
    * seed label set over an unlabeled embedding corpus (and, run on
    * held-out labeled vectors as here, to AUDIT how label-consistent
    * the embedding space is before trusting it): every probe vector
    * (vec_id ≡ 0 mod `probeMod`) gets the majority label of its `k`
    * nearest train-side neighbors by exact cosine (ties: vote count
    * DESC, then smallest label), reported per probe with its true
    * label and the vote count.
    *
    * Exactness: the q31 recipe — term-expanded dot/norm doubles, rank
    * ties broken on neighbor_id, votes resolved by a total order.
    * Scale: probes broadcast against the train side (at 100 TB the
    * probe slice is a labeling batch — bounded by construction); the
    * vote rollup is per-probe k rows. The ANN tiers (RP-LSH/IVF/PQ)
    * swap in as the neighbor source when brute force stops fitting —
    * same vote machinery. */
  def knnLabelCard(embeddings: DataFrame, k: Int = 5,
      probeMod: Int = 10): DataFrame = {
    val emb = withNorm(embeddings)
    val probes = emb.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val train = emb.filter(pmod(col("vec_id"), lit(probeMod)) =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("label").as("nl"),
        col("embedding").as("nv"), col("nrm").as("nn"))
    val sims = train.join(broadcast(probes), lit(true))
      .select(col("probe_id"), col("true_label"), col("neighbor_id"),
        col("nl"),
        cosinePrenormed(dot(col("qv"), col("nv")), col("qn"), col("nn"))
          .as("sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("probe_id"), col("true_label"), col("nl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("probe_id"), col("true_label"))
      .agg(min(struct((-col("cnt")).as("nc"), col("nl").as("l"))).as("m"))
      .select(col("probe_id").as("vec_id"), col("true_label").as("label"),
        col("m.l").as("pred_label"), (-col("m.nc")).as("n_votes"),
        (col("m.l") === col("true_label")).as("correct"))
      .orderBy(col("vec_id"))
  }

  /** Margin-based bitext/alignment mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL — the LASER/CCMatrix scoring rule). The corpus
    * splits into two sides (here the vec_id parity stands in for the
    * two languages); each left vector's best right-side neighbor is
    * scored by the RATIO margin
    * `cos(x,y) / (avgK(x→B)/2 + avgK(y→A)/2)` — dividing by the mean
    * of each endpoint's k-NN similarity cancels hubness (a vector
    * close to everything scores high cosine against everything; the
    * margin discounts exactly that), which plain cosine thresholds
    * cannot. Emits (src_id, tgt_id, sim, margin, mutual, accepted)
    * with `mutual` = the target's own best left-side neighbor is the
    * source (the forward∩backward intersection the paper reports) and
    * `accepted` = margin ≥ 1.05 (the paper's operating region).
    *
    * Exactness: sims are the q31 term-expanded fold; each k-NN sum is
    * accumulated in RANK order from a 0.0 seed — the identical IEEE
    * add chain the oracle spells as
    * `list_reduce(list_prepend(0.0, list(sim ORDER BY rnk)), +)` —
    * and the margin is one fixed-shape expression tree, so margins
    * are bit-identical across engines and orderable.
    *
    * Scale: the sim matrix is computed ONCE (broadcast of the probe
    * side) and reused by both k-NN directions and the pair scoring —
    * no second pass over the vectors. At 100 TB the exact cross
    * becomes the ANN shortlist (RP-LSH/IVF above — mine within the
    * shortlist, score with the same margin layer) and the left side
    * streams in broadcast-sized batches; the margin/mutual machinery
    * is unchanged because it only ever sees (aid, bid, sim) rows. */
  def bitextMarginMining(embeddings: DataFrame, k: Int = 4,
      acceptAt: Double = 1.05): DataFrame = {
    val emb = withNorm(embeddings)
    val left = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("aid"), col("embedding").as("av"),
        col("nrm").as("an"))
    val right = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"),
        col("nrm").as("bn"))
    val sims = right.join(broadcast(left), lit(true))
      .select(col("aid"), col("bid"),
        cosinePrenormed(dot(col("av"), col("bv")), col("an"), col("bn"))
          .as("sim"))
    val wa = Window.partitionBy(col("aid"))
      .orderBy(col("sim").desc, col("bid"))
    val wb = Window.partitionBy(col("bid"))
      .orderBy(col("sim").desc, col("aid"))
    val ranked = sims
      .withColumn("rnka", row_number().over(wa))
      .withColumn("rnkb", row_number().over(wb))
    // rank-ordered left fold from a 0.0 seed — the cross-engine-exact
    // sum (order pinned by rnk, first add 0.0+x exact)
    def foldSum(rankCol: String): Column =
      aggregate(
        transform(array_sort(collect_list(
          struct(col(rankCol).as("r"), col("sim").as("s")))),
          e => e.getField("s")),
        lit(0.0), (acc, x) => acc + x)
    val ka = ranked.filter(col("rnka") <= k).groupBy(col("aid"))
      .agg(foldSum("rnka").as("suma"))
    val kb = ranked.filter(col("rnkb") <= k).groupBy(col("bid"))
      .agg(foldSum("rnkb").as("sumb"))
    val fwd = ranked.filter(col("rnka") === 1)
      .select(col("aid"), col("bid"), col("sim"))
    val bwd = ranked.filter(col("rnkb") === 1)
      .select(col("bid"), col("aid").as("nn_aid"))
    val den = lit(2.0) * lit(k.toDouble)
    fwd.join(ka, Seq("aid")).join(kb, Seq("bid")).join(bwd, Seq("bid"))
      .select(col("aid").as("src_id"), col("bid").as("tgt_id"), col("sim"),
        (col("sim") / (col("suma") / den + col("sumb") / den)).as("margin"),
        (col("nn_aid") === col("aid")).as("mutual"))
      .withColumn("accepted", col("margin") >= lit(acceptAt))
      .orderBy(col("margin").desc, col("src_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q265_bitext_margin" -> ((s, d) =>
      bitextMarginMining(Tables(s, d).embeddings)),
    "q262_knn_labels" -> ((s, d) =>
      knnLabelCard(Tables(s, d).embeddings)),
    "q158_pagerank" ->
      ((s, d) => pageRank(Tables(s, d).embeddings)),
    "q226_label_propagation" ->
      ((s, d) => labelPropagation(Tables(s, d).embeddings)),
    "q284_modularity_card" ->
      ((s, d) => communityModularity(Tables(s, d).embeddings)),
    "q288_cluster_separation" ->
      ((s, d) => clusterSeparation(Tables(s, d).embeddings)),
    "q290_assortativity" ->
      ((s, d) => degreeAssortativity(Tables(s, d).embeddings)),
    "q296_anisotropy_card" ->
      ((s, d) => anisotropyCard(Tables(s, d).embeddings)),
    "q298_anisotropy_sampled" ->
      ((s, d) => anisotropyCardSampled(Tables(s, d).embeddings)),
    // rows-only by design: k-means init engine-specific (q34/q160/
    // q205 convention); planted-twin + well-formed specs instead
    "q302_ivfpq_topk" ->
      ((s, d) => ivfPqTopK(s, Tables(s, d).embeddings, d)),
    // q302's serve-from-artifact tier: training amortized to the lake
    // once per (session, sfDir); bit-identical to q302 (spec-pinned)
    "q311_ivfpq_served" ->
      ((s, d) => ivfPqTopKServed(s, Tables(s, d).embeddings, d)),
    "q306_embedding_leakage" ->
      ((s, d) => embeddingSplitLeakage(Tables(s, d).embeddings)),
    // q306's scale twin: the SAME rollup over banded RP-LSH candidate
    // edges (subset + planted-detection spec-pinned; rows-only — the
    // hyperplane family is engine-specific)
    "q310_leakage_lsh" ->
      ((s, d) => embeddingSplitLeakageLsh(Tables(s, d).embeddings)),
    "q166_bfs_hops" ->
      ((s, d) => bfsHops(Tables(s, d).embeddings)),
    "q167_kcore" ->
      ((s, d) => kCore(Tables(s, d).embeddings)),
    "q176_semdedup" ->
      ((s, d) => semDedup(Tables(s, d).embeddings)),
    "q160_pq_codes" ->
      ((s, d) => pqCodes(Tables(s, d).embeddings)),
    "q161_pq_adc_topk" ->
      ((s, d) => pqAdcTopK(Tables(s, d).embeddings)),
    "q152_triangle_counts" ->
      ((s, d) => triangleCounts(Tables(s, d).embeddings)),
    "q146_nearest_centroid" ->
      ((s, d) => nearestCentroid(Tables(s, d).embeddings)),
    "q248_cluster_adjacent_order" ->
      ((s, d) => clusterAdjacentOrder(Tables(s, d).embeddings)),
    "q139_label_centroids" ->
      ((s, d) => labelCentroids(Tables(s, d).embeddings)),
    "q275_dispersion_card" ->
      ((s, d) => dispersionCard(Tables(s, d).embeddings)),
    "q276_centroid_outliers" ->
      ((s, d) => centroidOutliers(Tables(s, d).embeddings)),
    "q278_centroid_drift" ->
      ((s, d) => centroidDrift(Tables(s, d).embeddings)),
    "q31_cosine_topk" -> ((s, d) => cosineTopK(Tables(s, d).embeddings)),
    "q32_similar_pairs" -> ((s, d) => similarPairs(Tables(s, d).embeddings)),
    "q33_ann_rp_lsh" -> ((s, d) => annRandomHyperplane(Tables(s, d).embeddings)),
    "q34_ann_ivf" -> ((s, d) => ivfTopK(Tables(s, d).embeddings)),
    // the ORACLE-REPLAYABLE IVF tier: decimal-exact Lloyd rounds, the
    // whole train→assign→probe→serve pipeline hash-checked
    "q313_ivf_exact_topk" ->
      ((s, d) => ivfTopKExact(Tables(s, d).embeddings)),
    // SemDeDup over the exact quantizer: cells + intra-cell pairs +
    // CC closure all replayed in SQL (q313 + q136 devices composed)
    "q314_semdedup_exact" ->
      ((s, d) => semDedupExact(Tables(s, d).embeddings)),
    // CLUSTER-BALANCED sampling: per-cell quotas over the exact
    // quantizer with a portable md5 rank — topic balancing,
    // driver-checked end to end
    "q326_cluster_balanced_sample" ->
      ((s, d) => clusterBalancedSample(Tables(s, d).embeddings)),
    // INCREMENTAL SemDeDup from the at-rest exact index: the
    // vec_id%10=3 crawl slice dedups against the partition-pruned
    // base cells — index trained on the base only, work scales with
    // the increment
    "q327_semdedup_incremental" ->
      ((s, d) => semDedupIncremental(s, Tables(s, d).embeddings, d)),
    // the DURABLE twin of q327 — the same decision served from the
    // commit-marked lake artifact (fresh-JVM reuse skips retraining;
    // DurableArtifactsSpec pins the cold-session serve) — registered
    // against q327's oracle verbatim, so the driver itself checks
    // that the at-rest path changes nothing
    "q330_semdedup_atrest" ->
      ((s, d) => semDedupIncrementalDurable(s, Tables(s, d).embeddings,
        ivfExactDurableDir(d))),
    // nightly MAINTENANCE (r15): day-0 index (%10∉{3,4}) built
    // durable, day-1 vectors (%10=4) APPENDED under the FROZEN
    // centroids, day-2 increment SemDeDup'd against (index + delta).
    // The oracle restates the frozen-quantizer semantics: train on
    // day-0, argmin-assign the union membership to those centroids
    "q344_sem_appended" ->
      ((s, d) => semDedupIncrementalAppended(s,
        Tables(s, d).embeddings, ivfExactAppendDurableDir(d))),
    // the retrain gate: per-cell occupancy drift of the SAME at-rest
    // index after the ingest — counts + three IEEE divisions,
    // hash-exact
    "q328_index_staleness" ->
      ((s, d) => indexStaleness(s, Tables(s, d).embeddings, d)),
    // the PORTABLE sign-LSH pair tier: md5-derived planes, banding,
    // cap and verify all replayed in SQL (the q300/q312 move for the
    // RP family)
    "q315_portable_rp_pairs" ->
      ((s, d) => portableRpPairs(Tables(s, d).embeddings)),
    // ORACLE-REPLAYABLE PQ: per-subspace decimal-Lloyd codebooks —
    // the encoding and the ADC serving shape hash-checked end to end
    "q316_pq_codes_exact" ->
      ((s, d) => pqCodesExact(Tables(s, d).embeddings)),
    "q317_pq_adc_exact" ->
      ((s, d) => pqAdcTopKExact(Tables(s, d).embeddings)),
    // AUTO-SIZED portable sign-LSH: band width derived from count(*)
    // by the same integer-exact rule on both engines — the round-12
    // sizing finding as driver-checked library behavior
    "q318_rp_pairs_auto" ->
      ((s, d) => portableRpPairsAuto(Tables(s, d).embeddings)),
    // the NON-DEFAULT, FRACTIONAL background budget on the same tier:
    // the width comparison clears the division as integer ceil-div on
    // micros, so a budget like 2.5 — where naive float division could
    // round differently across engines — still picks the identical
    // width in both (the r13 verdict's signBandWidth nit, closed and
    // driver-checked)
    "q329_rp_pairs_auto_budget" ->
      ((s, d) => portableRpPairsAuto(Tables(s, d).embeddings,
        budgetPerRow = 2.5)),
    // the leakage AUDIT over that self-sizing tier: width, planes,
    // bands, cap, verify, split assignment and rollup all in SQL
    "q320_leakage_portable_auto" ->
      ((s, d) =>
        embeddingSplitLeakagePortableAuto(Tables(s, d).embeddings)),
    // ANN SERVING from the at-rest EXACT index: probe + partition
    // prune + serve for a query stream's batch twin (vec_id % 50 = 7
    // — a DIFFERENT slice than q313's, so the artifact is exercised
    // on queries the build never saw)
    "q319_ivf_exact_served" ->
      ((s, d) => {
        val emb = Tables(s, d).embeddings
        ivfExactServeQueries(s,
          emb.filter(col("vec_id") % 50 === 7)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qv")),
          emb, key = d)
      }),
    // the AT-REST index tier of q34: the table is built once per
    // (session, sfDir) and the query serves from the pruned scan
    "q205_ivf_materialized" -> ((s, d) =>
      ivfTopKMaterialized(s, Tables(s, d).embeddings, key = d)),
    "q136_embedding_neardup" ->
      ((s, d) => embeddingDedup(Tables(s, d).embeddings))
  )

  private def simSql(an: String, bn: String): String =
    s"(${dotSql(s"$an.embedding", s"$bn.embedding", Dim)}) / " +
      s"(sqrt(${norm2Sql(s"$an.embedding", Dim)}) * " +
      s"sqrt(${norm2Sql(s"$bn.embedding", Dim)}))"

  /** q327's DuckDB twin — [[exactKmeansCtes]] trained on the BASE
    * slice only (`e` restricted), the increment argmin-assigned to
    * one cell each, and the best-match decision (sim ≥ threshold,
    * max sim, ties to min base id) over increment × same-cell base
    * members. The partition pruning is a plan property (spec side);
    * the VALUES the pruned scan must produce are exactly these. */
  /** The increment slice + its single-cell argmin assignment as CTEs
    * (`inc`, `ia`) over the base-trained centroids `c$iters` — shared
    * by the q327 and q328 oracles so the two cannot drift. `ia` and
    * the `afm` copy of the base assignment are MATERIALIZED (the q314
    * device): DuckDB inlines plain CTEs per REFERENCE, so without the
    * hint every downstream mention re-evaluates the whole unrolled
    * Lloyd chain — the plan multiplies until the buffer pool flakes
    * out (seen live: queries sorting AFTER q327/q328 OOM'd at tiny
    * allocations). */
  private def incAssignCtes(iters: Int): String =
    s"""inc AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 10 = 3),
       |afm AS MATERIALIZED (SELECT vec_id, cell FROM af),
       |ia AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT i.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${l2Sql("i.embedding", "c.cvec", Dim)}, c.cell)
       |        AS rn
       |    FROM inc i CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin

  /** q328's DuckDB twin — the shared base-trained chain and the
    * shared `inc`/`ia` CTEs, then per-cell occupancy rollups, a
    * 1-row totals CTE and the drift arithmetic (single IEEE
    * divisions of exact integers, same expressions as the Spark
    * columns). */
  private def indexStalenessOracle(cells: Int, iters: Int): String = {
    val sb = "CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE)"
    val sm = "CAST(n_base + n_inc AS DOUBLE) / CAST(tb + ti AS DOUBLE)"
    s"""WITH ${exactKmeansCtes(cells, iters, "vec_id % 10 <> 3")},
       |${incAssignCtes(iters)},
       |bc AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_base
       |  FROM afm GROUP BY cell),
       |ic AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_inc
       |  FROM ia GROUP BY cell),
       |j AS MATERIALIZED (
       |  SELECT cell, CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
       |    CAST(coalesce(n_inc, 0) AS BIGINT) AS n_inc
       |  FROM bc FULL OUTER JOIN ic USING (cell)),
       |t AS (
       |  SELECT CAST(sum(n_base) AS BIGINT) AS tb,
       |    CAST(sum(n_inc) AS BIGINT) AS ti
       |  FROM j)
       |SELECT cell, n_base, n_inc, $sb AS share_base,
       |  $sm AS share_merged, abs($sm - $sb) AS drift
       |FROM j, t ORDER BY cell""".stripMargin
  }

  /** The q327 DECISION CHAIN as a WITH-less fragment ending in
    * `best(vec_id, base_id)` (plus `ia`, `inc`, the trained chain) —
    * shared verbatim by the q327/q330 oracles AND the q340/q341
    * composition, so the composition cannot drift from its
    * component. */
  private[operators] def semDedupDecisionChain(cells: Int, iters: Int,
      threshold: Double): String =
    s"""${exactKmeansCtes(cells, iters, "vec_id % 10 <> 3")},
       |${incAssignCtes(iters)},
       |cand AS (
       |  SELECT ia.vec_id, b.vec_id AS base_id,
       |    ${simSql("i", "b")} AS sim
       |  FROM ia
       |  JOIN inc i ON i.vec_id = ia.vec_id
       |  JOIN afm ba ON ba.cell = ia.cell
       |  JOIN e b ON b.vec_id = ba.vec_id),
       |best AS (
       |  SELECT vec_id, base_id FROM (
       |    SELECT vec_id, base_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, base_id) AS rn
       |    FROM cand WHERE sim >= $threshold) t
       |  WHERE rn = 1)""".stripMargin

  private def semDedupIncOracle(cells: Int, iters: Int,
      threshold: Double): String =
    s"WITH ${semDedupDecisionChain(cells, iters, threshold)},\n" +
      """fin AS (
        |  SELECT ia.vec_id, ia.cell, best.base_id AS dup_of,
        |    best.base_id IS NULL AS keep
        |  FROM ia LEFT JOIN best ON best.vec_id = ia.vec_id)
        |SELECT vec_id, cell, dup_of, keep FROM fin
        |ORDER BY vec_id""".stripMargin

  /** The FROZEN-QUANTIZER decision chain for the APPENDED index
    * (q344, and stitched into the q342 composition): centroids
    * trained on `trainPredSql`'s slice ONLY (day-0), base MEMBERSHIP
    * is `memberPredSql`'s slice (day-0 ∪ appended days)
    * argmin-assigned to those frozen centroids — exactly what
    * [[appendToIvfIndex]] does to a delta — and the decision
    * unchanged (sim ≥ threshold, max sim, ties to min base id). Ends
    * in `best(vec_id, base_id)` + `ia` like
    * [[semDedupDecisionChain]], so compositions stitch it the same
    * way. `abm`/`ia` are MATERIALIZED (the q314 device — each is
    * referenced downstream and must not re-unroll the Lloyd chain). */
  private[operators] def semDedupAppendedChain(cells: Int, iters: Int,
      threshold: Double, trainPredSql: String,
      memberPredSql: String): String =
    s"""${exactKmeansCtes(cells, iters, trainPredSql)},
       |eb AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE $memberPredSql),
       |inc AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 10 = 3),
       |abm AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT x.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${l2Sql("x.embedding", "c.cvec", Dim)}, c.cell)
       |        AS rn
       |    FROM eb x CROSS JOIN c$iters c) WHERE rn = 1),
       |ia AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT i.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY i.vec_id
       |        ORDER BY ${l2Sql("i.embedding", "c.cvec", Dim)}, c.cell)
       |        AS rn
       |    FROM inc i CROSS JOIN c$iters c) WHERE rn = 1),
       |cand AS (
       |  SELECT ia.vec_id, b.vec_id AS base_id,
       |    ${simSql("i", "b")} AS sim
       |  FROM ia
       |  JOIN inc i ON i.vec_id = ia.vec_id
       |  JOIN abm ba ON ba.cell = ia.cell
       |  JOIN eb b ON b.vec_id = ba.vec_id),
       |best AS (
       |  SELECT vec_id, base_id FROM (
       |    SELECT vec_id, base_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, base_id) AS rn
       |    FROM cand WHERE sim >= $threshold) t
       |  WHERE rn = 1)""".stripMargin

  /** q344's DuckDB twin — the frozen-quantizer chain on the
    * maintenance-cycle split, then the q327-shaped finish. */
  private def semDedupAppendedOracle(cells: Int, iters: Int,
      threshold: Double): String =
    s"WITH ${semDedupAppendedChain(cells, iters, threshold,
        "vec_id % 10 NOT IN (3, 4)", "vec_id % 10 <> 3")},\n" +
      """fin AS (
        |  SELECT ia.vec_id, ia.cell, best.base_id AS dup_of,
        |    best.base_id IS NULL AS keep
        |  FROM ia LEFT JOIN best ON best.vec_id = ia.vec_id)
        |SELECT vec_id, cell, dup_of, keep FROM fin
        |ORDER BY vec_id""".stripMargin

  /** q313's DuckDB twin, GENERATED with the Lloyd rounds unrolled
    * (the pageRank/anisotropy convention): seeds = first `cells`
    * vectors double-cast; per round one L2-argmin assignment (the
    * q146 row_number device over `l2Sql`'s fixed fold) and one q139
    * decimal re-center; then the final assignment, the probe ranking
    * and the serve ranking — the ENTIRE train→assign→probe→serve
    * pipeline replays, not just its output. */
  private def l2ffSql(a: String, b: String): String = (1 to Dim).map { i =>
    val d = s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))"
    s"$d*$d"
  }.mkString(" + ")

  /** One L2-argmin assignment CTE (the q146 row_number device over
    * `l2Sql`'s fixed fold). Shared by the q313 and q314 oracles. */
  private def exactAssignSql(name: String, cen: String): String =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql("e.embedding", "c.cvec", Dim)}, c.cell)
       |        AS rn
       |    FROM e CROSS JOIN $cen c) WHERE rn = 1)""".stripMargin

  /** The [[kmeansCentroidsExact]] pipeline as a CTE chain: `e` (the
    * corpus), seeds `c0`, `iters` unrolled Lloyd rounds (assign a_r +
    * q139 decimal re-center c_r), ending in the FINAL assignment
    * `af` over `c$iters`. Shared by the q313 and q314 oracles so the
    * two cannot drift. `ePredSql` restricts the TRAINING corpus `e`
    * (q327 trains the index on the base slice only); empty renders
    * the historical SQL byte-for-byte. */
  private def exactKmeansCtes(cells: Int, iters: Int,
      ePredSql: String = ""): String = {
    val eWhere = if (ePredSql.isEmpty) "" else s" WHERE $ePredSql"
    val rounds = (1 to iters).map { r =>
      s"""${exactAssignSql(s"a$r", s"c${r - 1}")},
         |c$r AS (
         |  SELECT cell, list(m ORDER BY pos) AS cvec FROM (
         |    SELECT cell, pos,
         |      CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
         |        AS VARCHAR) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT a.cell, CAST(i - 1 AS INTEGER) AS pos,
         |            ex.embedding[i] AS x
         |          FROM (SELECT vec_id, embedding,
         |                  unnest(range(1, len(embedding) + 1)) AS i
         |                FROM e) ex
         |          JOIN a$r a ON a.vec_id = ex.vec_id)
         |    GROUP BY cell, pos)
         |  GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings$eWhere),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM e WHERE vec_id < $cells),
       |$rounds,
       |${exactAssignSql("af", s"c$iters")}""".stripMargin
  }

  /** q315's DuckDB twin — the whole portable sign-LSH pipeline in
    * SQL: plane coordinates from md5, signs via an ordered
    * list_reduce fold, band keys as signature substrings, the
    * bucket cap as HAVING, bucket self-join, exact-cosine
    * verification. */
  private def portableRpOracle(nPlanes: Int, bands: Int,
      threshold: Double, maxBucket: Int): String = {
    val perBand = nPlanes / bands
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |pl AS (
       |  SELECT CAST(p AS INTEGER) AS p,
       |    list_transform(range($Dim), c ->
       |      CAST('0x' || substr(md5('rp:' || CAST(p AS VARCHAR)
       |          || ':' || CAST(c AS VARCHAR)), 1, 8) AS BIGINT)
       |        / 4294967296.0 - 0.5) AS coord
       |  FROM (SELECT unnest(range($nPlanes)) AS p)),
       |sg AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN list_reduce(
       |      list_transform(range($Dim), i ->
       |        CAST(e.embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
       |          * pl.coord[CAST(i AS INTEGER) + 1]),
       |      (a, b) -> a + b) > 0 THEN '1' ELSE '0' END AS s
       |  FROM e CROSS JOIN pl),
       |sig AS (
       |  SELECT vec_id, string_agg(s, '' ORDER BY p) AS sig
       |  FROM sg GROUP BY vec_id),
       |bd AS (
       |  SELECT vec_id, CAST(bb AS INTEGER) AS band,
       |    substr(sig, CAST(bb AS INTEGER) * $perBand + 1, $perBand)
       |      AS bk
       |  FROM sig, (SELECT unnest(range($bands)) AS bb)),
       |ok AS (
       |  SELECT band, bk FROM bd GROUP BY band, bk
       |  HAVING count(*) <= $maxBucket),
       |kb AS (
       |  SELECT bd2.vec_id, bd2.band, bd2.bk
       |  FROM bd bd2 JOIN ok USING (band, bk)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
       |  FROM kb x JOIN kb y
       |    ON x.band = y.band AND x.bk = y.bk
       |    AND x.vec_id < y.vec_id)
       |SELECT cand.d1, cand.d2, ${simSql("a", "b")} AS sim
       |FROM cand
       |JOIN e a ON a.vec_id = cand.d1
       |JOIN e b ON b.vec_id = cand.d2
       |WHERE ${simSql("a", "b")} >= $threshold
       |ORDER BY d1, d2""".stripMargin
  }

  /** `queryPredSql` selects the query slice (q313: the first
    * `nQueries` ids; q319: a disjoint modulo slice served from the
    * at-rest artifact — same CTE chain, so the two cannot drift). */
  private def ivfExactOracle(nQueries: Int, k: Int, nprobe: Int,
      cells: Int, iters: Int, queryPredSql: String = ""): String = {
    val pred =
      if (queryPredSql.nonEmpty) queryPredSql
      else s"q.vec_id < $nQueries"
    s"""WITH ${exactKmeansCtes(cells, iters)},
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${l2Sql("q.embedding", "c.cvec", Dim)}, c.cell)
       |        AS rn
       |    FROM e q CROSS JOIN c$iters c WHERE $pred)
       |  WHERE rn <= $nprobe),
       |serve AS (
       |  SELECT p.query_id, n.vec_id AS neighbor_id,
       |    ${l2ffSql("n.embedding", "q.embedding")} AS d2
       |  FROM af an
       |  JOIN e n ON n.vec_id = an.vec_id
       |  JOIN probe p ON an.cell = p.cell
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE n.vec_id <> p.query_id)
       |SELECT query_id, rank, neighbor_id, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY d2, neighbor_id) AS rank
       |  FROM serve) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The [[pqCodebooksExact]] pipeline as a CTE chain — the
    * per-subspace form of [[exactKmeansCtes]]: `sv` (the long
    * subvector layout), seeds `pc0` (the first `ksub` vectors'
    * slices, double-cast), `iters` unrolled Lloyd rounds (per-
    * (vec, sub) L2-argmin assignment pa_r over a `dsub`-term fixed
    * fold + q139 decimal re-center pc_r keyed (sub, cell, pos)),
    * ending in the FINAL assignment `paf`. Shared by the q316 and
    * q317 oracles so the two cannot drift. */
  private def exactPqCtes(m: Int, ksub: Int, iters: Int): String = {
    val dsub = Dim / m
    def assign(name: String, cen: String): String =
      s"""$name AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT s.vec_id, s.sub, c.cell,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY ${l2Sql("s.sv", "c.cvec", dsub)}, c.cell)
         |        AS rn
         |    FROM sv s JOIN $cen c ON c.sub = s.sub) WHERE rn = 1)"""
        .stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${assign(s"pa$r", s"pc${r - 1}")},
         |pc$r AS (
         |  SELECT sub, cell, list(mv ORDER BY pos) AS cvec FROM (
         |    SELECT sub, cell, pos,
         |      CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
         |        AS VARCHAR) AS DOUBLE) / count(*) AS mv
         |    FROM (SELECT a.sub, a.cell, CAST(i - 1 AS INTEGER) AS pos,
         |            sx.sv[i] AS x
         |          FROM (SELECT vec_id, sub, sv,
         |                  unnest(range(1, len(sv) + 1)) AS i
         |                FROM sv) sx
         |          JOIN pa$r a ON a.vec_id = sx.vec_id
         |            AND a.sub = sx.sub)
         |    GROUP BY sub, cell, pos)
         |  GROUP BY sub, cell)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |sv AS (
       |  SELECT vec_id, CAST(s AS INTEGER) AS sub,
       |    embedding[CAST(s AS INTEGER) * $dsub + 1 :
       |              CAST(s AS INTEGER) * $dsub + $dsub] AS sv
       |  FROM e, (SELECT unnest(range($m)) AS s)),
       |pc0 AS (
       |  SELECT sub, CAST(vec_id AS INTEGER) AS cell,
       |    list_transform(sv, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM sv WHERE vec_id < $ksub),
       |$rounds,
       |${assign("paf", s"pc$iters")}""".stripMargin
  }

  /** q316's DuckDB twin: the final per-subspace assignments rolled up
    * to the sub-ordered code word per vector. */
  private def pqCodesExactOracle(m: Int, ksub: Int, iters: Int): String =
    s"""WITH ${exactPqCtes(m, ksub, iters)}
       |SELECT vec_id,
       |  string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub) AS codes
       |FROM paf GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q317's DuckDB twin: per-query m×ksub ADC distance tables against
    * the exact codebooks (the same `dsub`-term L2 fold), the
    * sub-sorted 0.0-seeded ADC sum (list_reduce over list_prepend —
    * the identical IEEE add chain to Spark's sub-sorted aggregate),
    * the `rerank·k` shortlist by (adist, neighbor_id), and the exact
    * full-dimension rerank — the whole FAISS ADC serving shape in
    * SQL. */
  private def pqAdcExactOracle(nQueries: Int, k: Int, m: Int, ksub: Int,
      iters: Int, rerank: Int): String = {
    val dsub = Dim / m
    s"""WITH ${exactPqCtes(m, ksub, iters)},
       |qt AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.cell,
       |    ${l2Sql("s.sv", "c.cvec", dsub)} AS d2
       |  FROM sv s JOIN pc$iters c ON c.sub = s.sub
       |  WHERE s.vec_id < $nQueries),
       |sl AS (
       |  SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS arank
       |  FROM (
       |    SELECT qt.query_id, pf.vec_id AS neighbor_id,
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list(qt.d2 ORDER BY qt.sub)), (a, b) -> a + b) AS adist
       |    FROM paf pf
       |    JOIN qt ON qt.sub = pf.sub AND qt.cell = pf.cell
       |    WHERE pf.vec_id <> qt.query_id
       |    GROUP BY qt.query_id, pf.vec_id))
       |SELECT query_id, rank, neighbor_id, d2, adist FROM (
       |  SELECT s.query_id, s.neighbor_id, s.adist,
       |    ${l2ffSql("n.embedding", "q.embedding")} AS d2,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY ${l2ffSql("n.embedding", "q.embedding")},
       |        s.neighbor_id) AS rank
       |  FROM sl s
       |  JOIN e n ON n.vec_id = s.neighbor_id
       |  JOIN e q ON q.vec_id = s.query_id
       |  WHERE s.arank <= ${k * rerank}) t
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The auto-width portable-RP pipeline as a CTE chain ending in
    * VERIFIED pairs `vp(d1, d2, sim)` — band width DERIVED from
    * count(*) by the same integer-exact scan as [[signBandWidth]]
    * (2^w and bands·n both exact in doubles, so the two engines pick
    * the identical width), then the identical md5 planes / banding /
    * cap / verification with every occurrence of the width stated as
    * a scalar subquery on `w`. Shared by the q318 (bare pairs) and
    * q320 (leakage rollup) oracles so the two cannot drift. */
  private def portableRpAutoCtes(bands: Int, threshold: Double,
      maxBucket: Int, budgetPerRow: Double = 1.0): String = {
    // the width pick replays [[signBandWidth]]'s INTEGER ceil-division
    // (budget in micros), so no float-division rounding can diverge
    // between engines at fractional budgets
    val budgetMicros = math.round(budgetPerRow * 1e6)
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |w AS (SELECT COALESCE(CAST(min(ww) AS INTEGER), 32) AS w
       |      FROM (SELECT unnest(range(4, 33)) AS ww), nn
       |      WHERE (CAST(1 AS BIGINT) << ww) >=
       |        (($bands * nn.n * 1000000 + $budgetMicros - 1)
       |          // $budgetMicros)),
       |pl AS (
       |  SELECT CAST(p AS INTEGER) AS p,
       |    list_transform(range($Dim), c ->
       |      CAST('0x' || substr(md5('rp:' || CAST(p AS VARCHAR)
       |          || ':' || CAST(c AS VARCHAR)), 1, 8) AS BIGINT)
       |        / 4294967296.0 - 0.5) AS coord
       |  FROM (SELECT unnest(range($bands * (SELECT w FROM w))) AS p)),
       |sg AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN list_reduce(
       |      list_transform(range($Dim), i ->
       |        CAST(e.embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
       |          * pl.coord[CAST(i AS INTEGER) + 1]),
       |      (a, b) -> a + b) > 0 THEN '1' ELSE '0' END AS s
       |  FROM e CROSS JOIN pl),
       |sig AS (
       |  SELECT vec_id, string_agg(s, '' ORDER BY p) AS sig
       |  FROM sg GROUP BY vec_id),
       |bd AS (
       |  SELECT vec_id, CAST(bb AS INTEGER) AS band,
       |    substr(sig, CAST(bb AS INTEGER) * (SELECT w FROM w) + 1,
       |      (SELECT w FROM w)) AS bk
       |  FROM sig, (SELECT unnest(range($bands)) AS bb)),
       |ok AS (
       |  SELECT band, bk FROM bd GROUP BY band, bk
       |  HAVING count(*) <= $maxBucket),
       |kb AS (
       |  SELECT bd2.vec_id, bd2.band, bd2.bk
       |  FROM bd bd2 JOIN ok USING (band, bk)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
       |  FROM kb x JOIN kb y
       |    ON x.band = y.band AND x.bk = y.bk
       |    AND x.vec_id < y.vec_id),
       |vp AS (
       |  SELECT cand.d1, cand.d2, ${simSql("a", "b")} AS sim
       |  FROM cand
       |  JOIN e a ON a.vec_id = cand.d1
       |  JOIN e b ON b.vec_id = cand.d2
       |  WHERE ${simSql("a", "b")} >= $threshold)""".stripMargin
  }

  /** q318's DuckDB twin: the shared auto-width chain, bare pairs.
    * Concatenation, NOT an outer stripMargin: the interpolated chain
    * contains SQL lines that BEGIN with the `||` concat operator,
    * which an outer stripMargin would mangle into `|`. */
  private def portableRpAutoOracle(bands: Int, threshold: Double,
      maxBucket: Int, budgetPerRow: Double = 1.0): String =
    s"WITH ${portableRpAutoCtes(bands, threshold, maxBucket,
      budgetPerRow)}\n" +
      "SELECT d1, d2, sim FROM vp\nORDER BY d1, d2"

  /** q320's DuckDB twin: q306's split assignment + cross-split rollup
    * over the SAME auto-width verified pairs (concatenated — see
    * [[portableRpAutoOracle]]'s stripMargin note). */
  private def leakagePortableAutoOracle(bands: Int, threshold: Double,
      maxBucket: Int): String =
    s"WITH ${portableRpAutoCtes(bands, threshold, maxBucket)},\n" +
      """s AS (
        |  SELECT vec_id,
        |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT vec_id,
        |          CAST('0x' || substr(md5('esplit:'
        |            || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
        |            % 10 AS b
        |        FROM embeddings)),
        |j AS (
        |  SELECT vp.d1, vp.d2, vp.sim, sa.split AS split_a,
        |    sb.split AS split_b
        |  FROM vp JOIN s sa ON sa.vec_id = vp.d1
        |  JOIN s sb ON sb.vec_id = vp.d2
        |  WHERE sa.split <> sb.split)
        |SELECT least(split_a, split_b) AS split_lo,
        |  greatest(split_a, split_b) AS split_hi,
        |  CAST(count(*) AS BIGINT) AS n_leaks, max(sim) AS max_sim,
        |  min(d1) AS example_d1
        |FROM j GROUP BY 1, 2
        |ORDER BY split_lo, split_hi""".stripMargin

  /** The q146 assignment (decimal-exact centroids + argmin) as one
    * shared CTE chain ending in `assign` — q146 states it directly,
    * q248 orders by it; the two cannot drift. */
  private lazy val nearestCentroidAssignSql: String =
    s"""cent AS (
       |  SELECT label, pos,
       |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
       |      AS VARCHAR) AS DOUBLE) / count(*) AS centroid
       |  FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
       |          embedding[i] AS x
       |        FROM (SELECT label, embedding,
       |                unnest(range(1, len(embedding) + 1)) AS i
       |              FROM embeddings))
       |  GROUP BY label, pos),
       |cents AS (
       |  SELECT label AS c_label, list(centroid ORDER BY pos) AS cvec
       |  FROM cent GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label AS true_label, c.c_label,
       |    ${l2Sql("e.embedding", "c.cvec", Dim)} AS dist2
       |  FROM embeddings e CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, true_label, c_label, dist2,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist2, c_label) AS rn
       |  FROM scored)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q31's exact-cosine sims; k-NN sums as rank-ordered left folds
    // from a 0.0 seed (the identical IEEE add chain to the Spark
    // aggregate); margin as one fixed-shape expression. Pinned to
    // k=4, acceptAt=1.05.
    "q265_bitext_margin" ->
      s"""WITH s AS (
         |  SELECT a.vec_id AS aid, b.vec_id AS bid,
         |    ${simSql("a", "b")} AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |r AS (
         |  SELECT aid, bid, sim,
         |    row_number() OVER (PARTITION BY aid
         |      ORDER BY sim DESC, bid) AS rnka,
         |    row_number() OVER (PARTITION BY bid
         |      ORDER BY sim DESC, aid) AS rnkb
         |  FROM s),
         |ka AS (
         |  SELECT aid, list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE),
         |        list(sim ORDER BY rnka)), (x, y) -> x + y) AS suma
         |  FROM r WHERE rnka <= 4 GROUP BY aid),
         |kb AS (
         |  SELECT bid, list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE),
         |        list(sim ORDER BY rnkb)), (x, y) -> x + y) AS sumb
         |  FROM r WHERE rnkb <= 4 GROUP BY bid),
         |f AS (SELECT aid, bid, sim FROM r WHERE rnka = 1),
         |bw AS (SELECT bid, aid AS nn_aid FROM r WHERE rnkb = 1)
         |SELECT f.aid AS src_id, f.bid AS tgt_id, f.sim AS sim,
         |  f.sim / (ka.suma / (2.0 * 4.0) + kb.sumb / (2.0 * 4.0))
         |    AS margin,
         |  bw.nn_aid = f.aid AS mutual,
         |  f.sim / (ka.suma / (2.0 * 4.0) + kb.sumb / (2.0 * 4.0))
         |    >= 1.05 AS accepted
         |FROM f
         |JOIN ka ON ka.aid = f.aid
         |JOIN kb ON kb.bid = f.bid
         |JOIN bw ON bw.bid = f.bid
         |ORDER BY margin DESC, src_id""".stripMargin,
    // q31's exact-cosine recipe + rank <= 5 votes + totally-ordered
    // majority (count DESC, label ASC), pinned to k=5 probeMod=10
    "q262_knn_labels" ->
      s"""WITH s AS (
         |  SELECT q.vec_id AS probe_id, q.label AS true_label,
         |    n.vec_id AS nid, n.label AS nl,
         |    ${simSql("q", "n")} AS sim
         |  FROM embeddings q JOIN embeddings n
         |    ON q.vec_id % 10 = 0 AND n.vec_id % 10 <> 0),
         |r AS (
         |  SELECT probe_id, true_label, nl,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY sim DESC, nid) AS rnk
         |  FROM s),
         |v AS (
         |  SELECT probe_id, true_label, nl,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM r WHERE rnk <= 5 GROUP BY probe_id, true_label, nl),
         |p AS (
         |  SELECT probe_id, true_label, nl, cnt,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cnt DESC, nl) AS vr
         |  FROM v)
         |SELECT probe_id AS vec_id, true_label AS label,
         |  nl AS pred_label, cnt AS n_votes,
         |  nl = true_label AS correct
         |FROM p WHERE vr = 1
         |ORDER BY vec_id""".stripMargin,
    "q158_pagerank" -> pageRankOracle(3),
    "q226_label_propagation" -> labelPropagationOracle(3),
    // the SHARED LPA CTE chain + integer in_c / K_c / E rollups and
    // the same fixed-shape contribution expression
    "q284_modularity_card" ->
      s"""WITH ${labelPropagationCtes(3)},
         |cm AS (SELECT id, label FROM l3),
         |et AS (SELECT CAST(count(*) AS BIGINT) AS e_total FROM edges),
         |inc AS (
         |  SELECT a.label AS community, CAST(count(*) AS BIGINT)
         |    AS in_edges
         |  FROM edges e
         |  JOIN cm a ON e.src = a.id JOIN cm b ON e.dst = b.id
         |  WHERE a.label = b.label GROUP BY 1),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
         |        FROM edges GROUP BY 1),
         |dc AS (
         |  SELECT c.label AS community, CAST(count(*) AS BIGINT)
         |    AS n_nodes, CAST(sum(d.dg) AS BIGINT) AS deg_sum
         |  FROM deg d JOIN cm c ON d.src = c.id GROUP BY 1)
         |SELECT dc.community, dc.n_nodes,
         |  COALESCE(inc.in_edges, 0) AS in_edges, dc.deg_sum,
         |  CAST(COALESCE(inc.in_edges, 0) AS DOUBLE)
         |      / CAST(et.e_total AS DOUBLE)
         |    - (CAST(dc.deg_sum AS DOUBLE) / CAST(et.e_total AS DOUBLE))
         |      * (CAST(dc.deg_sum AS DOUBLE) / CAST(et.e_total AS DOUBLE))
         |    AS contrib
         |FROM dc LEFT JOIN inc ON inc.community = dc.community
         |CROSS JOIN et
         |ORDER BY dc.community""".stripMargin,
    // same exact Gram/mean covariance, unrolled power-iteration
    // rounds with sorted matvec folds, sqrt-normalize, Rayleigh
    "q296_anisotropy_card" -> anisotropyOracle(5),
    // the q101 split device on vec_id + the q31-convention exact
    // cosine pairs; max is a selection over already-exact doubles
    "q306_embedding_leakage" ->
      s"""WITH s AS (
         |  SELECT vec_id,
         |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT vec_id,
         |          CAST('0x' || substr(md5('esplit:'
         |            || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
         |            % 10 AS b
         |        FROM embeddings)),
         |p AS (
         |  SELECT d1, d2, sim FROM (
         |    SELECT a.vec_id AS d1, b.vec_id AS d2,
         |      ${simSql("a", "b")} AS sim
         |    FROM embeddings a JOIN embeddings b
         |      ON a.vec_id < b.vec_id)
         |  WHERE sim >= 0.45),
         |j AS (
         |  SELECT p.d1, p.d2, p.sim, sa.split AS split_a,
         |    sb.split AS split_b
         |  FROM p JOIN s sa ON sa.vec_id = p.d1
         |  JOIN s sb ON sb.vec_id = p.d2
         |  WHERE sa.split <> sb.split)
         |SELECT least(split_a, split_b) AS split_lo,
         |  greatest(split_a, split_b) AS split_hi,
         |  CAST(count(*) AS BIGINT) AS n_leaks, max(sim) AS max_sim,
         |  min(d1) AS example_d1
         |FROM j GROUP BY 1, 2
         |ORDER BY split_lo, split_hi""".stripMargin,
    // the identical card over the md5 hash-slice: the shared oracle
    // body with the q134-device integer predicate as the source —
    // pinned to salt "aniso:" and keepPer10k=5000
    "q298_anisotropy_sampled" -> anisotropyOracle(5,
      from = "embeddings WHERE CAST('0x' || " +
        "substr(md5('aniso:' || CAST(vec_id AS VARCHAR)), 1, 8) " +
        "AS BIGINT) % 10000 < 5000"),
    // the same symmetrized edges + integer degree sums and the ONE
    // sqrt-free Pearson division (identical marginals)
    "q290_assortativity" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${simSql("a", "b")} >= 0.3),
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
         |        FROM edges GROUP BY 1),
         |lab AS (
         |  SELECT dx.dg AS dx, dy.dg AS dy
         |  FROM edges e JOIN deg dx ON e.src = dx.src
         |  JOIN deg dy ON e.dst = dy.src),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |    CAST(sum(dx) AS BIGINT) AS sx,
         |    CAST(sum(dx * dx) AS BIGINT) AS sxx
         |  FROM lab)
         |SELECT m AS n_directed_edges, sx AS sum_deg,
         |  CAST(m * sxy - sx * sx AS DOUBLE) /
         |    CAST(m * sxx - sx * sx AS DOUBLE) AS assortativity
         |FROM s ORDER BY n_directed_edges""".stripMargin,
    // the q276 recipe (exact centroids + left-fold dist2 +
    // quantile_cont(0.5)) plus the |labels|^2 centroid matrix with
    // the (cd2, other) row_number argmin and ONE ratio division
    "q288_cluster_separation" ->
      s"""WITH cent AS (
         |  SELECT label, pos,
         |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
         |      AS VARCHAR) AS DOUBLE) / count(*) AS centroid
         |  FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         |          embedding[i] AS x
         |        FROM (SELECT label, embedding,
         |                unnest(range(1, len(embedding) + 1)) AS i
         |              FROM embeddings))
         |  GROUP BY label, pos),
         |cvecs AS (
         |  SELECT label, list(centroid ORDER BY pos) AS cvec
         |  FROM cent GROUP BY label),
         |scored AS (
         |  SELECT e.vec_id, e.label,
         |    ${l2Sql("e.embedding", "c.cvec", Dim)} AS dist2
         |  FROM embeddings e JOIN cvecs c ON e.label = c.label),
         |coh AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |    quantile_cont(dist2, 0.5) AS cohesion_med
         |  FROM scored GROUP BY label),
         |sep AS (
         |  SELECT label, other AS nearest_label, cd2 AS separation
         |  FROM (
         |    SELECT a.label AS label, b.label AS other,
         |      ${l2Sql("a.cvec", "b.cvec", Dim)} AS cd2,
         |      row_number() OVER (PARTITION BY a.label
         |        ORDER BY ${l2Sql("a.cvec", "b.cvec", Dim)}, b.label)
         |        AS rn
         |    FROM cvecs a JOIN cvecs b ON a.label <> b.label)
         |  WHERE rn = 1)
         |SELECT c.label, c.n_vecs, c.cohesion_med, s.nearest_label,
         |  s.separation, s.separation / c.cohesion_med AS ratio
         |FROM coh c JOIN sep s ON s.label = c.label
         |ORDER BY c.label""".stripMargin,
    "q167_kcore" -> kCoreOracle(2, 4),
    "q166_bfs_hops" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${simSql("a", "b")} >= 0.3),
         |edges AS MATERIALIZED (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |walk(id, d) AS (
         |  SELECT vec_id, 0 FROM embeddings WHERE vec_id < 3
         |  UNION
         |  SELECT e.dst, w.d + 1 FROM walk w
         |  JOIN edges e ON e.src = w.id WHERE w.d < 4)
         |SELECT id AS vec_id, CAST(MIN(d) AS BIGINT) AS hops
         |FROM walk GROUP BY id ORDER BY vec_id""".stripMargin,
    "q152_triangle_counts" ->
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${simSql("a", "b")} >= 0.3),
         |tri AS (
         |  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON ab.d2 = bc.d1
         |  JOIN pairs ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT a AS vec_id FROM tri
         |      UNION ALL SELECT b FROM tri
         |      UNION ALL SELECT c FROM tri)
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q146_nearest_centroid" ->
      s"""WITH $nearestCentroidAssignSql
         |SELECT vec_id, true_label, c_label AS pred_label, dist2
         |FROM assign WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // the avoided global window stated VERBATIM: the Spark plan builds
    // the same pos from per-(cluster, hex-shard) ranks + broadcast
    // prefix folds, with no unpartitioned window anywhere
    "q248_cluster_adjacent_order" ->
      s"""WITH $nearestCentroidAssignSql,
         |a AS (SELECT vec_id, c_label AS cluster FROM assign WHERE rn = 1)
         |SELECT vec_id, cluster,
         |  CAST(row_number() OVER (ORDER BY cluster,
         |    md5('sem0:' || CAST(vec_id AS VARCHAR)), vec_id)
         |    AS BIGINT) AS pos
         |FROM a ORDER BY vec_id""".stripMargin,
    "q139_label_centroids" ->
      """SELECT label, pos, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
        |    AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |        embedding[i] AS x
        |      FROM (SELECT label, embedding,
        |              unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings))
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // the sum-vector identity replayed: exact decimal Σv / Σv² per
    // (label, pos), one string-cast collapse to double per sum, and
    // ‖S‖² as the identical pos-ordered left fold from a 0.0 seed
    "q275_dispersion_card" ->
      """WITH x AS (
        |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |    CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,12)) AS v
        |  FROM (SELECT label, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |p AS (
        |  SELECT label, pos, count(*) AS n, sum(v) AS s,
        |    sum(v * v) AS ss
        |  FROM x GROUP BY 1, 2),
        |l AS (
        |  SELECT label, max(n) AS n_vecs,
        |    list(CAST(CAST(s AS VARCHAR) AS DOUBLE) ORDER BY pos) AS svec,
        |    CAST(CAST(sum(ss) AS VARCHAR) AS DOUBLE) AS ssq
        |  FROM p GROUP BY 1),
        |f AS (
        |  SELECT label, n_vecs, ssq,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), svec),
        |      (acc, y) -> acc + y * y) AS snorm2
        |  FROM l)
        |SELECT label, n_vecs, snorm2, ssq,
        |  CASE WHEN n_vecs > 1 THEN (snorm2 - ssq)
        |    / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))
        |  END AS mean_pair_dot,
        |  ssq / CAST(n_vecs AS DOUBLE) AS mean_norm2
        |FROM f ORDER BY label""".stripMargin,
    // own-label centroid distance (the q146 exact-centroid recipe +
    // the identical left-associated squared-difference sum), gated at
    // quantile_cont(0.95) — the same interpolation the distributed
    // exact-quantile machinery reproduces bitwise (q89 precedent)
    "q276_centroid_outliers" ->
      s"""WITH cent AS (
         |  SELECT label, pos,
         |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
         |      AS VARCHAR) AS DOUBLE) / count(*) AS centroid
         |  FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         |          embedding[i] AS x
         |        FROM (SELECT label, embedding,
         |                unnest(range(1, len(embedding) + 1)) AS i
         |              FROM embeddings))
         |  GROUP BY label, pos),
         |cvecs AS (
         |  SELECT label, list(centroid ORDER BY pos) AS cvec
         |  FROM cent GROUP BY label),
         |scored AS (
         |  SELECT e.vec_id, e.label,
         |    ${l2Sql("e.embedding", "c.cvec", Dim)} AS dist2
         |  FROM embeddings e JOIN cvecs c ON e.label = c.label),
         |thr AS (
         |  SELECT label, quantile_cont(dist2, 0.95) AS p95
         |  FROM scored GROUP BY label)
         |SELECT s.vec_id, s.label, s.dist2, t.p95,
         |  s.dist2 > t.p95 AS is_outlier
         |FROM scored s JOIN thr t ON s.label = t.label
         |ORDER BY s.vec_id""".stripMargin,
    // per-side exact decimal centroids (vec_id parity split), then
    // cosine / shift2 as the identical seeded pos-ordered list_reduce
    // folds and one fixed-shape final expression
    "q278_centroid_drift" ->
      """WITH centb AS (
        |  SELECT label, pos, count(*) AS n,
        |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
        |      AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |  FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |          embedding[i] AS x
        |        FROM (SELECT label, embedding,
        |                unnest(range(1, len(embedding) + 1)) AS i
        |              FROM embeddings WHERE vec_id % 2 = 0))
        |  GROUP BY label, pos),
        |cents AS (
        |  SELECT label, pos, count(*) AS n,
        |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(18,12)))
        |      AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |  FROM (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |          embedding[i] AS x
        |        FROM (SELECT label, embedding,
        |                unnest(range(1, len(embedding) + 1)) AS i
        |              FROM embeddings WHERE vec_id % 2 = 1))
        |  GROUP BY label, pos),
        |nb AS (SELECT label, max(n) AS n_base FROM centb GROUP BY label),
        |ns AS (SELECT label, max(n) AS n_snap FROM cents GROUP BY label),
        |j AS (
        |  SELECT b.label, b.pos, b.centroid AS bc, s.centroid AS sc
        |  FROM centb b JOIN cents s
        |    ON b.label = s.label AND b.pos = s.pos),
        |f AS (
        |  SELECT label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(bc * sc ORDER BY pos)), (a, y) -> a + y) AS dot_bs,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(bc * bc ORDER BY pos)), (a, y) -> a + y) AS n2b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sc * sc ORDER BY pos)), (a, y) -> a + y) AS n2s,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((bc - sc) * (bc - sc) ORDER BY pos)), (a, y) -> a + y)
        |      AS shift2
        |  FROM j GROUP BY label)
        |SELECT f.label, nb.n_base, ns.n_snap,
        |  dot_bs / (sqrt(n2b) * sqrt(n2s)) AS cos_sim, shift2
        |FROM f
        |JOIN nb ON nb.label = f.label
        |JOIN ns ON ns.label = f.label
        |ORDER BY f.label""".stripMargin,
    // the unrolled exact-k-means IVF pipeline — pinned to nQueries=10,
    // k=5, nprobe=2, cells=8, iters=2
    "q313_ivf_exact_topk" -> ivfExactOracle(10, 5, 2, 8, 2),
    // the md5 plane family derived IN SQL (bit-identical to the Scala
    // literals: integer/2^32 - 0.5, each step correctly rounded), the
    // same sign fold (list_reduce's missing 0.0 seed is sign-safe),
    // substring band keys, the HAVING bucket cap, and the q31
    // exact-cosine verify. Pinned to nPlanes=32, bands=4,
    // threshold=0.45, maxBucket=10000.
    "q315_portable_rp_pairs" -> portableRpOracle(32, 4, 0.45, 10000),
    // the per-subspace unrolled decimal-Lloyd chain + sub-ordered code
    // words — pinned to m=8, ksub=16, iters=3 (the production
    // defaults, so the exact tier audits the exact configuration
    // q160/q161 run)
    "q316_pq_codes_exact" -> pqCodesExactOracle(8, 16, 3),
    // + ADC distance tables, the sub-sorted 0.0-seeded fold, the
    // shortlist and the exact rerank — pinned to nQueries=10, k=5,
    // m=8, ksub=16, iters=3, rerank=4
    "q317_pq_adc_exact" -> pqAdcExactOracle(10, 5, 8, 16, 3, 4),
    // q315's pipeline with the band width derived from count(*) IN
    // SQL by the same integer-exact scan as signBandWidth — pinned to
    // bands=4, threshold=0.45, maxBucket=10000, budgetPerRow=1
    "q318_rp_pairs_auto" -> portableRpAutoOracle(4, 0.45, 10000),
    "q329_rp_pairs_auto_budget" ->
      portableRpAutoOracle(4, 0.45, 10000, 2.5),
    // the q306 rollup over the SAME auto-width chain (shared CTE
    // generator) — pinned to threshold=0.35 (see the operator doc)
    "q320_leakage_portable_auto" ->
      leakagePortableAutoOracle(4, 0.35, 10000),
    // the q313 CTE chain serving the DISJOINT query slice
    // vec_id % 50 = 7 — what the at-rest artifact answers must equal
    // what the inline pipeline answers (partition pruning only
    // removes unprobed cells)
    "q319_ivf_exact_served" ->
      ivfExactOracle(0, 5, 2, 8, 2, "q.vec_id % 50 = 7"),
    // the base-trained exact-k-means chain (e restricted to the base
    // slice) + single-cell assignment of the increment + the
    // best-match decision — index training, probe, pruned decision
    // all replayed; pinned to cells=8, iters=2, threshold=0.35
    "q327_semdedup_incremental" -> semDedupIncOracle(8, 2, 0.35),
    "q330_semdedup_atrest" -> semDedupIncOracle(8, 2, 0.35),
    // the APPENDED index: frozen-quantizer chain (train day-0, assign
    // the union), q327-shaped finish
    "q344_sem_appended" -> semDedupAppendedOracle(8, 2, 0.35),
    // the same base-trained chain + the SAME shared inc-assignment
    // CTEs + per-cell occupancy rollups and the drift arithmetic
    "q328_index_staleness" -> indexStalenessOracle(8, 2),
    // the shared exact-k-means CTE chain + the portable md5 rank
    // window + the perCell cap — the whole topic-balancing decision
    // replayed; pinned to cells=8, iters=2, perCell=40
    "q326_cluster_balanced_sample" ->
      s"""WITH ${exactKmeansCtes(8, 2)},
         |rk AS (
         |  SELECT vec_id, cell,
         |    CAST('0x' || substr(md5('cbs:' ||
         |      CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS rk
         |  FROM af),
         |kept AS (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY rk, vec_id) AS pos
         |  FROM rk)
         |SELECT vec_id, cell, pos FROM kept
         |WHERE pos <= 40 ORDER BY vec_id""".stripMargin,
    // the same exact-k-means CTE chain (shared generator — the two
    // oracles cannot drift) + intra-cell exact-cosine pairs + the
    // q136 recursive transitive closure + component-minimum reps;
    // pinned to k=8, iters=2, threshold=0.45
    "q314_semdedup_exact" ->
      s"""WITH RECURSIVE ${exactKmeansCtes(8, 2)},
         |cellof AS MATERIALIZED (SELECT vec_id, cell FROM af),
         |pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM e a
         |  JOIN cellof ca ON ca.vec_id = a.vec_id
         |  JOIN e b ON a.vec_id < b.vec_id
         |  JOIN cellof cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
         |  WHERE ${simSql("a", "b")} >= 0.45),
         |edges AS MATERIALIZED (
         |  SELECT d1 AS s, d2 AS t FROM pairs
         |  UNION SELECT d2, d1 FROM pairs),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
         |rep AS (
         |  SELECT e.vec_id,
         |    LEAST(e.vec_id, COALESCE(MIN(r.t), e.vec_id)) AS rep_id
         |  FROM e LEFT JOIN reach r ON r.s = e.vec_id
         |  GROUP BY e.vec_id)
         |SELECT rep.vec_id, cellof.cell, rep.rep_id,
         |  (rep.rep_id = rep.vec_id) AS keep
         |FROM rep JOIN cellof ON cellof.vec_id = rep.vec_id
         |ORDER BY rep.vec_id""".stripMargin,
    "q31_cosine_topk" ->
      s"""SELECT query_id, rank, neighbor_id, sim FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    ${simSql("q", "n")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${simSql("q", "n")} DESC, n.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10
         |    AND n.vec_id <> q.vec_id) t
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q32_similar_pairs" ->
      s"""SELECT a.vec_id AS d1, b.vec_id AS d2, ${simSql("a", "b")} AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${simSql("a", "b")} >= 0.45
         |ORDER BY d1, d2""".stripMargin,
    // connected components as SQL: transitive closure of the pair set
    // via a recursive CTE, representative = component minimum
    "q136_embedding_neardup" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${simSql("a", "b")} >= 0.45),
         |edges AS (
         |  SELECT d1 AS s, d2 AS t FROM pairs
         |  UNION SELECT d2, d1 FROM pairs),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
         |rep AS (
         |  SELECT e.vec_id,
         |    LEAST(e.vec_id, COALESCE(MIN(r.t), e.vec_id)) AS rep_id
         |  FROM embeddings e LEFT JOIN reach r ON r.s = e.vec_id
         |  GROUP BY e.vec_id)
         |SELECT vec_id, rep_id, (rep_id = vec_id) AS keep
         |FROM rep ORDER BY vec_id""".stripMargin
  )
}
