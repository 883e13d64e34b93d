package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions._
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private def t = Tables(spark, "/root/testdata/sf0.001")

  test("knnLabelCard: planted clusters label probes correctly; vote " +
      "ties prefer the smaller label; card agrees with true accuracy") {
    // two tight clusters; probes are vec_id 0 (cluster 7) and 10
    // (cluster 2) — every neighbor vote is the right cluster
    val a = Seq(1f, 0f, 0f); val b = Seq(0f, 1f, 0f)
    val emb = (Seq((0L, a, 7), (10L, b, 2)) ++
      (1L to 5L).map(i => (i, a, 7)) ++
      (11L to 15L).map(i => (i, b, 2)))
      .toDF("vec_id", "embedding", "label")
    val card = Similarity.knnLabelCard(emb, k = 5).collect()
    assert(card.length == 2)
    card.foreach { r =>
      assert(r.getBoolean(4), s"probe ${r.getLong(0)} mislabeled")
      assert(r.getLong(3) == 5L) // unanimous votes
    }
    // tie: probe 0 sees one label-3 and one label-1 neighbor at k=2
    val tie = Seq((0L, Seq(1f, 1f, 0f), 9),
      (1L, Seq(1f, 0f, 0f), 3), (2L, Seq(0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val tr = Similarity.knnLabelCard(tie, k = 2).head()
    assert(tr.getInt(2) == 1 && tr.getLong(3) == 1L && !tr.getBoolean(4))

    // real corpus: accuracy recomputed from the per-probe rows is
    // consistent, and probes cover exactly the mod-10 slice
    val real = Similarity.knnLabelCard(t.embeddings).collect()
    val nProbes = t.embeddings
      .filter(pmod(col("vec_id"), lit(10)) === 0).count()
    assert(real.length == nProbes)
    assert(real.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 5))
  }

  test("bitextMarginMining: a planted aligned pair is mutual and " +
      "out-margins a hub that beats it on raw cosine") {
    // left side = even ids, right side = odd ids. Planted alignment:
    // 0↔1 (near-identical direction). Hub: 3 is moderately close to
    // EVERY left vector — raw cosine ranks it high everywhere, but
    // its own k-NN average is high too, so the margin discounts it.
    val emb = Seq(
      (0L, Seq(1f, 0.1f, 0f, 0f), 0),   // left: aligned with 1
      (2L, Seq(0.8f, 0.55f, 0.2f, 0f), 0),
      (4L, Seq(0.7f, 0.6f, 0.1f, 0.1f), 0),
      (6L, Seq(0f, 0f, 0.2f, 1f), 0),   // left: aligned with 7
      (1L, Seq(1f, 0.12f, 0f, 0f), 1),  // right: twin of 0
      (3L, Seq(0.75f, 0.6f, 0.15f, 0.05f), 1), // right: the hub
      (5L, Seq(0.72f, 0.62f, 0.12f, 0.08f), 1),
      (7L, Seq(0f, 0.05f, 0.18f, 1f), 1) // right: twin of 6
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.bitextMarginMining(emb, k = 2).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 2L, 4L, 6L))
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(3), r.getBoolean(4)))).toMap
    // planted pairs: right twin chosen, mutual, margin above 1
    assert(byId(0L)._1 == 1L && byId(0L)._3, s"0 paired ${byId(0L)}")
    assert(byId(6L)._1 == 7L && byId(6L)._3, s"6 paired ${byId(6L)}")
    assert(byId(0L)._2 > 1.0 && byId(6L)._2 > 1.0)
    // the hub-paired middles score a LOWER margin than the planted
    // alignments even though their raw cosines are comparable
    val plantedMin = math.min(byId(0L)._2, byId(6L)._2)
    Seq(2L, 4L).foreach { id =>
      assert(byId(id)._2 < plantedMin,
        s"hub pair $id margin ${byId(id)._2} >= planted $plantedMin")
    }
    // margins are DESC in the output ordering
    val margins = rows.map(_.getDouble(3))
    assert(margins.zip(margins.tail).forall { case (x, y) => x >= y })

    // real corpus: one row per left vector, schema stable
    val real = Similarity.bitextMarginMining(t.embeddings).collect()
    val nLeft = t.embeddings
      .filter(pmod(col("vec_id"), lit(2)) === 0).count()
    assert(real.length == nLeft)
  }

  test("dot/cosine basics") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    assert(df.select(dot(col("a"), col("b"))).head.getDouble(0) == 32.0)
    val c = df.select(cosine(col("a"), col("a"))).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("self-similarity: identical planted vector ranks first") {
    val emb = t.embeddings
    val planted = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(999999L))
    val r = Similarity.cosineTopK(emb.union(planted), nQueries = 10, k = 1)
      .filter(col("query_id") === 3).head
    assert(r.getAs[Long]("neighbor_id") == 999999L)
    assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-12)
  }

  test("RP-LSH ANN recall vs brute force is substantial") {
    val brute = Similarity.cosineTopK(t.embeddings, 10, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annRandomHyperplane(t.embeddings, 10, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF ANN recall vs brute force is substantial") {
    val brute = Similarity.cosineTopK(t.embeddings, 10, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(t.embeddings, 10, 5, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    // measured 0.86 (sf0.001) / 0.84 (sf0.01) with the trained k-means
    // quantizer at nprobe=3/16 cells; 0.6 leaves seed/data margin
    assert(recall >= 0.6, s"recall $recall")
  }

  test("materialized IVF: pruned scan equals full scan, partitions pruned") {
    val key = s"ivfspec_${System.nanoTime()}"
    val emb = t.embeddings
    // 3 queries x 3 probes touch at most 9 of the 16 cells, so
    // pruning is provable by construction
    val mat = Similarity.ivfTopKMaterialized(spark, emb, key,
      nQueries = 3)
    val unpruned = Similarity.ivfTopKMaterialized(spark, emb, key,
      nQueries = 3, pruned = false)
    // the partition filter only removes cells no query probes — the
    // served neighbors are identical (pins both the pruning's
    // soundness and the sidecar-centroid probe logic)
    assert(mat.collect().toSeq == unpruned.collect().toSeq)
    assert(mat.count() > 0)

    // the vector table is scanned with a cell partition filter that
    // reads a strict subset of its partitions
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val (vectors, _) = Similarity.materializedIvfIndex(spark, emb, key)
    val scans = scansOf(mat.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("graft_ivf_"))
      .filterNot(_.metadata("Location").contains("cents"))
    assert(scans.size == 1, "expected exactly one scan of the index table")
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("cell"),
      scan.metadata("PartitionFilters"))
    assert(scan.relation.partitionSchema.fieldNames.contains("cell"))
    val allCells = vectors.select("cell").distinct().count()
    assert(allCells > 9, s"quantizer collapsed to $allCells cells — " +
      "pruning not provable on this corpus")
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead > 0 && partsRead <= 9 && partsRead < allCells,
      s"scan read $partsRead of $allCells cells — not pruned")

    // serving recall from the at-rest index matches the in-memory
    // IVF tier's bar against brute force
    val brute = Similarity.cosineTopK(emb, 3, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = mat.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.intersect(served).size.toDouble / brute.size >= 0.5)
  }

  test("ANN results are always a subset of the corpus and well-ranked") {
    val ann = Similarity.annRandomHyperplane(t.embeddings, 10, 5)
    val bad = ann.groupBy("query_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 5)
    assert(bad.isEmpty)
    // ranks are 1..k contiguous
    val ranks = ann.filter(col("query_id") === 0)
      .select("rank").as[Int].collect().toSeq
    assert(ranks == (1 to ranks.size))
  }

  test("label centroids: exact mean of a known frame") {
    val df = Seq((0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 5.0f)),
      (1, Seq(-1.5f, 0.5f))).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got((0, 0)) == ((2L, 2.0)) && got((0, 1)) == ((2L, 3.5)))
    assert(got((1, 0)) == ((1L, -1.5)) && got((1, 1)) == ((1L, 0.5)))
  }

  test("label centroids agree with the naive float mean to 1e-6") {
    val naive = t.embeddings
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val exact = Similarity.labelCentroids(t.embeddings).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(exact.size == naive.size && exact.nonEmpty)
    exact.foreach { case (k, v) =>
      assert(math.abs(v - naive(k)) < 1e-6, s"label/pos $k")
    }
  }

  test("nearest centroid classifies toward the closer prototype") {
    val df = Seq(
      (10L, 0, Seq(0.0f, 0.0f)), (11L, 0, Seq(2.0f, 0.0f)),  // centroid (1,0)
      (20L, 1, Seq(10.0f, 10.0f)), (21L, 1, Seq(12.0f, 10.0f)), // (11,10)
      (30L, 1, Seq(0.5f, 0.5f)) // labeled 1 but sits next to label 0
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.nearestCentroid(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(10L) == ((0, 0)) && got(11L) == ((0, 0)))
    assert(got(20L) == ((1, 1)) && got(21L) == ((1, 1)))
    assert(got(30L) == ((1, 0))) // true label 1, predicted 0
  }

  test("triangle counts: a planted 3-clique yields one triangle per member") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f)) // orthogonal: in no triangle
    ).toDF("vec_id", "embedding")
    val got = Similarity.triangleCounts(df, threshold = 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("embedding near-dup dedup groups by similarity components") {
    val r = Similarity.embeddingDedup(t.embeddings)
      .as[(Long, Long, Boolean)].collect()
    // total: one row per vector, rep <= self, keep iff self-rep
    assert(r.length == t.embeddings.count())
    r.foreach { case (id, rep, keep) =>
      assert(rep <= id && keep == (rep == id), s"vec $id")
    }
    // representatives are fixpoints: rep(rep(x)) == rep(x)
    val repOf = r.map { case (id, rep, _) => id -> rep }.toMap
    r.foreach { case (_, rep, _) => assert(repOf(rep) == rep) }
    // pairs over threshold share a component; a planted exact twin
    // collapses onto its original
    val twin = t.embeddings.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(999999L))
    val withTwin = Similarity.embeddingDedup(t.embeddings.union(twin))
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, rep, _) => id -> rep }.toMap
    assert(withTwin(999999L) == withTwin(7L) && !withTwin.get(7L).contains(999999L))
  }

  test("pageRank on a hand path graph matches the scalar recurrence") {
    // cosines: (1,2)=0.8, (2,3)=0.6, (1,3)=0 -> path 1-2-3 at t=0.5
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.8f, 0.6f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pageRank(emb, threshold = 0.5, iters = 3)
      .as[(Long, Double)].collect().toMap
    // scalar replay: deg = (1, 2, 1), teleport = 0.15/3
    var p = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    val tp = (1.0 - 0.85) / 3
    (1 to 3).foreach { _ =>
      p = Map(
        1L -> (tp + 0.85 * (p(2L) / 2)),
        2L -> (tp + 0.85 * (p(1L) / 1 + p(3L) / 1)),
        3L -> (tp + 0.85 * (p(2L) / 2)))
    }
    assert(got.keySet == p.keySet)
    p.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-15) }
    // symmetry of the path: the two leaves tie exactly
    assert(got(1L) == got(3L))
  }

  test("bfsHops: exact hop counts on a hand path graph, truncated at maxHops") {
    // v_i = e_i + e_{i+1}: cos with the next node is 0.5, with anything
    // farther 0 -> the similarity graph at t=0.4 is the path 0-1-2-3-4-5
    val emb = (0L to 5L).map { i =>
      val v = Array.fill(8)(0f); v(i.toInt) = 1f; v(i.toInt + 1) = 1f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val got = Similarity.bfsHops(emb, threshold = 0.4, nSources = 1,
      maxHops = 3).as[(Long, Long)].collect().toMap
    // nodes 4 and 5 are 4 and 5 hops out -> truncated away
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // isolated source: a seed with no edges still reports distance 0
    val lone = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val loneGot = Similarity.bfsHops(lone, threshold = 0.5, nSources = 1,
      maxHops = 2).as[(Long, Long)].collect().toMap
    assert(loneGot == Map(0L -> 0L))
  }

  test("kCore: chain peels round by round, triangle survives as the 2-core") {
    // triangle 0-1-2 (pairwise cos >= 0.4) with a pendant chain
    // 0-3-4-5: each peel round removes exactly one chain node, so the
    // planted graph exercises every round; the triangle is the 2-core
    val emb = Seq(
      (0L, Seq(1f, 1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)), // e1+e2+e6
      (1L, Seq(0f, 1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)), // e2+e3
      (2L, Seq(1f, 0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)), // e1+e3
      (3L, Seq(0f, 0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f)), // e6+e7 -> edge to 0
      (4L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f, 0f)), // e7+e8
      (5L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))  // e8+e9
    ).toDF("vec_id", "embedding")
    val full = Similarity.kCore(emb, threshold = 0.4, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // truncated peel: after 2 rounds nodes 4/5 are gone but 3 still
    // pads node 0's degree (the HAVING drops 3 itself from the output)
    val trunc = Similarity.kCore(emb, threshold = 0.4, k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(trunc == Map(0L -> 3L, 1L -> 2L, 2L -> 2L))
  }

  test("semDedup with k=1 recovers embeddingDedup exactly") {
    val all = Similarity.embeddingDedup(t.embeddings, threshold = 0.6)
      .select("vec_id", "rep_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    val sem = Similarity.semDedup(t.embeddings, k = 1, threshold = 0.6)
      .select("vec_id", "rep_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(sem == all)
  }

  test("semDedup keeps one representative per planted tight group") {
    // two near-dup pairs far apart + a lone vector; any sane k-means
    // keeps each pair inside one cell, so both collapse
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)),
      (3L, Seq(0f, 0f, 0f, 0f, 1f, 0.01f, 0f, 0f, 0f)),
      (4L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, k = 2, threshold = 0.9)
      .select("vec_id", "rep_id", "keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) == (0L, true) && got(1L) == (0L, false))
    assert(got(2L) == (2L, true) && got(3L) == (2L, false))
    assert(got(4L) == (4L, true))
  }

  test("PQ codes are well-formed and deterministic") {
    val codes = Similarity.pqCodes(t.embeddings, m = 8, ksub = 16)
      .as[(Long, String)].collect()
    assert(codes.length == t.embeddings.count())
    codes.foreach { case (_, cs) =>
      val parts = cs.split(",")
      assert(parts.length == 8)
      parts.foreach(p => assert(p.toInt >= 0 && p.toInt < 16))
    }
    val again = Similarity.pqCodes(t.embeddings, m = 8, ksub = 16)
      .as[(Long, String)].collect()
    assert(codes.toSeq == again.toSeq)
  }

  test("PQ-ADC: a planted exact twin attains the minimal asymmetric distance") {
    // a twin of query vector 3 shares its codes, and the vector whose
    // codes are the query's own per-subspace argmin cells minimizes
    // the ADC sum by construction
    val twin = t.embeddings.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(888888L))
    val res = Similarity.pqAdcTopK(t.embeddings.union(twin), nQueries = 5)
      .as[(Long, Int, Long, Double, Double)].collect()
    val q3 = res.filter(_._1 == 3L)
    assert(q3.nonEmpty)
    // the twin shares q3's codes -> survives the ADC shortlist with the
    // minimal asymmetric distance, and exact rerank puts it at rank 1
    // with distance exactly zero
    val twinRow = q3.find(_._3 == 888888L)
    assert(twinRow.nonEmpty, "twin missing from q3's top-k")
    assert(twinRow.get._2 == 1 && twinRow.get._4 == 0.0)
    assert(twinRow.get._5 == q3.map(_._5).min)
  }

  test("IVF-PQ: planted exact twin surfaces at rank 1 with exact " +
      "distance 0; output is well-formed and recall vs brute L2 holds") {
    val key = s"ivfpqspec_${System.nanoTime()}"
    val twin = t.embeddings.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(888889L))
    val emb = t.embeddings.union(twin)
    // nprobe/rerank above the serving defaults: at sf0.001 the 16
    // cells hold ~16 vectors each, so default probes see too few
    // candidates for a stable recall floor — the knobs ARE the
    // recall/IO trade IVFADC documents
    val res = Similarity.ivfPqTopK(spark, emb, key, nQueries = 5,
      nprobe = 5, rerank = 8)
      .as[(Long, Int, Long, Double, Double)].collect()
    // well-formed: k rows per query, ranks 1..k, exact d2 monotone
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"q$q ranks")
      assert(rows.sortBy(_._2).map(_._4).toSeq ==
        rows.map(_._4).sorted.toSeq, s"q$q d2 not monotone in rank")
      assert(rows.forall(r => r._4 >= 0.0 && r._5 >= 0.0))
    }
    // identical twin: same IVF cell as the query's top probe, same
    // PQ codes -> survives the ADC shortlist and exact rerank pins it
    // at rank 1, distance exactly 0
    val q3 = res.filter(_._1 == 3L)
    val twinRow = q3.find(_._3 == 888889L)
    assert(twinRow.nonEmpty, s"twin missing from q3 top-k: ${q3.toSeq}")
    assert(twinRow.get._2 == 1 && twinRow.get._4 == 0.0)
    // recall vs brute-force exact L2 over the same corpus (probed
    // cells + ADC shortlist both cost recall; 0.5 leaves margin —
    // measured ~0.8 at sf0.001)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val k = 5
    val exact = (0L until 5L).map { q =>
      val qv = vecs(q)
      q -> vecs.iterator.filter(_._1 != q).map { case (id, v) =>
        (qv.zip(v).map { case (a, b) =>
          val x = a.toDouble - b.toDouble; x * x
        }.sum, id)
      }.toSeq.sortBy(identity).take(k).map(_._2).toSet
    }.toMap
    val byQ = res.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val recall = (0L until 5L)
      .map(q => (byQ(q) & exact(q)).size.toDouble / k).sum / 5
    assert(recall >= 0.5, s"recall $recall")
  }

  test("PQ-ADC recall against exact L2 top-k is usable") {
    val k = 5
    val adc = Similarity.pqAdcTopK(t.embeddings, nQueries = 10, k = k)
      .as[(Long, Int, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val vecs = t.embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val exact = (0L until 10L).map { q =>
      val qv = vecs(q)
      val top = vecs.iterator.filter(_._1 != q).map { case (id, v) =>
        val d = qv.zip(v).map { case (a, b) =>
          val x = a.toDouble - b.toDouble; x * x
        }.sum
        (d, id)
      }.toSeq.sortBy(identity).take(k).map(_._2).toSet
      q -> top
    }.toMap
    val recall = (0L until 10L).map(q =>
      (adc(q) & exact(q)).size.toDouble / k).sum / 10
    assert(recall >= 0.3, s"ADC recall@$k = $recall")
  }

  test("pageRank conserves probability mass on the corpus graph") {
    val pr = Similarity.pageRank(t.embeddings).as[(Long, Double)].collect()
    assert(pr.nonEmpty)
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-9)
  }

  test("labelPropagation: two planted cliques converge to their min ids") {
    val a = Seq(1.0f, 0.0f)
    val b = Seq(0.0f, 1.0f) // orthogonal: no cross-clique edges
    val df = Seq(
      (1L, a), (2L, a), (3L, a), (4L, a),
      (10L, b), (11L, b), (12L, b), (13L, b)
    ).toDF("vec_id", "embedding")
    val got = Similarity.labelPropagation(df, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
  }

  test("labelPropagation communities refine graph connectivity") {
    val got = Similarity.labelPropagation(t.embeddings)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // every community label is itself a member of the community's
    // connected region: labels come from the label space of node ids
    assert(got.values.toSet.subsetOf(got.keySet))
    // deterministic: a second run is bit-identical
    val again = Similarity.labelPropagation(t.embeddings)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("clusterAdjacentOrder: cluster-contiguous permutation == naive window") {
    val got = Similarity.clusterAdjacentOrder(t.embeddings)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = t.embeddings.count()
    // pos is a permutation of 1..n
    assert(got.map(_._3).sorted.toSeq == (1L to n).toSeq)
    // reading in pos order, clusters are CONTIGUOUS ascending blocks
    val byPos = got.sortBy(_._3).map(_._2)
    assert(byPos.sameElements(byPos.sorted),
      "clusters must form contiguous runs in training order")
    // equals the avoided global window computed directly
    val assign = Similarity.nearestCentroid(t.embeddings)
      .select(col("vec_id"), col("pred_label"))
      .as[(Long, Int)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String = md.synchronized {
      md.reset()
      md.digest(s"sem0:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val naive = assign.sortBy { case (id, c) => (c, key(id), id) }
      .zipWithIndex.map { case ((id, c), i) => (id, c, i + 1L) }
    assert(got.sortBy(_._1).toSeq == naive.sortBy(_._1).toSeq)
    // partitioning invariance: the order is a pure function of the data
    val repart = Similarity.clusterAdjacentOrder(
      t.embeddings.repartition(7, col("label")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(repart.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }

  test("dispersionCard: hand-corpus values are exact; identical " +
      "vectors read their own norm2; singleton label is NULL; the " +
      "sum-vector identity agrees with the brute-force pair mean; " +
      "and the plan has no join or window") {
    // label 7: orthogonal pair -> mean pairwise dot 0
    // label 2: three identical (1,2) vectors -> mean = ||v||^2 = 5
    // label 9: singleton -> mean_pair_dot NULL, mean_norm2 = norm2
    val emb = Seq(
      (0L, Seq(1f, 0f), 7), (1L, Seq(0f, 1f), 7),
      (2L, Seq(1f, 2f), 2), (3L, Seq(1f, 2f), 2), (4L, Seq(1f, 2f), 2),
      (5L, Seq(3f, 4f), 9))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.dispersionCard(emb).collect()
    val byLabel = rows.map(r => r.getInt(0) ->
      (r.getLong(1), r.isNullAt(4), if (r.isNullAt(4)) 0.0 else r.getDouble(4),
        r.getDouble(5))).toMap
    assert(byLabel(7) == ((2L, false, 0.0, 1.0)))
    assert(byLabel(2) == ((3L, false, 5.0, 5.0)))
    assert(byLabel(9)._1 == 1L && byLabel(9)._2 && byLabel(9)._4 == 25.0)

    // real corpus: the no-pair-join identity matches the brute-force
    // pairwise mean within float-order tolerance
    val card = Similarity.dispersionCard(t.embeddings).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(4))).toMap
    val vecs = t.embeddings.select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])].collect().groupBy(_._1)
    for ((lbl, rowsL) <- vecs if rowsL.length > 1) {
      val vs = rowsL.map(_._2.map(_.toDouble).toArray)
      var s = 0.0
      for (i <- vs.indices; j <- vs.indices if i != j)
        s += vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum
      val brute = s / (vs.length.toDouble * (vs.length - 1))
      val (n, got) = card(lbl)
      assert(n == vs.length)
      assert(math.abs(got - brute) <= 1e-9 * math.max(1.0, math.abs(brute)),
        s"label $lbl: $got vs brute $brute")
    }

    // scale shape: two partial aggregates, no pair join, no window
    val plan = Similarity.dispersionCard(t.embeddings)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("centroidOutliers: a planted far vector is flagged and the " +
      "tight cluster is not; the gate is the per-label p95 order " +
      "statistic; real-corpus flags replay from dist2 > p95") {
    // label 3: 19 vectors on (1,0) with tiny jitter + one at (0,5)
    val emb = ((0L until 19L).map(i =>
      (i, Seq(1f, i.toFloat * 1e-4f), 3)) :+ (19L, Seq(0f, 5f), 3))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.centroidOutliers(emb).collect()
    assert(rows.length == 20)
    val flagged = rows.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(flagged == Set(19L), s"flagged $flagged")
    // all rows of the label share one threshold
    assert(rows.map(_.getDouble(3)).distinct.length == 1)

    // real corpus: is_outlier is exactly dist2 > p95, and the flagged
    // fraction per label is <= ~5% (order-statistic gate)
    val real = Similarity.centroidOutliers(t.embeddings).collect()
    assert(real.forall(r => r.getBoolean(4) == (r.getDouble(2) > r.getDouble(3))))
    val byLabel = real.groupBy(_.getInt(1))
    for ((lbl, rs) <- byLabel) {
      val frac = rs.count(_.getBoolean(4)).toDouble / rs.length
      assert(frac <= 0.05 + 2.0 / rs.length, s"label $lbl flags $frac")
    }
  }

  test("communityModularity: two planted cliques score Q = 0.5 with " +
      "symmetric contributions; contributions replay from the card's " +
      "own integers; communities match the detector") {
    // two 4-cliques in orthogonal subspaces, no cross edges
    val a = Seq(1f, 0f, 0f, 0f); val b = Seq(0f, 0f, 1f, 0f)
    def j(v: Seq[Float], e: Float) = v.map(_ + e)
    val emb = (0 to 3).map(i => (i.toLong, j(a, i * 1e-3f), 0)) ++
      (10 to 13).map(i => (i.toLong, j(b, i * 1e-4f), 1))
    val df = emb.toDF("vec_id", "embedding", "label")
    val card = Similarity.communityModularity(df).collect()
    assert(card.length == 2)
    // per clique: 12 of 24 directed edges inside, degree sum 12:
    // contrib = 12/24 - (12/24)^2 = 0.25; Q = 0.5
    card.foreach { r =>
      assert(r.getLong(1) == 4L && r.getLong(2) == 12L &&
        r.getLong(3) == 12L && r.getDouble(4) == 0.25, r)
    }

    // real corpus: every contribution replays from the row's own
    // integers; the partition is the q226 labeling
    val t2 = t
    val real = Similarity.communityModularity(t2.embeddings).collect()
    val eTot = real.map(_.getLong(3)).sum // sum of degrees = |E| directed
    real.foreach { r =>
      val expect = r.getLong(2).toDouble / eTot -
        math.pow(r.getLong(3).toDouble / eTot, 2)
      assert(math.abs(r.getDouble(4) - expect) < 1e-15, r)
      assert(r.getLong(2) <= r.getLong(3)) // in-edges bounded by degree
    }
    val comms = Similarity.labelPropagation(t2.embeddings)
      .select(col("community")).distinct().as[Long].collect().toSet
    assert(real.map(_.getLong(0)).toSet == comms)
  }

  test("anisotropyCard: a planted diag(2, 0.5) covariance reads " +
      "exact trace 2.5 and top eigenvalue 2 to power-iteration " +
      "tolerance; real-corpus var_share replays and is in (0, 1]") {
    // zero-mean by construction; covariance is exactly diag(2,.5,0,0)
    val emb = Seq(
      (1L, Seq(2f, 0f, 0f, 0f), 0), (2L, Seq(-2f, 0f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1), (4L, Seq(0f, -1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.anisotropyCard(emb).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5) // exact decimal ingredients
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-4)
    assert(r.getDouble(4) == r.getDouble(3) / 2.5)

    val t2 = t
    val real = Similarity.anisotropyCard(t2.embeddings).collect()(0)
    assert(real.getLong(0) == t2.embeddings.count())
    assert(real.getLong(1) == 64L)
    assert(real.getDouble(3) > 0.0)
    assert(real.getDouble(4) == real.getDouble(3) / real.getDouble(2))
    assert(real.getDouble(4) > 0.0 && real.getDouble(4) <= 1.0)
  }

  test("embeddingSplitLeakage: a planted cross-split twin reports " +
      "max_sim 1.0 in the right split pair; same-split twins are NOT " +
      "leaks") {
    // derive the operator's own md5 split buckets so the plant lands
    // deterministically on a (train, val) id pair and a (train,
    // train) pair
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"esplit:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 10
    }
    val ids = (0L until 200L)
    val train = ids.filter(bucket(_) < 8)
    val vl = ids.filter(b => bucket(b) == 8)
    val (t1, t2, v1) = (train(0), train(1), vl.head)
    val vec = Seq(1f, 0f, 0f, 0f)
    val ortho = Seq(0f, 1f, 0f, 0f)
    val emb = Seq((t1, vec), (v1, vec), (t2, vec), (99999999L, ortho))
      .toDF("vec_id", "embedding")
    // 99999999 pairs with nothing (cosine 0); t1/t2/v1 are mutual
    // twins -> cross-split leaks are exactly the two (train, val)
    // pairs; the (t1, t2) twin is same-split and must NOT appear
    val got = Similarity.embeddingSplitLeakage(emb).collect()
    assert(got.length == 1, got.toSeq.toString)
    val r = got.head
    assert((r.getString(0), r.getString(1)) == (("train", "val")))
    assert(r.getLong(2) == 2L && r.getDouble(3) == 1.0)
    assert(r.getLong(4) == math.min(math.min(t1, t2), v1))
  }

  test("rpLshPairs is a SUBSET of similarPairs and loses none of the " +
      "near-identical pairs a leakage audit exists to catch") {
    val exact = Similarity.similarPairs(t.embeddings)
      .select("d1", "d2", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.rpLshPairs(t.embeddings)
      .select("d1", "d2", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every banded pair is a true pair with the IDENTICAL sim value
    lsh.foreach { case (k, s) =>
      assert(exact.get(k).contains(s), s"LSH emitted non-exact pair $k")
    }
    // the high-sim band (the leakage regime) survives banding: every
    // exact pair at sim >= 0.8 is found (32 sign bits agree with
    // overwhelming probability there — Charikar 2002)
    val highExact = exact.filter(_._2 >= 0.8).keySet
    val missedHigh = highExact -- lsh.keySet
    assert(missedHigh.isEmpty, s"high-sim pairs lost: $missedHigh")
  }

  test("embeddingSplitLeakageLsh: the planted cross-split twin rollup " +
      "equals the exact tier's on a corpus the bands lose nothing on") {
    // the q306 planted setup verbatim: identical vectors across
    // splits share every sign bucket, so the LSH tier must report the
    // IDENTICAL rollup
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"esplit:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 10
    }
    val ids = (0L until 200L)
    val train = ids.filter(bucket(_) < 8)
    val vl = ids.filter(b => bucket(b) == 8)
    val (t1, t2, v1) = (train(0), train(1), vl.head)
    val vec = Seq(1f, 0f, 0f, 0f)
    val ortho = Seq(0f, 1f, 0f, 0f)
    val emb = Seq((t1, vec), (v1, vec), (t2, vec), (99999999L, ortho))
      .toDF("vec_id", "embedding")
    val exact = Similarity.embeddingSplitLeakage(emb).collect().toSeq
    val lsh = Similarity.embeddingSplitLeakageLsh(emb).collect().toSeq
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
    assert(lsh.length == 1 && lsh.head.getLong(2) == 2L)
    // and on the real corpus the LSH rollup never over-counts the
    // exact audit (subset property lifted through the rollup)
    val exactReal = Similarity.embeddingSplitLeakage(t.embeddings)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    Similarity.embeddingSplitLeakageLsh(t.embeddings).collect()
      .foreach { r =>
        val k = (r.getString(0), r.getString(1))
        assert(exactReal.contains(k) && r.getLong(2) <= exactReal(k),
          s"LSH rollup exceeds exact tier at $k")
      }
  }

  test("ivfPqTopKServed is bit-identical to ivfPqTopK and serves from " +
      "partition-pruned codes + vector scans") {
    val key = s"ivfpqserve_${System.nanoTime()}"
    // deterministic training from the same corpus -> the at-rest
    // artifacts reproduce the fused tier's results exactly
    val fused = Similarity.ivfPqTopK(spark, t.embeddings, key).collect()
    val served = Similarity.ivfPqTopKServed(spark, t.embeddings, key)
      .collect()
    assert(served.toSeq == fused.toSeq)
    assert(served.nonEmpty)

    // BOTH artifact scans (codes for ADC, vectors for rerank) carry a
    // static cell partition filter — the steady-state serving cost is
    // bounded by the probed cells, never the corpus
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val df = Similarity.ivfPqTopKServed(spark, t.embeddings, key)
    val scans = scansOf(df.queryExecution.executedPlan)
      .filter(s => s.relation.partitionSchema.fieldNames.contains("cell"))
    assert(scans.nonEmpty, "no partitioned artifact scan in the plan")
    scans.foreach { s =>
      assert(s.metadata("PartitionFilters").contains("cell"),
        s.metadata("PartitionFilters"))
    }
  }

  test("portableRpPairs: subset of similarPairs with identical sims; " +
      "identical planted twins always pair; agrees with the gaussian " +
      "tier on them") {
    val exact = Similarity.similarPairs(t.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val port = Similarity.portableRpPairs(t.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    port.foreach { case (k, s) =>
      assert(exact.get(k).contains(s), s"non-exact pair $k")
    }
    // identical vectors agree on every sign -> share every band ->
    // always pair, at exactly sim 1.0; the gaussian tier (q310's
    // generator) must find them too
    val twin = t.embeddings.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(777777L))
    val emb2 = t.embeddings.union(twin)
    val p2 = Similarity.portableRpPairs(emb2)
      .filter(col("d1") === 7 && col("d2") === 777777L).collect()
    assert(p2.length == 1 && p2.head.getDouble(2) == 1.0)
    val g2 = Similarity.rpLshPairs(emb2)
      .filter(col("d1") === 7 && col("d2") === 777777L).collect()
    assert(g2.length == 1 && g2.head.getDouble(2) == 1.0)
  }

  test("semDedupExact: k=1 degenerate recovers embeddingDedup; " +
      "planted intra-cell near-dup groups collapse to their minima") {
    // k=1: one cell, intra-cell pairs == all pairs -> the decision
    // layer must reproduce embeddingDedup bit-for-bit (the semDedup
    // spec's own device, now on the exact quantizer)
    val t2 = t
    val full = Similarity.embeddingDedup(t2.embeddings)
      .collect().toSeq
    val one = Similarity.semDedupExact(t2.embeddings, k = 1)
      .select("vec_id", "rep_id", "keep").collect().toSeq
    assert(one == full)
    // planted: two tight orthogonal pairs; whatever cells the exact
    // quantizer picks, each twin pair is intra-cell (identical
    // vectors assign identically) and collapses to its min id
    val va = Seq(1f, 0f, 0f, 0f); val vb = Seq(0f, 1f, 0f, 0f)
    val df = Seq((0L, va), (1L, va), (10L, vb), (11L, vb))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedupExact(df, k = 2, threshold = 0.9)
      .select("vec_id", "rep_id", "keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) == ((0L, true)) && got(1L) == ((0L, false)))
    assert(got(10L) == ((10L, true)) && got(11L) == ((10L, false)))
  }

  test("semDedupIncremental: planted twin collapses onto its min-id " +
      "base copy, novel vector keeps; base scan is partition-pruned") {
    val va = Seq(1f, 0f, 0f, 0f); val vb = Seq(0f, 1f, 0f, 0f)
    val vc = Seq(0f, 0f, 1f, 0f)
    // base = everything with vec_id % 10 != 3; each mode owns a Lloyd
    // seed (ids 0 and 1). increment = % 10 == 3: a twin of mode A
    // (13) and a vector orthogonal to the whole base (23)
    val emb = Seq((0L, va), (1L, vb), (2L, va), (10L, va), (11L, vb),
      (13L, va), (23L, vc)).toDF("vec_id", "embedding")
    val got = Similarity.semDedupIncremental(spark, emb,
      "incdedup-planted")
    val rows = got.collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(2)) -1L else r.getLong(2)), r.getBoolean(3)))
      .toMap
    assert(rows.keySet == Set(13L, 23L),
      s"only increment rows expected: $rows")
    // the twin matches every base copy of mode A at sim 1.0 —
    // dup_of must tie-break to the MIN base id
    assert(rows(13L) == ((0L, false)), s"twin verdict: ${rows(13L)}")
    // the novel direction matches nothing above threshold
    assert(rows(23L) == ((-1L, true)), s"novel verdict: ${rows(23L)}")
    // the base scan is partition-pruned to the touched cells — the
    // 100 TB claim as a plan property (the q319/q311 pin)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(got.queryExecution.executedPlan)
      .filter(s => s.relation.partitionSchema.fieldNames.contains("cell"))
    assert(scans.nonEmpty, "no partitioned artifact scan in the plan")
    scans.foreach { s =>
      assert(s.metadata("PartitionFilters").contains("cell"),
        s.metadata("PartitionFilters"))
    }
    // deterministic across invocations (memoized artifact + exact
    // arithmetic)
    val again = Similarity.semDedupIncremental(spark, emb,
      "incdedup-planted").collect().map(_.toSeq).toSeq
    assert(again == got.collect().map(_.toSeq).toSeq)
  }

  test("indexStaleness: hand-computed drift on a planted ingest; " +
      "counts match the index and the assignment; deterministic") {
    val va = Seq(1f, 0f, 0f, 0f); val vb = Seq(0f, 1f, 0f, 0f)
    // base: 4 of mode A + 2 of mode B (ids avoid % 10 == 3; modes own
    // seeds 0 and 1); increment: 2 more of mode A (ids 13, 23)
    val emb = Seq((0L, va), (1L, vb), (2L, va), (4L, va), (5L, va),
      (11L, vb), (13L, va), (23L, va)).toDF("vec_id", "embedding")
    val got = Similarity.indexStaleness(spark, emb, "staleness-planted")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length == 2, s"expected the two mode cells: ${got.toSeq}")
    // all increment mass lands in mode A's cell: tb=6, ti=2
    val a = got.find(_._2 == 4L).get
    val b = got.find(_._2 == 2L).get
    assert(a._3 == 2L && b._3 == 0L)
    assert(a._4 == 4.0 / 6.0 && a._5 == 6.0 / 8.0)
    assert(a._6 == math.abs(6.0 / 8.0 - 4.0 / 6.0))
    assert(b._4 == 2.0 / 6.0 && b._5 == 2.0 / 8.0)
    assert(b._6 == math.abs(2.0 / 8.0 - 2.0 / 6.0))
    // the ingest grew mode A's share and shrank B's — the card reads
    // exactly the retrain signal it claims to
    assert(a._5 > a._4 && b._5 < b._4)
    val again = Similarity.indexStaleness(spark, emb,
      "staleness-planted").collect().map(_.toSeq).toSeq
    assert(again == Similarity.indexStaleness(spark, emb,
      "staleness-planted").collect().map(_.toSeq).toSeq)
  }

  test("clusterBalancedSample: per-cell counts = min(cell size, " +
      "perCell); skewed mode capped, tail intact; partition-invariant") {
    // real corpus: kept set per cell must be exactly the quota rule
    // over the SAME cells assignCellsExact produces
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val cellSizes = Similarity.assignCellsExact(emb,
        Similarity.kmeansCentroidsExact(emb, 8, 2))
      .groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val kept = Similarity.clusterBalancedSample(t.embeddings,
      perCell = 10).collect()
    val keptPerCell = kept.groupBy(_.getInt(1))
      .map { case (c, rs) => c -> rs.length.toLong }
    assert(keptPerCell == cellSizes.map { case (c, n) =>
      c -> math.min(n, 10L) }.filter(_._2 > 0),
      s"quota rule violated: $keptPerCell vs sizes $cellSizes")
    // pos is a 1..quota ranking within each cell
    kept.groupBy(_.getInt(1)).foreach { case (c, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq ==
        (1L to rs.length.toLong), s"cell $c pos ranks")
    }
    // deterministic under repartition (portable md5 rank, exact cells)
    val again = Similarity.clusterBalancedSample(
      t.embeddings.repartition(7), perCell = 10).collect()
    assert(kept.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // planted skew: 30 copies of one direction + 3 of another — the
    // big mode is capped at perCell, the tail survives whole. Seeds
    // are vec_id < cells, so each mode must OWN a seed (id 0 = big
    // mode, id 1 = tail mode) or Lloyd starts with twin centroids.
    val va = Seq.fill(4)(0f).updated(0, 1f)
    val vb = Seq.fill(4)(0f).updated(1, 1f)
    val skew = (Seq((0L, va), (1L, vb)) ++
      (2L until 31L).map(i => (i, va)) ++
      (101L until 103L).map(i => (i, vb))).toDF("vec_id", "embedding")
    val balanced = Similarity.clusterBalancedSample(skew, cells = 2,
      perCell = 5).collect()
    val byCell = balanced.groupBy(_.getInt(1))
      .map { case (c, rs) => c -> rs.map(_.getLong(0)).toSet }
    // identical vectors assign identically: the two modes are two
    // cells; one kept-set has 5 ids (capped), the other all 3
    val sizes = byCell.values.map(_.size).toSeq.sorted
    assert(sizes == Seq(3, 5), s"expected capped 5 + intact 3: $byCell")
    assert(byCell.values.exists(_ == Set(1L, 101L, 102L)))
  }

  test("ivfTopKExact: deterministic across invocations, well-ranked, " +
      "and recall vs brute force holds on the corpus") {
    val a = Similarity.ivfTopKExact(t.embeddings).collect()
    val b = Similarity.ivfTopKExact(t.embeddings).collect()
    assert(a.toSeq == b.toSeq) // exact arithmetic: no run variance
    assert(a.nonEmpty)
    a.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length),
        s"q$q ranks")
      val d2s = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(d2s.toSeq == d2s.sorted.toSeq, s"q$q d2 not monotone")
    }
    // recall vs brute-force L2 over the same corpus at nprobe=2/8
    // cells (measured headroom; the s-curve knobs are the trade)
    val vecs = t.embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val exact = (0L until 10L).map { q =>
      val qv = vecs(q)
      q -> vecs.iterator.filter(_._1 != q).map { case (id, v) =>
        (qv.zip(v).map { case (x, y) =>
          val d = x.toDouble - y.toDouble; d * d
        }.sum, id)
      }.toSeq.sortBy(identity).take(5).map(_._2).toSet
    }.toMap
    val byQ = a.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet)
    val recall = (0L until 10L)
      .map(q => (byQ(q) & exact(q)).size.toDouble / 5).sum / 10
    assert(recall >= 0.4, s"recall $recall")
  }

  test("anisotropyCardSampled: keepPer10k=10000 is bit-identical to " +
      "the full card; the default 50% slice is a strict subset whose " +
      "var_share lands within the concentration band of the full one") {
    val t2 = t
    val full = Similarity.anisotropyCard(t2.embeddings).collect()(0)
    val all =
      Similarity.anisotropyCardSampled(t2.embeddings, keepPer10k = 10000)
        .collect()(0)
    assert(all == full) // the knob at 1.0 IS the full card
    val half = Similarity.anisotropyCardSampled(t2.embeddings).collect()(0)
    // ~half the vectors (md5 is uniform), same dim, statistic close:
    // var_share concentrates — at n~260 the subsample estimate stays
    // within a loose band, pinning "sampled tier estimates the card"
    val n = t2.embeddings.count()
    assert(half.getLong(0) > n / 3 && half.getLong(0) < 2 * n / 3)
    assert(half.getLong(1) == full.getLong(1))
    assert(math.abs(half.getDouble(4) - full.getDouble(4)) < 0.2)
  }

  test("degreeAssortativity: a planted star reads exactly -1; the " +
      "real-corpus card equals an integer brute-force replay") {
    // center (1,1,1,0) sees each axis leaf at cos 1/sqrt(3) >= 0.3;
    // leaves are mutually orthogonal -> star K(1,3), r = -1 exactly
    def axis(i: Int) = Seq.tabulate(4)(d => if (d == i) 1f else 0f)
    val emb = (Seq((0L, Seq(1f, 1f, 1f, 0f), 0)) ++
      (1 to 3).map(i => (i.toLong, axis(i - 1), 1)))
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.degreeAssortativity(emb).collect()(0)
    assert(r1.getLong(0) == 6L && r1.getLong(1) == 12L)
    assert(r1.getDouble(2) == -1.0)

    // real corpus: exact replay from the collected edge list
    val t2 = t
    val edges = Similarity.similarPairs(t2.embeddings, 0.3)
      .select(col("d1"), col("d2")).as[(Long, Long)].collect()
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val dg = sym.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val xy = sym.map { case (a, b) => (dg(a), dg(b)) }
    val m = xy.length.toLong
    val sxy = xy.map { case (x, y) => x * y }.sum
    val sx = xy.map(_._1).sum
    val sxx = xy.map { case (x, _) => x * x }.sum
    val expect = (m * sxy - sx * sx).toDouble / (m * sxx - sx * sx).toDouble
    val card = Similarity.degreeAssortativity(t2.embeddings).collect()(0)
    assert(card.getLong(0) == m && card.getLong(1) == sx)
    assert(card.getDouble(2) == expect)
    assert(card.getDouble(2) >= -1.0 && card.getDouble(2) <= 1.0)
  }

  test("clusterSeparation: two planted clusters read exact hand " +
      "cohesion/separation/ratio; real-corpus ratio replays and the " +
      "nearest label is never the own label") {
    // label 0 on e1 (centroid exactly 1.0), label 1 on e3 (centroid
    // exactly 3.0): every value, median and ratio is hand-exact
    def v(i: Int, x: Float) = Seq.tabulate(4)(d => if (d == i) x else 0f)
    val emb = Seq(
      (1L, v(0, 0.75f), 0), (2L, v(0, 1.25f), 0),
      (10L, v(2, 2f), 1), (11L, v(2, 4f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.clusterSeparation(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got(0) == ((2L, 0.0625, 1, 10.0, 160.0)))
    assert(got(1) == ((2L, 1.0, 0, 10.0, 10.0)))

    // real corpus: ratio is the card's own division, nearest is
    // another label, n_vecs partitions the table
    val t2 = t
    val real = Similarity.clusterSeparation(t2.embeddings).collect()
    assert(real.map(_.getLong(1)).sum == t2.embeddings.count())
    real.foreach { r =>
      assert(r.getInt(3) != r.getInt(0))
      assert(r.getDouble(4) > 0.0)
      assert(r.getDouble(5) == r.getDouble(4) / r.getDouble(2))
    }
  }

  test("centroidDrift: identical sides read cos 1 / shift 0, " +
      "orthogonal sides read cos 0; side counts partition the label") {
    // label 1: same (3,4) direction on both parities -> cos exactly
    // 1.0 (sum of squares 25 is a perfect square) and shift2 0
    // label 2: base (1,0) / snap (0,1) -> cos 0, shift2 2
    val emb = Seq(
      (0L, Seq(3f, 4f), 1), (1L, Seq(3f, 4f), 1),
      (2L, Seq(3f, 4f), 1), (3L, Seq(3f, 4f), 1),
      (4L, Seq(1f, 0f), 2), (6L, Seq(1f, 0f), 2),
      (5L, Seq(0f, 1f), 2), (7L, Seq(0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(emb).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1) == ((2L, 2L, 1.0, 0.0)))
    assert(got(2) == ((2L, 2L, 0.0, 2.0)))

    // real corpus: counts partition each label; cos in [-1, 1]
    val real = Similarity.centroidDrift(t.embeddings).collect()
    val sizes = t.embeddings.groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    real.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == sizes(r.getInt(0)))
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-12)
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("signBandWidth: a grown corpus selects strictly wider bands; " +
      "the auto-sized portable tier stays subset-of-exact and catches " +
      "planted twins") {
    // the sizing rule at the trial's own corpus sizes (sf0.01 = 500,
    // sf0.1 = 2000, the 10x trial cell = 20000)
    assert(Similarity.signBandWidth(500) == 11) // 2^11 >= 4*500
    assert(Similarity.signBandWidth(2000) == 13)
    assert(Similarity.signBandWidth(20000) == 17)
    // 10x the corpus -> wider bands, across the whole trial range:
    // the round-12 finding (fixed 8-bit bands go collision-dominated
    // at 10x) as library behavior
    Seq(500L, 2000L, 20000L, 200000L).foreach { n =>
      assert(Similarity.signBandWidth(10 * n) >
        Similarity.signBandWidth(n), s"n=$n")
    }
    // a 16x background budget buys exactly 4 bits back
    assert(Similarity.signBandWidth(20000, budgetPerRow = 16.0) ==
      Similarity.signBandWidth(20000) - 4)
    // FRACTIONAL budgets go through the same integer ceil-division
    // (micros), so no float-division rounding can flip the width:
    // need = ceil(4*500/2.5) = 800 -> w=10 (the q329 configuration);
    // a sub-1 budget widens: need = ceil(4*500/0.25) = 8000 -> w=13
    assert(Similarity.signBandWidth(500, budgetPerRow = 2.5) == 10)
    assert(Similarity.signBandWidth(500, budgetPerRow = 0.25) == 13)
    // clamps: tiny corpora floor at 4 bits, astronomical ones cap at 32
    assert(Similarity.signBandWidth(1) == 4)
    assert(Similarity.signBandWidth(Long.MaxValue / 8) == 32)

    // the auto tier is [[portableRpPairs]] at the derived width:
    // subset-of-exact with identical sims (every emitted pair is
    // verified), and an identical planted twin agrees on every sign
    // at ANY width so it always pairs at sim exactly 1.0
    val exact = Similarity.similarPairs(t.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val auto = Similarity.portableRpPairsAuto(t.embeddings)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    auto.foreach { case (k, s) =>
      assert(exact.get(k).contains(s), s"non-exact pair $k")
    }
    val twin = t.embeddings.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(777777L))
    val p2 = Similarity.portableRpPairsAuto(t.embeddings.union(twin))
      .filter(col("d1") === 7 && col("d2") === 777777L).collect()
    assert(p2.length == 1 && p2.head.getDouble(2) == 1.0)
    // knownCount (the 100 TB catalog shortcut) changes nothing
    val n = t.embeddings.count()
    val k2 = Similarity
      .portableRpPairsAuto(t.embeddings, knownCount = Some(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k2 == auto.keySet)
    // the gaussian production tier takes the same width rule and
    // still catches the planted twin at the auto-derived width
    val withTwin = t.embeddings.union(twin)
    val gauss = Similarity.rpLshPairs(withTwin,
        nPlanes = 4 * Similarity.signBandWidth(withTwin.count(), 4))
      .filter(col("d1") === 7 && col("d2") === 777777L).collect()
    assert(gauss.length == 1 && gauss.head.getDouble(2) == 1.0)
    // the q320 composition: a twin planted ACROSS splits (vec 7 is
    // train, id 777707 hashes to val under the esplit salt) must
    // surface in the auto-sized portable leakage rollup as a
    // train/val leak at sim exactly 1.0
    val xTwin = t.embeddings.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(777707L))
    val leak = Similarity
      .embeddingSplitLeakagePortableAuto(t.embeddings.union(xTwin))
      .filter(col("split_lo") === "train" && col("split_hi") === "val")
      .collect()
    assert(leak.length == 1 && leak.head.getDouble(3) == 1.0,
      s"planted cross-split twin missing: ${leak.toSeq}")
  }

  test("pqCodesExact/pqAdcTopKExact: planted twin at rank 1 with " +
      "distance 0; agrees with the production float tier on this " +
      "corpus (data-fixed canary)") {
    // the exact tier keeps pqCodes' contract: 8 codes in [0, 16)
    val codes = Similarity.pqCodesExact(t.embeddings)
      .as[(Long, String)].collect()
    assert(codes.length == t.embeddings.count())
    codes.foreach { case (_, cs) =>
      val parts = cs.split(",")
      assert(parts.length == 8)
      parts.foreach(p => assert(p.toInt >= 0 && p.toInt < 16))
    }
    // decimal-vs-float re-centering differs only in ulps, which never
    // flips an argmin on THIS corpus: the exact tier reproduces the
    // production tier bit-for-bit here (a data-fixed canary — codes
    // drift would mean a structural change, not an ulp)
    val prod = Similarity.pqCodes(t.embeddings)
      .as[(Long, String)].collect()
    assert(codes.toSeq == prod.toSeq)
    // same for the served ranking: identical (query, rank, neighbor)
    // triples, and d2 comes from raw vectors so it matches exactly
    val adcExact = Similarity.pqAdcTopKExact(t.embeddings)
      .as[(Long, Int, Long, Double, Double)].collect()
    val adcProd = Similarity.pqAdcTopK(t.embeddings)
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(adcExact.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
      adcProd.map(r => (r._1, r._2, r._3, r._4)).toSeq)
    // the q161 planted device on the exact tier: a twin of query 3
    // shares its codes, attains the minimal ADC sum, and exact rerank
    // pins it at rank 1 with distance exactly 0
    val twin = t.embeddings.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(888888L))
    val res = Similarity
      .pqAdcTopKExact(t.embeddings.union(twin), nQueries = 5)
      .as[(Long, Int, Long, Double, Double)].collect()
    val q3 = res.filter(_._1 == 3L)
    val twinRow = q3.find(_._3 == 888888L)
    assert(twinRow.nonEmpty, "twin missing from q3's top-k")
    assert(twinRow.get._2 == 1 && twinRow.get._4 == 0.0)
    assert(twinRow.get._5 == q3.map(_._5).min)
  }

  test("ivfExactServeQueries: the at-rest artifact answers exactly " +
      "what the inline exact pipeline answers, from partition-pruned " +
      "scans") {
    val key = s"ivfxserve_${System.nanoTime()}"
    // same query slice as q313's inline tier -> bit-identical rows
    // (the artifact changes WHERE the vectors are read, not one bit
    // of the arithmetic)
    val queries = t.embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = Similarity
      .ivfExactServeQueries(spark, queries, t.embeddings, key)
      .collect()
    val inline = Similarity.ivfTopKExact(t.embeddings).collect()
    assert(served.toSeq == inline.toSeq)
    assert(served.nonEmpty)
    // a disjoint query slice (q319's registered shape) is well-formed
    val mod = t.embeddings.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val dis = Similarity
      .ivfExactServeQueries(spark, mod, t.embeddings, key)
      .as[(Long, Int, Long, Double)].collect()
    assert(dis.nonEmpty)
    dis.groupBy(_._1).foreach { case (q, rows) =>
      assert(q % 50 == 7)
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
      val d2s = rows.sortBy(_._2).map(_._4)
      assert(d2s.toSeq == d2s.sorted.toSeq, s"q$q d2 not monotone")
    }
    // the vector scan carries a static cell partition filter — the
    // serving cost is bounded by the probed cells (q205 convention)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val df = Similarity.ivfExactServeQueries(spark, queries,
      t.embeddings, key)
    val scans = scansOf(df.queryExecution.executedPlan)
      .filter(s => s.relation.partitionSchema.fieldNames.contains("cell"))
    assert(scans.nonEmpty, "no partitioned artifact scan in the plan")
    scans.foreach { s =>
      assert(s.metadata("PartitionFilters").contains("cell"),
        s.metadata("PartitionFilters"))
    }
  }
}
