package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ScalePatterns

class ScalePatternsSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark
  import spark.implicits._

  private def t = Tables(spark, "/root/testdata/sf0.001")

  test("bucketed join: SortMergeJoin with ZERO exchanges under the join") {
    val sf = "/root/testdata/sf0.001"
    val joined = ScalePatterns.bucketedJoin(spark, sf)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
    // same rows as the unbucketed join
    val plain = Tables(spark, sf).lineitem
      .select(col("l_orderkey"), col("l_quantity"))
      .join(Tables(spark, sf).orders
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    assert(joined.count() == plain.count())
    // the aggregated query's ONLY exchange is the custkey rollup
    val aggPlan = ScalePatterns.bucketedCustomerVolume(spark, sf)
      .queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllIn(aggPlan).length
    assert(nEx <= 2, s"expected only rollup+sort exchanges:\n$aggPlan")
  }

  test("salted join output equals the unsalted join") {
    val salted = ScalePatterns.saltedSkewJoin(t)
    val plain = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"))
    val s = salted.select("o_orderpriority", "n_lines").collect().toSet
    val p = plain.collect().toSet
    assert(s == p)
  }

  test("salted join replicates the build side across salt partitions") {
    // the join keys must include the salt: a hot l_orderkey's rows land
    // in `salts` different hash partitions, not one
    val plan = ScalePatterns.saltedSkewJoin(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"), plan)
  }

  test("distinctive terms are ranked 1..k per doc with score = tf/df") {
    val out = ScalePatterns.distinctiveTerms(t, k = 3)
    val byDoc = out.groupBy("doc_id").agg(
      collect_list(col("rank")).as("ranks"),
      min(col("score")).as("mn"))
    val bad = byDoc.filter(size(col("ranks")) > 3)
    assert(bad.isEmpty)
    val r = out.filter(col("rank") === 1).limit(1).head
    assert(r.getAs[Double]("score") ==
      r.getAs[Long]("tf").toDouble / r.getAs[Long]("df"))
  }

  test("doc chunking is a pure narrow pass — no Exchange in the plan") {
    val plan = ScalePatterns.chunkDocuments(t)
      .queryExecution.executedPlan.toString
    // the orderBy sorts, but nothing before the final sort shuffles:
    // exactly one Exchange (the sort's range partitioning), none for
    // the chunk generation itself
    assert(plan.split("Exchange").length - 1 <= 1, plan)
    assert(plan.contains("Generate"), plan) // the explode of chunk ids
  }

  test("chunking covers every token with the configured overlap") {
    val out = ScalePatterns.chunkDocuments(t, chunk = 50, stride = 40)
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    // total chunked tokens per doc = n + (chunks-1)*overlap
    val agg = out.groupBy("doc_id").agg(
      sum(col("n_chunk_toks")).as("tot"), count(lit(1)).as("chunks"))
    val bad = agg.join(docs, "doc_id")
      .filter(col("tot") =!= col("n") + (col("chunks") - 1) * 10)
    assert(bad.isEmpty, bad.limit(3).collect().mkString(","))
  }

  test("z-order layout tightens per-file ranges on the second dimension") {
    import graft.operators.ScalePatterns
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_")
    val li = t.lineitem.select("l_orderkey", "l_partkey")
    val files = 8
    // baseline: single-key sort — files are tight on orderkey but each
    // spans nearly the full partkey domain
    li.repartitionByRange(files, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(dir.resolve("single").toString)
    ScalePatterns.zOrderWrite(li, "l_orderkey", "l_partkey",
      dir.resolve("zorder").toString, files)
    def meanPartkeyRange(path: String): Double = {
      val fs = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      val ranges = fs.map { f =>
        val r = spark.read.parquet(f)
          .agg(max(col("l_partkey")) - min(col("l_partkey"))).head
        r.getLong(0).toDouble
      }
      ranges.sum / ranges.length
    }
    val single = meanPartkeyRange(dir.resolve("single").toString)
    val zed = meanPartkeyRange(dir.resolve("zorder").toString)
    // Morton clustering must cut the per-file partkey span well below
    // the single-sort layout's (which is ~the whole domain per file)
    assert(zed < single * 0.7, s"zorder=$zed single=$single")
  }

  test("upsert: updates replace, inserts append, untouched rows survive") {
    import graft.operators.Merge
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "B"), (3L, "C")).toDF("id", "v")
    val got = Merge.upsert(base, updates, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("upsert with precedence dedups duplicate update keys, highest wins") {
    import graft.operators.Merge
    val base = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "v", "version")
    val updates = Seq((2L, "B1", 1L), (2L, "B2", 2L), (3L, "C", 1L))
      .toDF("id", "v", "version")
    val got = Merge.upsert(base, updates, Seq("id"), Some("version"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // without the precedence dedup both (2,B1) and (2,B2) would survive
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "C"))
  }

  test("z-values are monotone within each dimension slice") {
    import graft.functions.ZOrder
    val df = spark.range(0, 4).select(col("id").as("x"))
      .crossJoin(spark.range(0, 4).select(col("id").as("y")))
      .select(col("x"), col("y"),
        ZOrder.zValue(col("x"), col("y")).as("z"))
    val rows = df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // interleave of (x,y) in [0,4)^2 is the standard 16-cell Morton curve
    assert(rows((0L, 0L)) == 0L && rows((1L, 0L)) == 1L &&
      rows((0L, 1L)) == 2L && rows((1L, 1L)) == 3L &&
      rows((2L, 2L)) == 12L && rows((3L, 3L)) == 15L)
    // fixing y, z increases with x (and vice versa)
    for (y <- 0L to 3L; x <- 0L to 2L)
      assert(rows((x, y)) < rows((x + 1, y)))
  }

  test("int8 quantization reconstructs within half a quantization step") {
    val q = ScalePatterns.quantizeInt8(t.embeddings)
      .select(col("vec_id"), col("scale"),
        transform(split(col("qvec"), ","), s => s.cast("double")).as("codes"))
      .join(t.embeddings, "vec_id")
      .select(col("vec_id"), col("scale"),
        zip_with(col("codes"), col("embedding"),
          (c, v) => abs(c / col("scale") - v.cast("double"))).as("errs"))
      .select(col("vec_id"), col("scale"), array_max(col("errs")).as("maxerr"))
    val bad = q.filter(col("maxerr") > lit(0.5000001) / col("scale"))
    assert(bad.isEmpty, bad.limit(3).collect().mkString(","))
    // codes stay in int8 range
    val out = ScalePatterns.quantizeInt8(t.embeddings)
      .select(explode(split(col("qvec"), ",")).as("cs"))
      .select(col("cs").cast("int").as("c"))
      .agg(min("c"), max("c")).head
    assert(out.getInt(0) >= -128 && out.getInt(1) <= 127)
  }

  test("equi-depth histogram reproduces real NTILE semantics bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    val got = ScalePatterns.equiDepthHistogram(t.lineitem, "l_extendedprice")
      .collect()
    val ntiled = t.lineitem
      .select(col("l_extendedprice").cast("double").as("v"))
      .withColumn("bucket",
        ntile(20).over(Window.orderBy(col("v"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
      .orderBy(col("bucket"))
      .collect()
    assert(got.toSeq == ntiled.toSeq)
  }

  test("equi-depth histogram plan never funnels data into one partition") {
    val ds = ScalePatterns.equiDepthHistogram(t.lineitem, "l_extendedprice")
    ds.collect() // finalize the adaptive plan
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window leaked into the plan:\n$plan")
  }

  test("quantileNormalize maps every distinct value to its exact CDF") {
    import spark.implicits._
    // values: 1×4, 2×2, 3×2, 10×2  (n=10)
    val df = (Seq.fill(4)(1.0) ++ Seq.fill(2)(2.0) ++ Seq.fill(2)(3.0) ++
      Seq.fill(2)(10.0)).toDF("x")
    val got = graft.operators.ScalePatterns.quantileNormalize(df, "x")
      .as[(Double, Long, Double)].collect().toSeq
    assert(got == Seq((1.0, 4L, 0.4), (2.0, 2L, 0.6),
      (3.0, 2L, 0.8), (10.0, 2L, 1.0)))
    // null-only and empty inputs produce an empty, correctly-typed frame
    val empty = graft.operators.ScalePatterns.quantileNormalize(
      Seq.empty[Option[Double]].toDF("x"), "x")
    assert(empty.columns.toSeq == Seq("value", "n", "cdf") &&
      empty.count() == 0)
  }

  test("snapshot diff classifies added / removed / changed rows") {
    import spark.implicits._
    import graft.operators.Merge
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Merge.snapshotDiff(v1, v2, "doc_id", df => md5(df("text")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "removed"), (3L, "changed"),
      (4L, "added")))
  }

  test("key skew profile equals a driver-side recomputation") {
    val got = ScalePatterns.keySkewProfile(t.events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val counts = t.events.groupBy(col("user_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val nkeys = counts.length
    val expected = counts.sortBy { case (u, c) => (-c, u) }.take(10)
      .map { case (u, c) =>
        (u, c, c * 1000000L / total, c * nkeys * 100L / total)
      }
    assert(got.toSeq == expected.toSeq)
  }

  test("shard manifest: totals partition the corpus, checksum is " +
    "order-insensitive and content-sensitive") {
    val docs = t.documents
    val man = ScalePatterns.shardManifest(docs).collect()
    assert(man.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    assert(man.map(_.getLong(1)).sum == docs.count())
    assert(man.map(_.getLong(3)).sum ==
      docs.agg(sum("n_chars")).head.getLong(0))
    // partitioning/order independence: a repartitioned, reversed scan
    // produces the identical manifest (xor is commutative)
    val shuffled = ScalePatterns
      .shardManifest(docs.repartition(7).orderBy(col("doc_id").desc))
      .collect()
    assert(man.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq)
    // content sensitivity: flipping ONE doc's text flips exactly the
    // shards whose membership contains it (here: one shard's checksum)
    val tweaked = ScalePatterns.shardManifest(
      docs.withColumn("text",
        when(col("doc_id") === 7L, concat(col("text"), lit(" x")))
          .otherwise(col("text")))).collect()
    val diff = man.map(_.toSeq).zip(tweaked.map(_.toSeq))
      .filter { case (a, b) => a != b }
    assert(diff.length == 1, s"expected exactly one shard to change")
  }

  /** The corpus as a `shard=N`-partitioned parquet lake under the
    * deterministic [[ScalePatterns.shardId]] assignment — the layout a
    * trainer's data loader reads, one directory per shard. */
  private def writeTrainingShards(docs: org.apache.spark.sql.DataFrame,
      path: String, nShards: Int = 16): Unit =
    docs.withColumn("shard", ScalePatterns.shardId(nShards))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  test("writeTrainingShards: shard=N layout, manifest-from-lake equals " +
    "manifest-from-source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards")
      .toString
    val docs = t.documents
    writeTrainingShards(docs, dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard="))
    assert(dirs.nonEmpty && dirs.forall { n =>
      val s = n.stripPrefix("shard=").toInt; s >= 0 && s < 16
    })
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // the lake partition column matches the deterministic assignment
    assert(back.filter(col("shard") =!=
      ScalePatterns.shardId(16)).count() == 0)
    // and the manifest recomputed FROM the lake is byte-identical
    val fromLake = ScalePatterns.shardManifest(back.drop("shard"))
      .collect().map(_.toSeq).toSeq
    val fromSource = ScalePatterns.shardManifest(docs)
      .collect().map(_.toSeq).toSeq
    assert(fromLake == fromSource)
  }

  test("fluencyBands: terciles are contiguous in score and ~equal-mass") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val rows = ScalePatterns.fluencyBands(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getString(3)))
    val scoreable = graft.operators.TextAnalysis.bigramFluency(docs)
      .filter(col("avg_prob").isNotNull).count()
    assert(rows.length == scoreable && rows.nonEmpty)
    val byBand = rows.groupBy(_._4).view.mapValues(_.map(_._2))
    assert(byBand.keySet == Set("tail", "middle", "head"))
    // bands partition the score axis contiguously
    assert(byBand("tail").max <= byBand("middle").min)
    assert(byBand("middle").max <= byBand("head").min)
    // equal mass up to value ties at the cut points
    val n = rows.length
    Seq("tail", "middle", "head").foreach { b =>
      val c = byBand(b).size
      assert(math.abs(c - n / 3.0) < n * 0.1 + 5, s"$b has $c of $n")
    }
    // cume_dist semantics: cdf is the ties-inclusive rank fraction
    val sorted = rows.sortBy(_._2)
    assert(rows.forall { case (_, v, cdf, _) =>
      cdf == sorted.count(_._2 <= v).toDouble / n })
  }

  test("mergeManifests: merged split manifests equal the direct manifest") {
    val docs = t.documents
    val whole = ScalePatterns.shardManifest(docs)
      .collect().map(_.toSeq).toSeq
    // two-way split on an arbitrary predicate
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b = docs.filter(col("doc_id") % 3 === 0)
    val merged = ScalePatterns.mergeManifests(
      ScalePatterns.shardManifest(a), ScalePatterns.shardManifest(b))
      .collect().map(_.toSeq).toSeq
    assert(merged == whole)
    // three-way (associativity in practice) and empty-side identity
    val c3 = Seq(0, 1, 2).map(r =>
      ScalePatterns.shardManifest(docs.filter(col("doc_id") % 3 === r)))
    val merged3 = ScalePatterns.mergeManifests(
      ScalePatterns.mergeManifests(c3(0), c3(1)), c3(2))
      .collect().map(_.toSeq).toSeq
    assert(merged3 == whole)
    val withEmpty = ScalePatterns.mergeManifests(
      ScalePatterns.shardManifest(docs),
      ScalePatterns.shardManifest(docs.filter(lit(false))))
      .collect().map(_.toSeq).toSeq
    assert(withEmpty == whole)
  }

  test("releaseDiff classifies added / removed / changed / unchanged shards") {
    // 40 docs over 4 shards; shard assignment is the deterministic md5
    // hash, so carve the release pair by shard id: old lacks shard 0
    // (-> added), new lacks shard 1 (-> removed), one doc of shard 2
    // is edited (-> changed), shard 3 is untouched (-> unchanged)
    val base = (1L to 40L).map(i => (i, s"tok$i alpha beta"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("s", ScalePatterns.shardId(4))
    val bySh = base.select("doc_id", "s").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet)
    assert((0 to 3).forall(s => bySh(s).nonEmpty)) // all shards populated
    val editId = bySh(2).min
    val oldDocs = base.filter(col("s") =!= 0).drop("s")
    val newDocs = base.filter(col("s") =!= 1).drop("s")
      .withColumn("text",
        when(col("doc_id") === editId, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val got = ScalePatterns.releaseDiff(oldDocs, newDocs, nShards = 4)
      .collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(0)._1 == "added" && got(0)._2 == 0 &&
      got(0)._3 == bySh(0).size)
    assert(got(1)._1 == "removed" && got(1)._3 == 0 &&
      got(1)._4 == -bySh(1).size.toLong)
    assert(got(2)._1 == "changed" && got(2)._2 == got(2)._3)
    // the edit added one token to one doc of shard 2
    assert(got(2)._5 == 1L)
    assert(got(3)._1 == "unchanged" && got(3)._4 == 0 && got(3)._5 == 0)
  }

  test("qualityLengthJoint partitions the scoreable corpus by band " +
      "and length bucket") {
    val docs = t.documents
    val joint = ScalePatterns.qualityLengthJoint(docs).collect()
    assert(joint.nonEmpty)
    val bandTotals = joint.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val bands = ScalePatterns.fluencyBands(docs).collect()
      .groupBy(_.getString(3)).view.mapValues(_.length.toLong).toMap
    assert(bandTotals == bands)
    // every cell is a real (band, bucket) with positive mass
    assert(joint.forall(r => r.getLong(2) >= 1 && r.getLong(3) >= 1))
  }

  test("epochShuffle: positions are a permutation matching the global " +
      "hash order; epochs differ; partitioning-invariant") {
    val docs = t.documents.limit(300).localCheckpoint()
    val e1 = ScalePatterns.epochShuffle(docs, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // permutation of 1..n
    assert(e1.values.toSeq.sorted == (1L to e1.size.toLong))
    // equals the data-sized global window it avoids
    val direct = docs
      .select(col("doc_id"), row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          md5(concat(lit("epoch1:"), col("doc_id").cast("string"))),
          col("doc_id"))).cast("long").as("pos"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1 == direct)
    // a different epoch is a different permutation of the same ids
    val e2 = ScalePatterns.epochShuffle(docs, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e2.keySet == e1.keySet && e2 != e1)
    // pure function of the data: partitioning cannot change it
    val rep = ScalePatterns.epochShuffle(docs.repartition(7), 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == e1)
  }

  test("reshardMovement: jump movement is bounded and strictly into the " +
      "new shard; mod reshuffles most of the corpus") {
    val r = ScalePatterns.reshardMovement(t.documents).head
    assert(r.getInt(0) == 16 && r.getInt(1) == 17 && r.getLong(2) > 0)
    val (modF, jumpF) = (r.getDouble(5), r.getDouble(6))
    assert(modF > 0.8, s"mod moved only $modF") // ~16/17 expected
    assert(jumpF < 0.25 && jumpF < modF, s"jump moved $jumpF")
    // every jump-moved doc lands in the NEW shard (16), none elsewhere
    val landed = t.documents
      .select(ScalePatterns.jumpShardId(16).as("a"),
        ScalePatterns.jumpShardId(17).as("b"))
      .filter(col("a") =!= col("b")).select(col("b")).distinct()
      .collect().map(_.getInt(0))
    assert(landed.forall(_ == 16), s"landed: ${landed.toSeq}")
  }

  test("portableJumpAssignments: every row matches an independent " +
      "BigInt-free driver walk; movers land ONLY in the new shard") {
    // independent replay of the q322 trajectory — plain Long driver
    // math sharing NO code with the operator, so a transcription slip
    // in either the Column chain or the oracle generator fails here
    def refJump(key: Long, n: Int): Long = {
      val M = 2147483647L
      var b = -1L; var j = 0L; var s = key
      while (j < n) { b = j; s = (s * 48271L) % M; j = ((b + 1) * M) / s }
      b
    }
    def mdKey(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"jump:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val got = ScalePatterns.portableJumpAssignments(t.documents, 16, 17)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length > 100)
    got.foreach { case (id, mf, mt, jf, jt) =>
      val h = mdKey(id)
      val k = 1L + h % 2147483646L
      assert(mf == h % 16 && mt == h % 17, s"doc $id mod pair")
      assert(jf == refJump(k, 16), s"doc $id jump_from")
      assert(jt == refJump(k, 17), s"doc $id jump_to")
      // the jump-consistency contract: a mover can only enter shard 16
      if (jf != jt) assert(jt == 16L, s"mover $id landed in $jt")
    }
    // balance sanity: every target shard is populated
    assert(got.map(_._5).distinct.length == 17)
  }

  test("portableReshardMovement card: jump-bounded, mod-heavy — " +
      "the q241 semantics on portable ingredients") {
    val r = ScalePatterns.portableReshardMovement(t.documents).head
    assert(r.getInt(0) == 16 && r.getInt(1) == 17 && r.getLong(2) > 0)
    val (modF, jumpF) = (r.getDouble(5), r.getDouble(6))
    assert(modF > 0.8, s"mod moved only $modF") // ~16/17 expected
    assert(jumpF > 0.01 && jumpF < 0.15, s"jump moved $jumpF") // ~1/17
  }

  test("interleavedOrder: closed-form pos == global interleave window; " +
      "round-robin blocks while all sources alive; partitioning-invariant") {
    val docs = t.documents.limit(300).localCheckpoint()
    val got = ScalePatterns.interleavedOrder(docs, epoch = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // permutation of 1..n
    assert(got.map(_._4).sorted.toSeq == (1L to got.length.toLong))
    // equals the global two-window form it avoids
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy(col("source")).orderBy(
      md5(concat(lit("epoch1:"), col("doc_id").cast("string"))),
      col("doc_id"))
    val direct = docs
      .select(col("doc_id"), col("source"),
        (row_number().over(wSrc) - 1).cast("long").as("src_rank"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        row_number().over(Window.orderBy(col("src_rank"), col("source")))
          .cast("long").as("pos"))
      .orderBy(col("doc_id"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == direct.toSeq)
    // while every source is still alive, each block of |sources|
    // consecutive positions holds |sources| DISTINCT sources
    val bySrc = got.groupBy(_._2)
    val nSources = bySrc.size
    val minSize = bySrc.values.map(_.length).min
    val inOrder = got.sortBy(_._4)
    (0 until minSize).foreach { b =>
      val block = inOrder.slice(b * nSources, (b + 1) * nSources)
      assert(block.map(_._2).distinct.length == nSources,
        s"block $b repeats a source: ${block.map(_._2).toSeq}")
    }
    // pure function of the data: partitioning cannot change it
    val rep = ScalePatterns.interleavedOrder(docs.repartition(7), epoch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rep == got.map(r => r._1 -> r._4).toMap)
  }
}
