package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Exact
import graft.operators.RuntimeFilters

/** The Bloom pre-filter must be invisible in the result (the exact
  * semi join removes false positives) and visible in the data volume
  * (it prunes non-matching rows before the join). */
class RuntimeFiltersSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark

  private def t = Tables(spark, "/root/testdata/sf0.001")

  test("bloom-pruned revenue equals the plain semi join bit-for-bit") {
    val got = RuntimeFilters.bloomPrunedOrderRevenue(t).collect()
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val plain = t.lineitem
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Exact.sumProdD2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"))
      .orderBy(col("l_returnflag"))
      .collect()
    assert(got.toSeq == plain.toSeq)
  }

  test("the bloom predicate prunes at the scan with bounded false positives") {
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = RuntimeFilters.buildBloom(urgent, "o_orderkey",
      urgent.count(), fpp = 0.01)
    val total = t.lineitem.count()
    val trueMatches = t.lineitem
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    val kept = t.lineitem
      .filter(RuntimeFilters.mightContain(bloom, col("l_orderkey")))
      .count()
    assert(kept >= trueMatches, "a bloom filter never false-negatives")
    assert(kept < total, "the predicate must actually prune")
    val falsePos = kept - trueMatches
    assert(falsePos <= math.max(50L, ((total - trueMatches) * 0.05).toLong),
      s"false-positive volume too high: $falsePos of ${total - trueMatches}")
  }

  test("bloom-screened cross-corpus: identical rows, most of the " +
      "shuffle pruned at sf0.1") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.1").documents
    val base = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val cands = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val screened = Dedup.crossCorpusNewBloomScreened(cands, base)
      .orderBy(col("doc_id")).collect().toSeq
    val plain = Dedup.crossCorpusNewAgainst(cands, base)
      .orderBy(col("doc_id")).collect().toSeq
    assert(screened == plain)
    // prune volume: the bloom must route the bulk of a mostly-new
    // candidate stream AROUND the anti join (only bloom-positives
    // shuffle). Re-derive the split's sizes directly.
    val fp = md5(array_join(
      array_sort(array_distinct(split(col("text"), " "))), " "))
    val baseFps = base.select(fp.as("fp")).distinct()
    val bloom = RuntimeFilters.buildBloom(
      baseFps.select(xxhash64(col("fp")).as("h")), "h", baseFps.count())
    val nCands = cands.count()
    val shuffled = cands.withColumn("fp", fp)
      .filter(RuntimeFilters.mightContain(bloom, xxhash64(col("fp"))))
      .count()
    val trueDups = nCands - plain.size
    assert(shuffled >= trueDups, "bloom never drops a real duplicate")
    assert(shuffled <= nCands / 2,
      s"bloom should bypass most candidates: $shuffled of $nCands shuffled")
  }

  test("screen artifact: at-rest path row-identical to inline bloom " +
      "screen; artifact built once and probed from the lake") {
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val base = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val cands = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val key = "spec_screen_artifact"
    val fromArtifact = Dedup.crossCorpusNewFromArtifact(
      spark, cands, base, key).orderBy(col("doc_id")).collect().toSeq
    val inline = Dedup.crossCorpusNewBloomScreened(cands, base)
      .orderBy(col("doc_id")).collect().toSeq
    assert(fromArtifact == inline && fromArtifact.nonEmpty)
    // the memoized artifact is reused: same (table, bloomDir) pair,
    // and a second probe (even with a DIFFERENT base frame) reads the
    // at-rest state, proving the screen no longer depends on
    // re-deriving the base corpus
    val home = Dedup.screenSessionHome(spark, key)
    val a1 = Dedup.materializedScreenBaseDurable(spark, base, home)
    val a2 = Dedup.materializedScreenBaseDurable(spark,
      base.limit(0), home) // would build an EMPTY screen if re-derived
    assert(a1 == a2)
    val again = Dedup.crossCorpusNewFromArtifact(spark, cands,
      base.limit(0), key).orderBy(col("doc_id")).collect().toSeq
    assert(again == inline)
    // the exact side of the screen lives in the bucketed lake table
    val (table, bloomDir) = a1
    assert(spark.table(table).count() == base.select(
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))),
        " "))).distinct().count())
    val bloomRow = spark.read.parquet(bloomDir).collect()
    assert(bloomRow.length == 1 &&
      bloomRow.head.getAs[Array[Byte]]("bloom").nonEmpty)
  }
}
