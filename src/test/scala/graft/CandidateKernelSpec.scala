package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The LSH candidate kernel in [[Dedup]] — [[Dedup.bandRows]] /
  * [[Dedup.chunkRows]], [[Dedup.selfBucketPairs]] /
  * [[Dedup.crossBucketPairs]] and [[Dedup.jaccardVerify]] — on hand-built
  * bucket rows, so the cap boundary and the pair orientation are pinned
  * independently of any hash family. */
class CandidateKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private val keys = Seq("band", "bh")

  /** (id, band, bh) rows: every id in `ids` lands in bucket (band, bh). */
  private def bucket(band: Int, bh: String, ids: Long*): Seq[(Long, Int, String)] =
    ids.map(i => (i, band, bh))

  private def rows(rs: Seq[(Long, Int, String)]): DataFrame =
    rs.toDF("id", "band", "bh")

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("x.id"), col("y.id")).as[(Long, Long)].collect().toSeq

  test("a bucket of exactly maxBucket members is kept, one of maxBucket + 1 is dropped whole") {
    val rs = rows(bucket(0, "full", 1L, 2L, 3L) ++
      bucket(0, "over", 10L, 11L, 12L, 13L))
    val self = pairs(Dedup.selfBucketPairs(rs, keys, "id", maxBucket = 3))
    assert(self.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // each side of the cross join is capped on its own
    val inc = rows(bucket(0, "full", 1L, 2L, 3L) ++ bucket(0, "over", 4L))
    val base = rows(bucket(0, "full", 20L) ++
      bucket(0, "over", 10L, 11L, 12L, 13L))
    val cross = pairs(Dedup.crossBucketPairs(inc, base, keys, maxBucket = 3))
    assert(cross.sorted == Seq((1L, 20L), (2L, 20L), (3L, 20L)))
  }

  test("self mode emits each unordered pair once with d1 < d2, even across several shared bands") {
    // ids 1 and 2 agree on all three bands, 3 agrees with them on band 0
    val sigs = Seq((1L, "a", "b", "c"), (2L, "a", "b", "c"),
      (3L, "a", "x", "y")).toDF("id", "k0", "k1", "k2")
    val banded = Dedup.bandRows(sigs, Seq(col("id")), Dedup.MinhashBands,
      Seq(col("k0"), col("k1"), col("k2")))
    assert(banded.columns.toSeq == Seq("id", "band", "bh"))
    assert(banded.count() == 9)
    val raw = pairs(Dedup.selfBucketPairs(banded, keys, "id", 10000))
    assert(raw.forall { case (a, b) => a < b }, raw)
    // one raw row per shared band: the distinct is the caller's
    assert(raw.count(_ == (1L, 2L)) == 3)
    assert(raw.distinct.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("cross mode never emits a base×base or inc×inc pair") {
    val inc = rows(bucket(0, "k", 1L, 2L) ++ bucket(1, "k", 1L, 2L))
    val base = rows(bucket(0, "k", 10L, 11L) ++ bucket(1, "j", 10L, 11L))
    val got = pairs(Dedup.crossBucketPairs(inc, base, keys, 10000)).distinct
    assert(got.sorted == Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
  }

  test("chunk rows are the four 16-bit slices of the hash, low chunk first") {
    val h = 0x0004000300020001L
    val got = Dedup.chunkRows(Seq((7L, h)).toDF("id", "h"), Seq(col("id")),
      col("h"))
      .select(col("id"), col("chunk"), col("ck")).as[(Long, Int, Long)]
      .collect().toSeq.sortBy(_._2)
    assert(got == Seq((7L, 0, 1L), (7L, 1, 2L), (7L, 2, 3L), (7L, 3, 4L)))
  }

  test("jaccard verify keeps pairs at or above the threshold") {
    val sh = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "d")),
      (3L, Seq("x"))).toDF("doc_id", "sh")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val got = Dedup.jaccardVerify(cands, "d1", sh, "d2", sh, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 0.5)))
  }
}
