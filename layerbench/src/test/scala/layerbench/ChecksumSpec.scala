package graft.layerbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private def rows = Seq((1L, "a", 0.1), (2L, "b", 2.5), (3L, null, -0.0),
    (4L, "d", Double.NaN))

  test("row order and partitioning do not change the checksum") {
    val df = rows.toDF("id", "s", "x")
    val base = Checksum.of(df)
    assert(Checksum.of(df.orderBy(col("id").desc)) == base)
    assert(Checksum.of(df.repartition(3)) == base)
    assert(Checksum.of(rows.reverse.toDF("id", "s", "x").coalesce(1)) == base)
    assert(base.startsWith("4:"))
  }

  test("a changed, missing or duplicated row changes the checksum") {
    val base = Checksum.of(rows.toDF("id", "s", "x"))
    val changed = rows.updated(1, (2L, "b", 2.5000000000000004))
    assert(Checksum.of(changed.toDF("id", "s", "x")) != base)
    assert(Checksum.of(rows.tail.toDF("id", "s", "x")) != base)
    assert(Checksum.of((rows :+ rows.head).toDF("id", "s", "x")) != base)
  }

  test("column order counts, column names do not") {
    val df = rows.toDF("id", "s", "x")
    assert(Checksum.of(df.toDF("a", "b", "c")) == Checksum.of(df))
    assert(Checksum.of(df.select("x", "s", "id")) != Checksum.of(df))
  }

  test("an empty result has a defined checksum") {
    assert(Checksum.of(rows.toDF("id", "s", "x").filter(lit(false))) == "0:0:0")
  }
}
