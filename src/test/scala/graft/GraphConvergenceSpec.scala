package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Iterate, Similarity}

/** Convergence-adaptive runs of the iterative graph family (r13
  * verdict item 6): the registered tiers run FIXED unrolled rounds
  * (the oracle replays the recurrence); a 100 TB job iterates to a
  * convergence test — the [[Iterate]] device's until-mode over the
  * SAME step. These specs pin the contract that makes both modes one
  * algorithm: the converged run is the fixed-round tier's PREFIX —
  * its result equals the fixed tier at the converged round count,
  * bit-for-bit — and the per-round driver state is one scalar (the
  * q82 changed-count discipline), never data-sized.
  */
class GraphConvergenceSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  private def emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    .select(col("vec_id"), col("embedding"))

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq

  // the per-round stop scalars: nodes whose (id, label) label changed
  // between two labelings, and max |Δpr| between two rank frames (an
  // empty graph's zero rows are their own fixed point)
  private def changedLabels(a: DataFrame, b: DataFrame): Long =
    a.alias("n").join(b.alias("p"), col("n.id") === col("p.id"))
      .filter(col("n.label") =!= col("p.label")).count()

  private def maxRankDelta(a: DataFrame, b: DataFrame): Double = {
    val row = a.alias("n").join(b.alias("p"), col("n.id") === col("p.id"))
      .agg(max(abs(col("n.pr") - col("p.pr")))).head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  test("kCore converged == fixed-round tier at the converged count; " +
      "the fixed point really is fixed") {
    val run = Similarity.kCoreRun(emb, 0.3, 2,
      Iterate.UntilKey(64, (e: DataFrame) => e.count()))
    val (converged, r) = (run.state, run.rounds)
    assert(r >= 1 && r < 64, s"rounds=$r")
    assert(rows(converged) == rows(Similarity.kCore(emb, rounds = r)))
    // idempotence at the fixed point: one more fixed round changes
    // nothing (the peel deleted no edge in round r)
    assert(rows(converged) ==
      rows(Similarity.kCore(emb, rounds = r + 1)))
  }

  test("labelPropagation converged == fixed-round tier; the period-2 " +
      "invariant holds (fixed point OR the classic sync-LPA 2-cycle)") {
    val run = Similarity.labelPropagationRun(emb, 0.3,
      Iterate.UntilPair(32, (twoBack: Option[DataFrame], prev: DataFrame,
          next: DataFrame) => changedLabels(next, prev) == 0L ||
        twoBack.exists(changedLabels(next, _) == 0L)))
    val (converged, r) = (run.state, run.rounds)
    assert(r >= 1 && r < 32, s"rounds=$r")
    assert(rows(converged) ==
      rows(Similarity.labelPropagation(emb, rounds = r)))
    // r+2 lands on the same labeling whether the walk converged
    // (stable) or 2-cycles (same phase) — the invariant that makes
    // the stop rule sound in both regimes
    assert(rows(converged) ==
      rows(Similarity.labelPropagation(emb, rounds = r + 2)))
  }

  test("pageRank converged == fixed-round tier at the converged " +
      "count (same fold-exact recurrence, bit-for-bit)") {
    val run = Similarity.pageRankRun(emb, 0.3, 0.85,
      Iterate.UntilPair(200, (_: Option[DataFrame], prev: DataFrame,
          next: DataFrame) => maxRankDelta(next, prev) < 1e-3))
    val (converged, r) = (run.state, run.rounds)
    assert(r >= 1 && r < 200, s"rounds=$r")
    assert(rows(converged) == rows(Similarity.pageRank(emb, iters = r)))
    // the registered 3-round tier is the SAME walk truncated earlier:
    // a converged run at a loose tol never needs fewer rounds
    assert(r >= 3 || rows(converged) ==
      rows(Similarity.pageRank(emb, iters = 3)))
  }

  test("bfs converged == fixed-round tier; distances are the true " +
      "BFS fixed point (one more hop changes nothing)") {
    val run = Similarity.bfsHopsRun(emb, 0.3, 3,
      Iterate.UntilKey(64, (d: DataFrame) => {
        val row = d.agg(count(lit(1)), coalesce(sum(col("hops")), lit(0L)))
          .head
        (row.getLong(0), row.getLong(1))
      }))
    val (converged, r) = (run.state, run.rounds)
    assert(r >= 1 && r < 64, s"rounds=$r")
    assert(rows(converged) == rows(Similarity.bfsHops(emb, maxHops = r)))
    assert(rows(converged) ==
      rows(Similarity.bfsHops(emb, maxHops = r + 1)))
  }
}
