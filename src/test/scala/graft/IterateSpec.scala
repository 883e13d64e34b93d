package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate

/** The round-loop device's contract on plain driver states: how many
  * steps each mode runs, when it stops, and what `converged` says. */
class IterateSpec extends AnyFunSuite {

  test("fixed mode runs exactly n steps and claims no convergence") {
    var steps = 0
    val run = Iterate(10, Iterate.Fixed[Int](5)) { x => steps += 1; x }
    assert(steps == 5 && run.rounds == 5 && run.state == 10)
    assert(!run.converged)
    assert(Iterate(7, Iterate.Fixed[Int](0))(_ + 1) ==
      Iterate.Result(7, 0, converged = false))
  }

  test("key mode stops at the first unchanged key, computing each " +
      "state's key once") {
    var keys = 0
    val run = Iterate(0, Iterate.UntilKey(50,
      (x: Int) => { keys += 1; x })) { x => math.min(x + 1, 3) }
    // states 0 → 1 → 2 → 3 → 3: the fourth round leaves the key alone
    assert(run == Iterate.Result(3, 4, converged = true))
    assert(keys == run.rounds + 1)
  }

  test("the maxRounds cap returns converged = false") {
    val run = Iterate(0, Iterate.UntilKey(3, (x: Int) => x))(_ + 1)
    assert(run == Iterate.Result(3, 3, converged = false))
  }

  test("the two-back pair test stops a 2-cycle a previous-only test " +
      "never ends") {
    val flip = (x: Int) => 1 - x
    val prevOnly = Iterate(0, Iterate.UntilPair(10,
      (_: Option[Int], prev: Int, next: Int) => next == prev))(flip)
    assert(prevOnly == Iterate.Result(0, 10, converged = false))
    val twoBack = Iterate(0, Iterate.UntilPair(10,
      (back: Option[Int], prev: Int, next: Int) =>
        next == prev || back.contains(next)))(flip)
    // round 1: 0 → 1 (nothing two back); round 2: 1 → 0 = two back
    assert(twoBack == Iterate.Result(0, 2, converged = true))
  }
}
