package graft.operators

/** The one driver-side round loop: run `step` from `init` and report
  * the final state, the rounds run and whether the stop test held.
  *
  * Two modes share the step. [[Fixed]] runs exactly `n` rounds — the
  * registered tiers, whose oracles unroll the identical recurrence
  * round by round. `Until` ([[UntilKey]], [[UntilPair]]) stops at
  * `maxRounds` or at the first round whose stop test holds, so the
  * fixed tier is literally its prefix: an until-mode run that stops
  * after r rounds returns the fixed tier at r, bit for bit
  * (GraphConvergenceSpec). Each round of an until-mode loop pays its
  * stop test — typically one scalar job, parallelism-sized and never
  * data-sized (the q82 changed-count discipline).
  *
  * Round discipline. The device never checkpoints; each step ends in
  * its own `localCheckpoint`, which cuts lineage to one round deep so
  * plan size stays constant across rounds.
  *   - eager (`localCheckpoint(true)`): one scheduled job per round,
  *     and the round's frame is computed exactly once;
  *   - lazy (`localCheckpoint(false)`): the rounds materialize inside
  *     the final action instead of one job each. This is safe ONLY
  *     when each round's frame has ONE downstream reference (or an
  *     action intervenes, as a per-round stop test does). A frame the
  *     next round reads twice is recomputed per reference, 2^rounds
  *     times over: r17 measured a 4.5× regression on q231 when its
  *     hops went lazy (each hop's relax join and union both read the
  *     previous frontier).
  *
  * The device does not branch on its caller: the step, the stop test
  * and the checkpoint choice all stay at the call site. */
object Iterate {

  /** The loop's final state, the rounds it ran, and whether its stop
    * test held (never, in [[Fixed]] mode). */
  final case class Result[S](state: S, rounds: Int, converged: Boolean) {
    def map[T](f: S => T): Result[T] = Result(f(state), rounds, converged)
  }

  sealed trait Mode[S] {
    def maxRounds: Int
    /** A fresh stop test for one run from `init`, called once per round
      * with the (previous, next) states. */
    private[Iterate] def stopTest(init: S): (S, S) => Boolean
  }

  /** Exactly `n` rounds, no stop test. */
  final case class Fixed[S](n: Int) extends Mode[S] {
    def maxRounds: Int = n
    private[Iterate] def stopTest(init: S): (S, S) => Boolean = (_, _) => false
  }

  /** Stop at the first round whose state's `key` equals the previous
    * state's. The key is computed once per state, `init` included. */
  final case class UntilKey[S, K](maxRounds: Int, key: S => K)
      extends Mode[S] {
    private[Iterate] def stopTest(init: S): (S, S) => Boolean = {
      var last = key(init)
      (_, next) => {
        val k = key(next)
        val same = k == last
        last = k
        same
      }
    }
  }

  /** Stop at the first round where `stop(twoBack, prev, next)` holds;
    * `twoBack` is the state before `prev` (None in the first round),
    * which lets a test catch a 2-cycle. */
  final case class UntilPair[S](maxRounds: Int,
      stop: (Option[S], S, S) => Boolean) extends Mode[S] {
    private[Iterate] def stopTest(init: S): (S, S) => Boolean = {
      var twoBack: Option[S] = None
      (prev, next) => {
        val held = stop(twoBack, prev, next)
        twoBack = Some(prev)
        held
      }
    }
  }

  def apply[S](init: S, mode: Mode[S])(step: S => S): Result[S] = {
    val stop = mode.stopTest(init)
    var state = init
    var ran = 0
    var converged = false
    while (!converged && ran < mode.maxRounds) {
      val next = step(state)
      converged = stop(state, next)
      state = next
      ran += 1
    }
    Result(state, ran, converged)
  }
}
