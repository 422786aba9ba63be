package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** The one host-side loop for the iterative operators (connected
  * components, star contraction, BFS shells, k-core peels, NN-Descent
  * rounds, beam hops); each round's step stays a declarative plan.
  * Every state is checkpointed at `storage` ([[CacheScope.unscoped]]),
  * so lineage never grows with the round count, and the round's metric
  * columns ride that checkpoint job via `observe` (convergence costs no
  * extra job). Each superseded state — always the checkpoint root
  * created here — is freed with [[CacheScope.free]] exactly once, as
  * soon as its successor is materialized; only the final state, which
  * the caller's plan still reads, is handed to [[CacheScope]]. A loop so
  * holds at most two states at once.
  */
object Fixpoint {
  /** A state's observed metrics by column name; empty if it observed none. */
  type Metrics = Map[String, Any]

  final case class Result(name: String, state: DataFrame, rounds: Int,
                          converged: Boolean, maxRounds: Int) {
    /** The final state of a loop that must converge. */
    def required: DataFrame = {
      require(converged, s"$name did not converge in $maxRounds rounds")
      state
    }
  }

  /** Iterate from `seed` (round 0, observing `seedMetrics`) until
    * `done(previous, current)` holds or `maxRounds` rounds have run.
    * `step(state, round, metrics)` gets the current state with its
    * metrics and the 1-based round it builds, and returns the next lazy
    * state plus the metric columns to observe on it. A fixed-count loop
    * passes `done = (_, _) => false`.
    */
  def iterate(name: String, seed: DataFrame, maxRounds: Int,
              storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
              seedMetrics: Seq[Column] = Nil)(
      step: (DataFrame, Int, Metrics) => (DataFrame, Seq[Column]))(
      done: (Metrics, Metrics) => Boolean): Result = {
    def checkpoint(df: DataFrame, metrics: Seq[Column]): (DataFrame, Metrics) =
      if (metrics.isEmpty) (CacheScope.unscoped(df, storage), Map.empty)
      else {
        val obs = Observation()
        (CacheScope.unscoped(df.observe(obs, metrics.head, metrics.tail: _*), storage),
          obs.get)
      }
    var (state, metrics) = checkpoint(seed, seedMetrics)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val (lazyNext, cols) = step(state, round, metrics)
      val (next, nextMetrics) = checkpoint(lazyNext, cols)
      converged = done(metrics, nextMetrics)
      CacheScope.free(state)
      state = next
      metrics = nextMetrics
    }
    CacheScope.adopt(state)
    Result(name, state, round, converged, maxRounds)
  }
}
