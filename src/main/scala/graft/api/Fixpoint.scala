package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Runs every synchronous BSP fixpoint loop (PageRank, k-core, shortest
  * paths, connected components, star contraction, NN-Descent) and owns
  * what each of them would otherwise repeat: the loop-scoped execution
  * settings, lazily chained blocks of rounds with ONE materialization per
  * block, round counting and the `maxIters` budget. A loop keeps its own
  * round body, its convergence probe and its reaction to a spent budget.
  *
  * Loop settings (configuration, applied only where a measured
  * driver-side floor is left): a blocked loop executes dozens
  * of tiny synchronous rounds, and with AQE on EVERY per-round exchange
  * materializes as its own Spark job (round 17 measured
  * graph_pagerank_converged at 290 jobs, ~45% of wall-clock in the
  * driver gaps between them). Inside a loop:
  *
  *  - AQE is off: one job per action instead of one per exchange. Loop
  *    bodies are fixed-shape key-partitioned joins/aggregates whose sizes
  *    the caller bounds, and each block's output is checkpointed, so
  *    there is no cross-round plan for AQE to re-optimize.
  *  - `spark.sql.shuffle.partitions` is derived from the caller-counted
  *    state rows (`stateRows / RowsPerPartition`, clamped to [1, the
  *    session value]): a 15k-edge loop runs 1-partition rounds, while a
  *    100 TB edge table keeps the session's full parallelism. The session
  *    value is the cap, never raised.
  *
  * The settings live on a private CLONE of the caller's session (same
  * extensions, registered functions and other settings), never on the
  * caller's own: a query running on the caller's session meanwhile keeps
  * AQE and its partition count. Each block's materialization is rebound
  * to the clone, so it and every probe derived from the materialized
  * state are planned and run under the loop settings; a frame a loop
  * returns is rebound with [[back]], so the caller's action runs under
  * the caller's settings.
  */
private[graft] final class Fixpoint(caller: SparkSession, stateRows: Long) {

  private val session: SparkSession = {
    val s = Bridge.cloneSession(caller)
    val cap = math.max(1L, s.conf.get("spark.sql.shuffle.partitions").toLong)
    val derived = (math.max(stateRows, 1L) + Fixpoint.RowsPerPartition - 1) /
      Fixpoint.RowsPerPartition
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", math.min(cap, derived).toString)
    s
  }

  /** `df` bound to the loop session: planned and run under the loop settings. */
  def on(df: DataFrame): DataFrame = Bridge.ofRows(session, df)

  /** `df` bound back to the caller's session. */
  def back(df: DataFrame): DataFrame = Bridge.ofRows(caller, df)

  /** `df` materialized once under the loop settings. */
  def checkpoint(df: DataFrame): DataFrame = on(df).localCheckpoint()

  /** Iterate `round` from `state0` until `converged` holds or the budget
    * of `maxIters` rounds is spent (`start` rounds already count against
    * it). Rounds run in blocks of `blockSize` chained lazily — `round`
    * gets the 1-based number of the round it builds — and each block is
    * materialized once by `materialize(blockStart, blockEnd)`; then
    * `converged(blockStart, materialized, roundsRun)` probes it. */
  def run[S](state0: S, maxIters: Int, blockSize: Int = 1, start: Int = 0)(
      round: (S, Int) => S, materialize: (S, S) => S,
      converged: (S, S, Int) => Boolean): Fixpoint.Outcome[S] = {
    require(blockSize >= 1, s"blockSize must be >= 1: $blockSize")
    var s = state0
    var it = start
    while (it < maxIters) {
      val k = math.min(blockSize, maxIters - it)
      val next = materialize(s, (it + 1 to it + k).foldLeft(s)(round))
      it += k
      if (converged(s, next, it)) return Fixpoint.Outcome(next, it, converged = true)
      s = next
    }
    Fixpoint.Outcome(s, it, converged = false)
  }

  /** [[run]] over a single-frame state, checkpointed once per block. */
  def frames(state0: DataFrame, maxIters: Int, blockSize: Int = 1, start: Int = 0)(
      round: (DataFrame, Int) => DataFrame,
      converged: (DataFrame, DataFrame, Int) => Boolean): Fixpoint.Outcome[DataFrame] =
    run(state0, maxIters, blockSize, start)(round, (_, s) => checkpoint(s), converged)
}

private[graft] object Fixpoint {

  /** Target state rows per reduce partition of the derived in-loop
    * parallelism — a partition of narrow (id, long) state rows is large
    * enough that fewer, larger partitions win over per-task overhead. */
  private val RowsPerPartition = 200000L

  /** How a loop ended: the last state (bound to the loop session once a
    * block has been materialized), the rounds run, and whether the probe
    * certified a fixpoint — false means the budget was spent. */
  final case class Outcome[S](state: S, rounds: Int, converged: Boolean)
}
