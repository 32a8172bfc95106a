package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Runs every synchronous BSP fixpoint loop (PageRank, k-core, shortest
  * paths, connected components, star contraction, NN-Descent) and owns
  * what each of them would otherwise repeat: the loop-scoped execution
  * settings, blocks of rounds, round counting and the `maxIters` budget.
  * A loop keeps its own round body, its convergence test and its
  * reaction to a spent budget.
  *
  * ONE Spark job per block. A block of `blockSize` rounds ends in one
  * job that materializes the block's last state AND answers the loop's
  * probe: a probe is a list of aggregate `Column`s (a count of the rows
  * the last round changed, a rank sum, a deepest layer) observed while
  * that job runs, plus the state's row count, never an action of its
  * own. The rounds inside a block are each planned once and shared — a
  * lazy `localCheckpoint`, computed by the block's job — so a round that
  * reads its state twice plans a block linear in `blockSize`, not 2^k
  * copies of the block's seed; they are released once the block's state
  * is materialized, and a block's state is released once the NEXT block
  * has been materialized and probed. The caller's `state0` and the state
  * a loop returns are never released.
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
  *  - `spark.sql.shuffle.partitions` is derived from the loop's input
  *    rows (`rows / RowsPerPartition`, clamped to [1, the session
  *    value]), counted while the input is materialized
  *    ([[Fixpoint.over]]): a 15k-edge loop runs 1-partition rounds, while
  *    a 100 TB edge table keeps the session's full parallelism. The
  *    session value is the cap, never raised.
  *
  * The settings live on a private CLONE of the caller's session (same
  * extensions, registered functions and other settings), never on the
  * caller's own: a query running on the caller's session meanwhile keeps
  * AQE and its partition count. Each block's materialization is bound
  * to the clone, so it and everything derived from the materialized
  * state are planned and run under the loop settings; a frame a loop
  * returns is rebound with [[back]], so the caller's action runs under
  * the caller's settings. The clone shares compiled code with the caller:
  * sessions built through [[graft.GraftSession]] run their tasks under
  * one class loader, so a loop's rounds reuse every generated class the
  * caller's session (or an earlier loop) already compiled.
  */
private[graft] final class Fixpoint private (caller: SparkSession, session: SparkSession) {

  /** `df` bound to the loop session: planned and run under the loop settings. */
  def on(df: DataFrame): DataFrame = Bridge.ofRows(session, df)

  /** `df` bound back to the caller's session. */
  def back(df: DataFrame): DataFrame = Bridge.ofRows(caller, df)

  /** Iterate `round` from `state0` until `converged` holds or the budget
    * of `maxIters` rounds is spent (`start` rounds already count against
    * it). Rounds run in blocks of `blockSize` — `round` gets the 1-based
    * number of the round it builds — and each block is materialized in
    * one job that also evaluates `probes(blockEnd)`; then
    * `converged(blockStart, materialized, roundsRun)` decides. */
  def run(state0: DataFrame, maxIters: Int, blockSize: Int = 1, start: Int = 0)(
      round: (DataFrame, Int) => DataFrame, probes: Int => Seq[Column] = _ => Nil)(
      converged: (DataFrame, Fixpoint.Block, Int) => Boolean): Fixpoint.Outcome = {
    require(blockSize >= 1, s"blockSize must be >= 1: $blockSize")
    var s = state0
    var last = Option.empty[Row]
    var it = start
    while (it < maxIters) {
      val end = math.min(it + blockSize, maxIters)
      val shared = (it + 1 until end).scanLeft(s)((t, i) =>
        on(round(t, i)).localCheckpoint(false)).tail
      val (next, rows, p) =
        Bridge.checkpointProbed(on(round(shared.lastOption.getOrElse(s), end)), probes(end))
      shared.foreach(Bridge.release)
      it = end
      val done = converged(s, Fixpoint.Block(next, rows, p), it)
      if (s ne state0) Bridge.release(s)
      s = next
      last = Some(p)
      if (done) return Fixpoint.Outcome(s, it, converged = true, last)
    }
    Fixpoint.Outcome(s, it, converged = false, last)
  }
}

private[graft] object Fixpoint {

  /** Target state rows per reduce partition of the derived in-loop
    * parallelism — a partition of narrow (id, long) state rows is large
    * enough that fewer, larger partitions win over per-task overhead. */
  private val RowsPerPartition = 200000L

  /** A loop over `input`, on a clone of `input`'s session: the input is
    * materialized once, in one SQL execution under the caller's settings
    * (it is the caller's query, not a loop round), which also counts it;
    * `weight` times its rows size the loop's shuffle parallelism. Under
    * the caller's AQE that execution runs one Spark job per query stage,
    * not one job (kcore's input ran as 7 in a traced `fixpoint_loops`
    * round). Returns the loop and the materialized input. */
  def over(input: DataFrame, weight: Long = 1L): (Fixpoint, Block) = {
    val (in, rows, p) = Bridge.checkpointProbed(input, Nil)
    val session = Bridge.cloneSession(input.sparkSession)
    val cap = math.max(1L, session.conf.get("spark.sql.shuffle.partitions").toLong)
    val derived = (math.max(rows * weight, 1L) + RowsPerPartition - 1) / RowsPerPartition
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", math.min(cap, derived).toString)
    (new Fixpoint(input.sparkSession, session), Block(in, rows, p))
  }

  /** A materialized frame: its rows counted and its probes evaluated by
    * the SQL execution that materialized it — one job for a block (AQE
    * is off in a loop), one job per query stage for an input [[over]]
    * materializes under the caller's AQE. */
  final case class Block(state: DataFrame, rows: Long, probes: Row)

  /** How a loop ended: the last state (bound to the loop session once a
    * block has been materialized), the rounds run, whether the test
    * certified a fixpoint — false means the budget was spent — and the
    * probes of the last block (none if no block ran). */
  final case class Outcome(state: DataFrame, rounds: Int, converged: Boolean,
                           probes: Option[Row])
}
