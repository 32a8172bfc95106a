package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive physical-layout helpers shared by the operator families
  * (spark_optimization_guide §2.5 / §6 — round-17 optimization pass).
  */
object Scale {

  /** True iff the frame is narrow transforms (project / filter /
    * generate) over leaf relations — the only shape whose `.rdd`
    * conversion is free (no exchange to materialize) and whose
    * partitioning is the SCAN's split count. Anything with a join,
    * aggregate, window or repartition already owes its partitioning to a
    * shuffle, and probing it with `.rdd` under AQE would EXECUTE the
    * upstream stages just to read a partition count. */
  private def narrowOverLeaf(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: Generate | _: SubqueryAlias =>
      p.children.forall(narrowOverLeaf)
    case _ => false
  }

  /** Fan OUT a compute-dense derivation's input when the scan cannot
    * supply enough parallelism (guide §2.5, "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    *
    * The local fixtures are single-row-group parquet files, so a scan
    * yields ONE split and every narrow per-row derivation above it —
    * shingling, minhash/simhash signatures, BPE encoding, deletion
    * variants — runs in one task regardless of core count (measured
    * round 17: dedup_containment spent 3 × 3.4 s in single-task stages
    * on a 32-core host). The fix is the guide's: repartition immediately
    * after the read, BEFORE the expensive projection, so the derivation
    * runs above the exchange at full parallelism.
    *
    * The GUARD is the scale-adaptive part: only a narrow-over-scan frame
    * whose actual split count is below the session's default parallelism
    * fans out. On a production multi-file layout the scan already yields
    * >= defaultParallelism splits, the condition is false, and NO
    * exchange is added — the 100 TB plan is unchanged. A frame that is
    * not narrow-over-scan is returned untouched (its partitioning comes
    * from a shuffle, and probing it would execute upstream stages).
    * Round-robin repartition keeps the fan-out even (no key skew), and
    * Spark's sort-before-repartition (SPARK-23207, on by default) makes
    * the row placement deterministic under retries.
    *
    * Batch-only: a streaming frame cannot answer `.rdd` — streaming
    * callers already receive micro-batch parallelism from the source.
    */
  def fanout(df: DataFrame): DataFrame = {
    // Self-enforcing batch-only contract (ADVICE r17): touching
    // queryExecution.optimizedPlan on a streaming frame throws a
    // confusing plan-time AnalysisException far from the caller; a
    // streaming frame already gets micro-batch parallelism from its
    // source, so the correct fan-out there is a no-op, not an error.
    if (df.isStreaming) df
    else if (!narrowOverLeaf(df.queryExecution.optimizedPlan)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }
}
