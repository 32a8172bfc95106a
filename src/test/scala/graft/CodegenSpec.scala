package graft

import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.api.Graphs
import graft.streaming.{Ev, StreamOps}

/** Generated code compiles once per JVM (the [[GraftSession]] scaladoc):
  * running the same work a second time compiles no class, whether it
  * runs on a session a fixpoint loop or a streaming query clones from
  * the caller's, or cycles through more distinct classes than Spark's
  * default code cache (100 entries) holds.
  *
  * Janino compilations are counted by Spark's JVM-global
  * `CodegenMetrics.METRIC_COMPILATION_TIME`, which records one sample per
  * cache miss. Suites run one after another in the forked test JVM, so
  * nothing else compiles while a case runs.
  */
class CodegenSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a fixpoint loop run twice compiles nothing the second time") {
    // a 4-round peel cascade (see PipelineSpec's kcore case): the loop's
    // blocks run on a clone of this session
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L)).toDF("s", "t")
    def run(): Unit = {
      val (onion, round) = Graphs.kcoreWithRound(edges, "s", "t", k = 2)
      assert(onion.count() == 7 && round == 4)
    }
    val first = compiles(run())
    val second = compiles(run())
    assert(second == 0, s"the second loop recompiled $second classes (first: $first)")
  }

  test("a streaming operator started twice compiles nothing the second time") {
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    // each start's StreamExecution runs its batches on a clone of this
    // session; both runs see the same batches, hence the same watermarks
    def run(name: String): Unit = {
      val ms = MemoryStream[Ev]
      val q = StreamOps.paneTwoLevel(ms.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(
          Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.5),
          Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.25))
        q.processAllAvailable()
        ms.addData(Ev(3, ts("2024-01-02 06:00:00"), 2, "view", 4.0))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table(name).count() > 0)
    }
    val first = compiles(run("codegen_panes_1"))
    val second = compiles(run("codegen_panes_2"))
    assert(second == 0, s"the second query recompiled $second classes (first: $first)")
  }

  test("a batch pass over more classes than Spark's default cache compiles nothing the second time") {
    // 25 declared keys of distinct shapes; a first pass in a fresh JVM
    // compiles about 240 classes, which a 100-entry LRU cache evicts
    // before the second pass needs them again (it recompiled 226)
    val keys = Seq("project_filter", "filter_in_like", "join_broadcast",
      "join_shuffle_hash", "join_sort_merge", "join_left_outer",
      "join_full_outer", "join_semi", "join_anti", "join_interval",
      "join_asof", "agg_hash", "agg_distinct", "agg_grouping_sets",
      "agg_rollup", "agg_cube", "agg_filtered", "agg_pivot", "agg_bitbool",
      "agg_unpivot", "sort_limit", "set_union", "set_intersect",
      "set_except", "q_composite_revenue")
    val queries = SparkEntry.queries
    def pass(): Unit = keys.foreach(k => queries(k)(spark, sf001).collect())
    val first = compiles(pass())
    val second = compiles(pass())
    assert(second == 0, s"the second pass recompiled $second classes (first: $first)")
  }
}
