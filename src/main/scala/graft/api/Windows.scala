package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{KnownNullable, TimeWindow}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.Metadata

/** Public event-time windowing API — the engine's core surface.
  *
  * Every function is source-agnostic: pass a batch DataFrame or a
  * streaming one (add `withWatermark` upstream for append-mode emission);
  * the plan algebra is identical (Structured Streaming incrementalizes
  * it, SURVEY.md §3.3).
  */
object Windows {

  private def projectWindow(agged: DataFrame, windowCol: String): DataFrame = {
    val rest = agged.columns.filter(_ != windowCol).map(col)
    agged.select(Seq(col(s"$windowCol.start").as("window_start"),
      col(s"$windowCol.end").as("window_end")) ++ rest: _*)
  }

  /** Tumbling windows of `size` over `tsCol`, grouped by `keys`. */
  def tumbling(df: DataFrame, tsCol: String, size: String,
               keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    projectWindow(df.groupBy(window(col(tsCol), size) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*), "window")

  /** Sliding windows (`size` / `slide`) — the "large window" shape: each
    * row belongs to ceil(size/slide) windows, 36 for 6 h sliding by 10 min.
    *
    * One `Generate` assigns them: the row's last window start is Spark's
    * own tumbling grid (`window(ts, slide).start`), and one
    * `explode(sequence(...))` yields it and the ceil(size/slide) - 1
    * starts before it, kept only while `start + size > ts` when size is
    * not a multiple of slide (otherwise every start is open). The
    * aggregate keys on the window END, a plain timestamp carrying the
    * `ts` column's metadata, so a streaming append query closes a window
    * and drops late partials on `end <= watermark`, exactly as Spark's
    * `window(ts, size, slide)` struct key does; that rewrite instead
    * `Expand`s one struct projection per overlap. Rows with a null `ts`
    * belong to no window. Aggregation stays partial+final, with no
    * per-key state blow-up.
    */
  def sliding(df: DataFrame, tsCol: String, size: String, slide: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val sizeUs = TimeWindow.getIntervalInMicroSeconds(size)
    val slideUs = TimeWindow.getIntervalInMicroSeconds(slide)
    require(slideUs > 0 && slideUs <= sizeUs,
      s"slide '$slide' must be positive and no longer than the window '$size'")
    val span = expr(s"INTERVAL '$size'")
    val assigned = df.withColumn("__ws",
      windowStarts(window(col(tsCol), slide).getField("start"), slide,
        (sizeUs + slideUs - 1) / slideUs))
    val open = if (sizeUs % slideUs == 0) assigned
      else assigned.filter(col("__ws") + span > col(tsCol))
    val agged = open
      .select(col("*"), (col("__ws") + span).as("__we", df.schema(tsCol).metadata))
      .groupBy(col("__we") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    val rest = agged.columns.filter(_ != "__we").map(col)
    agged.select(Seq(
      nullable(col("__we") - span).as("window_start", Metadata.empty),
      nullable(col("__we")).as("window_end", Metadata.empty)) ++ rest: _*)
  }

  /** The `n` slide-spaced window starts ending at `last`, one row each. */
  private def windowStarts(last: Column, slide: String, n: Long): Column = {
    val step = expr(s"INTERVAL '$slide'")
    explode(sequence(last - step * (n - 1), last, step))
  }

  /** `c` typed nullable, like the fields of Spark's window struct. */
  private def nullable(c: Column): Column = Bridge.toCol(KnownNullable(Bridge.toExpr(c)))

  /** Session windows with inactivity `gap`. An event extends the open
    * session iff ts < last_ts + gap (a gap of exactly `gap` starts a new
    * session — Flink parity).
    */
  def session(df: DataFrame, tsCol: String, gap: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    sessionDynamic(df, tsCol, lit(gap), keys, aggs)

  /** Session windows with a per-event DYNAMIC gap (Flink
    * `EventTimeSessionWindows.withDynamicGap`): each event proposes its
    * own window `[ts, ts+gap(event))` and overlapping windows merge, so
    * e.g. high-intent events can hold a session open longer. Same
    * shuffle shape as [[session]] — state is per-key merged intervals.
    */
  def sessionDynamic(df: DataFrame, tsCol: String, gap: Column,
                     keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val agged = df.groupBy(session_window(col(tsCol), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    val rest = agged.columns.filter(_ != "session_window").map(col)
    agged.select(Seq(col("session_window.start").as("session_start"),
      col("session_window.end").as("session_end")) ++ rest: _*)
  }

  /** Pane-based two-level sliding aggregation (Cutty/Scotty-style window
    * slicing): pre-aggregate into `slide`-sized tumbling panes, then roll
    * `slots` panes into each sliding window of size slots*slide.
    * Identical result to `sliding` for re-aggregable measures; at scale
    * it assigns pane rows, not raw rows, to their `slots` windows — the
    * classic large-window optimization.
    *
    * `paneAggs` must be re-aggregable partials (count/sum/min/max, exact
    * DECIMAL for float sums); `rollupAggs` merges them (same order),
    * producing the final column names.
    */
  def slidingByPanes(df: DataFrame, tsCol: String, slide: String, slots: Int,
                     keys: Seq[Column], paneAggs: Seq[Column],
                     rollupAggs: Seq[Column]): DataFrame = {
    val agged = df.groupBy(window(col(tsCol), slide) +: keys: _*)
      .agg(paneAggs.head, paneAggs.tail: _*)
    // Grouping output columns are [window, key1..keyN, aggs...]; take the
    // key OUTPUT names from the schema so aliased/computed keys (e.g.
    // col("a").as("k")) group correctly at the rollup level too.
    val keyNames = agged.columns.slice(1, 1 + keys.size).toSeq
    val panes = agged.withColumn("pane_start", col("window.start")).drop("window")
    val exploded = panes.withColumn("window_start",
      windowStarts(col("pane_start"), slide, slots))
    exploded.groupBy(col("window_start") +: keyNames.map(col): _*)
      .agg(rollupAggs.head, rollupAggs.tail: _*)
      .withColumn("window_end", col("window_start") + expr(s"INTERVAL '$slide' * $slots"))
  }

  /** Flink DataStream coGroup
    * (`a.coGroup(b).where(k).equalTo(k).window(Tumbling).apply(fn)`):
    * unlike the inner window join, the CoGroupFunction fires for every
    * (key, window) present on EITHER side, receiving both sides' groups
    * — one possibly EMPTY. Spark-first form: tag the two sides into one
    * union and run ONE windowed aggregation — one shuffle, no join, and
    * the identical expressions stream under readStream (union of two
    * watermarked streams + windowed agg; Spark's multipleWatermarkPolicy
    * takes the min across legs, Flink's two-input watermark rule).
    *
    * Every non-key, non-ts column of `left` reappears as `l_<name>`, of
    * `right` as `r_<name>`; each is null on the other side's rows, so
    * null-skipping aggregates written over the prefixed columns are
    * side-scoped BY CONSTRUCTION (`count(l_id)` counts only left rows —
    * coalesce a side's sum to zero for Flink's empty-iterable case).
    */
  def coGroup(left: DataFrame, right: DataFrame, keys: Seq[String],
              tsCol: String, size: String, aggs: Seq[Column]): DataFrame = {
    def tag(df: DataFrame, p: String): DataFrame = {
      val payload = df.columns.filterNot(c => keys.contains(c) || c == tsCol)
      df.select((keys :+ tsCol).map(col) ++ payload.map(c => col(c).as(s"$p$c")): _*)
    }
    val u = tag(left, "l_").unionByName(tag(right, "r_"), allowMissingColumns = true)
    projectWindow(u.groupBy(window(col(tsCol), size) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*), "window")
  }

  /** Running-max event time over arrival order — the batch analogue of
    * the streaming high-watermark — computed WITHOUT a global window.
    *
    * Two-level prefix-max (the watermark is a prefix aggregate, so it
    * decomposes like any scan): rows are bucketed by coarse ranges of the
    * primary arrival column (`arrival div bucketWidth` — monotone in
    * arrival, so bucket order == arrival order); pass 1 computes the
    * running max WITHIN each bucket under a partitioned window; pass 2
    * computes each bucket's total max (a tiny `groupBy(bucket)` table, one
    * row per bucket) and turns it into an exclusive prefix max via a
    * broadcast non-equi self-join. The row's high-watermark is
    * `greatest(local running max, prior buckets' max)` — identical to the
    * single-partition global window, but every stage is partitioned:
    * the big table is shuffled once (by bucket) and scanned twice (the
    * bucket-max scan is pruned to two columns).
    *
    * `arrivalCols.head` must be an integral column (epoch micros here);
    * `bucketWidth` bounds per-bucket skew — at any corpus scale a bucket
    * holds one `bucketWidth` slice of arrival time, and shrinking it adds
    * only rows to the tiny side.
    */
  private def withHighWatermark(df: DataFrame, tsCol: String, arrivalCols: Seq[String],
                                bucketWidth: Long): DataFrame = {
    val a = arrivalCols.head
    // floor division via pmod: exact integer math, monotone for negatives too
    val withB = df.withColumn("__bkt",
      expr(s"($a - pmod($a, ${bucketWidth}L)) div ${bucketWidth}L"))
    val inBucket = W.partitionBy(col("__bkt")).orderBy(arrivalCols.map(col): _*)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val local = withB.withColumn("__lmax", max(col(tsCol)).over(inBucket))
    val bmax = withB.groupBy(col("__bkt")).agg(max(col(tsCol)).as("__bmax"))
    val prior = bmax.select(col("__bkt").as("__pb"), col("__bmax"))
    val prefix = bmax.select("__bkt")
      .join(broadcast(prior), col("__pb") < col("__bkt"), "left")
      .groupBy(col("__bkt")).agg(max(col("__bmax")).as("__pmax"))
    local.join(broadcast(prefix), Seq("__bkt"))
      .withColumn("__hwm", greatest(col("__lmax"), col("__pmax")))
      .drop("__bkt", "__lmax", "__pmax")
  }

  /** Deterministic batch simulation of the streaming watermark: rows
    * arriving (in `arrivalCols` order) more than `delay` behind the
    * running-max event time are dropped — exactly what withWatermark +
    * append mode does incrementally. Distributed via
    * [[withHighWatermark]]; no single-partition stage.
    */
  def dropLate(df: DataFrame, tsCol: String, arrivalCols: Seq[String], delay: String,
               bucketWidth: Long = 3600000000L): DataFrame =
    withHighWatermark(df, tsCol, arrivalCols, bucketWidth)
      .filter(col(tsCol) >= col("__hwm") - expr(s"INTERVAL '$delay'"))
      .drop("__hwm")

  /** Flink's third lateness mode, completing drop / side-output / UPDATE:
    * `allowedLateness(allowed)` keeps a fired window's state until the
    * watermark passes window_end + allowed, so a late event inside that
    * margin still lands in its window (triggering an update firing);
    * only later events are dropped. This emits the FINAL per-window
    * result that the update stream converges to, plus
    * `n_late_updates` = kept events that arrived after the window first
    * fired (each would have re-fired the window downstream).
    *
    * Batch replay of the streaming semantics (Structured Streaming has
    * no allowedLateness knob — the watermark delay is its only
    * allowance): watermark at arrival = running-max event time − `delay`
    * (distributed two-level prefix-max, no single-partition stage);
    * event kept iff watermark < its window_end + `allowed`.
    */
  def tumblingAllowedLateness(df: DataFrame, tsCol: String, arrivalCols: Seq[String],
                              size: String, delay: String, allowed: String,
                              keys: Seq[Column], aggs: Seq[Column],
                              bucketWidth: Long = 3600000000L): DataFrame = {
    val h = withHighWatermark(df, tsCol, arrivalCols, bucketWidth)
      .withColumn("__w", window(col(tsCol), size))
      .withColumn("__wm", col("__hwm") - expr(s"INTERVAL '$delay'"))
    val kept = h
      .filter(col("__w.end") + expr(s"INTERVAL '$allowed'") > col("__wm"))
      .withColumn("__late_upd",
        (col("__wm") >= col("__w.end")).cast("int"))
    val agged = kept.groupBy(col("__w") +: keys: _*)
      .agg(aggs.head, aggs.tail :+ sum(col("__late_upd")).as("n_late_updates"): _*)
    projectWindow(agged.drop("__hwm", "__wm", "__late_upd"), "__w")
  }

  /** The complement of [[dropLate]] — the rows the watermark would drop,
    * with how far behind the high-watermark each arrived. Flink exposes
    * these via `sideOutputLateData(tag)`; Structured Streaming drops them
    * silently, so a pipeline that must account for late data (billing,
    * audit) runs this batch query over the replay log instead.
    */
  def lateRows(df: DataFrame, tsCol: String, arrivalCols: Seq[String], delay: String,
               bucketWidth: Long = 3600000000L): DataFrame =
    withHighWatermark(df, tsCol, arrivalCols, bucketWidth)
      .filter(col(tsCol) < col("__hwm") - expr(s"INTERVAL '$delay'"))
      // whole seconds behind the high-watermark, computed on integer
      // micros (timestamps carry sub-second parts; truncating each side
      // separately would differ from truncating the difference)
      .withColumn("late_by_s",
        expr(s"(unix_micros(__hwm) - unix_micros($tsCol)) div 1000000"))
      .drop("__hwm")
}
