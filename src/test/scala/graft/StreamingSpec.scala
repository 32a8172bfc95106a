package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{Ev, StreamOps}

/** Streaming execution of the §2.J operators via MemoryStream and the
  * parquet file source — watermark dropping, dedup-within-watermark,
  * custom-trigger early/timeout emission, stream-stream interval join,
  * and batch-vs-streaming equivalence of the tumbling aggregation.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def drain(q: StreamingQuery): Unit = { q.processAllAvailable(); q.stop() }

  test("tumbling agg (append): watermark closes windows; late events dropped") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.tumblingAgg(ms.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    // two events in the 10:00 window
    ms.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // advance watermark well past 11:00 (wm = 13:00 - 10 min)
    ms.addData(Ev(3, ts("2024-01-01 13:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // late event for the already-closed 10:00 window must be dropped
    ms.addData(Ev(4, ts("2024-01-01 10:30:00"), 1, "click", 99.0))
    // one more watermark advance so any (incorrect) state would flush
    ms.addData(Ev(5, ts("2024-01-01 15:00:00"), 1, "view", 1.0))
    drain(q)
    val rows = spark.table("tumb")
      .select("window_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)),
      s"10:00 click window should hold the 2 on-time events only; got $rows")
    assert(!rows.exists { case (w, t, n, v) => t == "click" && v == 99.0 || n == 3 },
      s"late event leaked into a closed window: $rows")
  }

  test("dedup within watermark drops duplicate event_ids") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.dedupByEventId(ms.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("complete").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // same-batch dup
      Ev(2, ts("2024-01-01 10:01:00"), 1, "view", 1.0))
    q.processAllAvailable()
    ms.addData(Ev(1, ts("2024-01-01 10:02:00"), 1, "click", 1.0)) // cross-batch dup
    drain(q)
    val m = spark.table("dedup").as[(String, Long)].collect().toMap
    assert(m == Map("click" -> 1L, "view" -> 1L), s"got $m")
  }

  test("custom trigger: early emit every 2 events, timeout emits final") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.customTrigger(ms.toDS(), earlyEvery = 2, streaming = true)
      .writeStream.format("memory").queryName("trig").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.25),
      Ev(2, ts("2024-01-01 10:01:00"), 7, "click", 2.50))
    q.processAllAvailable()
    // other-user event far ahead: watermark jumps past 10:01 + 30 min
    ms.addData(Ev(3, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
    q.processAllAvailable()
    // timeouts fire while processing the NEXT batch after the watermark advanced
    ms.addData(Ev(4, ts("2024-01-01 12:30:00"), 8, "view", 1.0))
    drain(q)
    val rows = spark.table("trig").as[(Long, Long, Double, String)].collect().toSet
    assert(rows.contains((7L, 2L, 3.75, "early")), s"missing early emit: $rows")
    assert(rows.contains((7L, 2L, 3.75, "timeout")), s"missing timeout emit: $rows")
  }

  test("transformWithState custom trigger on RocksDB state store: early + timeout emission") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.customTriggerTws(ms.toDS(), earlyEvery = 2)
        .writeStream.format("memory").queryName("tws").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.25),
        Ev(2, ts("2024-01-01 10:01:00"), 7, "click", 2.50))
      q.processAllAvailable()
      ms.addData(Ev(3, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts("2024-01-01 12:30:00"), 8, "view", 1.0))
      drain(q)
      val rows = spark.table("tws").as[(Long, Long, Double, String)].collect().toSet
      assert(rows.contains((7L, 2L, 3.75, "early")), s"missing early emit: $rows")
      assert(rows.contains((7L, 2L, 3.75, "timeout")), s"missing timeout emit: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState MapState/ListState: per-type counts + trimmed recents") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.profileTws(ms.toDS())
        .writeStream.format("memory").queryName("profile").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-02 09:00:00"), 5, "click", 1.0),
        Ev(2, ts("2024-01-02 09:01:00"), 5, "view", 1.0))
      q.processAllAvailable()
      // MapState survives the batch boundary; ListState trims to last 3
      ms.addData(
        Ev(3, ts("2024-01-02 09:02:00"), 5, "click", 1.0),
        Ev(4, ts("2024-01-02 09:03:00"), 5, "click", 1.0))
      drain(q)
      val last = spark.table("profile")
        .as[(Long, Long, Long, String)].collect()
        .filter(_._1 == 5L).maxBy(_._3)
      assert(last == ((5L, 2L, 4L, "2,3,4")),
        s"expected 2 types / 4 events / recents [2,3,4], got $last")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("evictor window on RocksDB: last-3 kept across batches, timer fires on watermark") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.evictorWindow(ms.toDS(), keepN = 3, streaming = true)
        .writeStream.format("memory").queryName("evict").outputMode("append").start()
      // 4 events in user 5's 10:00 window, split across two batches —
      // the ListState trim must survive the batch boundary
      ms.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:10:00"), 5, "view", 2.00))
      q.processAllAvailable()
      ms.addData(
        Ev(3, ts("2024-01-01 10:20:00"), 5, "click", 3.00),
        Ev(4, ts("2024-01-01 10:40:00"), 5, "purchase", 4.00))
      q.processAllAvailable()
      // advance the watermark past 11:00 (+10 min delay) so the window
      // timer fires while processing the following batch
      ms.addData(Ev(9, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(10, ts("2024-01-01 12:30:00"), 8, "view", 1.0))
      drain(q)
      val rows = spark.table("evict")
        .as[(Long, Timestamp, Long, Long, Double, Long, Long)].collect().toSet
      // evictor kept ids 2,3,4 (id 1 evicted): n_seen 4, sum 2+3+4
      assert(rows.contains((5L, ts("2024-01-01 10:00:00"), 4L, 3L, 9.0, 2L, 4L)),
        s"expected user 5 window 10:00 -> (seen 4, kept 3, sum 9.0, ids 2..4); got $rows")
      // batch replay of the same events must agree on the fired window
      val batch = StreamOps.evictorWindow(
        Seq(Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
          Ev(2, ts("2024-01-01 10:10:00"), 5, "view", 2.00),
          Ev(3, ts("2024-01-01 10:20:00"), 5, "click", 3.00),
          Ev(4, ts("2024-01-01 10:40:00"), 5, "purchase", 4.00)).toDS(),
        keepN = 3, streaming = false)
        .as[(Long, Timestamp, Long, Long, Double, Long, Long)].collect().toSet
      assert(batch == Set((5L, ts("2024-01-01 10:00:00"), 4L, 3L, 9.0, 2L, 4L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sliding count window fires every slide-th arrival across batches") {
    import graft.streaming.CountSlide
    // transformWithState needs the multi-column-family store
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sixEvents = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:01:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:02:00"), 5, "click", 3.00),
        Ev(4, ts("2024-01-01 10:03:00"), 5, "view", 4.00),
        Ev(5, ts("2024-01-01 10:04:00"), 5, "click", 5.00),
        Ev(6, ts("2024-01-01 10:05:00"), 5, "purchase", 6.00))
      val ms = MemoryStream[Ev]
      val q = StreamOps.countSlideWindow(ms.toDS(), size = 4, slide = 2, streaming = true)
        .writeStream.format("memory").queryName("cslide").outputMode("append").start()
      // buffer (bounded at 4) and the arrival counter must survive the
      // batch boundary: fire 2 closes in batch 2 over ids 1..4
      ms.addData(sixEvents.take(3): _*)
      q.processAllAvailable()
      ms.addData(sixEvents.drop(3): _*)
      drain(q)
      val rows = spark.table("cslide").as[CountSlide].collect().toSet
      val expected = Set(
        CountSlide(5L, 1L, 2L, 3.0, 1L, 2L),   // fire at count 2: ids 1-2
        CountSlide(5L, 2L, 4L, 10.0, 1L, 4L),  // count 4: ids 1-4 (all fit)
        CountSlide(5L, 3L, 4L, 18.0, 3L, 6L))  // count 6: evicted to ids 3-6
      assert(rows == expected, s"streaming fires mismatch: $rows")
      // batch replay folds the same rows through the same trigger/evictor
      val batch = StreamOps.countSlideWindow(sixEvents.toDS(),
        size = 4, slide = 2, streaming = false).collect().toSet
      assert(batch == expected, s"batch replay mismatch: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("value-predicate CEP streams via the derived-symbol route (SimpleCondition)") {
    // context-free predicates need no new streaming machinery: the
    // pattern's CASE derivation runs on the stream and the ordinary
    // seal-aware stateful matcher consumes the derived symbols
    import org.apache.spark.sql.functions.expr
    val pat = graft.queries.Analytic.CepPatterns.where
    val ms = MemoryStream[Ev]
    val derived = ms.toDF()
      .withColumn("event_type", expr(pat.caseSql))
      .as[Ev]
    val q = StreamOps.cepPattern(derived, pat.symbolic, streaming = true)
      .writeStream.format("memory").queryName("cepwhere").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 80.0),     // hi_view (anchor)
      Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 10.0),    // __other gap row
      Ev(6, ts("2024-01-01 10:00:00"), 2, "view", 20.0),     // fails hi_view -> __other
      Ev(7, ts("2024-01-01 10:02:00"), 2, "purchase", 100.0))
    q.processAllAvailable()
    // buy run split across the batch boundary; stays pending (greedy
    // unbounded tail could still extend) until a breaking row arrives
    ms.addData(
      Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 30.0),
      Ev(4, ts("2024-01-01 10:12:00"), 1, "purchase", 25.0))
    q.processAllAvailable()
    val before = spark.table("cepwhere").count()
    ms.addData(Ev(5, ts("2024-01-01 13:00:00"), 1, "error", 1.0)) // seals the run
    drain(q)
    val rows = spark.table("cepwhere")
      .as[(Long, Long, Timestamp, Long, Timestamp, Long, String)].collect().toSet
    assert(before == 0L, "match emitted before its greedy tail was sealed")
    assert(rows == Set((1L, 1L, ts("2024-01-01 10:00:00"), 4L,
      ts("2024-01-01 10:12:00"), 3L, "1,2")),
      s"expected one sealed hi_view->buy{2} match for user 1 only; got $rows")
  }

  test("streaming alternation: cross-batch branch resolution with leftmost preference") {
    // PATTERN (s g1* (c | v) g2* p) — branch 0 = click, branch 1 = view.
    // user 1: the VIEW branch seals in batch 1, but the CLICK branch
    // stays pending (a click could still arrive within the horizon), so
    // NOTHING emits until batch 3 resolves the preferred branch — which
    // then WINS the anchor (leftmost preference), exactly like the
    // batch union's dedup. user 2: the click branch dies at the WITHIN
    // horizon and the sealed view branch finally emits.
    val spec = graft.api.MatchRecognize.parse(
      graft.queries.Analytic.CepSql.altFunnel)
    val branches = spec.expandBranches.map(_.toSymbolic.get._2)
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPatternAlt(ms.toDS(), branches, streaming = true)
      .writeStream.format("memory").queryName("cepalt").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 3.0),
      Ev(11, ts("2024-01-01 10:00:00"), 2, "signup", 1.0),
      Ev(12, ts("2024-01-01 10:05:00"), 2, "view", 2.0),
      Ev(13, ts("2024-01-01 10:10:00"), 2, "purchase", 3.0))
    q.processAllAvailable()
    val afterB1 = spark.table("cepalt").count()
    // user 1's click arrives — the preferred branch is now mid-walk
    // (needs a purchase after the click); still nothing emits
    ms.addData(Ev(4, ts("2024-01-01 10:20:00"), 1, "click", 4.0))
    q.processAllAvailable()
    val afterB2 = spark.table("cepalt").count()
    // user 1: second purchase completes the CLICK branch -> it wins the
    // anchor. user 2: a row past the 1440-min horizon kills the pending
    // click branch -> the sealed VIEW branch emits
    ms.addData(
      Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase", 5.0),
      Ev(14, ts("2024-01-02 12:00:00"), 2, "view", 1.0))
    drain(q)
    val rows = spark.table("cepalt")
      .as[(Long, Long, Timestamp, Long, Timestamp, Long, String)].collect().toSet
    assert(afterB1 == 0L,
      "view-branch match emitted while the preferred click branch was pending")
    assert(afterB2 == 0L,
      "match emitted while the click branch was mid-walk")
    assert(rows == Set(
      (1L, 1L, ts("2024-01-01 10:00:00"), 5L, ts("2024-01-01 10:30:00"), 3L, "1,1,1"),
      (2L, 11L, ts("2024-01-01 10:00:00"), 13L, ts("2024-01-01 10:10:00"), 3L, "1,1,1")),
      s"expected click-branch win for user 1, view-branch for user 2; got $rows")
    // batch replay over the same rows agrees with the streaming result
    val allEvs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 3.0),
      Ev(4, ts("2024-01-01 10:20:00"), 1, "click", 4.0),
      Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase", 5.0),
      Ev(11, ts("2024-01-01 10:00:00"), 2, "signup", 1.0),
      Ev(12, ts("2024-01-01 10:05:00"), 2, "view", 2.0),
      Ev(13, ts("2024-01-01 10:10:00"), 2, "purchase", 3.0),
      Ev(14, ts("2024-01-02 12:00:00"), 2, "view", 1.0))
    val batch = StreamOps.cepPatternAlt(allEvs.toDS(), branches,
      streaming = false)
      .as[(Long, Long, Timestamp, Long, Timestamp, Long, String)]
      .collect().toSet
    assert(batch == rows, s"batch replay diverged: $batch")
  }

  test("broadcast-state rules: threshold updates from the rule stream gate event alerts") {
    import graft.streaming.{Rule, RuleAlert}
    val me = MemoryStream[Ev]
    val mr = MemoryStream[Rule]
    val q = StreamOps.ruleAlerts(me.toDS(), mr.toDS(), streaming = true)
      .writeStream.format("memory").queryName("rules").outputMode("append").start()
    // no rule armed yet: event must NOT alert
    me.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 150.0))
    q.processAllAvailable()
    // arm purchase threshold 100 from 10:05
    mr.addData(Rule(100, ts("2024-01-01 10:05:00"), "purchase", 100.0))
    q.processAllAvailable()
    // above vs below the live threshold
    me.addData(
      Ev(2, ts("2024-01-01 10:10:00"), 1, "purchase", 120.0),
      Ev(3, ts("2024-01-01 10:12:00"), 2, "purchase", 80.0))
    q.processAllAvailable()
    // rule UPDATE tightens the threshold to 60
    mr.addData(Rule(101, ts("2024-01-01 10:20:00"), "purchase", 60.0))
    q.processAllAvailable()
    me.addData(Ev(4, ts("2024-01-01 10:30:00"), 2, "purchase", 80.0))
    drain(q)
    val rows = spark.table("rules")
      .as[(Long, Timestamp, String, Double, Long, Double)].collect().toSet
    assert(rows == Set(
      (2L, ts("2024-01-01 10:10:00"), "purchase", 120.0, 100L, 100.0),
      (4L, ts("2024-01-01 10:30:00"), "purchase", 80.0, 101L, 60.0)),
      s"expected alerts for events 2 (thr 100) and 4 (thr 60) only; got $rows")
  }

  test("stream-stream interval join emits purchase-click pairs in [-10min, 0]") {
    val mp = MemoryStream[Ev]
    val mc = MemoryStream[Ev]
    val q = StreamOps.intervalJoinPairs(mp.toDF(), mc.toDF())
      .writeStream.format("memory").queryName("ij").outputMode("append").start()
    mc.addData(
      Ev(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0),  // in window
      Ev(11, ts("2024-01-01 09:45:00"), 1, "click", 1.0),  // too early
      Ev(12, ts("2024-01-01 10:06:00"), 2, "click", 1.0))  // other user
    mp.addData(Ev(20, ts("2024-01-01 10:05:00"), 1, "purchase", 5.0))
    drain(q)
    val pairs = spark.table("ij").select("p_id", "c_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((20L, 10L)), s"got $pairs")
  }

  test("stream-static dim join enriches each micro-batch (broadcast-state pattern)") {
    import org.apache.spark.sql.functions.{broadcast, col}
    // Flink needs broadcast state for this; in Spark the static side is
    // just a batch DataFrame re-joined (and re-broadcast) per micro-batch.
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val ms = MemoryStream[Ev]
    val q = ms.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("tier"))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 3, "view", 1.0))
    drain(q)
    val got = spark.table("ssj").select("event_id", "tier")
      .as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, Some("gold")), (2L, None)), s"got $got")
  }

  test("left-outer interval join emits null-click purchases after watermark certifies no match") {
    val mp = MemoryStream[Ev]
    val mc = MemoryStream[Ev]
    val q = StreamOps.intervalJoinPairs(mp.toDF(), mc.toDF(), "left_outer")
      .writeStream.format("memory").queryName("ijo").outputMode("append").start()
    mc.addData(Ev(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
    mp.addData(
      Ev(20, ts("2024-01-01 10:05:00"), 1, "purchase", 5.0),  // matched
      Ev(21, ts("2024-01-01 10:05:00"), 2, "purchase", 5.0))  // no click: null row
    q.processAllAvailable()
    // The null emission for purchase 21 must wait for the watermark: both
    // sides advance far past 10:05 + bounds, certifying no click can come.
    mc.addData(Ev(12, ts("2024-01-01 13:00:00"), 3, "click", 1.0))
    mp.addData(Ev(22, ts("2024-01-01 13:00:00"), 3, "purchase", 1.0))
    q.processAllAvailable()
    mc.addData(Ev(13, ts("2024-01-01 16:00:00"), 4, "click", 1.0))
    mp.addData(Ev(23, ts("2024-01-01 16:00:00"), 4, "purchase", 1.0))
    drain(q)
    val got = spark.table("ijo").select("p_id", "c_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(got.contains((20L, Some(10L))), s"matched pair missing: $got")
    assert(got.contains((21L, None)), s"null-certified row missing: $got")
  }

  test("sliding windows under readStream (append): watermark closes windows; late dropped") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    val ms = MemoryStream[Ev]
    val q = Windows.sliding(ms.toDF().withWatermark("ts", "10 minutes"),
        "ts", "1 hour", "30 minutes", Seq(col("event_type")), aggs)
      .writeStream.format("memory").queryName("slide").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // watermark jumps to 12:50 — every window ending before that emits
    ms.addData(Ev(3, ts("2024-01-01 13:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // late event for the closed 10:00/10:30 windows must be dropped
    ms.addData(Ev(4, ts("2024-01-01 10:30:00"), 1, "click", 99.0))
    ms.addData(Ev(5, ts("2024-01-01 15:00:00"), 1, "view", 1.0))
    drain(q)
    val rows = spark.table("slide")
      .select("window_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // both on-time events fall in the [09:30,10:30) and [10:00,11:00) windows
    assert(rows.contains((ts("2024-01-01 09:30:00"), "click", 2L, 3.0)), s"got $rows")
    assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)), s"got $rows")
    assert(!rows.exists { case (_, t, _, v) => t == "click" && v >= 99.0 },
      s"late event leaked into a closed sliding window: $rows")
  }

  test("session windows under readStream (append): gap merge + watermark emission") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    val ms = MemoryStream[Ev]
    val q = Windows.session(ms.toDF().withWatermark("ts", "10 minutes"),
        "ts", "30 minutes", Seq(col("user_id")), aggs)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // two events 10 min apart: one session 10:00 -> 10:40 (last + gap)
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // 35 min later on another user: past the gap, watermark moves to 12:50
    ms.addData(Ev(3, ts("2024-01-01 13:00:00"), 2, "view", 5.0))
    q.processAllAvailable()
    ms.addData(Ev(4, ts("2024-01-01 15:00:00"), 2, "view", 1.0))
    drain(q)
    val rows = spark.table("sess")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(rows.contains(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 2L, 3.0)),
      s"user 1's merged session missing/wrong: $rows")
    assert(!rows.exists(_._1 == 2L) || rows.exists { r =>
      r._1 == 2L && r._2 == ts("2024-01-01 13:00:00") },
      s"unexpected user-2 session: $rows")
  }

  test("session windows: a late-but-in-watermark event merges two open sessions across batches") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    val ms = MemoryStream[Ev]
    val q = Windows.session(ms.toDF().withWatermark("ts", "10 minutes"),
        "ts", "30 minutes", Seq(col("user_id")), aggs)
      .writeStream.format("memory").queryName("sessmerge").outputMode("append").start()
    // batch 1: two events 35 min apart — TWO open sessions
    // ([10:00,10:30) and [10:35,11:05)); watermark moves to 10:25
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:35:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // batch 2: a LATE event at 10:27 — behind batch 1's max event time
    // but inside the watermark (10:25) — lands between the two open
    // sessions and bridges them: [10:00,10:57) now overlaps [10:35,...)
    ms.addData(Ev(3, ts("2024-01-01 10:27:00"), 1, "click", 4.0))
    q.processAllAvailable()
    // batch 3: another user far ahead closes user 1's merged session
    ms.addData(Ev(4, ts("2024-01-01 13:00:00"), 2, "view", 1.0))
    drain(q)
    val rows = spark.table("sessmerge")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
      .filter(_._1 == 1L)
    assert(rows == Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:05:00"), 3L, 7.0)),
      s"the in-watermark bridge event must merge both open sessions " +
        s"into ONE emission: $rows")
  }

  test("dynamic-gap session windows under readStream: per-event gap respected") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    val ms = MemoryStream[Ev]
    val gap = when(col("event_type") === "purchase", "40 minutes")
      .otherwise("20 minutes")
    val q = Windows.sessionDynamic(ms.toDF().withWatermark("ts", "10 minutes"),
        "ts", gap, Seq(col("user_id")), aggs)
      .writeStream.format("memory").queryName("dsess").outputMode("append").start()
    // purchase at 10:00 holds the session open 40 min, so the click at
    // 10:30 (> 20 min later) still merges; a click-only session closes
    // after 20 min
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 1.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 10:00:00"), 2, "click", 5.0))
    q.processAllAvailable()
    ms.addData(Ev(4, ts("2024-01-01 15:00:00"), 3, "view", 1.0))
    drain(q)
    val rows = spark.table("dsess")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(rows.contains(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 2L, 3.0)),
      s"purchase gap must carry the 10:30 click into the session: $rows")
    assert(rows.contains(
      (2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"), 1L, 5.0)),
      s"click-only session must close after its 20 min gap: $rows")
  }

  test("CEP under streaming: runs carry across batches, state prunes to WITHIN") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepRunThenFinal(ms.toDS(), withinMinutes = 10)
      .writeStream.format("memory").queryName("cep").outputMode("append").start()
    // batch 1: an open click run for user 1
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:02:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: the purchase completes the run CARRIED FROM BATCH 1;
    // then a view breaks the stream and a fresh click opens a new run
    ms.addData(
      Ev(3, ts("2024-01-01 10:05:00"), 1, "purchase", 1.0),
      Ev(4, ts("2024-01-01 10:06:00"), 1, "view", 1.0),
      Ev(5, ts("2024-01-01 10:07:00"), 1, "click", 1.0),
      // user 2: run broken by a view inside one batch -> never matches
      Ev(7, ts("2024-01-01 10:00:00"), 2, "click", 1.0),
      Ev(8, ts("2024-01-01 10:01:00"), 2, "view", 1.0),
      Ev(9, ts("2024-01-01 10:02:00"), 2, "purchase", 1.0))
    q.processAllAvailable()
    // batch 3: purchase 23 min after the open click -> outside WITHIN
    ms.addData(Ev(6, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0))
    drain(q)
    val got = spark.table("cep")
      .select("user_id", "purchase_id", "n_clicks", "first_click_ts")
      .as[(Long, Long, Long, Timestamp)].collect().toSet
    assert(got == Set((1L, 3L, 2L, ts("2024-01-01 10:00:00"))),
      s"expected exactly the cross-batch match: $got")
  }

  test("two-level pane streaming agg equals the batch sliding result for closed windows") {
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[Ev]
    val q = StreamOps.paneTwoLevel(ms.toDF())
      .writeStream.format("memory").queryName("panes").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.5),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.25))
    q.processAllAvailable()
    ms.addData(
      Ev(3, ts("2024-01-01 11:40:00"), 2, "view", 4.0),
      Ev(4, ts("2024-01-01 13:10:00"), 1, "click", 8.0))
    q.processAllAvailable()
    // far-future sentinel: watermark passes every real window's end
    ms.addData(Ev(5, ts("2024-01-02 06:00:00"), 3, "error", 0.0))
    drain(q)
    val streamed = spark.table("panes")
      .select("window_start", "window_end", "event_type", "n_events", "sum_value")
      .as[(Timestamp, Timestamp, String, Long, Double)].collect().toSet
    // batch replay over the REAL events only (the sentinel's windows
    // were still open when the query stopped)
    val batch = StreamOps.paneTwoLevel(
        Seq(
          (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.5),
          (2L, ts("2024-01-01 10:20:00"), 1L, "click", 2.25),
          (3L, ts("2024-01-01 11:40:00"), 2L, "view", 4.0),
          (4L, ts("2024-01-01 13:10:00"), 1L, "click", 8.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("window_start", "window_end", "event_type", "n_events", "sum_value")
      .as[(Timestamp, Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(4)} extra=${(streamed -- batch).take(4)}")
    // and the batch form IS the sliding window: spot-check one window
    assert(batch.contains((ts("2024-01-01 10:00:00"), ts("2024-01-01 16:00:00"), "click", 3L, 11.75)))
  }

  test("general-pattern CEP: seal-aware incremental emission across batches") {
    val pat = graft.queries.Analytic.CepPatterns.optional // click+ error? signup+
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPattern(ms.toDS(), pat, streaming = true)
      .writeStream.format("memory").queryName("cepp").outputMode("append").start()
    // open click run — unsealed (the run could extend)
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepp").isEmpty, "open click run must not emit")
    ms.addData(Ev(3, ts("2024-01-01 10:10:00"), 1, "error", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepp").isEmpty, "error sealed the clicks but signup is pending")
    ms.addData(
      Ev(4, ts("2024-01-01 10:15:00"), 1, "signup", 0.0),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "signup", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepp").isEmpty,
      "greedy signup tail can still grow — match is not sealed")
    // a breaking row seals the whole match; the carried state resolves
    ms.addData(Ev(6, ts("2024-01-01 10:25:00"), 1, "view", 0.0))
    drain(q)
    val got = spark.table("cepp")
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, 5L, 5L, "2,1,2")),
      s"sealed match must cover clicks 1-2, error 3, signups 4-5: $got")
  }

  test("iterative-condition CEP: anchor and qualifying successor in different batches") {
    val pat = graft.queries.Analytic.CepPatterns.iter
    val conds = graft.queries.Analytic.CepPatterns.iterConds
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPatternIterStream(ms.toDS(), pat, conds, streaming = true)
      .writeStream.format("memory").queryName("cepiter").outputMode("append").start()
    // batch 1: two purchase anchors, neither with a higher successor yet
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "purchase", 40.0),
      Ev(3, ts("2024-01-01 10:15:00"), 1, "view", 99.0)) // gap row — never consumed
    q.processAllAvailable()
    assert(spark.table("cepiter").isEmpty,
      "no higher-value successor has arrived — both anchors must stay pending")
    // batch 2: one qualifying successor seals BOTH carried anchors
    ms.addData(Ev(4, ts("2024-01-01 11:00:00"), 1, "purchase", 60.0))
    q.processAllAvailable()
    val mid = spark.table("cepiter").select("start_id", "end_id", "step_counts")
      .as[(Long, Long, String)].collect().toSet
    assert(mid == Set((1L, 4L, "1,1"), (2L, 4L, "1,1")),
      s"cross-batch anchors must resolve to the batch-2 successor: $mid")
    // batch 3: a higher value arrives OUTSIDE anchor 4's WITHIN horizon —
    // anchor 4 seals as FAIL (any later completion violates WITHIN), and
    // the new row opens its own pending anchor; nothing new may emit
    ms.addData(Ev(5, ts("2024-01-02 12:00:00"), 1, "purchase", 70.0))
    drain(q)
    val got = spark.table("cepiter").select("start_id", "end_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 4L), (2L, 4L)), s"expired anchor must not emit: $got")
    // the chopped stream equals the batch replay on the same rows
    val all = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "purchase", 40.0),
      Ev(3, ts("2024-01-01 10:15:00"), 1, "view", 99.0),
      Ev(4, ts("2024-01-01 11:00:00"), 1, "purchase", 60.0),
      Ev(5, ts("2024-01-02 12:00:00"), 1, "purchase", 70.0))
    val batch = StreamOps.cepPatternIterStream(all.toDS(), pat, conds,
        streaming = false)
      .select("start_id", "end_id").as[(Long, Long)].collect().toSet
    assert(got == batch, s"stream $got != batch replay $batch")
  }

  test("quantified iterative CEP: batch splits through the greedy run boundary") {
    // the round-14 generalization target: a greedy p_run{1,2} whose
    // consumed run STRADDLES micro-batches — the wildcard-probe seal
    // must hold every tail-touching run open until content (a
    // non-purchase row, the cap, or the WITHIN horizon) fixes it
    val pat = graft.queries.Analytic.CepPatterns.iterQuant
    val conds = graft.queries.Analytic.CepPatterns.iterQuantConds
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPatternIterStream(ms.toDS(), pat, conds, streaming = true)
      .writeStream.format("memory").queryName("cepiterq").outputMode("append").start()
    // batch 1: a lone purchase at the buffer tail — its greedy run
    // could still extend, so the anchor must stay UNSEALED
    ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0))
    q.processAllAvailable()
    assert(spark.table("cepiterq").isEmpty,
      "tail-touching greedy run must not seal")
    // batch 2: the run extends across the batch boundary (cap 2)
    ms.addData(Ev(2, ts("2024-01-01 10:05:00"), 1, "purchase", 30.0))
    q.processAllAvailable()
    assert(spark.table("cepiterq").isEmpty,
      "run sealed at cap but no successor yet — anchors must stay pending")
    // batch 3: a higher purchase — anchor 1's run [1,2] gets its
    // successor (2,1); anchor 2's run greedily absorbs row 3 and waits
    ms.addData(Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 60.0))
    q.processAllAvailable()
    val afterB3 = spark.table("cepiterq").select("start_id", "end_id", "step_counts")
      .as[(Long, Long, String)].collect().toSet
    assert(afterB3 == Set((1L, 3L, "2,1")),
      s"cross-batch run must consume 2 rows and match the batch-3 successor: $afterB3")
    // batch 4: a view row BREAKS the tail run by content (seals anchor
    // 3's run at 1 row) — but no successor exists, nothing new emits
    ms.addData(Ev(4, ts("2024-01-01 10:15:00"), 1, "view", 0.0))
    q.processAllAvailable()
    // batch 5: a 100-value purchase resolves both carried anchors —
    // anchor 2 with its straddling run [2,3], anchor 3 with run [3]
    ms.addData(Ev(5, ts("2024-01-01 10:20:00"), 1, "purchase", 100.0))
    q.processAllAvailable()
    val afterB5 = spark.table("cepiterq").select("start_id", "end_id", "step_counts")
      .as[(Long, Long, String)].collect().toSet
    assert(afterB5 == Set((1L, 3L, "2,1"), (2L, 5L, "2,1"), (3L, 5L, "1,1")),
      s"carried quantified anchors must resolve exactly once: $afterB5")
    // batch 6: two days out — anchor 5 passes its WITHIN horizon and
    // seals as FAIL (the probe's best-case completion violates WITHIN)
    ms.addData(Ev(6, ts("2024-01-03 10:00:00"), 1, "view", 0.0))
    drain(q)
    val got = spark.table("cepiterq").select("start_id", "end_id", "step_counts")
      .as[(Long, Long, String)].collect().toSet
    assert(got == afterB5, s"expired anchor must not emit: $got")
    // the chopped stream equals the batch replay on the same rows
    val all = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "purchase", 30.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 60.0),
      Ev(4, ts("2024-01-01 10:15:00"), 1, "view", 0.0),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "purchase", 100.0),
      Ev(6, ts("2024-01-03 10:00:00"), 1, "view", 0.0))
    val batch = StreamOps.cepPatternIterStream(all.toDS(), pat, conds,
        streaming = false)
      .select("start_id", "end_id", "step_counts")
      .as[(Long, Long, String)].collect().toSet
    assert(got == batch, s"stream $got != batch replay $batch")
  }

  test("streaming ANN serving: chopped probe stream equals the batch lshTopK") {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.embeddings(spark, sf001)
    val probeRows = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => graft.streaming.EmbRow(id, v) }
    val ms = MemoryStream[graft.streaming.EmbRow]
    val q = StreamOps.lshServe(corpus, ms.toDS(), 5, tables = 8, bits = 6,
        dim = 64, streaming = true)
      .writeStream.format("memory").queryName("annserve")
      .outputMode("append").start()
    // three uneven micro-batches — each probe's results must be
    // complete within its own batch (stream-static join, no state)
    Seq(probeRows.take(3), probeRows.slice(3, 4), probeRows.drop(4)).foreach {
      b => ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("annserve")
      .select("probe_id", "rnk", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = StreamOps.lshServe(corpus,
        probeRows.toDS(), 5, tables = 8, bits = 6, dim = 64, streaming = false)
      .select("probe_id", "rnk", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want && want.nonEmpty,
      s"streamed ${got.size} rows != batch ${want.size}")
  }

  test("stream-stream window join: cross-batch match, replay equals batch") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.windowJoin(ms.toDF())
      .writeStream.format("memory").queryName("swj").outputMode("append").start()
    // purchase arrives first; its click lands in a LATER batch but the
    // same hour window — the buffered side must still match it
    ms.addData(Ev(1, ts("2024-01-01 10:05:00"), 1, "purchase", 1.0))
    q.processAllAvailable()
    assert(spark.table("swj").count() == 0L)
    ms.addData(
      Ev(2, ts("2024-01-01 10:40:00"), 1, "click", 1.0),
      Ev(3, ts("2024-01-01 11:10:00"), 1, "click", 1.0)) // next window: no match
    drain(q)
    val rows = spark.table("swj")
      .as[(Long, Long, Long, Timestamp)].collect().toSet
    assert(rows == Set((1L, 2L, 1L, ts("2024-01-01 10:00:00"))),
      s"cross-batch window match wrong: $rows")
    // full replay on the fixture equals the batch form
    val q2 = StreamOps.windowJoin(StreamOps.eventsStream(spark, sf001))
      .writeStream.format("memory").queryName("swj_replay").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.table("swj_replay").collect().toSet
    val want = StreamOps.windowJoin(Tables.events(spark, sf001)).collect().toSet
    assert(got == want && want.nonEmpty,
      s"stream replay ${got.size} rows != batch ${want.size}")
  }

  test("retract stream checkpoint restart: the upsert state survives into run 2 (RocksDB)") {
    import graft.api.Sinks
    import graft.streaming.ChangeRow
    import java.nio.file.Files
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = Files.createTempDirectory("graft_retr_ckpt_out").toString
      val ckpt = Files.createTempDirectory("graft_retr_ckpt_meta").toString
      val ms = MemoryStream[Ev]
      def runOnce(): Unit = {
        val q = Sinks.streamToParquet(
          StreamOps.retractDeltas(ms.toDS(), streaming = true).toDF(), out, ckpt).start()
        q.awaitTermination()
      }
      // run 1: the insert
      ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 10.00))
      runOnce()
      // run 2, same checkpoint: the update MUST retract run 1's cents —
      // only possible if the ValueState round-tripped the restart
      ms.addData(Ev(2, ts("2024-01-01 11:00:00"), 1, "purchase", 20.00))
      runOnce()
      val rows = spark.read.parquet(out).as[ChangeRow].collect().toSet
      assert(rows == Set(
          ChangeRow(1L, "click", 1000L, "I"),
          ChangeRow(1L, "click", -1000L, "U-"),
          ChangeRow(1L, "purchase", 2000L, "U+")),
        s"restart lost the upsert state or re-emitted: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("retract stream: U-/U+ pairs on updates, fold equals batch totals") {
    import graft.streaming.ChangeRow
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractDeltas(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("retr").outputMode("append").start()
      // batch 1: two users insert
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-01 10:00:00"), 2, "view", 5.00))
      q.processAllAvailable()
      // batch 2: user 1 UPDATES to a different type (retraction pair);
      // an OLDER row for user 2 must be a no-op (event time wins)
      ms.addData(
        Ev(3, ts("2024-01-01 11:00:00"), 1, "purchase", 20.00),
        Ev(4, ts("2024-01-01 09:00:00"), 2, "purchase", 99.00))
      q.processAllAvailable()
      // batch 3: two same-batch updates for user 2 compact to ONE net pair
      ms.addData(
        Ev(5, ts("2024-01-01 12:00:00"), 2, "click", 1.00),
        Ev(6, ts("2024-01-01 13:00:00"), 2, "click", 2.00))
      drain(q)
      val got = spark.table("retr").as[ChangeRow].collect().toSeq
      assert(got.count(_.kind == "I") == 2 && got.count(_.kind == "U-") == 2 &&
          got.count(_.kind == "U+") == 2, s"changelog kinds wrong: $got")
      assert(got.contains(ChangeRow(1L, "click", -1000L, "U-")) &&
          got.contains(ChangeRow(1L, "purchase", 2000L, "U+")),
        s"user 1's type switch must retract the click cents: $got")
      assert(got.contains(ChangeRow(2L, "view", -500L, "U-")) &&
          got.contains(ChangeRow(2L, "click", 200L, "U+")) &&
          !got.exists(r => r.delta_cents == 100L || r.delta_cents == 9900L),
        s"user 2 must compact to the net 13:00 transition: $got")
      // the fold equals the batch net changelog's totals
      val fold = got.groupBy(_.event_type).view
        .mapValues(_.map(_.delta_cents).sum).toMap.filter(_._2 != 0)
      val all = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-01 10:00:00"), 2, "view", 5.00),
        Ev(3, ts("2024-01-01 11:00:00"), 1, "purchase", 20.00),
        Ev(4, ts("2024-01-01 09:00:00"), 2, "purchase", 99.00),
        Ev(5, ts("2024-01-01 12:00:00"), 2, "click", 1.00),
        Ev(6, ts("2024-01-01 13:00:00"), 2, "click", 2.00))
      val ref = StreamOps.retractDeltas(all.toDS(), streaming = false)
        .collect().groupBy(_.event_type).view
        .mapValues(_.map(_.delta_cents).sum).toMap.filter(_._2 != 0)
      assert(fold == ref, s"fold $fold != batch $ref")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("retract stream over random batch splits folds to batch totals") {
    import graft.streaming.ChangeRow
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(20260815L)
      val syms = Vector("click", "view", "purchase", "signup")
      val evs = (for {
        u <- 1 to 8
        i <- 0 until (4 + rnd.nextInt(8))
      } yield Ev((u * 100 + i).toLong,
          java.sql.Timestamp.valueOf(
            ts("2024-01-01 10:00:00").toLocalDateTime.plusMinutes(i * 31L)),
          u.toLong, syms(rnd.nextInt(syms.size)),
          math.floor(rnd.nextDouble() * 5000) / 100.0)).toVector
      val shuffled = rnd.shuffle(evs) // arrival order irrelevant: upsert by event time
      val ref = StreamOps.retractDeltas(evs.toDS(), streaming = false)
        .collect().groupBy(_.event_type).view
        .mapValues(_.map(_.delta_cents).sum).toMap.filter(_._2 != 0)
      val cuts = Seq.fill(3)(rnd.nextInt(shuffled.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(shuffled.size)).sliding(2)
        .collect { case Seq(a, b) if b > a => shuffled.slice(a, b) }.toSeq
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractDeltas(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("retreq").outputMode("append").start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val fold = spark.table("retreq").as[ChangeRow].collect().toSeq
        .groupBy(_.event_type).view
        .mapValues(_.map(_.delta_cents).sum).toMap.filter(_._2 != 0)
      assert(fold == ref, s"fold $fold != batch $ref")
      assert(ref.nonEmpty)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("retract join: an update after emission retracts the joined row; fold equals batch") {
    import graft.streaming.JoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoin(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjoin").outputMode("append").start()
      // batch 1: user 1 completes a pair (I emitted); user 2 has only
      // the fact side — nothing emits until its version arrives
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 10.00),
        Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 20.00),
        Ev(3, ts("2024-01-01 10:00:00"), 2, "purchase", 5.00))
      q.processAllAvailable()
      // batch 2: user 1's NEW signup arrives AFTER the join emitted the
      // old pair — the retraction must flow THROUGH the join (U- of the
      // old joined row, U+ with the new version and the UNCHANGED
      // fact); user 2's version completes its join (I)
      ms.addData(
        Ev(4, ts("2024-01-01 11:00:00"), 1, "signup", 30.00),
        Ev(5, ts("2024-01-01 09:00:00"), 2, "signup", 7.00))
      q.processAllAvailable()
      // batch 3: two same-batch fact updates for user 1 compact to ONE
      // net pair; an OLDER fact for user 2 is a no-op (event time wins)
      ms.addData(
        Ev(6, ts("2024-01-01 12:00:00"), 1, "purchase", 40.00),
        Ev(7, ts("2024-01-01 13:00:00"), 1, "purchase", 50.00),
        Ev(8, ts("2024-01-01 08:00:00"), 2, "purchase", 99.00))
      drain(q)
      val got = spark.table("rjoin").as[JoinChange].collect().toSeq
      assert(got.count(_.kind == "I") == 2 && got.count(_.kind == "U-") == 2 &&
          got.count(_.kind == "U+") == 2, s"changelog kinds wrong: $got")
      assert(got.contains(JoinChange(1L, 2L, 2000L, 1L, 1000L, "U-", -1L)) &&
          got.contains(JoinChange(1L, 2L, 2000L, 4L, 3000L, "U+", 1L)),
        s"the version update must retract the emitted joined row: $got")
      assert(got.contains(JoinChange(1L, 2L, 2000L, 4L, 3000L, "U-", -1L)) &&
          got.contains(JoinChange(1L, 7L, 5000L, 4L, 3000L, "U+", 1L)) &&
          !got.exists(_.fact_id == 6L),
        s"user 1's fact updates must compact to the net 13:00 pair: $got")
      assert(got.contains(JoinChange(2L, 3L, 500L, 5L, 700L, "I", 1L)) &&
          !got.exists(_.fact_id == 8L),
        s"user 2: late version completes the join; older fact is a no-op: $got")
      // the sign-weighted fold nets to the batch joined table
      val all = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 10.00),
        Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 20.00),
        Ev(3, ts("2024-01-01 10:00:00"), 2, "purchase", 5.00),
        Ev(4, ts("2024-01-01 11:00:00"), 1, "signup", 30.00),
        Ev(5, ts("2024-01-01 09:00:00"), 2, "signup", 7.00),
        Ev(6, ts("2024-01-01 12:00:00"), 1, "purchase", 40.00),
        Ev(7, ts("2024-01-01 13:00:00"), 1, "purchase", 50.00),
        Ev(8, ts("2024-01-01 08:00:00"), 2, "purchase", 99.00))
      def tup(r: JoinChange) =
        (r.user_id, r.fact_id, r.fact_cents, r.version_id, r.version_cents)
      val net = got.groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      val ref = StreamOps.retractJoin(all.toDS(), streaming = false)
        .collect().map(tup).toSet
      assert(net == ref && ref.size == 2, s"fold $net != batch $ref")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("retract join over random batch splits folds to the batch joined table") {
    import graft.streaming.JoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(20260816L)
      val syms = Vector("click", "purchase", "signup")
      val evs = (for {
        u <- 1 to 8
        i <- 0 until (4 + rnd.nextInt(8))
      } yield Ev((u * 100 + i).toLong,
          java.sql.Timestamp.valueOf(
            ts("2024-01-01 10:00:00").toLocalDateTime.plusMinutes(i * 31L)),
          u.toLong, syms(rnd.nextInt(syms.size)),
          math.floor(rnd.nextDouble() * 5000) / 100.0)).toVector
      val shuffled = rnd.shuffle(evs) // arrival order irrelevant: upsert by event time
      def tup(r: JoinChange) =
        (r.user_id, r.fact_id, r.fact_cents, r.version_id, r.version_cents)
      val ref = StreamOps.retractJoin(evs.toDS(), streaming = false)
        .collect().map(tup).toSet
      val cuts = Seq.fill(3)(rnd.nextInt(shuffled.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(shuffled.size)).sliding(2)
        .collect { case Seq(a, b) if b > a => shuffled.slice(a, b) }.toSeq
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoin(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjoineq").outputMode("append").start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val net = spark.table("rjoineq").as[JoinChange].collect().toSeq
        .groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      assert(net == ref, s"fold $net != batch $ref")
      assert(ref.nonEmpty)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("fanout retract join: a reference update retracts every joined user across batches") {
    import graft.streaming.FanoutJoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoinFanout(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjfan").outputMode("append").start()
      // batch 1: two click users join the click reference (= the
      // latest click row, Ev 2's 2000 cents)
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-01 10:05:00"), 2, "click", 20.00))
      q.processAllAvailable()
      val afterB1 = spark.table("rjfan").as[FanoutJoinChange].collect().toSet
      assert(afterB1 == Set(
          FanoutJoinChange(1L, "click", 1000L, 2000L, "I", 1L),
          FanoutJoinChange(2L, "click", 2000L, 2000L, "I", 1L)),
        s"batch 1 must join both users to the click reference: $afterB1")
      // batch 2: a NEW click (user 3) moves the click REFERENCE to
      // 5000 — the pairs EMITTED IN BATCH 1 must retract and re-emit
      // (the fanout), plus user 3's own insert
      ms.addData(Ev(3, ts("2024-01-01 11:00:00"), 3, "click", 50.00))
      q.processAllAvailable()
      val b2 = spark.table("rjfan").as[FanoutJoinChange].collect().toSet -- afterB1
      assert(b2 == Set(
          FanoutJoinChange(1L, "click", 1000L, 2000L, "U-", -1L),
          FanoutJoinChange(1L, "click", 1000L, 5000L, "U+", 1L),
          FanoutJoinChange(2L, "click", 2000L, 2000L, "U-", -1L),
          FanoutJoinChange(2L, "click", 2000L, 5000L, "U+", 1L),
          FanoutJoinChange(3L, "click", 5000L, 5000L, "I", 1L)),
        s"the reference update must fan out to every joined user: $b2")
      // batch 3: user 1's latest MOVES to view — a retraction under
      // the click join key ("D") and an arrival under view ("I",
      // joined to the new view reference in the same batch)
      ms.addData(Ev(4, ts("2024-01-01 12:00:00"), 1, "view", 30.00))
      drain(q)
      val b3 = spark.table("rjfan").as[FanoutJoinChange].collect().toSet --
        afterB1 -- b2
      assert(b3 == Set(
          FanoutJoinChange(1L, "click", 1000L, 5000L, "D", -1L),
          FanoutJoinChange(1L, "view", 3000L, 3000L, "I", 1L)),
        s"the cross-key move must retract under click and arrive under view: $b3")
      // the sign-weighted fold nets to the batch joined table
      val all = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-01 10:05:00"), 2, "click", 20.00),
        Ev(3, ts("2024-01-01 11:00:00"), 3, "click", 50.00),
        Ev(4, ts("2024-01-01 12:00:00"), 1, "view", 30.00))
      def tup(r: FanoutJoinChange) =
        (r.user_id, r.event_type, r.user_cents, r.type_cents)
      val net = spark.table("rjfan").as[FanoutJoinChange].collect().toSeq
        .groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      val ref = StreamOps.retractJoinFanout(all.toDS(), streaming = false)
        .collect().map(tup).toSet
      assert(net == ref && ref.size == 3, s"fold $net != batch $ref")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("followedByAny under readStream: per-anchor window-close emission, fan-out, replay equality") {
    import graft.streaming.CepPatMatch
    val pat = graft.queries.Analytic.CepPatterns.any
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.cepAny(ms.toDS(), pat, streaming = true)
        .writeStream.format("memory").queryName("cany")
        .outputMode("append").start()
      def rows() = spark.table("cany").as[CepPatMatch].collect().toSet
      // two anchors an hour apart, each with clicks and purchases
      // inside both 24 h windows — a rich alternative set per anchor
      val evs = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(4, ts("2024-01-01 10:15:00"), 1, "purchase", 1.0),
        Ev(5, ts("2024-01-01 11:00:00"), 1, "signup", 1.0),
        Ev(6, ts("2024-01-01 11:05:00"), 1, "click", 1.0),
        Ev(7, ts("2024-01-01 11:10:00"), 1, "purchase", 1.0))
      ms.addData(evs: _*)
      q.processAllAvailable()
      assert(rows().isEmpty,
        "no anchor's 24 h window has closed — anyMatch must not emit early")
      // watermark 01-02 10:20 closes ONLY the 10:00 anchor's window —
      // its full alternative set emits at once, the 11:00 anchor waits
      ms.addData(Ev(8, ts("2024-01-02 10:30:00"), 9, "view", 0.0))
      q.processAllAvailable()
      val b2 = rows()
      assert(b2.nonEmpty && b2.forall(_.start_id == 1L),
        s"only the closed 10:00 anchor may emit: $b2")
      assert(b2.size >= 2,
        s"followedByAny must fan out alternatives per anchor: $b2")
      // watermark 01-02 11:50 closes the second anchor
      ms.addData(Ev(9, ts("2024-01-02 12:00:00"), 9, "view", 0.0))
      drain(q)
      assert(rows().exists(_.start_id == 5L),
        s"the 11:00 anchor must emit once its window closes: ${rows()}")
      // full-replay equality with the batch reference matcher
      val replay = StreamOps.cepAny((evs ++ Seq(
          Ev(8, ts("2024-01-02 10:30:00"), 9, "view", 0.0),
          Ev(9, ts("2024-01-02 12:00:00"), 9, "view", 0.0))).toDS(),
          pat, streaming = false)
        .collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("followedByAny trim soundness: an out-of-order anchor after a trim still finds its rows") {
    // the watermark-sound half of the CepAnyProcessor trim rule: after
    // an anchor's timer fires and trims the buffer, rows AT or ABOVE
    // the watermark survive — so a LATER-arriving anchor whose ts is
    // below already-buffered rows (out-of-order within the watermark)
    // still consumes everything its window covers
    import graft.streaming.CepPatMatch
    val pat = graft.queries.Analytic.CepPatterns.any
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.cepAny(ms.toDS(), pat, streaming = true)
        .writeStream.format("memory").queryName("canytrim")
        .outputMode("append").start()
      def rows() = spark.table("canytrim").as[CepPatMatch].collect().toSet
      // anchor A and its rows, then a watermark push past A's deadline
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts("2024-01-02 10:30:00"), 1, "view", 0.0))
      q.processAllAvailable()
      val afterA = rows()
      assert(afterA.nonEmpty && afterA.forall(_.start_id == 1L),
        s"anchor A must emit on its window close: $afterA")
      // anchor B arrives OUT OF ORDER: its ts (10:25) is below the
      // already-buffered view row (10:30) but above the watermark
      // (01-02 10:20) — the trim must not have dropped anything B
      // needs, and B's same-batch continuation rows complete a match
      ms.addData(
        Ev(5, ts("2024-01-02 10:25:00"), 1, "signup", 1.0),
        Ev(6, ts("2024-01-02 10:40:00"), 1, "click", 1.0),
        Ev(7, ts("2024-01-02 10:45:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(8, ts("2024-01-03 11:00:00"), 1, "view", 0.0))
      drain(q)
      val bMatches = rows().filter(_.start_id == 5L)
      assert(bMatches.nonEmpty,
        s"the post-trim out-of-order anchor must still match: ${rows()}")
      // and the stream agrees with the batch reference over everything
      val replay = StreamOps.cepAny(Seq(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
          Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
          Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 1.0),
          Ev(4, ts("2024-01-02 10:30:00"), 1, "view", 0.0),
          Ev(5, ts("2024-01-02 10:25:00"), 1, "signup", 1.0),
          Ev(6, ts("2024-01-02 10:40:00"), 1, "click", 1.0),
          Ev(7, ts("2024-01-02 10:45:00"), 1, "purchase", 1.0),
          Ev(8, ts("2024-01-03 11:00:00"), 1, "view", 0.0)).toDS(),
          pat, streaming = false)
        .collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("SCD2 under readStream: cross-batch folding, eager closure, loud disorder, replay equality") {
    import graft.streaming.Scd2Row
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.scd2(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("scd2")
        .outputMode("append").start()
      def rows() = spark.table("scd2").as[Scd2Row].collect().toSet
      // batch 1: two clicks then a view — the click version closes
      // EAGERLY on the change; the view version stays open in state
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val b1 = rows()
      assert(b1 == Set(Scd2Row(1L, 1L, "click", ts("2024-01-01 10:00:00"),
          ts("2024-01-01 10:10:00"), 2L)),
        s"the click version must close on the type change, view stays open: $b1")
      // batch 2: another view folds into the OPEN version restored
      // from batch 1, then a purchase closes it — n_events must count
      // both view rows across the batch boundary
      ms.addData(
        Ev(4, ts("2024-01-01 10:20:00"), 1, "view", 1.0),
        Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0))
      q.processAllAvailable()
      val b2 = rows() -- b1
      assert(b2 == Set(Scd2Row(1L, 2L, "view", ts("2024-01-01 10:10:00"),
          ts("2024-01-01 10:30:00"), 2L)),
        s"the view version must fold across batches before closing: $b2")
      // replay equality: the batch gaps-and-islands plan over the same
      // in-order rows, restricted to closed versions
      val replay = StreamOps.scd2(Seq(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
          Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
          Ev(3, ts("2024-01-01 10:10:00"), 1, "view", 1.0),
          Ev(4, ts("2024-01-01 10:20:00"), 1, "view", 1.0),
          Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0)).toDS(),
          streaming = false)
        .as[Scd2Row].collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
      // a cross-batch DISORDERED row (behind the open version's
      // high-water mark) must fail loudly, not rewrite closed history
      ms.addData(Ev(6, ts("2024-01-01 10:15:00"), 1, "click", 1.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("high-water") ||
          Option(ex.getCause).exists(_.getMessage.contains("high-water")),
        s"disorder must surface the high-water contract: ${ex.getMessage}")
      try q.stop() catch { case _: Throwable => () }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Window Top-N under readStream: cross-batch displacement, sealing, late drop, replay equality") {
    import graft.streaming.WndTopkRow
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.wndTopk(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("wtopk")
        .outputMode("append").start()
      def rows() = spark.table("wtopk").as[WndTopkRow].collect().toSet
      val w10 = ts("2024-01-01 10:00:00")
      // batch 1: four clicks in the 10:00 window — only the best 3 may
      // survive in state; nothing emits before the window seals
      ms.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 10.0),
        Ev(2, ts("2024-01-01 10:10:00"), 2, "click", 40.0),
        Ev(3, ts("2024-01-01 10:15:00"), 3, "click", 20.0),
        Ev(4, ts("2024-01-01 10:20:00"), 4, "click", 30.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "an open window must not emit its ranking")
      // batch 2: a late-window click DISPLACES the current rank 3
      // (cross-batch heap fold) — id 1 (10.0) falls out
      ms.addData(Ev(5, ts("2024-01-01 10:40:00"), 5, "click", 25.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "still open — displacement happens in state")
      // batch 3: watermark 11:50 passes the window end — the final
      // ranking seals and ships once
      ms.addData(Ev(6, ts("2024-01-01 12:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val b3 = rows()
      assert(b3 == Set(
          WndTopkRow(w10, "click", 2L, 40.0, 1),
          WndTopkRow(w10, "click", 4L, 30.0, 2),
          WndTopkRow(w10, "click", 5L, 25.0, 3)),
        s"the sealed window must rank its final best 3: $b3")
      // batch 4: a 10:00-window event beyond the watermark is dropped —
      // the sealed ranking never reopens or re-emits
      ms.addData(Ev(7, ts("2024-01-01 10:30:00"), 9, "click", 99.0))
      q.processAllAvailable()
      assert(rows() == b3, "a late event must not reopen a sealed ranking")
      // batch 5: advance far enough to seal the 12:00 view window too
      ms.addData(Ev(8, ts("2024-01-01 14:00:00"), 1, "view", 2.0))
      drain(q)
      val b5 = rows() -- b3
      assert(b5 == Set(WndTopkRow(ts("2024-01-01 12:00:00"), "view", 6L, 1.0, 1)),
        s"the view window must seal with its single row: $b5")
      // full-replay equality: the batch window-rank plan over the
      // NON-LATE events, restricted to windows the watermark sealed
      val replay = StreamOps.wndTopk(Seq(
          Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 10.0),
          Ev(2, ts("2024-01-01 10:10:00"), 2, "click", 40.0),
          Ev(3, ts("2024-01-01 10:15:00"), 3, "click", 20.0),
          Ev(4, ts("2024-01-01 10:20:00"), 4, "click", 30.0),
          Ev(5, ts("2024-01-01 10:40:00"), 5, "click", 25.0),
          Ev(6, ts("2024-01-01 12:00:00"), 1, "view", 1.0),
          Ev(8, ts("2024-01-01 14:00:00"), 1, "view", 2.0)).toDS(),
          streaming = false)
        .filter(org.apache.spark.sql.functions.col("window_start") <
          org.apache.spark.sql.functions.lit(ts("2024-01-01 13:00:00")))
        .as[WndTopkRow].collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery: state, timers, and watermark survive a stop/restart") {
    // Flink's headline fault-tolerance contract (checkpoint/savepoint
    // resume), exercised on Structured Streaming's own recovery path:
    // a stateful query is STOPPED mid-stream and a NEW query restarts
    // from the same checkpointLocation. The evidence of recovery is
    // the sealed output AFTER restart containing rows the restarted
    // query never received as input — they exist only in the restored
    // state — and the window-end TIMER armed before the stop firing
    // after it.
    import graft.streaming.WndTopkRow
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      // the memory sink refuses checkpoint recovery by design — the
      // file sink is the recoverable one, so the restart writes (and
      // the assertions read) a parquet directory
      val outDir = java.nio.file.Files.createTempDirectory("graft_rec_out").toString
      val ms = MemoryStream[Ev]
      val w10 = ts("2024-01-01 10:00:00")
      val q1 = StreamOps.wndTopk(ms.toDS(), streaming = true)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // pre-stop batch: four clicks fold into the 10:00 heap and arm
      // the 11:00 timer; nothing seals (watermark 10:10)
      ms.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 10.0),
        Ev(2, ts("2024-01-01 10:10:00"), 2, "click", 40.0),
        Ev(3, ts("2024-01-01 10:15:00"), 3, "click", 20.0),
        Ev(4, ts("2024-01-01 10:20:00"), 4, "click", 30.0))
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).isEmpty, "nothing seals before the stop")
      q1.stop() // the "failure"
      // restart from the SAME checkpoint: offsets resume after the
      // committed batch, state store and timers restore from disk
      val q2 = StreamOps.wndTopk(ms.toDS(), streaming = true)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // post-restart: one displacement row (folds into the RESTORED
      // heap) and one watermark-advancing row (fires the RESTORED timer)
      ms.addData(Ev(5, ts("2024-01-01 10:40:00"), 5, "click", 25.0))
      q2.processAllAvailable()
      ms.addData(Ev(6, ts("2024-01-01 12:00:00"), 1, "view", 1.0))
      drain(q2)
      val out = spark.read.parquet(outDir).as[WndTopkRow].collect().toSet
      assert(out.contains(WndTopkRow(w10, "click", 2L, 40.0, 1)) &&
          out.contains(WndTopkRow(w10, "click", 4L, 30.0, 2)) &&
          out.contains(WndTopkRow(w10, "click", 5L, 25.0, 3)),
        s"the sealed ranking must mix restored (ids 2, 4) and post-restart " +
          s"(id 5) rows — state did not survive the restart: $out")
      assert(!out.exists(r => r.event_id == 1L),
        s"the restored heap must still bound at k=3 (id 1 was displaced): $out")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("restart with changed shuffle partitions: the checkpoint PINS state parallelism") {
    // Flink savepoint RESCALING has no Structured Streaming analog:
    // the state store's partition count is fixed at the checkpoint's
    // first run. Spark's guard is a PIN, not a crash — on restart,
    // spark.sql.shuffle.partitions is restored from the checkpoint's
    // offset metadata and the NEW session value is ignored (with a
    // warning), so state never meets a mismatched partitioning. This
    // test pins that contract: the restarted query keeps the original
    // parallelism (state dir layout + offset metadata + correct sealed
    // output), proving a conf change is NOT a rescaling mechanism.
    // The supported recipes live next to this test in SURVEY §3.5:
    // drain-and-restart on a fresh checkpoint, or offline state
    // rewrite via the state-store data source.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rescale_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft_rescale_out").toString
      val ms = MemoryStream[Ev]
      val q1 = StreamOps.tumblingAgg(ms.toDF())
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.00),
        Ev(2, ts("2024-01-01 10:20:00"), 2, "click", 2.00))
      q1.processAllAvailable()
      q1.stop()
      def statePartitions(): Set[String] =
        Option(new java.io.File(s"$ckpt/state/0").list()).fold(Set.empty[String])(_.toSet)
      val partsAtRun1 = statePartitions()
      assert(partsAtRun1.count(_.forall(_.isDigit)) == 4,
        s"run 1 must lay out 4 state partitions: $partsAtRun1")
      // restart from the SAME checkpoint under a DIFFERENT parallelism
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val q2 = StreamOps.tumblingAgg(ms.toDF())
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      ms.addData(Ev(3, ts("2024-01-01 10:40:00"), 3, "click", 4.00))
      q2.processAllAvailable()
      ms.addData(Ev(4, ts("2024-01-01 13:00:00"), 1, "view", 1.00))
      drain(q2)
      // the pin: state layout unchanged (4, not 7), offset metadata
      // still records 4, and the sealed window is CORRECT — it merges
      // pre- and post-restart rows under the original partitioning
      assert(statePartitions().count(_.forall(_.isDigit)) == 4,
        s"restart must keep the checkpointed 4-partition state layout: ${statePartitions()}")
      val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val lastOffsets = new String(java.nio.file.Files.readAllBytes(
        offsetFiles.last.toPath), "UTF-8")
      assert(lastOffsets.contains("\"spark.sql.shuffle.partitions\":\"4\""),
        s"offset metadata must pin the ORIGINAL parallelism: $lastOffsets")
      val sealedW10 = spark.read.parquet(outDir)
        .as[(Timestamp, Timestamp, String, Long, Double)].collect()
        .filter(_._1 == ts("2024-01-01 10:00:00"))
      assert(sealedW10.map(r => (r._3, r._4, r._5)).toSet == Set(("click", 3L, 7.00)),
        s"the sealed 10:00 window must merge pre- and post-restart rows: ${sealedW10.toSeq}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("CEP timeout side output: cross-batch cancellation, timer emission, tie order, replay equality") {
    import graft.streaming.CepTimeoutMatch
    val prefix = graft.queries.Analytic.CepPatterns.timeoutPrefix
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.cepTimeout(ms.toDS(), prefix, "purchase", streaming = true)
        .writeStream.format("memory").queryName("ctimeout")
        .outputMode("append").start()
      def rows() = spark.table("ctimeout").as[CepTimeoutMatch].collect().toSet
      // batch 1: user 1's partial (signup→click) seals — deadline
      // 18:00, watermark 06:00 — nothing may emit yet
      ms.addData(
        Ev(1, ts("2024-01-01 06:00:00"), 1, "signup", 1.0),
        Ev(2, ts("2024-01-01 06:10:00"), 1, "click", 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "a pending partial must not emit before its deadline")
      // batch 2: user 1's purchase CANCELS the candidate pending from
      // batch 1 (the cross-batch pending-index path); user 2 seals its
      // own partial (deadline 19:00); users 4/5 pin the same-timestamp
      // tie — the purchase cancels iff its ord is AFTER the click's
      ms.addData(
        Ev(3, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
        Ev(4, ts("2024-01-01 07:00:00"), 2, "signup", 1.0),
        Ev(5, ts("2024-01-01 07:05:00"), 2, "click", 2.0),
        Ev(7, ts("2024-01-01 08:00:00"), 4, "signup", 1.0),
        Ev(8, ts("2024-01-01 08:05:00"), 4, "click", 2.0),
        Ev(9, ts("2024-01-01 08:05:00"), 4, "purchase", 3.0),
        Ev(11, ts("2024-01-01 08:00:00"), 5, "signup", 1.0),
        Ev(10, ts("2024-01-01 08:05:00"), 5, "purchase", 3.0),
        Ev(12, ts("2024-01-01 08:05:00"), 5, "click", 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty,
        "no deadline has passed the watermark (09:50) — cancels and pendings only")
      // batch 3: watermark 19:20 passes user 2's 19:00 deadline — its
      // timer fires; user 5 (deadline 20:00) stays pending; users 1
      // and 4 were cancelled and must never emit
      ms.addData(Ev(13, ts("2024-01-01 19:30:00"), 9, "view", 0.0))
      q.processAllAvailable()
      val b3 = rows()
      assert(b3 == Set(CepTimeoutMatch(2L, 4L, ts("2024-01-01 07:00:00"), 5L,
          ts("2024-01-01 07:05:00"), 2L, "1,1", ts("2024-01-01 19:00:00"))),
        s"only user 2's timeout is due at watermark 19:20: $b3")
      // batch 4: watermark 21:50 passes user 5's deadline — the
      // same-timestamp purchase with the SMALLER ord did not cancel
      ms.addData(Ev(14, ts("2024-01-01 22:00:00"), 9, "view", 0.0))
      drain(q)
      val b4 = rows() -- b3
      assert(b4 == Set(CepTimeoutMatch(5L, 11L, ts("2024-01-01 08:00:00"), 12L,
          ts("2024-01-01 08:05:00"), 2L, "1,1", ts("2024-01-01 20:00:00"))),
        s"user 5's tie-ordered timeout must emit once due: $b4")
      // full-replay equality: batch twin over the same (non-late)
      // events, restricted to deadlines the final watermark sealed
      val all = Seq(
        Ev(1, ts("2024-01-01 06:00:00"), 1, "signup", 1.0),
        Ev(2, ts("2024-01-01 06:10:00"), 1, "click", 2.0),
        Ev(3, ts("2024-01-01 10:00:00"), 1, "purchase", 50.0),
        Ev(4, ts("2024-01-01 07:00:00"), 2, "signup", 1.0),
        Ev(5, ts("2024-01-01 07:05:00"), 2, "click", 2.0),
        Ev(7, ts("2024-01-01 08:00:00"), 4, "signup", 1.0),
        Ev(8, ts("2024-01-01 08:05:00"), 4, "click", 2.0),
        Ev(9, ts("2024-01-01 08:05:00"), 4, "purchase", 3.0),
        Ev(11, ts("2024-01-01 08:00:00"), 5, "signup", 1.0),
        Ev(10, ts("2024-01-01 08:05:00"), 5, "purchase", 3.0),
        Ev(12, ts("2024-01-01 08:05:00"), 5, "click", 2.0),
        Ev(13, ts("2024-01-01 19:30:00"), 9, "view", 0.0),
        Ev(14, ts("2024-01-01 22:00:00"), 9, "view", 0.0))
      val replay = StreamOps.cepTimeout(all.toDS(), prefix, "purchase",
          streaming = false)
        .filter(org.apache.spark.sql.functions.col("timeout_deadline") <=
          org.apache.spark.sql.functions.lit(ts("2024-01-01 21:50:00")))
        .collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("CUMULATE under readStream: cross-batch growth, empty-prefix skip, late drop, replay equality") {
    import graft.streaming.CumulateRow
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sp = spark
      import sp.implicits._
      val ms = MemoryStream[Ev]
      val q = StreamOps.cumulate(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("cum").outputMode("append").start()
      def rows() = spark.table("cum").as[CumulateRow].collect().toSet
      val p06 = ts("2024-01-01 06:00:00")
      val p12 = ts("2024-01-01 12:00:00")
      // batch 1: two clicks in hour 0 of the 06:00 period — watermark
      // (06:30) is before the first window end, nothing seals yet
      ms.addData(
        Ev(1, ts("2024-01-01 06:10:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-01 06:40:00"), 2, "click", 5.00))
      q.processAllAvailable()
      assert(rows().isEmpty, "no window end is past the watermark yet")
      // batch 2: hour-2 click pushes the watermark to 08:20 — the
      // [06,07) and [06,08) windows seal EARLY (five hours before the
      // period closes), counting only the hour-0 panes
      ms.addData(Ev(3, ts("2024-01-01 08:30:00"), 1, "click", 20.00))
      q.processAllAvailable()
      val b2 = rows()
      assert(b2 == Set(
          CumulateRow(p06, ts("2024-01-01 07:00:00"), "click", 2L, 15.0),
          CumulateRow(p06, ts("2024-01-01 08:00:00"), "click", 2L, 15.0)),
        s"early cumulative windows must seal on the watermark: $b2")
      // batch 3: next-period event seals the rest of period 06 — the
      // GROWING windows now include batch 2's hour-2 event the early
      // ones could not see (cross-batch growth), and k=6 clears state
      ms.addData(Ev(4, ts("2024-01-01 12:30:00"), 1, "click", 7.00))
      q.processAllAvailable()
      val b3 = rows() -- b2
      assert(b3 == Set(
          CumulateRow(p06, ts("2024-01-01 09:00:00"), "click", 3L, 35.0),
          CumulateRow(p06, ts("2024-01-01 10:00:00"), "click", 3L, 35.0),
          CumulateRow(p06, ts("2024-01-01 11:00:00"), "click", 3L, 35.0),
          CumulateRow(p06, ts("2024-01-01 12:00:00"), "click", 3L, 35.0)),
        s"later windows must grow past the early emission: $b3")
      // batch 4: an hour-0 event arriving BEYOND the watermark is
      // dropped — the sealed early windows stay sealed
      ms.addData(Ev(5, ts("2024-01-01 06:20:00"), 3, "click", 99.00))
      q.processAllAvailable()
      assert((rows() -- b2 -- b3).isEmpty,
        "a late-beyond-watermark event must not reopen sealed windows")
      // batch 5: far-future event seals period 12 (six growing windows
      // over its single hour-0 pane); its own period's first window
      // ends before any pane with data — the EMPTY PREFIX emits no row
      // (the batch explode shape emits none either)
      ms.addData(Ev(6, ts("2024-01-01 20:00:00"), 1, "click", 1.00))
      drain(q)
      val b5 = rows() -- b2 -- b3
      assert(b5 == (1 to 6).map(k =>
          CumulateRow(p12, ts(f"2024-01-01 ${12 + k}%02d:00:00"), "click",
            1L, 7.0)).toSet,
        s"period 12 must seal its six growing windows: $b5")
      // full-replay equality: the streamed output equals the batch
      // twin over the NON-LATE events, restricted to sealed ends
      // (watermark 19:50) — wnd_cumulate's own shape, shared oracle
      val replay = StreamOps.cumulate(Seq(
          Ev(1, ts("2024-01-01 06:10:00"), 1, "click", 10.00),
          Ev(2, ts("2024-01-01 06:40:00"), 2, "click", 5.00),
          Ev(3, ts("2024-01-01 08:30:00"), 1, "click", 20.00),
          Ev(4, ts("2024-01-01 12:30:00"), 1, "click", 7.00),
          Ev(6, ts("2024-01-01 20:00:00"), 1, "click", 1.00)).toDS(),
          streaming = false)
        .filter(org.apache.spark.sql.functions.col("window_end") <=
          org.apache.spark.sql.functions.lit(ts("2024-01-01 19:50:00")))
        .as[CumulateRow].collect().toSet
      assert(rows() == replay, s"stream ${rows()} != batch replay $replay")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("N:M retract join: both fanout directions and a both-side cross-key move") {
    import graft.streaming.NmJoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoinNm(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjnm").outputMode("append").start()
      // batch 1: L = even users {2, 4}, R = odd user {1}, all click
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 2, "click", 10.00),
        Ev(2, ts("2024-01-01 10:05:00"), 4, "click", 20.00),
        Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 30.00))
      q.processAllAvailable()
      val b1 = spark.table("rjnm").as[NmJoinChange].collect().toSet
      assert(b1 == Set(
          NmJoinChange(2L, 1L, "click", 1000L, 3000L, "I", 1L),
          NmJoinChange(4L, 1L, "click", 2000L, 3000L, "I", 1L)),
        s"batch 1 must join both left users to the right row: $b1")
      // batch 2: RIGHT value update — fans out across every joined
      // LEFT partner (the N:1 direction)
      ms.addData(Ev(4, ts("2024-01-01 11:00:00"), 1, "click", 50.00))
      q.processAllAvailable()
      val b2 = spark.table("rjnm").as[NmJoinChange].collect().toSet -- b1
      assert(b2 == Set(
          NmJoinChange(2L, 1L, "click", 1000L, 3000L, "U-", -1L),
          NmJoinChange(2L, 1L, "click", 1000L, 5000L, "U+", 1L),
          NmJoinChange(4L, 1L, "click", 2000L, 3000L, "U-", -1L),
          NmJoinChange(4L, 1L, "click", 2000L, 5000L, "U+", 1L)),
        s"a right update must fan out across the left side: $b2")
      // batch 3: a SECOND right row of the same type (genuine N:M)
      ms.addData(Ev(5, ts("2024-01-01 11:30:00"), 3, "click", 40.00))
      q.processAllAvailable()
      val b3 = spark.table("rjnm").as[NmJoinChange].collect().toSet -- b1 -- b2
      assert(b3 == Set(
          NmJoinChange(2L, 3L, "click", 1000L, 4000L, "I", 1L),
          NmJoinChange(4L, 3L, "click", 2000L, 4000L, "I", 1L)),
        s"a second right row must join every left user: $b3")
      // batch 4: LEFT value update — fans out across every joined
      // RIGHT partner (the direction the N:1 join cannot express)
      ms.addData(Ev(6, ts("2024-01-01 12:00:00"), 2, "click", 70.00))
      q.processAllAvailable()
      val b4 = spark.table("rjnm").as[NmJoinChange].collect().toSet --
        b1 -- b2 -- b3
      assert(b4 == Set(
          NmJoinChange(2L, 1L, "click", 1000L, 5000L, "U-", -1L),
          NmJoinChange(2L, 1L, "click", 7000L, 5000L, "U+", 1L),
          NmJoinChange(2L, 3L, "click", 1000L, 4000L, "U-", -1L),
          NmJoinChange(2L, 3L, "click", 7000L, 4000L, "U+", 1L)),
        s"a left update must fan out across the right side: $b4")
      // batch 5: BOTH sides move cross-key in ONE batch — u4 (L) and
      // u1 (R) both move click -> view: every click pair touching
      // either retracts ("D"; the untouched (2,3) pair stays), and the
      // movers join each other under view ("I")
      ms.addData(
        Ev(7, ts("2024-01-01 13:00:00"), 4, "view", 30.00),
        Ev(8, ts("2024-01-01 13:05:00"), 1, "view", 60.00))
      drain(q)
      val b5 = spark.table("rjnm").as[NmJoinChange].collect().toSet --
        b1 -- b2 -- b3 -- b4
      assert(b5 == Set(
          NmJoinChange(4L, 1L, "click", 2000L, 5000L, "D", -1L),
          NmJoinChange(4L, 3L, "click", 2000L, 4000L, "D", -1L),
          NmJoinChange(2L, 1L, "click", 7000L, 5000L, "D", -1L),
          NmJoinChange(4L, 1L, "view", 3000L, 6000L, "I", 1L)),
        s"the both-side cross-key move must retract under click and " +
          s"rejoin under view: $b5")
      // the sign-weighted fold nets to the batch joined table
      val all = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 2, "click", 10.00),
        Ev(2, ts("2024-01-01 10:05:00"), 4, "click", 20.00),
        Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 30.00),
        Ev(4, ts("2024-01-01 11:00:00"), 1, "click", 50.00),
        Ev(5, ts("2024-01-01 11:30:00"), 3, "click", 40.00),
        Ev(6, ts("2024-01-01 12:00:00"), 2, "click", 70.00),
        Ev(7, ts("2024-01-01 13:00:00"), 4, "view", 30.00),
        Ev(8, ts("2024-01-01 13:05:00"), 1, "view", 60.00))
      def tup(r: NmJoinChange) =
        (r.l_user, r.r_user, r.event_type, r.l_cents, r.r_cents)
      val net = spark.table("rjnm").as[NmJoinChange].collect().toSeq
        .groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      val ref = StreamOps.retractJoinNm(all.toDS(), streaming = false)
        .collect().map(tup).toSet
      assert(net == ref && ref == Set(
          (2L, 3L, "click", 7000L, 4000L),
          (4L, 1L, "view", 3000L, 6000L)),
        s"fold $net != batch $ref")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("N:M retract join over random batch splits folds to the batch table") {
    import graft.streaming.NmJoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(20260819L)
      val syms = Vector("click", "view", "purchase")
      val evs = (for {
        u <- 1 to 8
        i <- 0 until (4 + rnd.nextInt(8))
      } yield Ev((u * 100 + i).toLong,
          java.sql.Timestamp.valueOf(
            ts("2024-01-01 10:00:00").toLocalDateTime.plusMinutes(i * 31L)),
          u.toLong, syms(rnd.nextInt(syms.size)),
          math.floor(rnd.nextDouble() * 5000) / 100.0)).toVector
      val shuffled = rnd.shuffle(evs)
      def tup(r: NmJoinChange) =
        (r.l_user, r.r_user, r.event_type, r.l_cents, r.r_cents)
      val ref = StreamOps.retractJoinNm(evs.toDS(), streaming = false)
        .collect().map(tup).toSet
      val cuts = Seq.fill(3)(rnd.nextInt(shuffled.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(shuffled.size)).sliding(2)
        .collect { case Seq(a, b) if b > a => shuffled.slice(a, b) }.toSeq
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoinNm(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjnmeq").outputMode("append").start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val net = spark.table("rjnmeq").as[NmJoinChange].collect().toSeq
        .groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      assert(net == ref, s"fold $net != batch $ref")
      assert(ref.nonEmpty)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("fanout retract join over random batch splits folds to the batch table") {
    import graft.streaming.FanoutJoinChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(20260818L)
      val syms = Vector("click", "view", "purchase")
      val evs = (for {
        u <- 1 to 8
        i <- 0 until (4 + rnd.nextInt(8))
      } yield Ev((u * 100 + i).toLong,
          java.sql.Timestamp.valueOf(
            ts("2024-01-01 10:00:00").toLocalDateTime.plusMinutes(i * 31L)),
          u.toLong, syms(rnd.nextInt(syms.size)),
          math.floor(rnd.nextDouble() * 5000) / 100.0)).toVector
      val shuffled = rnd.shuffle(evs)
      def tup(r: FanoutJoinChange) =
        (r.user_id, r.event_type, r.user_cents, r.type_cents)
      val ref = StreamOps.retractJoinFanout(evs.toDS(), streaming = false)
        .collect().map(tup).toSet
      val cuts = Seq.fill(3)(rnd.nextInt(shuffled.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(shuffled.size)).sliding(2)
        .collect { case Seq(a, b) if b > a => shuffled.slice(a, b) }.toSeq
      val ms = MemoryStream[Ev]
      val q = StreamOps.retractJoinFanout(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("rjfaneq").outputMode("append").start()
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val net = spark.table("rjfaneq").as[FanoutJoinChange].collect().toSeq
        .groupBy(tup).view.mapValues(_.map(_.sign).sum)
        .filter(_._2 != 0L).keySet
      assert(net == ref, s"fold $net != batch $ref")
      assert(ref.nonEmpty)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("temporal join: inclusive binding takes the same-timestamp version, strict does not") {
    import graft.streaming.TemporalJoined
    // version 1 at 10:00; the fact (id 2) and version 3 BOTH at 10:30
    // with the version's id ABOVE the fact's: strict binds version 1
    // (the composite (ts, id) order puts id 3 after the fact),
    // inclusive binds version 3 (ts <= fact ts, latest id wins) — the
    // FOR SYSTEM_TIME AS OF rule
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 10.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 5.0),
      Ev(3, ts("2024-01-01 10:30:00"), 1, "signup", 20.0))
    def vid(df: org.apache.spark.sql.Dataset[TemporalJoined]): Option[Long] =
      df.collect().head.version_id
    assert(vid(StreamOps.temporalJoin(evs.toDS(), streaming = false))
        .contains(1L), "strict batch must bind the 10:00 version")
    assert(vid(StreamOps.temporalJoin(evs.toDS(), streaming = false,
        inclusive = true)).contains(3L),
      "inclusive batch must bind the same-timestamp version")
    // streaming: same divergence through the stateful path
    for (incl <- Seq(false, true)) {
      val ms = MemoryStream[Ev]
      val q = StreamOps.temporalJoin(ms.toDS(), streaming = true,
          inclusive = incl)
        .writeStream.format("memory").queryName(s"tjincl$incl")
        .outputMode("append").start()
      ms.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark past the fact so it emits
      ms.addData(Ev(9, ts("2024-01-01 12:00:00"), 2, "click", 0.0))
      drain(q)
      val got = spark.table(s"tjincl$incl").as[TemporalJoined]
        .filter(_.user_id == 1L).collect()
      assert(got.length == 1 &&
          got.head.version_id.contains(if (incl) 3L else 1L),
        s"streaming inclusive=$incl bound ${got.toSeq}")
    }
  }

  test("temporal join: idle keys compact retained versions via the re-armed timer") {
    val ckpt = java.nio.file.Files.createTempDirectory("tjidle").toString
    val ms = MemoryStream[Ev]
    val q = StreamOps.temporalJoin(ms.toDS(), streaming = true)
      .writeStream.format("memory").queryName("tjidle")
      .option("checkpointLocation", ckpt).start()
    // batch 1: user 1 accumulates THREE versions and no facts — with
    // the fact-only timer (the round-14 ADVICE finding) this key would
    // never be invoked again and hold all three forever
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "signup", 2.0),
      Ev(3, ts("2024-01-01 10:20:00"), 1, "signup", 3.0))
    q.processAllAvailable()
    // traffic on ANOTHER key advances the watermark far past user 1's
    // versions; only the re-armed compaction timer touches user 1
    for ((h, id) <- Seq(("12:00:00", 10L), ("14:00:00", 11L), ("16:00:00", 12L)))
      { ms.addData(Ev(id, ts(s"2024-01-01 $h"), 2, "click", 0.0)); q.processAllAvailable() }
    drain(q)
    // state store: user 1 must have compacted to the single latest
    // version (the one-version cleanup invariant for idle keys)
    val st = spark.read.format("statestore").load(ckpt)
    val u1 = st
      .selectExpr("key.value AS user", "value.groupState.vIds AS v_ids")
      .where("user = 1")
      .select("v_ids").as[Seq[Long]].collect()
    assert(u1.nonEmpty && u1.head == Seq(3L),
      s"idle user 1 must retain exactly the latest version (id 3): " +
        s"${u1.toSeq}")
  }

  test("temporal join: cross-batch version visibility, watermark-certified emission") {
    import graft.streaming.TemporalJoined
    val ms = MemoryStream[Ev]
    val q = StreamOps.temporalJoin(ms.toDS(), streaming = true)
      .writeStream.format("memory").queryName("tj").outputMode("append").start()
    // batch 1: user 1's version then a fact 30 min later — the 10 min
    // watermark stays behind the fact, so nothing emits yet
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 50.0))
    q.processAllAvailable()
    assert(spark.table("tj").count() == 0L,
      "the fact must wait for the watermark to certify its versions")
    // batch 2: a LATER version (after the fact's event time — must not
    // bind) and a user-2 fact that advances the watermark to 10:50
    ms.addData(
      Ev(3, ts("2024-01-01 10:45:00"), 1, "signup", 2.0),
      Ev(4, ts("2024-01-01 11:00:00"), 2, "purchase", 9.0))
    q.processAllAvailable()
    // nudges on a THIRD user push the watermark past both facts; the
    // pending groups wake on their event-time timers, not on their own
    // next arrival
    ms.addData(Ev(5, ts("2024-01-01 12:00:00"), 3, "view", 0.0))
    q.processAllAvailable()
    ms.addData(Ev(6, ts("2024-01-01 13:00:00"), 3, "view", 0.0))
    drain(q)
    val rows = spark.table("tj").as[TemporalJoined].collect()
      .map(r => r.fact_id -> r).toMap
    assert(rows.contains(2L) &&
        rows(2L).version_id.contains(1L) && rows(2L).version_value.contains(1.0),
      s"fact 2 must bind the version current at its event time: ${rows.get(2L)}")
    assert(rows.contains(4L) && rows(4L).version_id.isEmpty,
      s"user 2 has no version — LEFT semantics: ${rows.get(4L)}")
  }

  test("temporal join over random batch splits equals batch replay") {
    import graft.streaming.TemporalJoined
    val rnd = new scala.util.Random(20260814L)
    val syms = Vector("signup", "purchase", "view", "purchase")
    // globally (ts, id)-sorted: the operator drops late-beyond-
    // watermark rows by contract, so the equality claim is over
    // IN-ORDER streams chopped arbitrarily (the watermark can never
    // overtake an unseen row)
    val evs = (for {
      u <- 1 to 10
      i <- 0 until (6 + rnd.nextInt(8))
    } yield Ev((u * 100 + i).toLong,
        java.sql.Timestamp.valueOf(
          ts("2024-01-01 10:00:00").toLocalDateTime.plusMinutes(i * 23L)),
        u.toLong, syms(rnd.nextInt(syms.size)),
        math.floor(rnd.nextDouble() * 5000) / 100.0))
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    // two global far-future view rows: the first advances the watermark
    // past every fact, the second fires the woken groups' timers
    val sealers = Seq(
      Ev(9998L, ts("2024-01-03 10:00:00"), 99L, "view", 0.0),
      Ev(9999L, ts("2024-01-04 10:00:00"), 99L, "view", 0.0))
    val full = evs ++ sealers
    val ref = StreamOps.temporalJoin(full.toDS(), streaming = false)
      .collect().toSet
    val cuts = Seq.fill(3)(rnd.nextInt(evs.size)).sorted
    val batches = (Seq(0) ++ cuts ++ Seq(evs.size)).sliding(2)
      .collect { case Seq(a, b) if b > a => evs.slice(a, b) }.toSeq
    val ms = MemoryStream[Ev]
    val q = StreamOps.temporalJoin(ms.toDS(), streaming = true)
      .writeStream.format("memory").queryName("tjeq").outputMode("append").start()
    (batches ++ sealers.map(Seq(_))).foreach { b =>
      ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("tjeq").as[TemporalJoined].collect().toSet
    assert(got === ref, s"stream ${got.size} rows != batch ${ref.size}")
    assert(ref.exists(_.version_id.nonEmpty) && ref.exists(_.version_id.isEmpty),
      "fixture must exercise both matched and null-version facts")
  }

  /** One sealed-fold CEP operator in the random-split cases below: the
    * seeded input it runs on and its output in either mode. `words`
    * are the symbol runs the generator draws from (one per draw, each
    * row of a run one `stepMinutes` after the last); `sealer` is the
    * trailing batch's row for user `u`, which seals every pending
    * anchor. */
  private case class SplitCase(name: String, seed: Long,
      words: Vector[Seq[String]], stepMinutes: Long, cuts: Int,
      sealer: Long => Ev,
      run: (org.apache.spark.sql.Dataset[Ev], Boolean) => org.apache.spark.sql.DataFrame)

  /** The sealed-fold CEP operators' random-split cases, by name. */
  private lazy val splitCases: Seq[SplitCase] = {
    val pats = graft.queries.Analytic.CepPatterns
    def one(syms: String*): Vector[Seq[String]] = syms.toVector.map(Seq(_))
    def sealAt(day: String, sym: String, value: Double)(u: Long): Ev =
      Ev(u * 100 + 99L, ts(s"$day 10:00:00"), u, sym, value)
    val aggSpec = graft.api.MatchRecognize.parse(graft.queries.Analytic.CepSql.aggMeasures)
    val aggPat = aggSpec.toSymbolic.get._2
    val aggVars = aggSpec.stepElems.map(_.variable)
    val aggMeasures = graft.api.MatchRecognize.streamMeasures(aggSpec)
    val altBranches = graft.api.MatchRecognize.parse(graft.queries.Analytic.CepSql.altFunnel)
      .expandBranches.map(_.toSymbolic.get._2)
    val funnel = one("signup", "click", "purchase", "view")
    val clickRun = one("click", "click", "purchase", "view")
    Seq(
      SplitCase("cepPattern quant", 20260901L,
        Vector(Seq("signup", "signup", "view", "purchase"), Seq("signup"),
          Seq("view"), Seq("purchase"), Seq("click")), 5L, 3,
        sealAt("2024-01-03", "logout", 0.0),
        (ds, s) => StreamOps.cepPattern(ds, pats.quant, s).toDF()),
      SplitCase("cepPattern relaxed", 20260902L, funnel, 37L, 3,
        sealAt("2024-01-03", "logout", 0.0),
        (ds, s) => StreamOps.cepPattern(ds, pats.relaxed, s).toDF()),
      SplitCase("cepPattern skipFirst", 20260903L, funnel, 37L, 3,
        sealAt("2024-01-03", "logout", 0.0),
        (ds, s) => StreamOps.cepPattern(ds, pats.skipFirst, s).toDF()),
      SplitCase("cepPattern group", 20260904L, one("view", "click", "click", "purchase"),
        5L, 3, sealAt("2024-01-03", "logout", 0.0),
        (ds, s) => StreamOps.cepPattern(ds, pats.group, s).toDF()),
      SplitCase("cepPatternAlt", 20260905L, funnel, 37L, 3,
        sealAt("2024-01-03", "logout", 0.0),
        (ds, s) => StreamOps.cepPatternAlt(ds, altBranches, s).toDF()),
      SplitCase("cepMeasuresStream", 20260906L, clickRun, 3L, 3,
        sealAt("2024-01-02", "view", 0.0),
        (ds, s) => StreamOps.cepMeasuresStream(ds, withinMinutes = 10, s).toDF()),
      // a trailing VIEW per user resolves every pending run
      SplitCase("cepPatternMeasures", 20260817L, clickRun, 3L, 3,
        sealAt("2024-01-02", "view", 0.0),
        (ds, s) => StreamOps.cepPatternMeasures(ds, aggPat, aggVars, aggMeasures, s).toDF()),
      SplitCase("cepPatternAllRows", 20260817L, clickRun, 3L, 3,
        sealAt("2024-01-02", "view", 0.0),
        (ds, s) => StreamOps.cepPatternAllRows(ds, aggPat, aggVars, s).toDF()),
      // trailing purchase two days out: past every anchor's WITHIN
      // horizon, and too low to match anything — it only seals
      SplitCase("cepPatternIterStream iter", 20260818L,
        one("purchase", "purchase", "view", "click"), 37L, 3,
        sealAt("2024-01-03", "purchase", 0.0),
        (ds, s) => StreamOps.cepPatternIterStream(ds, pats.iter, pats.iterConds, s).toDF()),
      // a trailing VIEW breaks any tail purchase run without matching
      SplitCase("cepPatternIterStream iterQuant", 20260814L,
        one("purchase", "purchase", "purchase", "view", "click"), 37L, 4,
        sealAt("2024-01-03", "view", 0.0),
        (ds, s) => StreamOps.cepPatternIterStream(ds, pats.iterQuant,
          pats.iterQuantConds, s).toDF()))
  }

  /** The seal-and-retain guarantee for the named cases: however an
    * in-order stream is chopped into micro-batches, the rows each
    * operator emits equal its streaming = false replay over the same
    * rows once a trailing batch seals every pending anchor — no row
    * lost, none emitted twice. */
  private def assertSplitsReplay(names: String*): Unit = {
    val t0 = ts("2024-01-01 10:00:00").toLocalDateTime
    names.foreach { name =>
      val ci = splitCases.indexWhere(_.name == name)
      assert(ci >= 0, s"no split case named $name")
      val c = splitCases(ci)
      val rnd = new scala.util.Random(c.seed)
      val evs = (1 to 12).flatMap { u =>
        val rows = Vector.newBuilder[Ev]
        var i = 0
        for (_ <- 0 until (8 + rnd.nextInt(10));
             sym <- c.words(rnd.nextInt(c.words.size))) {
          rows += Ev((u * 100 + i).toLong,
            Timestamp.valueOf(t0.plusMinutes(i * c.stepMinutes)), u.toLong, sym,
            math.floor(rnd.nextDouble() * 5000) / 100.0)
          i += 1
        }
        rows.result()
      }.toVector
      val sealer = (1 to 12).map(u => c.sealer(u.toLong))
      // rows as a multiset: a row emitted twice must not pass
      def counted(rows: Array[org.apache.spark.sql.Row]): Map[org.apache.spark.sql.Row, Int] =
        rows.groupBy(identity).map { case (r, rs) => r -> rs.length }
      val ref = counted(c.run((evs ++ sealer).toDS(), false).collect())
      // sealer-free replay: the sealer only seals, it never removes a match
      val bare = counted(c.run(evs.toDS(), false).collect())
      val cuts = Seq.fill(c.cuts)(rnd.nextInt(evs.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(evs.size)).sliding(2)
        .collect { case Seq(a, b) if b > a => evs.slice(a, b) }.toSeq
      val ms = MemoryStream[Ev]
      val q = c.run(ms.toDS(), true)
        .writeStream.format("memory").queryName(s"cepsplit$ci").outputMode("append").start()
      (batches :+ sealer).foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val got = counted(spark.table(s"cepsplit$ci").collect())
      assert(got === ref,
        s"${c.name}: stream ${got.values.sum} rows != batch ${ref.values.sum}")
      assert(ref.nonEmpty, s"${c.name}: fixture must produce matches")
      assert(bare.keySet.subsetOf(ref.keySet), s"${c.name}: the sealer removed a match")
    }
  }

  test("sealed-fold CEP operators over random batch splits equal their batch replay") {
    assertSplitsReplay("cepPattern quant", "cepPattern relaxed", "cepPattern skipFirst",
      "cepPattern group", "cepPatternAlt", "cepMeasuresStream")
  }

  test("iterative CEP over random batch splits equals batch replay") {
    assertSplitsReplay("cepPatternIterStream iter")
  }

  test("quantified iterative CEP over random batch splits equals batch replay") {
    assertSplitsReplay("cepPatternIterStream iterQuant")
  }

  test("streaming measures/all-rows over random batch splits equal batch replay") {
    assertSplitsReplay("cepPatternMeasures", "cepPatternAllRows")
  }

  test("streaming general MEASURES: seal-aware emission, cross-batch MATCH_NUMBER") {
    val spec = graft.api.MatchRecognize.parse(graft.queries.Analytic.CepSql.aggMeasures)
    val (_, pat) = spec.toSymbolic.get
    val sm = graft.api.MatchRecognize.streamMeasures(spec)
    val ms = MemoryStream[Ev]
    val out = graft.api.MatchRecognize.streamMeasuresSelect(
      StreamOps.cepPatternMeasures(ms.toDS(), pat,
        spec.stepElems.map(_.variable), sm, streaming = true).toDF(),
      spec, "user_id")
    val q = out.writeStream.format("memory").queryName("cepmsr")
      .outputMode("append").start()
    // open click run — unsealed, nothing may emit yet
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 5.0),
      Ev(2, ts("2024-01-01 10:01:00"), 1, "click", 7.0))
    q.processAllAvailable()
    assert(spark.table("cepmsr").isEmpty, "open click run must not emit")
    // the purchase completes AND seals (purchase is {1,1} — no growth):
    // measures are evaluated at emission over the sealed span
    ms.addData(Ev(3, ts("2024-01-01 10:02:00"), 1, "purchase", 20.0))
    q.processAllAvailable()
    val r1 = spark.table("cepmsr").collect()
    assert(r1.length === 1, s"purchase must seal the match: ${r1.toSeq}")
    val m1 = r1.head
    assert(m1.getAs[Long]("match_no") === 1L)
    assert(m1.getAs[Long]("n_consumed") === 3L)
    assert(m1.getAs[Long]("n_clicks") === 2L)
    assert(m1.getAs[Double]("click_sum") === 12.0)
    assert(m1.getAs[Double]("first_click_v") === 5.0)
    assert(m1.getAs[Double]("last_click_v") === 7.0)
    assert(m1.getAs[Double]("max_v") === 20.0)
    assert(m1.getAs[Double]("click2_v") === 7.0)
    assert(m1.getAs[Double]("click_penult_v") === 5.0)
    assert(m1.getAs[String]("last_step") === "purchase")
    // a second match in a LATER batch: MATCH_NUMBER keeps counting
    // across batches (the counter rides the state), and out-of-range
    // FIRST/LAST offsets surface as SQL null
    ms.addData(
      Ev(4, ts("2024-01-01 10:20:00"), 1, "click", 3.0),
      Ev(5, ts("2024-01-01 10:21:00"), 1, "purchase", 9.0))
    drain(q)
    val r2 = spark.table("cepmsr").orderBy("start_id").collect()
    assert(r2.length === 2)
    val m2 = r2(1)
    assert(m2.getAs[Long]("match_no") === 2L, "MATCH_NUMBER must carry across batches")
    assert(m2.getAs[Long]("n_clicks") === 1L)
    assert(m2.getAs[Double]("click_sum") === 3.0)
    assert(m2.isNullAt(m2.fieldIndex("click2_v")), "one click -> FIRST(click.value, 1) is null")
    assert(m2.isNullAt(m2.fieldIndex("click_penult_v")))
    assert(m2.getAs[Double]("max_v") === 9.0)
  }

  test("streaming ALL ROWS PER MATCH: consumed rows emit once sealed") {
    val spec = graft.api.MatchRecognize.parse(graft.queries.Analytic.CepSql.allRows)
    val (_, pat) = spec.toSymbolic.get
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPatternAllRows(ms.toDS(), pat,
        spec.stepElems.map(_.variable), streaming = true)
      .writeStream.format("memory").queryName("cepar")
      .outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 4.0),
      Ev(2, ts("2024-01-01 10:01:00"), 1, "click", 6.0))
    q.processAllAvailable()
    assert(spark.table("cepar").isEmpty, "open click run must not emit rows")
    ms.addData(Ev(3, ts("2024-01-01 10:02:00"), 1, "purchase", 9.0))
    drain(q)
    val got = spark.table("cepar").orderBy("pos")
      .select("user_id", "start_id", "end_id", "pos", "event_id", "step", "value")
      .as[(Long, Long, Long, Long, Long, String, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 3L, 1L, 1L, "click", 4.0),
      (1L, 1L, 3L, 2L, 2L, "click", 6.0),
      (1L, 1L, 3L, 3L, 3L, "purchase", 9.0)))
  }

  test("relaxed-contiguity stateful CEP: gaps skipped, seal-aware, horizon-pruned") {
    val pat = graft.queries.Analytic.CepPatterns.relaxed // signup+ click{1,2} purchase+ W24h
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPattern(ms.toDS(), pat, streaming = true)
      .writeStream.format("memory").queryName("cepr").outputMode("append").start()
    // signup, then noise, then a click — chain pending on the purchase
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "view", 0.0),
      Ev(3, ts("2024-01-01 10:20:00"), 1, "click", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepr").isEmpty, "chain needs a purchase — must stay pending")
    // purchase arrives a batch later (carried state completes the chain)
    ms.addData(Ev(4, ts("2024-01-01 11:00:00"), 1, "purchase", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepr").isEmpty, "greedy purchase run still open — not sealed")
    ms.addData(Ev(5, ts("2024-01-01 11:30:00"), 1, "error", 0.0))
    drain(q)
    val got = spark.table("cepr")
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, 4L, 3L, "1,1,1")),
      s"gap row 2 skipped, signup->click->purchase consumed: $got")
  }

  test("SKIP TO FIRST stateful CEP: overlap anchored at a gap row emits, sealed across batches") {
    // signup{1,2} click{1,2} purchase{1,} W24h, resume AT the click
    // run's first consumed row: the signup gap row 4 inside match 1's
    // span anchors an overlap that PAST LAST ROW would suppress, while
    // the anchor-2 overlap TO NEXT ROW would emit is suppressed
    val pat = graft.queries.Analytic.CepPatterns.skipFirst
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPattern(ms.toDS(), pat, streaming = true)
      .writeStream.format("memory").queryName("cepsf").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "signup", 0.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepsf").isEmpty, "chain needs a purchase — pending")
    ms.addData(
      Ev(4, ts("2024-01-01 10:15:00"), 1, "signup", 0.0),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "click", 0.0),
      Ev(6, ts("2024-01-01 10:30:00"), 1, "purchase", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepsf").isEmpty, "greedy purchase run still open — not sealed")
    ms.addData(Ev(7, ts("2024-01-01 11:00:00"), 1, "error", 0.0))
    drain(q)
    val got = spark.table("cepsf")
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, 6L, 4L, "2,1,1"), (1L, 4L, 6L, 3L, "1,1,1")),
      s"match 1 (signups 1-2, click 3, purchase 6) and the gap-row-4 overlap: $got")
  }

  test("negated stateful CEP: a notFollowedBy symbol in the gap kills the match") {
    val pat = graft.queries.Analytic.CepPatterns.negated // view+ !click purchase+ W24h
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPattern(ms.toDS(), pat, streaming = true)
      .writeStream.format("memory").queryName("cepn").outputMode("append").start()
    // user 1: view .. click .. purchase — click poisons the gap
    // user 2: view .. error .. purchase — irrelevant gap row, match
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 0.0),
      Ev(3, ts("2024-01-01 10:20:00"), 1, "purchase", 0.0),
      Ev(4, ts("2024-01-01 10:00:00"), 2, "view", 0.0),
      Ev(5, ts("2024-01-01 10:10:00"), 2, "error", 0.0),
      Ev(6, ts("2024-01-01 10:20:00"), 2, "purchase", 0.0))
    q.processAllAvailable()
    // seal both purchase runs
    ms.addData(
      Ev(7, ts("2024-01-01 11:00:00"), 1, "error", 0.0),
      Ev(8, ts("2024-01-01 11:00:00"), 2, "view", 0.0))
    drain(q)
    val got = spark.table("cepn")
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((2L, 4L, 6L, 2L, "1,0,1")),
      s"only user 2's click-free path may match: $got")
  }

  test("general-pattern CEP batch replay equals the compiled plan") {
    import org.apache.spark.sql.functions.col
    // the optional pattern fires often enough to be non-trivial at sf0.001
    val pat = graft.queries.Analytic.CepPatterns.optional
    val ev = Tables.events(spark, sf001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    val stateful = StreamOps.cepPattern(ev, pat, streaming = false).toDF()
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val compiled = graft.api.Cep.compile(Tables.events(spark, sf001),
        "user_id", "ts", "event_id", "event_type", pat)
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(stateful == compiled && stateful.nonEmpty)
  }

  test("incremental minhash: bucket firsts persist across batches (dedup-on-ingest)") {
    import graft.streaming.DocBandRow
    val ms = MemoryStream[DocBandRow]
    val q = StreamOps.minhashIncrCandidates(ms.toDS(), streaming = true)
      .writeStream.format("memory").queryName("mh_incr")
      .outputMode("append").start()
    val sigA: Seq[Long] = (1L to 64L)
    val sigB: Seq[Long] = (1L to 64L).map(i => if (i <= 32) i else -i)
    ms.addData(DocBandRow(10, 0, "k1", sigA))
    q.processAllAvailable()
    // the first claims its bucket silently
    assert(spark.table("mh_incr").count() == 0)
    // batch 2: an identical doc and a half-agreeing doc both flag
    // against the batch-1 FIRST — cross-batch state carryover
    ms.addData(DocBandRow(20, 0, "k1", sigA), DocBandRow(30, 0, "k1", sigB))
    drain(q)
    val rows = spark.table("mh_incr")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((20L, 10L, 64L), (30L, 10L, 32L)), rows.toString)
  }

  test("streaming PERMUTE and exclusion batch-replays equal the batch routes") {
    // PERMUTE rides the alternation matcher; exclusion is an emission
    // filter on the ALL-ROWS matcher — each must reproduce its batch
    // MATCH_RECOGNIZE sibling row-for-row on the same input.
    val sq = graft.queries.Streaming.queries
    val aq = graft.queries.Analytic.queries
    val perm = sq("stream_cep_permute")(spark, sf001)
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    val permBatch = aq("event_cep_sql_permute")(spark, sf001)
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(perm == permBatch && perm.nonEmpty)
    val excl = sq("stream_cep_exclude")(spark, sf001)
      .select("user_id", "purchase_id", "pos", "event_id", "step")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val exclBatch = aq("event_cep_sql_exclude")(spark, sf001)
      .select("user_id", "purchase_id", "pos", "event_id", "step")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(excl == exclBatch && excl.nonEmpty)
    // the exclusion filter must have actually dropped the click rows
    assert(excl.forall(_._5 == "purchase"))
  }

  test("CEP cross-batch out-of-order: arrival-order semantics, as documented") {
    // An event arriving a batch LATE (older ts than already-processed
    // rows) is evaluated in arrival order — the documented delta vs a
    // fully event-time-ordered matcher (StreamOps.cepRunThenFinal doc).
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepRunThenFinal(ms.toDS(), withinMinutes = 10)
      .writeStream.format("memory").queryName("cep_ooo").outputMode("append").start()
    ms.addData(Ev(2, ts("2024-01-01 10:02:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2 delivers an OLDER view (would break the run under full
    // event-time order) plus the purchase; within the batch they sort by
    // ts, so view(10:01) precedes purchase(10:03) and resets the run —
    // the batch-1 click is lost to the reset, purchase finds no run
    ms.addData(
      Ev(3, ts("2024-01-01 10:01:00"), 1, "view", 1.0),
      Ev(4, ts("2024-01-01 10:03:00"), 1, "purchase", 1.0))
    drain(q)
    assert(spark.table("cep_ooo").count() == 0,
      "arrival-order semantics: the late view resets the carried run")
  }

  test("batch and streaming CEP agree with the declarative rewrite on replay") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    val stateful = StreamOps.cepRunThenFinal(ev, withinMinutes = 10)
      .collect().toSet
    val declarative = graft.api.Cep.runThenFinal(Tables.events(spark, sf001),
        "user_id", "ts", "event_id", "event_type", "click", "purchase",
        org.apache.spark.sql.functions.expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("final_id").as("purchase_id"),
        col("final_ts").as("purchase_ts"), col("n_run").as("n_clicks"),
        col("first_run_ts").as("first_click_ts"))
      .as[graft.streaming.CepMatch].collect().toSet
    assert(stateful == declarative,
      s"stateful=${stateful.size} vs declarative=${declarative.size} matches")
  }

  test("batch and streaming sliding agg agree on full replay (complete mode)") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    def sliding(df: org.apache.spark.sql.DataFrame) =
      Windows.sliding(df, "ts", "6 hours", "30 minutes", Seq(col("event_type")), aggs)
    val q = sliding(StreamOps.eventsStream(spark, sf001).withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("slide_replay").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("slide_replay").collect().toSet
    val want = sliding(Tables.events(spark, sf001)).collect().toSet
    assert(got == want,
      s"stream/batch sliding divergence: stream=${got.size} rows, batch=${want.size} rows")
  }

  test("batch and streaming session windows agree on full replay (complete mode)") {
    import graft.api.Windows
    import org.apache.spark.sql.functions._
    val aggs = Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value"))
    def sess(df: org.apache.spark.sql.DataFrame) =
      Windows.session(df, "ts", "30 minutes", Seq(col("user_id")), aggs)
    val q = sess(StreamOps.eventsStream(spark, sf001).withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("sess_replay").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_replay").collect().toSet
    val want = sess(Tables.events(spark, sf001)).collect().toSet
    assert(got == want,
      s"stream/batch session divergence: stream=${got.size} rows, batch=${want.size} rows")
  }

  test("batch and streaming tumbling agg agree on full replay (complete mode)") {
    val streamed = StreamOps.tumblingAgg(StreamOps.eventsStream(spark, sf001))
    val q = streamed.writeStream.format("memory").queryName("replay")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("replay").collect().toSet
    val want = StreamOps.tumblingAgg(Tables.events(spark, sf001)).collect().toSet
    assert(got == want,
      s"stream/batch divergence: stream=${got.size} rows, batch=${want.size} rows")
  }

  test("foreachBatch sink: keyed upsert (latest ts wins) across micro-batches") {
    import org.apache.spark.sql.functions.{col, max, struct}
    // The custom-sink surface: foreachBatch gets (batch, batchId) and can
    // run arbitrary batch writes — here a latest-per-user upsert into a
    // keyed store, the MERGE pattern a lakehouse sink runs per batch.
    val store = scala.collection.concurrent.TrieMap.empty[Long, (Timestamp, Double)]
    val ms = MemoryStream[Ev]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy("user_id")
          .agg(max(struct(col("ts"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts"), col("m.value"))
          .collect().foreach { r =>
            val (u, t, v) = (r.getLong(0), r.getTimestamp(1), r.getDouble(2))
            if (store.get(u).forall(_._1.compareTo(t) < 0)) store(u) = (t, v)
          }
        ()
      }
      .start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 11:00:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 10:30:00"), 2, "view", 5.0))
    q.processAllAvailable()
    // batch 2: user 1 regresses in time (stale row must NOT win); user 2 advances
    ms.addData(
      Ev(4, ts("2024-01-01 09:00:00"), 1, "click", 9.0),
      Ev(5, ts("2024-01-01 12:00:00"), 2, "view", 7.0))
    drain(q)
    assert(store(1L) == (ts("2024-01-01 11:00:00"), 2.0), s"got ${store(1L)}")
    assert(store(2L) == (ts("2024-01-01 12:00:00"), 7.0), s"got ${store(2L)}")
  }

  test("lakehouse maintenance loop: streamed ingest -> compact -> z-order, footers prune") {
    import graft.api.Sinks
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{coalesce, col, floor, lit}
    // The post-ingest maintenance composition a streaming table needs
    // (round-13 verdict item 6): micro-batch appends land one-file-per-
    // batch small files; compactParquet rewrites size-proportionally;
    // zorderWrite re-clusters so BOTH range predicates prune at the
    // parquet FOOTER level — the same assertions as ApiSpec's batch
    // zorderWrite test, here on data that arrived VIA THE STREAM.
    val landing = Files.createTempDirectory("graft_maint_land").toString
    val evRows = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev]
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("append").parquet(landing)
        ()
      }
      .start()
    // five uneven micro-batches — five append commits, five small files
    val n = evRows.size
    val cuts = Seq(0, n / 7, n / 3, n / 2, 2 * n / 3, n)
    cuts.sliding(2).foreach { case Seq(a, b) =>
      if (b > a) { ms.addData(evRows.slice(a, b): _*); q.processAllAvailable() }
    }
    q.stop()
    val landedFiles = new java.io.File(landing).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(landedFiles >= 5, s"ingest must land per-batch small files: $landedFiles")
    assert(spark.read.parquet(landing).count() == n.toLong)
    // maintenance step 1: compaction (task count back to data size)
    val compacted = Files.createTempDirectory("graft_maint_comp").toString
    val nOut = Sinks.compactParquet(spark, landing, compacted)
    assert(nOut < landedFiles, s"compaction must reduce file count: $nOut")
    assert(spark.read.parquet(compacted).count() == n.toLong)
    // maintenance step 2: z-order rewrite of the compacted table
    val zdir = Files.createTempDirectory("graft_maint_z").toString
    val stats = Sinks.zorderWrite(spark.read.parquet(compacted),
        col("user_id"), floor(coalesce(col("value"), lit(0.0)) * 100 + lit(0.5)),
        bits = 4, targetRows = 64L, path = zdir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(stats.size > 4, s"want a multi-file z layout, got ${stats.size}")
    assert(stats.values.map(_._1).sum == n.toLong, "z-order must keep every row")
    // raw FOOTERS equal the stats table — the skip metadata is real
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val zDirs = new java.io.File(zdir).listFiles()
      .filter(_.getName.startsWith("zfile=")).sortBy(_.getName)
    assert(zDirs.length == stats.size)
    for (d <- zDirs) {
      val zf = d.getName.stripPrefix("zfile=").toLong
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getName}: ${parts.length} part files")
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(parts.head.getAbsolutePath), conf))
      var rows = 0L
      var mnx = Long.MaxValue; var mny = Long.MaxValue
      var mxx = Long.MinValue; var mxy = Long.MinValue
      rd.getFooter.getBlocks.forEach { blk =>
        rows += blk.getRowCount
        blk.getColumns.forEach { c =>
          def lo = c.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue()
          def hi = c.getStatistics.genericGetMax.asInstanceOf[java.lang.Long].longValue()
          c.getPath.toDotString match {
            case "__zx" => mnx = mnx min lo; mxx = mxx max hi
            case "__zy" => mny = mny min lo; mxy = mxy max hi
            case _ =>
          }
        }
      }
      rd.close()
      assert((rows, mnx, mxx, mny, mxy) == stats(zf),
        s"zfile=$zf: footer ($rows,$mnx,$mxx,$mny,$mxy) != table ${stats(zf)}")
    }
    // both range predicates prune files on the streamed-then-maintained
    // layout (the z-order win over the ingest order)
    val xScan = stats.values.count { case (_, mnx, mxx, _, _) => !(mxx < 0L || mnx > 3L) }
    val yScan = stats.values.count { case (_, _, _, mny, mxy) => !(mxy < 0L || mny > 2000L) }
    info(s"z files: ${stats.size}, x-predicate scans $xScan, y-predicate scans $yScan")
    assert(xScan < stats.size, "x predicate pruned nothing")
    assert(yScan < stats.size, "y predicate pruned nothing")
  }

  test("checkpoint restart resumes exactly-once into the parquet sink") {
    import graft.api.Sinks
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_meta").toString
    val ms = MemoryStream[Ev]
    def start(): StreamingQuery =
      Sinks.streamToParquet(StreamOps.tumblingAgg(ms.toDF()), out, ckpt).start()
    // run 1: close the 10:00 window (watermark passes 11:00), then stop
    val q1 = start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
    q1.processAllAvailable()
    ms.addData(Ev(3, ts("2024-01-01 13:00:00"), 1, "view", 1.0))
    q1.processAllAvailable()
    q1.stop()
    // run 2: SAME checkpoint — resumes from committed offsets/state and
    // closes the 13:00 window; the file sink's commit log must keep the
    // restart from duplicating the already-written 10:00 row
    val q2 = start()
    ms.addData(Ev(4, ts("2024-01-01 16:00:00"), 1, "view", 1.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out)
      .select("window_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(rows.count(_._1 == ts("2024-01-01 10:00:00")) == 1,
      s"restart duplicated or lost the pre-restart window: $rows")
    assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)), s"got $rows")
    assert(rows.contains((ts("2024-01-01 13:00:00"), "view", 1L, 1.0)),
      s"post-restart window missing: $rows")
    assert(rows.size == rows.distinct.size, s"duplicate emissions: $rows")
  }

  test("skip-CEP checkpoint restart: an unsealed anchor's buffer survives into run 2 (RocksDB)") {
    import graft.api.Sinks
    import java.nio.file.Files
    // restart + skip-to on the RocksDB provider: the carried CepBuf
    // must round-trip the store's serialization across process restarts
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val pat = graft.queries.Analytic.CepPatterns.skipFirst
    val out = Files.createTempDirectory("graft_cep_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_cep_ckpt_meta").toString
    val ms = MemoryStream[Ev]
    // AvailableNow sink: each run drains what is queued AT START, then
    // self-terminates — so queue BEFORE each start and await termination
    def runOnce(): Unit = {
      val q = Sinks.streamToParquet(
        StreamOps.cepPattern(ms.toDS(), pat, streaming = true).toDF(), out, ckpt).start()
      q.awaitTermination()
    }
    // run 1: anchor + first click arrive, chain pending on the purchase
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "signup", 0.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 0.0))
    runOnce()
    // run 2, same checkpoint: still unsealed (purchase run open at edge)
    ms.addData(
      Ev(4, ts("2024-01-01 10:15:00"), 1, "signup", 0.0),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "click", 0.0),
      Ev(6, ts("2024-01-01 10:30:00"), 1, "purchase", 0.0))
    runOnce()
    // run 3: the breaking row seals BOTH the run-1 anchor's match and
    // the skip-to-first overlap anchored at run 2's gap row 4 — state
    // carried across TWO restarts
    ms.addData(Ev(7, ts("2024-01-01 11:00:00"), 1, "error", 0.0))
    runOnce()
    val rows = spark.read.parquet(out)
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(rows == Set((1L, 1L, 6L, 4L, "2,1,1"), (1L, 4L, 6L, 3L, "1,1,1")),
      s"restart lost the pending anchor's buffer or re-emitted: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("DeltaTrigger: last-fired baseline carries across batches, first element seeds silently") {
    val ms = MemoryStream[Ev]
    val q = StreamOps.deltaTrigger(ms.toDS(), thresholdCents = 8000L, streaming = true)
      .writeStream.format("memory").queryName("deltat").outputMode("append").start()
    // batch 1: seed 10.00 (no fire), 50.00 (|Δ|=40.00 <= 80.00 -> no fire)
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 10.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 50.0))
    q.processAllAvailable()
    assert(spark.table("deltat").isEmpty, "below-threshold deltas must not fire")
    // batch 2: 95.00 fires vs the SEED 10.00 (|Δ|=85.00), baseline -> 95;
    // 20.00 does not fire vs 95 (75.00); 180.00 fires vs 95 (85.00)
    ms.addData(
      Ev(3, ts("2024-01-01 10:10:00"), 1, "view", 95.0),
      Ev(4, ts("2024-01-01 10:15:00"), 1, "view", 20.0),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "view", 180.0))
    drain(q)
    val got = spark.table("deltat")
      .select("event_id", "n_events", "sum_value", "fired_value")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == Set((3L, 3L, 155.0, 95.0), (5L, 5L, 355.0, 180.0)),
      s"fires must compare against the last FIRING's value across batches: $got")
  }

  test("keyed connect: per-user limits gate events with per-side state") {
    import graft.streaming.Limit
    val me = MemoryStream[Ev]
    val ml = MemoryStream[Limit]
    val q = StreamOps.connectGate(me.toDS(), ml.toDS(), streaming = true)
      .writeStream.format("memory").queryName("conn").outputMode("append").start()
    // no limit armed for user 1: no alert
    me.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 150.0))
    q.processAllAvailable()
    // arm user 1's limit at 100; user 2 stays ungated (keyed, not broadcast)
    ml.addData(Limit(100, ts("2024-01-01 10:05:00"), 1, 100.0))
    q.processAllAvailable()
    me.addData(
      Ev(2, ts("2024-01-01 10:10:00"), 1, "purchase", 120.0), // over -> n_over 1
      Ev(3, ts("2024-01-01 10:12:00"), 1, "purchase", 80.0),  // under
      Ev(4, ts("2024-01-01 10:13:00"), 2, "purchase", 500.0)) // other key, no limit
    q.processAllAvailable()
    // limit UPDATE tightens user 1 to 60; counter state carries across
    ml.addData(Limit(101, ts("2024-01-01 10:20:00"), 1, 60.0))
    q.processAllAvailable()
    me.addData(Ev(5, ts("2024-01-01 10:30:00"), 1, "purchase", 80.0)) // over -> n_over 2
    drain(q)
    val rows = spark.table("conn")
      .as[(Long, Timestamp, Long, String, Double, Long, Double, Long)].collect().toSet
    assert(rows == Set(
      (2L, ts("2024-01-01 10:10:00"), 1L, "purchase", 120.0, 100L, 100.0, 1L),
      (5L, ts("2024-01-01 10:30:00"), 1L, "purchase", 80.0, 101L, 60.0, 2L)),
      s"expected alerts for events 2 (limit 100) and 5 (limit 60) only; got $rows")
  }

  test("ruleAlerts: a watermark-late rule is still applied (NoTimeout does not drop it)") {
    // pins the verified semantics documented on ruleAlerts: fMGWS
    // filters late input only under EventTimeTimeout, so a rule far
    // behind the event-time watermark still arms from its arrival batch
    import graft.streaming.Rule
    val me = MemoryStream[Ev]
    val mr = MemoryStream[Rule]
    val q = StreamOps.ruleAlerts(me.toDS(), mr.toDS(), streaming = true)
      .writeStream.format("memory").queryName("laterule").outputMode("append").start()
    // push the union watermark far ahead (13:00 - 10 min)
    me.addData(Ev(1, ts("2024-01-01 13:00:00"), 1, "purchase", 50.0))
    q.processAllAvailable()
    // rule timestamped 10:00 arrives HOURS behind the watermark
    mr.addData(Rule(100, ts("2024-01-01 10:00:00"), "purchase", 40.0))
    q.processAllAvailable()
    me.addData(Ev(2, ts("2024-01-01 13:30:00"), 1, "purchase", 45.0))
    drain(q)
    val ids = spark.table("laterule").select("event_id").as[Long].collect().toSet
    assert(ids == Set(2L),
      s"late rule must arm for subsequent events (and event 1 preceded it); got $ids")
  }

  test("early fire on RocksDB: partials at event-time boundaries, final equals batch") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.earlyFireWindow(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("earlyfire").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:10:00"), 5, "view", 2.50))
      q.processAllAvailable()
      // watermark -> 10:16 (10:26 - 10 min; the post-advance no-data
      // batch fires pending timers): only the 10:15 boundary fires
      ms.addData(Ev(9, ts("2024-01-01 10:26:00"), 8, "view", 1.0))
      q.processAllAvailable()
      val mid = spark.table("earlyfire").filter("user_id = 5")
        .as[(Long, Timestamp, Long, Double, String)].collect().toSeq
      assert(mid == Seq((5L, ts("2024-01-01 10:00:00"), 2L, 3.50, "partial")),
        s"expected exactly the 10:15 partial for user 5 at watermark 10:16; got $mid")
      // watermark -> 12:30: the remaining boundaries (10:30, 10:45) and
      // the window end (11:00) drain in order
      ms.addData(Ev(10, ts("2024-01-01 12:40:00"), 8, "view", 1.0))
      drain(q)
      val rows = spark.table("earlyfire").filter("user_id = 5")
        .as[(Long, Timestamp, Long, Double, String)].collect().toSeq
      assert(rows.count(_._5 == "partial") == 3 &&
        rows.filter(_._5 == "partial").forall(r => r._3 == 2L && r._4 == 3.50),
        s"expected 3 partials carrying (2, 3.50); got $rows")
      val finals = rows.filter(_._5 == "final")
      val batch = StreamOps.earlyFireWindow(
        Seq(Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
          Ev(2, ts("2024-01-01 10:10:00"), 5, "view", 2.50)).toDS(),
        streaming = false)
        .as[(Long, Timestamp, Long, Double, String)].collect().toSeq
      assert(finals == batch, s"final $finals must equal batch replay $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("side outputs: one stateful pass routes each event exactly once") {
    val ms = MemoryStream[Ev]
    // arrival order = zero-padded event_id (the test feeds ids in order)
    val q = StreamOps.sideOutputs(ms.toDS(), e => f"${e.event_id}%09d",
        horizonMinutes = 60, failType = "error", streaming = true)
      .writeStream.format("memory").queryName("routes").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),   // pass
      Ev(2, ts("2024-01-01 12:00:00"), 1, "view", 1.0))    // pass (advances max)
    q.processAllAvailable()
    // cross-batch state: 10:30 is >60 min behind user 1's max (12:00)
    ms.addData(
      Ev(3, ts("2024-01-01 10:30:00"), 1, "click", 1.0),   // late
      Ev(4, ts("2024-01-01 12:30:00"), 1, "error", 1.0),   // fail
      Ev(5, ts("2024-01-01 10:30:00"), 2, "click", 1.0))   // other user: pass
    drain(q)
    val rows = spark.table("routes").select("event_id", "route")
      .as[(Long, String)].collect().toSeq
    assert(rows.size == 5 && rows.map(_._1).distinct.size == 5,
      s"every event must appear exactly once; got $rows")
    assert(rows.toSet == Set((1L, "pass"), (2L, "pass"), (3L, "late"),
      (4L, "fail"), (5L, "pass")), s"got $rows")
    // batch replay over the same rows agrees route-for-route
    val batch = StreamOps.sideOutputs(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 12:00:00"), 1, "view", 1.0),
        Ev(3, ts("2024-01-01 10:30:00"), 1, "click", 1.0),
        Ev(4, ts("2024-01-01 12:30:00"), 1, "error", 1.0),
        Ev(5, ts("2024-01-01 10:30:00"), 2, "click", 1.0)).toDS(),
      e => f"${e.event_id}%09d", horizonMinutes = 60, failType = "error",
      streaming = false)
      .select("event_id", "route").as[(Long, String)].collect().toSet
    assert(batch == rows.toSet, s"batch replay diverged: $batch vs $rows")
  }

  test("coGroup streams: a (key, window) fires on EITHER side's presence") {
    import org.apache.spark.sql.functions._
    val mp = MemoryStream[Ev]
    val mc = MemoryStream[Ev]
    def leg(m: MemoryStream[Ev]) = m.toDF().withWatermark("ts", "10 minutes")
      .select("user_id", "ts", "event_id", "value")
    val q = graft.api.Windows.coGroup(leg(mp), leg(mc), Seq("user_id"), "ts", "1 hour",
        Seq(count(col("l_event_id")).as("n_purchases"),
          coalesce(Det.sumMoney(col("l_value")), lit(0.0)).as("sum_purchase"),
          count(col("r_event_id")).as("n_clicks"),
          coalesce(Det.sumMoney(col("r_value")), lit(0.0)).as("sum_click")))
      .select("user_id", "window_start", "n_purchases", "sum_purchase",
        "n_clicks", "sum_click")
      .writeStream.format("memory").queryName("cog").outputMode("append").start()
    mp.addData(Ev(1, ts("2024-01-01 10:05:00"), 1, "purchase", 10.0))
    mc.addData(
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.5),
      Ev(3, ts("2024-01-01 10:20:00"), 2, "click", 2.0)) // user 2: click ONLY
    q.processAllAvailable()
    // min-of-legs watermark closes the 10:00 window once BOTH advance
    mp.addData(Ev(8, ts("2024-01-01 13:00:00"), 9, "purchase", 1.0))
    mc.addData(Ev(9, ts("2024-01-01 13:00:00"), 9, "click", 1.0))
    drain(q)
    val rows = spark.table("cog")
      .as[(Long, Timestamp, Long, Double, Long, Double)].collect().toSet
    assert(rows.contains((1L, ts("2024-01-01 10:00:00"), 1L, 10.0, 1L, 1.5)),
      s"both-sides row missing: $rows")
    assert(rows.contains((2L, ts("2024-01-01 10:00:00"), 0L, 0.0, 1L, 2.0)),
      s"click-only (key, window) must still fire with an empty purchase side: $rows")
  }

  test("full-outer interval join: watermark certifies null emission on BOTH sides") {
    val mp = MemoryStream[Ev]
    val mc = MemoryStream[Ev]
    val q = StreamOps.intervalJoinPairs(mp.toDF(), mc.toDF(), "full_outer")
      .writeStream.format("memory").queryName("ijf").outputMode("append").start()
    mc.addData(
      Ev(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0),  // matched
      Ev(11, ts("2024-01-01 10:00:00"), 3, "click", 1.0))  // no purchase: null row
    mp.addData(
      Ev(20, ts("2024-01-01 10:05:00"), 1, "purchase", 5.0),  // matched
      Ev(21, ts("2024-01-01 10:05:00"), 2, "purchase", 5.0))  // no click: null row
    q.processAllAvailable()
    // advance both watermarks far past the bounds to certify the nulls
    mc.addData(Ev(12, ts("2024-01-01 16:00:00"), 4, "click", 1.0))
    mp.addData(Ev(22, ts("2024-01-01 16:00:00"), 4, "purchase", 1.0))
    q.processAllAvailable()
    mc.addData(Ev(13, ts("2024-01-01 20:00:00"), 5, "click", 1.0))
    mp.addData(Ev(23, ts("2024-01-01 20:00:00"), 5, "purchase", 1.0))
    drain(q)
    val got = spark.table("ijf").select("p_id", "c_id", "user_id")
      .as[(Option[Long], Option[Long], Long)].collect().toSet
    assert(got.contains((Some(20L), Some(10L), 1L)), s"matched pair missing: $got")
    assert(got.contains((Some(21L), None, 2L)), s"purchase-side null row missing: $got")
    assert(got.contains((None, Some(11L), 3L)),
      s"click-side null row missing (user_id must coalesce): $got")
  }

  test("event-time OVER agg: watermark-gated emission, peers, frame eviction, batch == stream") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val hourUs = 3600L * 1000000L
      val q = StreamOps.overAgg(ms.toDS(), frameUs = hourUs, streaming = true)
        .writeStream.format("memory").queryName("overagg").outputMode("append").start()
      // e2/e3 share a timestamp — RANGE peers, must emit with each other
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:30:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:30:00"), 5, "click", 3.00))
      q.processAllAvailable()
      // out-of-order but ahead of the watermark: must still buffer+emit
      ms.addData(
        Ev(4, ts("2024-01-01 11:45:00"), 5, "purchase", 4.00),
        Ev(5, ts("2024-01-01 10:45:00"), 5, "click", 5.00))
      q.processAllAvailable()
      // advance the watermark (12:30 - 10 min) past 10:30/10:45 so those
      // timers fire; 11:45 stays pending
      ms.addData(Ev(90, ts("2024-01-01 12:30:00"), 8, "view", 1.0))
      q.processAllAvailable()
      // and past 11:45 (13:00 - 10 min) for the final row; its frame
      // [10:45, 11:45] keeps e5 at the INCLUSIVE lower bound, evicts the rest
      ms.addData(Ev(91, ts("2024-01-01 13:00:00"), 8, "view", 1.0))
      drain(q)
      val got = spark.table("overagg").as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 5L).toSet
      val want = Set(
        (5L, 1L, 1L, 1.00),           // [09:00,10:00] -> e1
        (5L, 2L, 3L, 6.00),           // [09:30,10:30] -> e1,e2,e3 (peers)
        (5L, 3L, 3L, 6.00),
        (5L, 5L, 4L, 11.00),          // [09:45,10:45] -> e1,e2,e3,e5
        (5L, 4L, 2L, 9.00))           // [10:45,11:45] -> e5 (inclusive bound), e4
      assert(got == want, s"streaming OVER emissions wrong:\n got  $got\n want $want")
      // batch replay through the same fold must agree row-for-row
      val batch = StreamOps.overAgg(
        Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
          Ev(2, ts("2024-01-01 10:30:00"), 5, "view", 2.00),
          Ev(3, ts("2024-01-01 10:30:00"), 5, "click", 3.00),
          Ev(4, ts("2024-01-01 11:45:00"), 5, "purchase", 4.00),
          Ev(5, ts("2024-01-01 10:45:00"), 5, "click", 5.00)).toDS(),
        frameUs = hourUs, streaming = false)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch == want, s"batch fold disagrees: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ROWS-frame OVER agg: out-of-order rows land at their order position, batch == stream") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.overRows(ms.toDS(), n = 2, streaming = true)
        .writeStream.format("memory").queryName("overrows").outputMode("append").start()
      // e1 and e3 arrive first; e2 arrives later but SORTS between them —
      // the watermark gate must emit e3 over (e2, e3), not (e1, e3).
      // e2 sits at 10:11, strictly AHEAD of the batch-1 watermark
      // (10:20 − 10 min); at or behind it the event-time mode drops the
      // row, Flink's late-row behavior (documented on OverAggProcessor)
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(3, ts("2024-01-01 10:20:00"), 5, "view", 3.00))
      q.processAllAvailable()
      ms.addData(Ev(2, ts("2024-01-01 10:11:00"), 5, "click", 2.00))
      q.processAllAvailable()
      // watermark past 10:20 fires all three in (ts, event_id) order
      ms.addData(Ev(90, ts("2024-01-01 11:00:00"), 8, "view", 1.0))
      drain(q)
      val got = spark.table("overrows").as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 5L).toSet
      val want = Set(
        (5L, 1L, 1L, 1.00),  // frame [e1]
        (5L, 2L, 2L, 3.00),  // frame [e1, e2]
        (5L, 3L, 2L, 5.00))  // frame [e2, e3] — e1 evicted by the ROWS bound
      assert(got == want, s"streaming ROWS emissions wrong:\n got  $got\n want $want")
      val batch = StreamOps.overRows(
        Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
          Ev(3, ts("2024-01-01 10:20:00"), 5, "view", 3.00),
          Ev(2, ts("2024-01-01 10:11:00"), 5, "click", 2.00)).toDS(),
        n = 2, streaming = false)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch == want, s"batch fold disagrees: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("unbounded OVER agg: running pair carries across batches, batch == stream") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.overUnbounded(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("overrun").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:20:00"), 5, "view", 2.00))
      q.processAllAvailable()
      // batch 2: the RunAgg pair (n=2, 300 cents after the watermark
      // fires e1/e2) must seed e3's running values
      ms.addData(Ev(3, ts("2024-01-01 11:00:00"), 5, "click", 3.00))
      q.processAllAvailable()
      ms.addData(Ev(90, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
      drain(q)
      val got = spark.table("overrun").as[(Long, Long, Long, Double)]
        .collect().filter(_._1 == 5L).toSet
      val want = Set((5L, 1L, 1L, 1.00), (5L, 2L, 2L, 3.00), (5L, 3L, 3L, 6.00))
      assert(got == want, s"running emissions wrong:\n got  $got\n want $want")
      val batch = StreamOps.overUnbounded(
        Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
          Ev(2, ts("2024-01-01 10:20:00"), 5, "view", 2.00),
          Ev(3, ts("2024-01-01 11:00:00"), 5, "click", 3.00)).toDS(),
        streaming = false)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch == want, s"batch fold disagrees: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("OVER agg checkpoint restart: pending and frame state survive into run 2") {
    import graft.api.Sinks
    import java.nio.file.Files
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = Files.createTempDirectory("graft_over_out").toString
      val ckpt = Files.createTempDirectory("graft_over_ckpt").toString
      val hourUs = 3600L * 1000000L
      val ms = MemoryStream[Ev]
      def start(): StreamingQuery =
        Sinks.streamToParquet(
          StreamOps.overAgg(ms.toDS(), frameUs = hourUs, streaming = true).toDF(),
          out, ckpt).start()
      // run 1: e1/e2 emit (the post-batch watermark 10:42 passes their
      // timers in the trailing no-data batch); e3@10:45 stays PENDING at
      // shutdown, e1/e2 stay in the frame ListState. Data goes in BEFORE
      // start(): AvailableNow snapshots the available offsets when the
      // query starts
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:30:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:45:00"), 5, "click", 5.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      // run 2, same checkpoint: the watermark advance must fire e3 over
      // the RESTORED frame [e1, e2] plus the RESTORED pending row itself
      ms.addData(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out)
        .as[(Long, Long, Long, Double)].collect().filter(_._1 == 5L).toSeq
      assert(rows.size == rows.distinct.size, s"duplicate emissions: $rows")
      assert(rows.toSet == Set(
        (5L, 1L, 1L, 1.00),
        (5L, 2L, 2L, 3.00),
        (5L, 3L, 3L, 8.00)),  // [09:45,10:45] -> e1,e2,e3 across the restart
        s"restart lost pending or frame state: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Top-N: pre-aggregated deltas produce the identical ranking as raw rows") {
    import graft.streaming.TypeDelta
    val evs = Seq(
      Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 4.00),
      Ev(2, ts("2024-01-02 09:01:00"), 1, "click", 6.00),
      Ev(3, ts("2024-01-02 09:02:00"), 2, "click", 5.00),
      Ev(4, ts("2024-01-02 09:03:00"), 3, "click", 1.00),
      Ev(5, ts("2024-01-02 09:04:00"), 3, "view", 2.50))
    val raw = StreamOps.topNByType(evs.toDS(), k = 2, streaming = false)
      .collect().map(r => (r.event_type, r.rnk, r.user_id, r.total)).toSet
    // the 100 TB input shape: one pre-summed delta per (type, user)
    val deltas = evs.groupBy(e => (e.event_type, e.user_id)).map { case ((t, u), es) =>
      TypeDelta(t, u, es.map(e => math.round(e.value * 100)).sum)
    }.toSeq
    val pre = StreamOps.topNFromDeltas(deltas.toDS(), k = 2, streaming = false)
      .collect().map(r => (r.event_type, r.rnk, r.user_id, r.total)).toSet
    assert(raw == pre, s"pre-aggregated input diverged:\n raw $raw\n pre $pre")
    assert(raw.contains(("click", 1L, 1L, 10.00)), s"expected u1 rank 1 at 10.00: $raw")
  }

  test("Top-N checkpoint restart: sub-top-N MapState entries survive into run 2") {
    import graft.api.Sinks
    import java.nio.file.Files
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = Files.createTempDirectory("graft_topn_out").toString
      val ckpt = Files.createTempDirectory("graft_topn_ckpt").toString
      val ms = MemoryStream[Ev]
      def start(): StreamingQuery =
        Sinks.streamToParquet(
          StreamOps.topNByType(ms.toDS(), k = 2, streaming = true).toDF(),
          out, ckpt).start()
      // run 1: u3's 1.00 lands OUTSIDE the emitted top-2 — it exists only
      // in the MapState. Data goes in BEFORE start(): AvailableNow
      // snapshots the available offsets when the query starts
      ms.addData(
        Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-02 09:01:00"), 2, "click", 5.00),
        Ev(3, ts("2024-01-02 09:02:00"), 3, "click", 1.00))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      // run 2, same checkpoint: u3 climbs to rank 1 at 10.50 — possible
      // only if its pre-restart 1.00 survived in the restored MapState
      ms.addData(Ev(4, ts("2024-01-02 09:10:00"), 3, "click", 9.50))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out)
        .as[(String, Long, Long, Long, Double)].collect()
      val first = rows.filter(_._2 == 1L).map(r => (r._3, r._4, r._5)).toSet
      assert(first == Set((1L, 1L, 10.00), (2L, 2L, 5.00)), s"run-1 ranking wrong: $first")
      val last = rows.filter(_._2 == 2L).map(r => (r._3, r._4, r._5)).toSet
      assert(last == Set((1L, 3L, 10.50), (2L, 1L, 10.00)),
        s"restart lost u3's sub-top-N state: $last")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("continuous Top-N: rank updates across batches, ties by user_id, final == batch") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.topNByType(ms.toDS(), k = 3, streaming = true)
        .writeStream.format("memory").queryName("topn").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-02 09:01:00"), 2, "click", 5.00),
        Ev(3, ts("2024-01-02 09:02:00"), 3, "click", 1.00))
      q.processAllAvailable()
      // u3 climbs from rank 3 to rank 1 (MapState must retain sub-top-N
      // contributors); u4 ties u2 at 5.00 -> user_id breaks the tie
      ms.addData(
        Ev(4, ts("2024-01-02 09:10:00"), 3, "click", 9.50),
        Ev(5, ts("2024-01-02 09:11:00"), 4, "click", 5.00))
      drain(q)
      val rows = spark.table("topn")
        .as[(String, Long, Long, Long, Double)].collect()
      val first = rows.filter(_._2 == 1L).map(r => (r._3, r._4, r._5)).toSet
      assert(first == Set((1L, 1L, 10.00), (2L, 2L, 5.00), (3L, 3L, 1.00)),
        s"first emission wrong: $first")
      val last = rows.filter(_._2 == rows.map(_._2).max).map(r => (r._3, r._4, r._5)).toSet
      assert(last == Set((1L, 3L, 10.50), (2L, 1L, 10.00), (3L, 2L, 5.00)),
        s"updated ranking wrong (u3 climbed, u2 beats u4 tie): $last")
      // batch replay = the final ranking
      val batch = StreamOps.topNByType(
        Seq(Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 10.00),
          Ev(2, ts("2024-01-02 09:01:00"), 2, "click", 5.00),
          Ev(3, ts("2024-01-02 09:02:00"), 3, "click", 1.00),
          Ev(4, ts("2024-01-02 09:10:00"), 3, "click", 9.50),
          Ev(5, ts("2024-01-02 09:11:00"), 4, "click", 5.00)).toDS(),
        k = 3, streaming = false)
        .as[(String, Long, Long, Long, Double)].collect()
        .map(r => (r._3, r._4, r._5)).toSet
      assert(batch == last, s"batch replay disagrees with final streaming ranking: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("union watermark: min of inputs — the lagging source holds windows open") {
    import org.apache.spark.sql.functions.col
    val msP = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = StreamOps.unionMinWatermark(
        msP.toDS().toDF().filter(col("event_type") === "purchase"),
        msC.toDS().toDF().filter(col("event_type") === "click"))
      .writeStream.format("memory").queryName("union_wm").outputMode("append").start()
    // both sources put rows in the 09:00 window; the purchase source
    // then races hours ahead (its own watermark passes 09:59 + 5 min
    // easily) while the click source's watermark (30 min delay) still
    // sits before 10:00 — under the MIN rule the window must stay open
    msP.addData(
      Ev(1, ts("2024-01-02 09:10:00"), 1, "purchase", 10.00),
      Ev(2, ts("2024-01-02 14:00:00"), 1, "purchase", 1.00)) // watermark ~13:55
    msC.addData(
      Ev(3, ts("2024-01-02 09:20:00"), 2, "click", 2.00),
      Ev(4, ts("2024-01-02 10:15:00"), 2, "click", 0.50)) // watermark ~09:45
    q.processAllAvailable()
    assert(spark.table("union_wm").count() == 0,
      "the 09:00 window must stay open while the click watermark lags")
    // a late click INSIDE the lagging watermark still lands in 09:00
    msC.addData(Ev(5, ts("2024-01-02 09:40:00"), 3, "click", 4.00))
    q.processAllAvailable()
    // advance the click source past 10:00 + 30 min -> min watermark
    // passes 10:00, the 09:00 window seals with BOTH sides' rows
    msC.addData(Ev(6, ts("2024-01-02 10:45:00"), 2, "click", 0.25))
    drain(q)
    val sealedRows = spark.table("union_wm")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .filter(_._1 == ts("2024-01-02 09:00:00")).toSet
    assert(sealedRows == Set(
      (ts("2024-01-02 09:00:00"), "purchase", 1L, 10.00),
      (ts("2024-01-02 09:00:00"), "click", 2L, 6.00)),
      s"sealed 09:00 window must merge both sources incl. the late click: $sealedRows")
  }

  test("union idleness: a stalled source stops holding windows after the idle bound") {
    import org.apache.spark.sql.functions.col
    val msP = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = StreamOps.unionIdleWatermark(
        msP.toDS().toDF().filter(col("event_type") === "purchase"),
        msC.toDS().toDF().filter(col("event_type") === "click"),
        idleTimeout = "2 hours")
      .writeStream.format("memory").queryName("union_idle").outputMode("append").start()
    // both sources populate the 09:00 window, then the click source STALLS
    msP.addData(Ev(1, ts("2024-01-02 09:10:00"), 1, "purchase", 10.00))
    msC.addData(Ev(2, ts("2024-01-02 09:20:00"), 2, "click", 2.00))
    q.processAllAvailable()
    assert(spark.table("union_idle").count() == 0,
      "inside the idle bound the plain min rule holds the 09:00 window open")
    // the purchase source advances 4h40m past the stalled click source:
    // under the plain min rule the 09:00 window would stay open FOREVER;
    // the idle escape grants the click side (sibling - 2h) = 12:00, so
    // its watermark reads 11:30 and the min passes 10:00 -> seal
    msP.addData(Ev(3, ts("2024-01-02 14:00:00"), 1, "purchase", 1.00))
    drain(q)
    val got = spark.table("union_idle")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got == Set(
      (ts("2024-01-02 09:00:00"), "purchase", 1L, 10.00),
      (ts("2024-01-02 09:00:00"), "click", 1L, 2.00)),
      s"the idle escape must seal 09:00 with BOTH sides' rows: $got")
  }

  test("union idleness: a rejoined laggard re-enters the min and holds sealing again") {
    import org.apache.spark.sql.functions.col
    val msP = MemoryStream[Ev]
    val msC = MemoryStream[Ev]
    val q = StreamOps.unionIdleWatermark(
        msP.toDS().toDF().filter(col("event_type") === "purchase"),
        msC.toDS().toDF().filter(col("event_type") === "click"),
        idleTimeout = "2 hours")
      .writeStream.format("memory").queryName("union_rejoin").outputMode("append").start()
    // phase 1: stall + idle seal (as in the sibling test)
    msP.addData(Ev(1, ts("2024-01-02 09:10:00"), 1, "purchase", 10.00))
    msC.addData(Ev(2, ts("2024-01-02 09:20:00"), 2, "click", 2.00))
    q.processAllAvailable()
    msP.addData(Ev(3, ts("2024-01-02 14:00:00"), 1, "purchase", 1.00))
    q.processAllAvailable()
    assert(spark.table("union_rejoin").count() == 2, "09:00 sealed via the idle escape")
    // phase 2: the click source REJOINS inside the idle bound (12:40 —
    // above the current min watermark, into the open 12:00 window)
    msC.addData(Ev(4, ts("2024-01-02 12:40:00"), 2, "click", 4.00))
    q.processAllAvailable()
    // the purchase source advances to 15:00; the idle grant is only
    // (15:00 - 2h) = 13:00 -> click watermark 12:30 < 13:00, so the
    // REJOINED source holds the 12:00 window open again — the min rule
    // is back in force for a source inside the idle bound (the
    // watermark slowed without retreating: monotonic on both engines)
    msP.addData(Ev(5, ts("2024-01-02 15:00:00"), 1, "purchase", 3.00))
    q.processAllAvailable()
    assert(!spark.table("union_rejoin").as[(Timestamp, String, Long, Double)]
        .collect().exists(_._1 == ts("2024-01-02 12:00:00")),
      "a rejoined in-bound laggard must hold its open window (min rule re-entered)")
    // the rejoined source catches up past 13:00 + 30 min -> 12:00 seals
    // with its own row
    msC.addData(Ev(6, ts("2024-01-02 13:45:00"), 2, "click", 0.50))
    drain(q)
    val rows = spark.table("union_rejoin")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(rows.contains((ts("2024-01-02 12:00:00"), "click", 1L, 4.00)),
      s"the rejoined source's own progress must seal 12:00: $rows")
  }

  test("allowedLateness update: cross-batch late refire, then purge drops for good") {
    import graft.streaming.LateFire
    val ms = MemoryStream[Ev]
    val q = StreamOps.lateUpdateWindows(ms.toDS())
      .writeStream.format("memory").queryName("late_upd").outputMode("append").start()
    // two clicks populate the 10:00 window
    ms.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.00),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.00))
    q.processAllAvailable()
    // watermark to 10:58 — window end not passed, nothing fires
    ms.addData(Ev(3, ts("2024-01-01 11:08:00"), 1, "view", 1.00))
    q.processAllAvailable()
    assert(spark.table("late_upd").count() == 0,
      "no firing before the watermark passes the window end")
    // watermark to 11:02 -> the 11:00 window-end timer fires: on_time
    ms.addData(Ev(4, ts("2024-01-01 11:12:00"), 1, "view", 1.00))
    q.processAllAvailable()
    val onTime = spark.table("late_upd").as[LateFire].collect().toSeq
    assert(onTime.map(f => (f.window_start, f.event_type, f.n_events, f.sum_value,
        f.n_late_updates, f.fire_kind)) ==
      Seq((ts("2024-01-01 10:00:00"), "click", 2L, 3.00, 0L, "on_time")),
      s"first firing must be the on-time 10:00 click window: $onTime")
    // CROSS-BATCH LATE REFIRE: 10:30 is below the watermark (11:02) but
    // inside the allowance (purge at 11:05) — the already-emitted
    // window must re-fire with the updated aggregate
    ms.addData(Ev(5, ts("2024-01-01 10:30:00"), 1, "click", 99.00))
    q.processAllAvailable()
    val afterLate = spark.table("late_upd").as[LateFire].collect().toSeq
    assert(afterLate.exists(f => f.window_start == ts("2024-01-01 10:00:00") &&
        f.fire_kind == "update" && f.n_events == 3L && f.sum_value == 102.00 &&
        f.n_late_updates == 1L),
      s"the in-allowance late click must REFIRE 10:00 with the merged aggregate: $afterLate")
    // watermark to 11:10 >= purge (11:05): the purge timer clears state
    // silently; a subsequent hard-late click must not resurrect it
    ms.addData(Ev(6, ts("2024-01-01 11:20:00"), 1, "view", 1.00))
    q.processAllAvailable()
    ms.addData(Ev(7, ts("2024-01-01 10:45:00"), 1, "click", 50.00))
    drain(q)
    val finalRows = spark.table("late_upd").as[LateFire].collect().toSeq
    assert(finalRows.count(_.window_start == ts("2024-01-01 10:00:00")) == 2,
      s"exactly on_time + one update for 10:00 — the post-purge click must drop: $finalRows")
    assert(!finalRows.exists(_.sum_value == 152.00),
      s"the hard-late 50.00 must never merge: $finalRows")
  }

  test("tombstone: D retracts prior exactly, blocks future and same-batch, fold == batch") {
    import graft.streaming.TombChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.tombstoneChangelog(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("tomb").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-02 09:00:00"), 1, "purchase", 10.00),
        Ev(2, ts("2024-01-02 09:01:00"), 1, "click", 2.00),
        Ev(3, ts("2024-01-02 09:02:00"), 2, "purchase", 5.00))
      q.processAllAvailable()
      // event_id 19 = the delete marker; the same-batch purchase of
      // 7.00 is dominated by it (blocked, not contributed-then-retracted)
      ms.addData(
        Ev(19, ts("2024-01-02 09:10:00"), 1, "signup", 0.50),
        Ev(20, ts("2024-01-02 09:10:30"), 1, "purchase", 7.00))
      q.processAllAvailable()
      // post-tombstone contribution ignored; clean user still flows
      ms.addData(
        Ev(21, ts("2024-01-02 09:20:00"), 1, "purchase", 3.00),
        Ev(22, ts("2024-01-02 09:21:00"), 2, "click", 1.00))
      drain(q)
      val rows = spark.table("tomb").as[TombChange].collect()
      val dRows = rows.filter(_.kind == "D")
        .map(r => (r.user_id, r.event_type, r.contributed, r.sign)).toSet
      assert(dRows == Set((1L, "click", 2.00, -1L), (1L, "purchase", 10.00, -1L)),
        s"tombstone must retract exactly the prior per-type totals: $dRows")
      assert(!rows.exists(r => r.user_id == 1L && r.kind == "I" &&
          (r.contributed == 7.00 || r.contributed == 3.00)),
        s"same-batch and post-tombstone contributions must be blocked: ${rows.toSeq}")
      // sign-weighted fold == compacted batch replay
      val fold = rows.groupBy(r => (r.user_id, r.event_type))
        .view.mapValues(_.map(r => r.sign * math.round(r.contributed * 100)).sum)
        .filter(_._2 != 0L).toMap
      val batch = StreamOps.tombstoneChangelog(
        Seq(Ev(1, ts("2024-01-02 09:00:00"), 1, "purchase", 10.00),
          Ev(2, ts("2024-01-02 09:01:00"), 1, "click", 2.00),
          Ev(3, ts("2024-01-02 09:02:00"), 2, "purchase", 5.00),
          Ev(19, ts("2024-01-02 09:10:00"), 1, "signup", 0.50),
          Ev(20, ts("2024-01-02 09:10:30"), 1, "purchase", 7.00),
          Ev(21, ts("2024-01-02 09:20:00"), 1, "purchase", 3.00),
          Ev(22, ts("2024-01-02 09:21:00"), 2, "click", 1.00)).toDS(),
        streaming = false)
        .collect().map(r => (r.user_id, r.event_type) ->
          math.round(r.contributed * 100)).toMap
      assert(fold == batch,
        s"sign-weighted fold diverged from compacted batch:\n $fold\n $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("retract Top-N: per-slot diffs, quiet fire suppressed, fold == batch ranking") {
    import graft.streaming.TopNChange
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.topNRetract(ms.toDS(), k = 2, streaming = true)
        .writeStream.format("memory").queryName("topn_rtr").outputMode("append").start()
      ms.addData(
        Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 10.00),
        Ev(2, ts("2024-01-02 09:01:00"), 2, "click", 5.00),
        Ev(3, ts("2024-01-02 09:02:00"), 3, "click", 1.00))
      q.processAllAvailable()
      // u3 climbs to rank 1: BOTH slots change -> two U-/U+ pairs
      ms.addData(Ev(4, ts("2024-01-02 09:10:00"), 3, "click", 9.50))
      q.processAllAvailable()
      // u2 grows but stays OUTSIDE the top 2 -> no slot changes, no fire
      ms.addData(Ev(5, ts("2024-01-02 09:11:00"), 2, "click", 0.50))
      drain(q)
      val rows = spark.table("topn_rtr").as[TopNChange].collect()
      val f1 = rows.filter(_.fire_seq == 1L)
        .map(r => (r.rnk, r.user_id, r.total, r.kind, r.sign)).toSet
      assert(f1 == Set((1L, 1L, 10.00, "I", 1L), (2L, 2L, 5.00, "I", 1L)),
        s"first fire must I-fill both slots: $f1")
      val f2 = rows.filter(_.fire_seq == 2L)
        .map(r => (r.rnk, r.user_id, r.total, r.kind, r.sign)).toSet
      assert(f2 == Set(
        (1L, 1L, 10.00, "U-", -1L), (1L, 3L, 10.50, "U+", 1L),
        (2L, 2L, 5.00, "U-", -1L), (2L, 1L, 10.00, "U+", 1L)),
        s"climb must retract both displaced slots: $f2")
      assert(rows.map(_.fire_seq).max == 2L,
        "a batch that changes no slot must not fire")
      // sign-weighted fold: the surviving (slot, occupant, total) set ==
      // the batch replay's final ranking
      val survived = rows.groupBy(r => (r.event_type, r.rnk, r.user_id, r.total))
        .view.mapValues(_.map(_.sign).sum).filter(_._2 > 0).keys
        .map(k => (k._2, k._3, k._4)).toSet
      val batch = StreamOps.topNRetract(
        Seq(Ev(1, ts("2024-01-02 09:00:00"), 1, "click", 10.00),
          Ev(2, ts("2024-01-02 09:01:00"), 2, "click", 5.00),
          Ev(3, ts("2024-01-02 09:02:00"), 3, "click", 1.00),
          Ev(4, ts("2024-01-02 09:10:00"), 3, "click", 9.50),
          Ev(5, ts("2024-01-02 09:11:00"), 2, "click", 0.50)).toDS(),
        k = 2, streaming = false)
        .collect().map(r => (r.rnk, r.user_id, r.total)).toSet
      assert(survived == batch,
        s"sign-weighted fold diverged from batch ranking:\n $survived\n $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("lookup join: current-table binding per micro-batch, miss emits null row") {
    import org.apache.spark.sql.functions.col
    import java.nio.file.Files
    val dimDir = Files.createTempDirectory("graft_lookup_dim").toString
    def writeDim(name1: String): Unit =
      Seq((1L, name1, 10L), (2L, "Beta", 20L))
        .toDF("c_custkey", "c_name", "c_nationkey")
        .repartition(1).write.mode("overwrite").parquet(dimDir)
    writeDim("Alpha")
    val ms = MemoryStream[Ev]
    val facts = ms.toDS().toDF()
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // the refreshable-dim production pattern: foreachBatch re-reads the
    // dim per micro-batch (a FRESH DataFrame, so a fresh file listing —
    // a plain stream-static join would pin the listing at query start
    // and snapshot the dim instead; see StreamOps.lookupJoin scaladoc)
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Double, Option[String], Option[Long])]
    val q = facts.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc.synchronized {
          acc ++= StreamOps.lookupJoin(batch, spark.read.parquet(dimDir))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
              r.getDouble(3), Option(r.get(4)).map(_.toString),
              Option(r.get(5)).map(_.asInstanceOf[Long])))
        }
        ()
    }.start()
    ms.addData(
      Ev(1, ts("2024-01-02 09:00:00"), 1, "purchase", 5.00),
      Ev(2, ts("2024-01-02 09:01:00"), 99, "purchase", 6.00)) // no dim row
    q.processAllAvailable()
    val b1 = acc.synchronized(acc.toSet)
    assert(b1 == Set(
      (1L, 1L, "purchase", 5.00, Some("Alpha"), Some(10L)),
      (2L, 99L, "purchase", 6.00, None, None)),
      s"batch-1 lookup wrong (miss must keep the fact with nulls): $b1")
    // dim refresh between batches: the NEXT batch's fresh read binds
    // the new contents — the FOR SYSTEM_TIME AS OF proctime contract
    writeDim("Alpha2")
    ms.addData(Ev(3, ts("2024-01-02 09:02:00"), 1, "purchase", 7.00))
    drain(q)
    val b2 = acc.synchronized(acc.filter(_._1 == 3L).toSet)
    assert(b2 == Set((3L, 1L, "purchase", 7.00, Some("Alpha2"), Some(10L))),
      s"batch-2 must see the refreshed dim: $b2")
  }

  test("FIRE_AND_PURGE: per-interval deltas, fired panes purge, deltas sum to the retained final") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val data = Seq(
        Ev(1, ts("2024-01-01 10:01:00"), 7, "click", 1.25),
        Ev(2, ts("2024-01-01 10:05:00"), 7, "click", 2.00),
        Ev(3, ts("2024-01-01 10:20:00"), 7, "click", 3.00))
      val ms = MemoryStream[Ev]
      val q = StreamOps.earlyFirePurgeWindow(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("purge").outputMode("append").start()
      ms.addData(data: _*)
      q.processAllAvailable()
      // advance the watermark past 10:30, then one more batch so both
      // pane timers (10:15, 10:30) fire
      ms.addData(Ev(4, ts("2024-01-01 10:45:00"), 9, "view", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(5, ts("2024-01-01 10:46:00"), 9, "view", 1.0))
      drain(q)
      val deltas = spark.table("purge")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .filter(_._1 == 7L).sortBy(_._3.getTime).toSeq
      // event-time panes: (10:01, 10:05] ride the 10:15 fire, 10:20 the
      // 10:30 one — each fire emitted its pane's DELTA and purged it
      assert(deltas == Seq(
        (7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:15:00"), 2L, 3.25),
        (7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), 1L, 3.00)),
        s"expected two purged pane deltas, got $deltas")
      // delta-vs-partial: the deltas sum to the retained-state final the
      // non-purging trigger emits (addition is associative)
      val fin = StreamOps.earlyFireWindow(data.toDS(), streaming = false)
        .collect().filter(_.user_id == 7L)
      assert(fin.map(f => (f.n_events, f.sum_value)).toSeq == Seq((3L, 6.25)) &&
        deltas.map(_._4).sum == fin.head.n_events &&
        math.abs(deltas.map(_._5).sum - fin.head.sum_value) < 1e-9,
        s"pane deltas ${deltas} do not sum to the retained final ${fin.toSeq}")
      // event-time determinism: streaming emission == batch replay row-set
      val batch = StreamOps.earlyFirePurgeWindow(data.toDS(), streaming = false)
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      assert(batch == deltas.toSet,
        s"batch replay disagrees with streaming panes: $batch vs $deltas")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("CEP MEASURES streaming: sealed incremental emission with cross-batch value carry == batch") {
    val data = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.00),
      Ev(2, ts("2024-01-01 10:02:00"), 1, "click", 2.50),
      Ev(3, ts("2024-01-01 10:04:00"), 1, "click", 0.50),
      Ev(4, ts("2024-01-01 10:05:00"), 1, "purchase", 9.99),
      Ev(5, ts("2024-01-01 10:20:00"), 1, "click", 4.00),
      Ev(6, ts("2024-01-01 10:21:00"), 1, "purchase", 1.11))
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepMeasuresStream(ms.toDS(), withinMinutes = 10, streaming = true)
      .writeStream.format("memory").queryName("cepmeas").outputMode("append").start()
    // clicks 1-2 arrive first: the run stays PENDING (no purchase yet,
    // nothing emits), its VALUES carried in state across the batch
    ms.addData(data(0), data(1))
    q.processAllAvailable()
    assert(spark.table("cepmeas").count() == 0, "pending run must not emit")
    // click 3 + purchase seal the first match — measures must include
    // the values buffered in the PREVIOUS batch
    ms.addData(data(2), data(3))
    q.processAllAvailable()
    val first = spark.table("cepmeas")
      .as[(Long, Long, Timestamp, Long, Timestamp, Timestamp, Double, Double, Double, Double)]
      .collect().toSeq
    assert(first == Seq((1L, 4L, ts("2024-01-01 10:05:00"), 3L,
      ts("2024-01-01 10:00:00"), ts("2024-01-01 10:04:00"),
      4.00, 400.0 / 300.0, 2.50, 9.99)),
      s"first sealed match measures wrong: $first")
    ms.addData(data(4), data(5))
    drain(q)
    val all = spark.table("cepmeas")
      .as[(Long, Long, Timestamp, Long, Timestamp, Timestamp, Double, Double, Double, Double)]
      .collect().sortBy(_._2).toSeq
    // streaming == batch replay (same oracle as event_cep_measures)
    val batch = StreamOps.cepMeasuresStream(data.toDS(), withinMinutes = 10, streaming = false)
      .as[(Long, Long, Timestamp, Long, Timestamp, Timestamp, Double, Double, Double, Double)]
      .collect().sortBy(_._2).toSeq
    assert(all == batch, s"streaming $all != batch $batch")
    assert(all.size == 2 && all(1)._4 == 1L && all(1)._10 == 1.11,
      s"second match wrong: $all")
  }

  test("keep-last dedup: watermark seals the survivor; a newer cross-batch row re-emits a replacement") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamOps.dedupKeepLast(ms.toDS(), streaming = true)
        .writeStream.format("memory").queryName("dlast").outputMode("append").start()
      // two rows for user 5 in one batch: only the newer is the best
      ms.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 5, "view", 2.0))
      q.processAllAvailable()
      // advance the watermark past 10:05, then one more batch so the
      // seal timer fires (timers use the PREVIOUS batch's watermark)
      ms.addData(Ev(3, ts("2024-01-01 11:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts("2024-01-01 11:00:01"), 9, "click", 1.0))
      q.processAllAvailable()
      val sealed5 = spark.table("dlast")
        .as[(Long, Long, Timestamp, String, Double)].collect()
        .filter(_._1 == 5L).map(r => (r._2, r._4, r._5)).toSeq
      assert(sealed5 == Seq((2L, "view", 2.0)),
        s"expected the sealed survivor (id 2) exactly once, got $sealed5")
      // a NEWER user-5 row in a later batch replaces the emitted
      // survivor once the watermark seals it in turn
      ms.addData(Ev(6, ts("2024-01-01 12:00:00"), 5, "purchase", 3.0))
      q.processAllAvailable()
      ms.addData(Ev(7, ts("2024-01-01 13:00:00"), 9, "view", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(8, ts("2024-01-01 13:30:00"), 9, "view", 1.0))
      drain(q)
      val rows5 = spark.table("dlast")
        .as[(Long, Long, Timestamp, String, Double)].collect()
        .filter(_._1 == 5L).map(r => (r._2, r._4, r._5)).sortBy(_._1).toSeq
      assert(rows5 == Seq((2L, "view", 2.0), (6L, "purchase", 3.0)),
        s"expected the replacement emission after the original, got $rows5")
      // the last emission per key equals the batch replay's answer
      val batch = StreamOps.dedupKeepLast(
        Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.0),
          Ev(2, ts("2024-01-01 10:05:00"), 5, "view", 2.0),
          Ev(6, ts("2024-01-01 12:00:00"), 5, "purchase", 3.0)).toDS(),
        streaming = false)
        .as[(Long, Long, Timestamp, String, Double)].collect()
        .map(r => (r._1, r._2, r._4, r._5)).toSet
      assert(batch == Set((5L, 6L, "purchase", 3.0)),
        s"batch replay disagrees with the final survivor: $batch")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // ---- checkpoint-restart matrix ----
  // One restart-recovery test per stateful processor class (RocksDB
  // provider): run 1 leaves state that MUST survive into run 2 for the
  // asserted output to be possible — each scenario is designed so that
  // lost state produces a DIFFERENT (wrong) answer, not a missing test.
  // Shared harness: same MemoryStream, same checkpoint, two
  // AvailableNow runs into one parquet sink.

  private def restartReplay(run1: Seq[Ev], run2: Seq[Ev])(
      build: MemoryStream[Ev] => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.api.Sinks
    import java.nio.file.Files
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = Files.createTempDirectory("graft_restart_out").toString
      val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
      val ms = MemoryStream[Ev]
      def go(data: Seq[Ev]): Unit = {
        ms.addData(data: _*) // before start(): AvailableNow snapshots offsets
        val q = Sinks.streamToParquet(build(ms), out, ckpt).start()
        q.processAllAvailable()
        q.stop()
      }
      go(run1)
      go(run2)
      spark.read.parquet(out)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("OVER ROWS checkpoint restart: pending rows and the n-row frame survive into run 2") {
    // e3 stays pending at shutdown; its run-2 emission needs the
    // RESTORED [e1, e2] frame buffer (lost state -> n_last10 = 1)
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:30:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:45:00"), 5, "click", 5.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.overRows(ms.toDS(), n = 3, streaming = true).toDF()
    }.as[(Long, Long, Long, Double)].collect().filter(_._1 == 5L).toSeq
    assert(rows.size == rows.distinct.size, s"duplicate emissions: $rows")
    assert(rows.toSet == Set((5L, 1L, 1L, 1.00), (5L, 2L, 2L, 3.00), (5L, 3L, 3L, 8.00)),
      s"restart lost pending or frame state: $rows")
  }

  test("OVER UNBOUNDED checkpoint restart: the running (n, cents) pair survives into run 2") {
    // lost RunAgg would restart e3's running sum at 5.00 instead of 8.00
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:30:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:45:00"), 5, "click", 5.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.overUnbounded(ms.toDS(), streaming = true).toDF()
    }.as[(Long, Long, Long, Double)].collect().filter(_._1 == 5L).toSeq
    assert(rows.toSet == Set((5L, 1L, 1L, 1.00), (5L, 2L, 2L, 3.00), (5L, 3L, 3L, 8.00)),
      s"restart lost the running aggregate: $rows")
  }

  test("keep-LAST dedup checkpoint restart: the unsealed best row and its seal timer survive") {
    // run 1 best = e2@10:50, unsealed (wm 10:42). Run 2's e3@10:45 is
    // OLDER: with restored state it must NOT displace e2 (lost state
    // would make e3 the best and emit it instead); the emission itself
    // rides the RESTORED timer (e3 does not re-arm — changed = false)
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:50:00"), 5, "view", 2.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(3, ts("2024-01-01 10:45:00"), 5, "click", 3.00),
        Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.dedupKeepLast(ms.toDS(), streaming = true).toDF()
    }.as[(Long, Long, Timestamp, String, Double)].collect().filter(_._1 == 5L).toSeq
    assert(rows == Seq((5L, 2L, ts("2024-01-01 10:50:00"), "view", 2.00)),
      s"restart lost the unsealed best row (or let an older row displace it): $rows")
  }

  test("early-fire window checkpoint restart: the retained aggregate keeps firing after restart") {
    // run 1 fires partials at 10:15/10:30 (wm 10:42); the 10:45 partial
    // and the 11:00 final fire in run 2 FROM THE RESTORED ValueState —
    // lost state would fire nothing (agg.exists() false)
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:40:00"), 5, "view", 2.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.earlyFireWindow(ms.toDS(), streaming = true).toDF()
    }.as[(Long, Timestamp, Long, Double, String)].collect().filter(_._1 == 5L).toSeq
    val (partials, finals) = rows.partition(_._5 == "partial")
    assert(partials.size == 3 && partials.forall(r =>
      r._2 == ts("2024-01-01 10:00:00") && r._3 == 2L && r._4 == 3.00),
      s"expected 3 identical partials (10:15, 10:30 pre-restart; 10:45 post): $rows")
    assert(finals == Seq((5L, ts("2024-01-01 10:00:00"), 2L, 3.00, "final")),
      s"restart lost the retained window aggregate: $rows")
  }

  test("fire-and-purge checkpoint restart: unfired panes survive, fired panes never re-fire") {
    // pane 10:15 fires and PURGES in run 1; pane 10:45 (e2@10:40) is
    // armed but unfired at shutdown and must fire its delta in run 2
    // from the restored MapState — without re-firing 10:15
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:40:00"), 5, "view", 2.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.earlyFirePurgeWindow(ms.toDS(), streaming = true).toDF()
    }.as[(Long, Timestamp, Timestamp, Long, Double)].collect().filter(_._1 == 5L).toSeq
    assert(rows.size == rows.distinct.size, s"a purged pane re-fired: $rows")
    assert(rows.toSet == Set(
      (5L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:15:00"), 1L, 1.00),
      (5L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:45:00"), 1L, 2.00)),
      s"restart lost the unfired pane: $rows")
  }

  test("custom-trigger TWS checkpoint restart: the inactivity timer and aggregate survive") {
    // u5's timeout deadline (10:30) is beyond run 1's watermark (10:15);
    // the run-2 timeout emission needs BOTH the restored timer and the
    // restored UserAgg — lost state emits nothing for u5
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.00),
        Ev(90, ts("2024-01-01 10:25:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.customTriggerTws(ms.toDS(), earlyEvery = 2).toDF()
    }.as[(Long, Long, Double, String)].collect().filter(_._1 == 5L).toSeq
    assert(rows == Seq((5L, 1L, 1.00, "timeout")),
      s"restart lost the inactivity timer or its aggregate: $rows")
  }

  test("delta-trigger checkpoint restart: the last-fired baseline survives into run 2") {
    // run 1 seeds the baseline at 10.00 silently; run 2's 95.00 fires
    // against the RESTORED baseline (n = 3, sum = 155). Lost state
    // would make 95.00 a fresh silent seed — no fire at all.
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "view", 10.0),
        Ev(2, ts("2024-01-01 10:05:00"), 5, "view", 50.0)),
      Seq(Ev(3, ts("2024-01-01 10:10:00"), 5, "view", 95.0))) { ms =>
      StreamOps.deltaTrigger(ms.toDS(), thresholdCents = 8000L, streaming = true).toDF()
        .select("user_id", "event_id", "n_events", "sum_value", "fired_value")
    }.as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(rows == Seq((5L, 3L, 3L, 155.0, 95.0)),
      s"restart lost the delta baseline: $rows")
  }

  test("profile TWS checkpoint restart: MapState counts and the ListState recents survive") {
    // run 2's single click must snapshot as (2 types, 3 events,
    // "1,2,3") — possible only with the restored map + list (lost
    // state snapshots (1, 1, "3"))
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:00:00"), 5, "click", 1.0),
        Ev(2, ts("2024-01-01 10:01:00"), 5, "view", 1.0)),
      Seq(Ev(3, ts("2024-01-01 10:02:00"), 5, "click", 1.0))) { ms =>
      StreamOps.profileTws(ms.toDS()).toDF()
    }.as[(Long, Long, Long, String)].collect().toSeq
    assert(rows.contains((5L, 2L, 2L, "1,2")), s"run-1 snapshot wrong: $rows")
    assert(rows.contains((5L, 2L, 3L, "1,2,3")),
      s"restart lost MapState counts or ListState recents: $rows")
  }

  test("evictor window checkpoint restart: the trimmed buffer, seen count, and window timer survive") {
    // the whole emission happens in run 2 (window end 11:00 > run-1 wm
    // 10:42): n_seen = 3 with only the last-2 kept proves the trimmed
    // ListState AND the full-count ValueState both round-tripped
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-01 10:05:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-01 10:10:00"), 5, "view", 2.00),
        Ev(3, ts("2024-01-01 10:20:00"), 5, "click", 5.00),
        Ev(90, ts("2024-01-01 10:52:00"), 8, "view", 1.0)),
      Seq(Ev(91, ts("2024-01-01 12:00:00"), 8, "view", 1.0))) { ms =>
      StreamOps.evictorWindow(ms.toDS(), keepN = 2, streaming = true).toDF()
    }.as[(Long, Timestamp, Long, Long, Double, Long, Long)].collect().filter(_._1 == 5L).toSeq
    assert(rows == Seq((5L, ts("2024-01-01 10:00:00"), 3L, 2L, 7.00, 2L, 3L)),
      s"restart lost the evictor buffer or seen count: $rows")
  }

  test("count-slide checkpoint restart: the element buffer and arrival counter survive") {
    // fire 2 happens on run 2's second arrival (c = 4) over the last 3
    // RESTORED-plus-new elements [e2, e3, e4]; lost state would reset
    // c to 0 and fire [e3, e4] as fire 1
    val rows = restartReplay(
      Seq(Ev(1, ts("2024-01-02 09:00:00"), 5, "click", 1.00),
        Ev(2, ts("2024-01-02 09:01:00"), 5, "click", 2.00)),
      Seq(Ev(3, ts("2024-01-02 09:02:00"), 5, "click", 4.00),
        Ev(4, ts("2024-01-02 09:03:00"), 5, "click", 8.00))) { ms =>
      StreamOps.countSlideWindow(ms.toDS(), size = 3, slide = 2, streaming = true).toDF()
    }.as[(Long, Long, Long, Double, Long, Long)].collect().toSeq
    assert(rows.toSet == Set(
      (5L, 1L, 2L, 3.00, 1L, 2L),
      (5L, 2L, 3L, 14.00, 2L, 4L)),
      s"restart lost the count-window buffer or counter: $rows")
  }

  test("MATCH_RECOGNIZE text drives the STREAMING matcher (parsed pattern, live stream)") {
    // the SQL front door is not batch-only: a pattern parsed from
    // clause text runs through the same stateful per-key matcher, with
    // the same seal-aware incremental emission across batches
    val txt =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (c+ e? s+)
        |  DEFINE c AS event_type = 'click',
        |         e AS event_type = 'error',
        |         s AS event_type = 'signup'
        |)""".stripMargin
    val Some((_, pat)) = graft.api.MatchRecognize.parse(txt).toSymbolic
    assert(pat === graft.queries.Analytic.CepPatterns.optional,
      "text must resolve to the exact DSL pattern the DSL test runs")
    val ms = MemoryStream[Ev]
    val q = StreamOps.cepPattern(ms.toDS(), pat, streaming = true)
      .writeStream.format("memory").queryName("cepsqlstream").outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "error", 0.0),
      Ev(3, ts("2024-01-01 10:10:00"), 1, "signup", 0.0))
    q.processAllAvailable()
    assert(spark.table("cepsqlstream").isEmpty, "greedy signup tail unsealed")
    ms.addData(Ev(4, ts("2024-01-01 10:15:00"), 1, "view", 0.0))
    drain(q)
    val got = spark.table("cepsqlstream")
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, 3L, 3L, "1,1,1")), s"got $got")
  }
}
