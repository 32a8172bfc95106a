package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Smoke + invariants across the whole declared surface on sf0.001. */
class CoreSpec extends SparkSuite {
  import spark.implicits._

  test("entry returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("PLANS.md covers every declared query (regen: scripts/run.sh graft.Explain)") {
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")))
    val sections = "(?m)^## (\\S+)$".r.findAllMatchIn(plans).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty, s"PLANS.md is stale — missing plans for: $missing")
  }

  test("ORACLES.md header matches the declared oracle/query counts") {
    // same staleness discipline as the PLANS.md gate: the no-oracle
    // allowance table must state the live inventory, not a past round's
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("ORACLES.md")))
    val expected = s"(${SparkEntry.oracleSql.size} of ${SparkEntry.queries.size}"
    assert(text.contains(expected),
      s"ORACLES.md is stale — expected the header to contain '$expected'")
    val rowsOnly = SparkEntry.queries.size - SparkEntry.oracleSql.size
    assert(text.contains(s"the $rowsOnly keys declared without a DuckDB oracle"),
      s"ORACLES.md title count != $rowsOnly rows-only keys")
  }

  test("every declared query runs and returns rows on sf0.001") {
    val empty = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sf001).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("every oracle key has a matching query key") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("cumulate's final step equals the 6 h tumbling aggregate exactly") {
    val cum = SparkEntry.queries("wnd_cumulate")(spark, sf001)
      .filter(expr("window_end = period_start + INTERVAL 6 HOURS"))
      .select(col("period_start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val tum = graft.api.Windows.tumbling(Tables.events(spark, sf001), "ts", "6 hours",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n_events"), Det.sumMoney(col("value")).as("sum_value")))
      .select(col("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(cum == tum, s"cumulate final step diverged: ${(cum diff tum).take(3)}")
  }

  test("lateness triad: drop <= update-kept <= all events, updates nonempty") {
    // counts of events surviving each mode (sum over windows)
    def total(key: String): Long =
      SparkEntry.queries(key)(spark, sf001)
        .agg(sum("n_events")).as[Long].head()
    val all = Tables.events(spark, sf001).count()
    val dropKept = total("wnd_late_drop")
    val updKept = total("wnd_late_update")
    val sideOut = SparkEntry.queries("wnd_late_sideoutput")(spark, sf001).count()
    // side-output rows are exactly the ones drop-mode loses
    assert(dropKept + sideOut == all,
      s"drop-kept $dropKept + side-output $sideOut != $all")
    // the 5 min allowance readmits dropped events
    assert(updKept > dropKept && updKept <= all,
      s"expected drop-kept $dropKept < update-kept $updKept <= $all")
    // post-firing updates and hard drops need sf0.01's event density
    // (sf0.001 is ~14 events/hour — relative lateness never crosses the
    // window boundary there)
    val sf01 = "/root/testdata/sf0.01"
    val upd01 = SparkEntry.queries("wnd_late_update")(spark, sf01)
    val nUpdates = upd01.agg(sum("n_late_updates")).as[Long].head()
    assert(nUpdates > 0, "fixture jitter should produce post-firing updates")
    val kept01 = upd01.agg(sum("n_events")).as[Long].head()
    val all01 = Tables.events(spark, sf01).count()
    assert(kept01 < all01, "expected some events beyond the 5 min allowance to hard-drop")
  }

  test("pane-based two-level aggregation is identical to direct sliding windows") {
    val direct = SparkEntry.queries("wnd_sliding")(spark, sf001).collect().toSeq
    val paned = SparkEntry.queries("wnd_pane_twolevel")(spark, sf001).collect().toSeq
    assert(direct == paned)
  }

  test("sliding windows: each window spans 6h, starts on the 30-min grid, contains its events") {
    val rows = SparkEntry.queries("wnd_sliding")(spark, sf001)
      .select("window_start", "window_end").distinct()
      .as[(Timestamp, Timestamp)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, e) =>
      assert(e.getTime - s.getTime == 6L * 3600 * 1000)
      assert(s.getTime % (30L * 60 * 1000) == 0)
    }
  }

  test("session windows: per-user sessions are disjoint and gap-separated") {
    val sess = SparkEntry.queries("wnd_session")(spark, sf001)
      .select("user_id", "session_start", "session_end")
      .as[(Long, Timestamp, Timestamp)].collect()
      .groupBy(_._1)
    sess.foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2.getTime)
      sorted.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) =>
          assert(s2.getTime >= e1.getTime,
            s"sessions overlap/violate gap: end=$e1 next_start=$s2")
        case _ =>
      }
    }
  }

  test("approx percentile: rank error within the GK sketch accuracy bound") {
    val vals = Tables.lineitem(spark, sf001)
      .select(col("l_extendedprice")).as[Double].collect().sorted
    val n = vals.length
    for (q <- Seq(0.5, 0.99)) {
      val approx = Tables.lineitem(spark, sf001)
        .agg(percentile_approx(col("l_extendedprice"), lit(q), lit(1000)))
        .head().getDouble(0)
      val rank = vals.count(_ <= approx)
      // GK guarantee: |rank(approx) - q*n| <= n / accuracy
      assert(math.abs(rank - q * n) <= n / 1000.0 + 1,
        s"q=$q approx=$approx rank=$rank of $n exceeds the accuracy bound")
    }
  }

  test("approx distinct: estimate within the configured rsd envelope of exact") {
    val approx = graft.queries.Relational.queries("agg_approx_distinct")(spark, sf001)
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      // HLL++ at rsd 0.01: 5-sigma envelope (floor of 2 absolute for
      // tiny cardinalities, which the sparse encoding counts exactly)
      assert(math.abs(approx(k) - ex) <= math.max(2.0, 0.05 * ex),
        s"$k: approx=${approx(k)} exact=$ex outside the rsd envelope")
    }
  }

  test("CEP run-then-final: adjacency, WITHIN bound, skip-past semantics") {
    import java.sql.Timestamp
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val ev = Seq(
      // user 1: click click purchase -> match with 2 clicks
      (1L, ts(0), 1L, "click"), (1L, ts(1), 2L, "click"), (1L, ts(2), 3L, "purchase"),
      // then view purchase -> NO match (view breaks the run)
      (1L, ts(3), 4L, "view"), (1L, ts(4), 5L, "purchase"),
      // user 2: click 30 min before purchase -> outside WITHIN, no match
      (2L, ts(0), 6L, "click"), (2L, ts(30), 7L, "purchase"),
      // user 3: old click, view, two fresh clicks, purchase -> 2 clicks
      (3L, ts(0), 8L, "click"), (3L, ts(1), 9L, "view"),
      (3L, ts(5), 10L, "click"), (3L, ts(6), 11L, "click"), (3L, ts(7), 12L, "purchase"),
      // user 4: run longer than WITHIN: only the in-window suffix counts
      (4L, ts(0), 13L, "click"), (4L, ts(8), 14L, "click"), (4L, ts(15), 15L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.api.Cep.runThenFinal(ev, "user_id", "ts", "event_id",
        "event_type", "click", "purchase", expr("INTERVAL 10 MINUTES"))
      .orderBy("user_id", "final_id")
      .select(col("user_id"), col("final_id"), col("n_run"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 2L), (3L, 12L, 2L), (4L, 15L, 1L)),
      s"unexpected CEP matches: $out")
  }

  test("mode/median: median brackets the data, mode is the true argmax") {
    val out = graft.queries.Relational.queries("agg_mode_median")(spark, sf001)
      .collect()
    val docs = Tables.documents(spark, sf001)
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      val chars = docs.filter(col("lang") === lang)
        .select(col("n_chars")).as[Long].collect().sorted
      val med = r.getAs[Double]("med_chars")
      assert(med >= chars.head && med <= chars.last)
      // interpolating median: midpoint of the two central order stats
      val exp = if (chars.length % 2 == 1) chars(chars.length / 2).toDouble
        else (chars(chars.length / 2 - 1) + chars(chars.length / 2)) / 2.0
      assert(med == exp, s"$lang median $med != $exp")
      val counts = docs.filter(col("lang") === lang).groupBy("source").count()
        .as[(String, Long)].collect()
      val maxN = counts.map(_._2).max
      val expMode = counts.filter(_._2 == maxN).map(_._1).min
      assert(r.getAs[String]("mode_source") == expMode)
      assert(r.getAs[Long]("mode_n") == maxN)
    }
  }

  test("recursive_chain equals the non-recursive islands formulation") {
    val rec = graft.queries.EventTime.queries("recursive_chain")(spark, sf001)
      .as[(Long, Int, java.sql.Timestamp)].collect().toSet
    // islands: break before any gap > 10 min; the chain from the first
    // event is the first island's row count / max ts
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val isl = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk", when(col("prev_ts").isNull ||
        col("ts") > col("prev_ts") + expr("INTERVAL 10 MINUTES"), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("grp") === 1)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("int").as("chain_len"), max("ts").as("chain_end"))
      .as[(Long, Int, java.sql.Timestamp)].collect().toSet
    assert(rec == isl, s"recursive=${rec.size} vs islands=${isl.size} users")
  }

  test("join_lateral equals the window top-k formulation") {
    val lat = graft.queries.Relational.queries("join_lateral")(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wnd = Tables.orders(spark, sf001)
      .join(Tables.customer(spark, sf001).filter(col("c_custkey") <= 100),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)].collect().toSet
    assert(lat == wnd, s"lateral=${lat.size} vs window=${wnd.size} rows")
  }

  test("scalar_subquery equals the explicit aggregate-join formulation") {
    val sub = graft.queries.Relational.queries("scalar_subquery")(spark, sf001)
      .as[(Long, String, Double)].collect().toSet
    val segAgg = Tables.orders(spark, sf001)
      .join(Tables.customer(spark, sf001), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(Det.dec2(col("o_totalprice"))).as("ssum"))
    val agg = Tables.orders(spark, sf001)
      .join(Tables.customer(spark, sf001), col("o_custkey") === col("c_custkey"))
      .join(segAgg, col("c_mktsegment") === col("seg"))
      .filter(Det.dec2(col("o_totalprice")) * col("cnt") > col("ssum"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
      .as[(Long, String, Double)].collect().toSet
    assert(sub == agg, s"subquery=${sub.size} vs join=${agg.size} rows")
  }

  test("DataFrame and spark.sql entry points converge (one engine)") {
    Tables.lineitem(spark, sf001).createOrReplaceTempView("li")
    Tables.events(spark, sf001).createOrReplaceTempView("ev")
    val sqlAgg = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM li GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect().toSeq
    val dfAgg = Tables.lineitem(spark, sf001)
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus").collect().toSeq
    assert(sqlAgg == dfAgg)
    val sqlWnd = spark.sql(
      """SELECT window.start AS ws, event_type, count(*) AS n
        |FROM ev GROUP BY window(ts, '1 hour'), event_type
        |ORDER BY ws, event_type""".stripMargin).count()
    assert(sqlWnd == SparkEntry.queries("wnd_tumbling")(spark, sf001).count())
  }

  test("set operations obey set algebra on the key domain") {
    val u = SparkEntry.queries("set_union")(spark, sf001).as[Long].collect().toSet
    val i = SparkEntry.queries("set_intersect")(spark, sf001).as[Long].collect().toSet
    val e = SparkEntry.queries("set_except")(spark, sf001).as[Long].collect().toSet
    assert(i.subsetOf(u) && e.subsetOf(u) && (i & e).isEmpty)
  }

  test("log filter denies only the accumulator-race message, not other scheduler errors") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.impl.Log4jLogEvent
    import org.apache.logging.log4j.message.SimpleMessage
    def ev(msg: String) = Log4jLogEvent.newBuilder()
      .setLoggerName("org.apache.spark.scheduler.DAGScheduler")
      .setLevel(Level.ERROR).setMessage(new SimpleMessage(msg)).build()
    val f = GraftSession.AccumulatorRaceFilter
    assert(f.filter(ev("Failed to update accumulator 42 (internal.metrics.x) " +
      "for task 7")) == Result.DENY, "the benign race message must be denied")
    assert(f.filter(ev("Job 3 failed: stage 5.0 aborted due to executor loss"))
      == Result.NEUTRAL, "real scheduler errors must pass through")
    assert(f.filter(ev("ShuffleMapStage 9 has failed the maximum allowable " +
      "number of times")) == Result.NEUTRAL)
  }

  test("bench timing: a key that throws is a failure, never a time") {
    assert(Bench.timeKey(spark, sf001, (s, _) => s.range(10).toDF()).exists(_ >= 0.0))
    // thrown while building the frame...
    assert(Bench.timeKey(spark, sf001,
      (_, _) => throw new IllegalStateException("build failed")).isEmpty)
    // ...and thrown by the counted action itself
    assert(Bench.timeKey(spark, sf001,
      (s, _) => s.range(3).toDF().filter(assert_true(col("id") < 0).isNull)).isEmpty)
  }

  test("bench isolated-pass machinery: committed-value parse and trigger rule") {
    // The adjudication path only fires on a contended host, so a clean
    // local run never exercises it — pin both halves here (VERDICT r7
    // item 1: the artifact itself must settle sweep-window contention).
    val detail = """{"metric":"total","value":9.9,"unit":"sec","n_queries":2,""" +
      """"baseline":{"agg_hash":0.300},"isolated":{},""" +
      """"queries":{"agg_hash":0.302,"dedup_containment":3.524},""" +
      """"spread":{"agg_hash":0.100,"dedup_containment":0.200},"sf":"x"}"""
    val parsed = Bench.parseQueriesBlock(detail)
    assert(parsed == Map("agg_hash" -> 0.302, "dedup_containment" -> 3.524),
      s"queries block parse wrong (must not read baseline/spread blocks): $parsed")
    assert(Bench.parseQueriesBlock("""{"no":"queries"}""").isEmpty)
    // trigger: >1.4x committed AND (>0.2 s absolute OR trials disagree),
    // never without a reference
    assert(Bench.isolationNeeded(10.6, Some(3.524)), "the r7 dispute case must trigger")
    assert(!Bench.isolationNeeded(4.0, Some(3.524)), "in-band values must not")
    assert(!Bench.isolationNeeded(0.25, Some(0.1)),
      "micro-key 2.5x jitter with AGREEING trials under the absolute floor must not")
    assert(!Bench.isolationNeeded(10.0, None), "new keys have no reference")
    // the r14 contended-sweep movers must trigger at the 1.4x band
    assert(Bench.isolationNeeded(1.316, Some(0.835)), "r14 dedup_simhash x1.58")
    assert(Bench.isolationNeeded(0.865, Some(0.592)), "r14 event_cep x1.46")
    // r15 cheap-key blind spot (VERDICT r15 item 3): a 1.5x drift under
    // the 0.2 s floor is adjudicated when the post-retry trials still
    // disagree (spread > 0.3 — the contention signature)...
    assert(Bench.isolationNeeded(0.52, Some(0.345), postRetrySpread = 0.45),
      "an agg_hash-class contended drift must be adjudicated")
    // ...but NOT when the trials agree (clean-run jitter: the min just
    // landed high; a re-measure would learn nothing)
    assert(!Bench.isolationNeeded(0.52, Some(0.345), postRetrySpread = 0.1),
      "an agreeing cheap-key drift under the floor stays out")
    // the spread waiver never overrides the 1.4x ratio gate
    assert(!Bench.isolationNeeded(0.40, Some(0.345), postRetrySpread = 0.5),
      "in-band min with noisy trials is spreadForcesIsolation's job, not this trigger's")
    // spread-forced trigger (VERDICT r9, tightened r15): post-retry
    // spread > 0.6 forces an isolated trial regardless of the
    // committed comparison
    assert(Bench.spreadForcesIsolation(1.50), "the r9 q_composite_corpus case")
    assert(Bench.spreadForcesIsolation(0.61))
    assert(!Bench.spreadForcesIsolation(0.6))
    assert(!Bench.spreadForcesIsolation(0.5))
  }
}
