package graft

import graft.api._

/** MATCH_RECOGNIZE front door: render/parse round-trips over every
  * declared pattern, hand-written Flink-style text, executed equality
  * against the DSL-built plans, and the documented rejections.
  */
class CepSqlSpec extends SparkSuite {

  private val pats = graft.queries.Analytic.CepPatterns
  private val symbolic = Seq(
    "quant" -> pats.quant, "optional" -> pats.optional,
    "tonext" -> pats.tonext, "relaxed" -> pats.relaxed,
    "negated" -> pats.negated, "reluctant" -> pats.reluctant,
    "skipFirst" -> pats.skipFirst, "skipLast" -> pats.skipLast,
    "group" -> pats.group, "iter" -> pats.iter)
  private val cond = Seq(
    "where" -> pats.where, "untilPat" -> pats.untilPat,
    "whereMeasures" -> pats.whereMeasures)

  test("render -> parse round-trips every declared symbolic pattern") {
    for ((name, p) <- symbolic) {
      val txt = MatchRecognize.render(p)
      val spec = MatchRecognize.parse(txt)
      assert(spec.toSymbolic === Some(("event_type", p)), s"$name:\n$txt")
      assert(spec.partitionBy === Seq("user_id") && spec.orderBy === Seq("ts", "event_id"))
    }
  }

  test("render -> parse round-trips every declared predicate pattern") {
    for ((name, p) <- cond) {
      val txt = MatchRecognize.render(p)
      val spec = MatchRecognize.parse(txt)
      assert(spec.toSymbolic.isEmpty, s"$name resolved symbolic:\n$txt")
      val rt = spec.toCond
      // untilSql folds into the effective predicate on render, so the
      // comparison surface is the compiled derivation + step structure
      assert(rt.caseSql === p.caseSql, s"$name caseSql:\n$txt")
      assert(rt.symbolic === p.symbolic, s"$name symbolic:\n$txt")
    }
  }

  test("followedByAny has no SQL surface (render rejects)") {
    val e = intercept[IllegalArgumentException](MatchRecognize.render(pats.any))
    assert(e.getMessage.contains("followedByAny"))
  }

  test("parsed text executes identically to the DSL-built plan") {
    val ev = Tables.events(spark, sf001)
    for ((name, p) <- Seq("quant" -> pats.quant, "tonext" -> pats.tonext,
                          "relaxed" -> pats.relaxed)) {
      val viaSql = MatchRecognize.run(ev, MatchRecognize.render(p))
        .orderBy("user_id", "start_id").collect()
      val viaDsl = Cep.compile(ev, "user_id", "ts", "event_id", "event_type", p)
        .orderBy("user_id", "start_id").collect()
      assert(viaSql.toSeq === viaDsl.toSeq, name)
    }
    val cp = pats.where
    val viaSql = MatchRecognize.run(ev, MatchRecognize.render(cp))
      .orderBy("user_id", "start_id").collect()
    val viaDsl = Cep.compileWhere(ev, "user_id", "ts", "event_id", cp)
      .orderBy("user_id", "start_id").collect()
    assert(viaSql.toSeq === viaDsl.toSeq, "where")
  }

  test("oracleFor generates the DSL pattern's oracle from the text") {
    assert(MatchRecognize.oracleFor(MatchRecognize.render(pats.quant)) ===
      Cep.oracleSql(pats.quant))
    assert(MatchRecognize.oracleFor(MatchRecognize.render(pats.where)) ===
      Cep.oracleSqlWhere(pats.where))
  }

  test("hand-written Flink-style text: var prefixes, units, measures") {
    val txt =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(A.value) AS step_sums
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A{1,2} B+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE A AS A.event_type = 'view' AND A.value >= 50,
        |         B AS B.event_type = 'purchase'
        |)""".stripMargin
    val spec = MatchRecognize.parse(txt)
    assert(spec.fromTable === Some("events"))
    assert(spec.withinMinutes === Some(120))
    assert(spec.measuresValCol === Some("value"))
    assert(spec.strict, "no gap variables -> strict contiguity")
    val cp = spec.toCond
    assert(cp.steps.map(_.predicateSql) ===
      Seq("event_type = 'view' AND value >= 50", "event_type = 'purchase'"))
    assert(cp.steps.map(s => (s.minRep, s.maxRep)) ===
      Seq((1, Some(2)), (1, None)))
    assert(cp.skip === SkipToNextRow)
  }

  test("gap variables mark relaxed contiguity; WITHIN DAY converts") {
    val txt =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  PATTERN (s+ g1* c{1,2} g2* p+)
        |  WITHIN INTERVAL '1' DAY
        |  DEFINE s AS event_type = 'signup',
        |         c AS event_type = 'click',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    val spec = MatchRecognize.parse(txt)
    assert(!spec.strict)
    assert(spec.withinMinutes === Some(1440))
    val Some((sym, p)) = spec.toSymbolic
    assert(sym === "event_type")
    assert(p.steps === Seq(CepStep("signup", 1, None),
      CepStep("click", 1, Some(2)), CepStep("purchase", 1, None)))
    // reluctant quantifiers are strict-only in the model: the parser
    // surfaces the CepPattern require as-is on `p+?` with gaps
    val e = intercept[IllegalArgumentException](
      MatchRecognize.parse(txt.replace("p+", "p+?")).toSymbolic)
    assert(e.getMessage.contains("reluctant"))
  }

  test("documented rejections") {
    def body(pattern: String, defines: String = "a AS event_type = 'view', b AS event_type = 'click'") =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  PATTERN ($pattern)
         |  DEFINE $defines
         |)""".stripMargin
    // undefined variable without the gap form
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("a x+ b"))).getMessage.contains("undefined"))
    // mixed contiguity
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("a g* b c",
        "a AS event_type = 'view', b AS event_type = 'click', c AS event_type = 'purchase'")))
      .getMessage.contains("mixed contiguity"))
    // leading gap
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("g* a g2* b"))).getMessage.contains("lead or trail"))
    // skip-to unknown variable
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  AFTER MATCH SKIP TO FIRST nosuch
         |  PATTERN (a b)
         |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
         |)""".stripMargin)).getMessage.contains("unknown variable"))
    // duplicate DEFINE for one variable
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("a b",
        "a AS event_type = 'view', b AS event_type = 'click', a AS event_type = 'x'")))
      .getMessage.contains("more than once"))
    // DEFINEd but absent from PATTERN (typo guard)
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("a b",
        "a AS event_type = 'view', b AS event_type = 'click', zz AS event_type = 'x'")))
      .getMessage.contains("not in PATTERN"))
    // a MEASURES clause beyond the compiled `SUM(col) AS step_sums`
    // form is NOT the compiled route (measuresValCol empty) — it
    // resolves on the general route instead
    val avgSpec = MatchRecognize.parse(
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES AVG(value) AS m
         |  PATTERN (a b)
         |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
         |)""".stripMargin)
    assert(avgSpec.measuresValCol.isEmpty)
    assert(avgSpec.resolveMeasures ===
      Seq(MrAggMeasure("AVG", None, Some("value"), None, "m")))
    // an arbitrary measure EXPRESSION rejects at resolution with the
    // supported grammar spelled out
    def meas(m: String) = MatchRecognize.parse(
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES $m
         |  PATTERN (a b)
         |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
         |)""".stripMargin).resolveMeasures
    assert(intercept[IllegalArgumentException](meas("SUM(value) * 2 AS m"))
      .getMessage.contains("unsupported MEASURES entry"))
    // scope variable must be a DEFINEd pattern step
    assert(intercept[IllegalArgumentException](meas("SUM(zz.value) AS m"))
      .getMessage.contains("not a defined pattern step"))
    // `*` only under COUNT
    assert(intercept[IllegalArgumentException](meas("SUM(*) AS m"))
      .getMessage.contains("only COUNT takes *"))
    // a measure referencing a column the input does not HAVE rejects
    // loudly (the matcher's value projection substitutes 0.0 when the
    // input lacks `value` — silently aggregating it would be wrong)
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(Tables.events(spark, sf001).drop("value"),
        s"""SELECT * FROM events MATCH_RECOGNIZE (
           |  PARTITION BY user_id
           |  ORDER BY ts, event_id
           |  MEASURES SUM(value) AS s
           |  PATTERN (a b)
           |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
           |)""".stripMargin)).getMessage.contains("does not have"))
    // duplicate aliases reject at execution
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(Tables.events(spark, sf001),
        s"""SELECT * FROM events MATCH_RECOGNIZE (
           |  PARTITION BY user_id
           |  ORDER BY ts, event_id
           |  MEASURES COUNT(*) AS m, MAX(value) AS m
           |  PATTERN (a b)
           |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
           |)""".stripMargin)).getMessage.contains("duplicate MEASURES alias"))
  }

  test("ALL ROWS PER MATCH executes through the SQL route") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    val evDf = Tables.events(spark, sf001)
    // the C+ P WITHIN 10 min shape — must equal the fixed-shape DSL key
    val viaSql = MatchRecognize.run(evDf, graft.queries.Analytic.CepSql.allRows)
      .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
        col("event_id"), col("ts"), col("step"), col("value"))
      .orderBy("user_id", "purchase_id", "pos").collect()
    val ev = evDf.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[graft.streaming.Ev]
    val viaDsl = graft.streaming.StreamOps.cepPatternAllRows(ev,
        graft.streaming.StreamOps.clickRun(10), Seq("click", "purchase"),
        streaming = false)
      .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
        col("event_id"), col("ts"), col("step"), col("value"))
      .orderBy("user_id", "purchase_id", "pos").collect()
    assert(viaSql.nonEmpty)
    assert(viaSql.toSeq === viaDsl.toSeq)
    // a value-predicate DEFINE routes through the derived-symbol CASE:
    // step labels are the variable names, consumed rows satisfy them
    val predTxt =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (hot+ buy)
        |  WITHIN INTERVAL '1' DAY
        |  DEFINE hot AS event_type IN ('view', 'click') AND value >= 60,
        |         buy AS event_type = 'purchase'
        |)""".stripMargin
    val rows = MatchRecognize.run(evDf, predTxt)
      .orderBy("user_id", "start_id", "pos").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("step")).toSet === Set("hot", "buy"))
  }

  test("general MEASURES (ONE ROW): aggregates match the independent DSL matcher") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    val got = MatchRecognize.run(evDf, graft.queries.Analytic.CepSql.aggMeasures)
      .withColumn("click_sum", Det.round2(col("click_sum")))
      .orderBy("user_id", "end_id").collect()
    assert(got.nonEmpty)
    // independent check: StreamOps.cepMeasuresStream is a SEPARATE
    // sequential implementation of the same C+ P WITHIN 10 min measures
    val ev = evDf.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[graft.streaming.Ev]
    val dsl = graft.streaming.StreamOps.cepMeasuresStream(ev, withinMinutes = 10,
        streaming = false)
      .collect().map(m => (m.user_id, m.purchase_id) -> m).toMap
    assert(got.length === dsl.size)
    for (r <- got) {
      val m = dsl((r.getAs[Long]("user_id"), r.getAs[Long]("end_id")))
      assert(r.getAs[Long]("n_clicks") === m.n_clicks)
      assert(r.getAs[Long]("n_consumed") === m.n_clicks + 1)
      assert(r.getAs[Long]("n_rows") === m.n_clicks + 1)
      assert(r.getAs[Double]("click_sum") ===
        math.floor(m.sum_click * 100 + 0.5) / 100)
      assert(r.getAs[Double]("max_v") === math.max(m.max_click, m.purchase_value))
      assert(r.getAs[java.sql.Timestamp]("end_ts") === m.purchase_ts)
      // CLASSIFIER() in ONE ROW mode: the final row's variable — the
      // pattern ends in `purchase`, so it is constant here
      assert(r.getAs[String]("last_step") === "purchase")
    }
    // MATCH_NUMBER: consecutive 1..n per key in anchor order
    for ((_, rs) <- got.groupBy(_.getAs[Long]("user_id"))) {
      val byAnchor = rs.sortBy(r =>
        (r.getAs[java.sql.Timestamp]("start_ts").getTime, r.getAs[Long]("start_id")))
      assert(byAnchor.map(_.getAs[Long]("match_no")).toSeq ===
        (1L to rs.length).toSeq)
    }
  }

  test("general MEASURES (ONE ROW): RUNNING ≡ FINAL, and the join-back path") {
    import org.apache.spark.sql.functions.{col, round}
    val evDf = Tables.events(spark, sf001)
    def one(measures: String) = MatchRecognize.run(evDf,
      s"""SELECT * FROM events MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES $measures
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (click+ purchase)
         |  WITHIN INTERVAL '10' MINUTE
         |  DEFINE click AS event_type = 'click',
         |         purchase AS event_type = 'purchase'
         |)""".stripMargin)
    // SQL:2016: in ONE ROW PER MATCH the output row IS the final row,
    // so RUNNING and FINAL coincide — the modifier parses and is inert
    val plain = one("SUM(value) AS s").orderBy("user_id", "start_id").collect()
    val runMod = one("RUNNING SUM(value) AS s").orderBy("user_id", "start_id").collect()
    val finMod = one("FINAL SUM(value) AS s").orderBy("user_id", "start_id").collect()
    assert(plain.nonEmpty && plain.toSeq === runMod.toSeq && plain.toSeq === finMod.toSeq)
    // a measured column OUTSIDE the matcher's projection (value/ts/ord)
    // is recovered by the key-partitioned join-back: v2 = 2*value
    val df2 = evDf.withColumn("v2", col("value") * 2)
    val both = MatchRecognize.run(df2,
      s"""SELECT * FROM events MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES SUM(click.value) AS sv, SUM(click.v2) AS sv2,
         |           LAST(click.v2) AS lv2, LAST(click.value) AS lv
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (click+ purchase)
         |  WITHIN INTERVAL '10' MINUTE
         |  DEFINE click AS event_type = 'click',
         |         purchase AS event_type = 'purchase'
         |)""".stripMargin)
      .select(round(col("sv") * 2, 2).as("a"), round(col("sv2"), 2).as("b"),
        (col("lv") * 2).as("c"), col("lv2").as("d"))
      .collect()
    assert(both.nonEmpty)
    for (r <- both) {
      assert(r.getAs[Double]("a") === r.getAs[Double]("b"))
      assert(r.getAs[Double]("c") === r.getAs[Double]("d"))
    }
  }

  test("general MEASURES (ALL ROWS): RUNNING frames grow, FINAL spans the match") {
    val evDf = Tables.events(spark, sf001)
    val rows = MatchRecognize.run(evDf, graft.queries.Analytic.CepSql.runningMeasures)
      .orderBy("user_id", "start_id", "pos").collect()
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id")))) {
      val seq = rs.sortBy(_.getAs[Long]("pos"))
      // RUNNING COUNT(*) is exactly the consumption position
      assert(seq.map(_.getAs[Long]("run_rows")).toSeq === seq.map(_.getAs[Long]("pos")).toSeq)
      // FINAL COUNT(*) is the match size on EVERY row
      assert(seq.map(_.getAs[Long]("match_rows")).distinct.toSeq === Seq(seq.length.toLong))
      // RUNNING SUM reaches the match total at the last row
      val total = seq.map(_.getAs[Double]("value")).sum
      assert(math.abs(seq.last.getAs[Double]("run_sum") - total) < 1e-6)
      // FIRST(click.value) defaults to RUNNING and pos 1 is a click,
      // so it equals the first row's value everywhere
      assert(seq.map(_.getAs[Double]("first_click_v")).distinct.toSeq ===
        Seq(seq.head.getAs[Double]("value")))
      // FINAL MAX(value) is the match-wide max on every row
      assert(seq.map(_.getAs[Double]("match_max")).distinct.toSeq ===
        Seq(seq.map(_.getAs[Double]("value")).max))
      // CLASSIFIER() in ALL ROWS mode is the current row's variable
      assert(seq.map(_.getAs[String]("var_name")).toSeq ===
        seq.map(_.getAs[String]("step")).toSeq)
    }
  }

  test("general MEASURES: FIRST/LAST offsets navigate the scope's rows") {
    val evDf = Tables.events(spark, sf001)
    // ALL ROWS + offsets under RUNNING and FINAL, checked row-by-row
    // against the consumed-row projection itself
    val rows = MatchRecognize.run(evDf,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES RUNNING LAST(click.value, 1) AS run_penult,
        |           FINAL FIRST(click.value, 1) AS fin_second
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ g1* purchase)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin)
      .orderBy("user_id", "start_id", "pos").collect()
    assert(rows.nonEmpty)
    var sawPenult = false
    for ((_, rs) <- rows.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id")))) {
      val seq = rs.sortBy(_.getAs[Long]("pos"))
      val clickVals = seq.filter(_.getAs[String]("step") == "click")
        .map(_.getAs[Double]("value"))
      for ((r, i) <- seq.zipWithIndex) {
        // RUNNING LAST(click.value, 1): penultimate click consumed so far
        val soFar = seq.take(i + 1).filter(_.getAs[String]("step") == "click")
          .map(_.getAs[Double]("value"))
        val expPenult = if (soFar.size >= 2) Some(soFar(soFar.size - 2)) else None
        assert(Option(r.getAs[Any]("run_penult")).map(_.asInstanceOf[Double]) === expPenult)
        if (expPenult.nonEmpty) sawPenult = true
        // FINAL FIRST(click.value, 1): the match's 2nd click, everywhere
        val expSecond = clickVals.lift(1)
        assert(Option(r.getAs[Any]("fin_second")).map(_.asInstanceOf[Double]) === expSecond)
      }
    }
    assert(sawPenult, "fixture degenerate: no match with >=2 clicks")
    // offsets reject on non-navigating aggregates
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(value, 1) AS s
        |  PATTERN (a b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin).resolveMeasures)
      .getMessage.contains("only meaningful for FIRST/LAST"))
  }

  test("SUBSET union variables: scope = sum of member scopes") {
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    // 3-step funnel; `vc` unions the first two steps, so its aggregates
    // must equal the member aggregates combined — and differ from both
    val rows = MatchRecognize.run(evDf,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(vc.*) AS n_vc, SUM(vc.value) AS sum_vc,
        |           COUNT(v.*) AS n_v, SUM(v.value) AS sum_v,
        |           COUNT(c.*) AS n_c, SUM(c.value) AS sum_c
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (v g1* c g2* p)
        |  WITHIN INTERVAL '1440' MINUTE
        |  SUBSET vc = (v, c)
        |  DEFINE v AS event_type = 'view',
        |         c AS event_type = 'click',
        |         p AS event_type = 'purchase'
        |)""".stripMargin).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_vc") === r.getAs[Long]("n_v") + r.getAs[Long]("n_c"))
      assert(math.abs(r.getAs[Double]("sum_vc") -
        (r.getAs[Double]("sum_v") + r.getAs[Double]("sum_c"))) < 1e-6)
    }
    // SUBSET accepted BEFORE WITHIN too (the SQL:2016 position)
    val spec = MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  PATTERN (a b)
        |  SUBSET u = (a, b)
        |  WITHIN INTERVAL '60' MINUTE
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin)
    assert(spec.subsets === Seq(("u", Seq("a", "b"))))
    assert(spec.scopeMembers("u") === Seq("a", "b"))
    assert(spec.scopeMembers("a") === Seq("a"))
    // rejections: unknown member / name collision / duplicate name
    def sub(s: String) = MatchRecognize.parse(
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  PATTERN (a b)
         |  SUBSET $s
         |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
         |)""".stripMargin)
    assert(intercept[IllegalArgumentException](sub("u = (a, zz)"))
      .getMessage.contains("not a defined pattern step"))
    assert(intercept[IllegalArgumentException](sub("a = (b)"))
      .getMessage.contains("collides with a pattern variable"))
    assert(intercept[IllegalArgumentException](sub("u = (a), u = (b)"))
      .getMessage.contains("more than once"))
    // a measure scoped to an unknown name still rejects with the
    // subset-aware message
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(w.value) AS s
        |  PATTERN (a b)
        |  SUBSET u = (a, b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin).resolveMeasures)
      .getMessage.contains("not a defined pattern step or SUBSET name"))
  }

  test("DEFINE navigation: FIRST routes to the iterative matcher (vs DSL)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    val viaSql = MatchRecognize.run(evDf, graft.queries.Analytic.CepSql.iterHigher)
      .orderBy("user_id", "start_id").collect()
    val ev = evDf.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[graft.streaming.Ev]
    val viaDsl = graft.streaming.StreamOps.cepPatternIterStream(ev,
        pats.iter, pats.iterConds, streaming = false)
      .toDF().orderBy("user_id", "start_id").collect()
    assert(viaSql.nonEmpty)
    assert(viaSql.toSeq === viaDsl.toSeq)
  }

  test("DEFINE navigation: PREV matches a brute-force partition scan") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    val got = MatchRecognize.run(evDf, graft.queries.Analytic.CepSql.prevRise)
      .orderBy("user_id", "start_id")
      .select("user_id", "start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val evs = evDf.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[graft.streaming.Ev].collect()
    def us(t: java.sql.Timestamp) =
      (t.getTime - t.getNanos / 1000000) * 1000L + t.getNanos / 1000
    val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, rows) =>
      val s = rows.sortBy(e => (us(e.ts), e.event_id))
      (1 until s.length - 1).flatMap { i =>
        val (pv, r, p) = (s(i - 1), s(i), s(i + 1))
        if (r.event_type == "click" && r.value > pv.value &&
            p.event_type == "purchase" && us(p.ts) <= us(r.ts) + 60L * 60000000L)
          Some((u, r.event_id, p.event_id))
        else None
      }
    }.sorted
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("property: navigation DEFINEs parse structurally (200 random)") {
    val rnd = new scala.util.Random(20260814L)
    val fns = Vector("PREV", "NEXT", "FIRST", "LAST")
    val rawOps = Vector("=", "<", ">", "<=", ">=", "!=", "<>")
    def canon(o: String) = if (o == "<>") "!=" else o
    def flip(o: String) = o match {
      case "<" => ">"; case ">" => "<"
      case "<=" => ">="; case ">=" => "<="; case other => other
    }
    for (i <- 0 until 200) {
      val fn = fns(rnd.nextInt(fns.size))
      val op = rawOps(rnd.nextInt(rawOps.size))
      val n = rnd.nextInt(3)
      val withN = rnd.nextBoolean()
      val navTxt = if (withN) s"$fn(a.value, $n)" else s"$fn(a.value)"
      val navFirst = rnd.nextBoolean()
      val left = if (rnd.nextBoolean()) "b.value" else "value"
      val conj = if (navFirst) s"$navTxt $op $left" else s"$left $op $navTxt"
      val withCf = rnd.nextBoolean()
      val pred =
        if (withCf) s"b.event_type = 'purchase' AND $conj" else conj
      val txt =
        s"""MATCH_RECOGNIZE (
           |  PARTITION BY user_id
           |  ORDER BY ts, event_id
           |  AFTER MATCH SKIP TO NEXT ROW
           |  PATTERN (a g1* b)
           |  WITHIN INTERVAL '500' MINUTE
           |  DEFINE a AS event_type = 'purchase', b AS $pred
           |)""".stripMargin
      val spec = MatchRecognize.parse(txt)
      val expN = if (withN) n
        else if (fn == "PREV" || fn == "NEXT") 1 else 0
      val expOp = if (navFirst) flip(canon(op)) else canon(op)
      assert(spec.navConds("b") ===
        Seq(MrNavCond("value", expOp, MrNav(fn, "a", "value", expN))),
        s"iteration $i:\n$txt")
      assert(spec.defines.toMap.apply("b") ===
        (if (withCf) "event_type = 'purchase'" else "TRUE"),
        s"iteration $i CF part:\n$txt")
      assert(spec.toSymbolic.isEmpty, s"iteration $i resolved symbolic")
    }
  }

  test("navigation rejections and guards") {
    def body(define: String, extra: String = "") =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id$extra
         |  PATTERN (a g1* b)
         |  DEFINE a AS event_type = 'view', b AS $define
         |)""".stripMargin
    // navigation to an undefined (gap) variable
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("value > FIRST(g1.value)")))
      .getMessage.contains("not a defined pattern step"))
    // nav nested outside the supported conjunct grammar
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("abs(FIRST(a.value)) > 1")))
      .getMessage.contains("navigation conjunct grammar"))
    // no generated oracle for nav specs
    assert(intercept[IllegalArgumentException](
      MatchRecognize.oracleFor(body("value > LAST(a.value)")))
      .getMessage.contains("no generated oracle"))
    // nav + the compiled step_sums MEASURES shape is rejected (its
    // per-step semantics don't exist on the iterative route); nav +
    // GENERAL measures runs (covered in the composition test below)
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(Tables.events(spark, sf001),
        body("value > LAST(a.value)",
          "\n  MEASURES SUM(value) AS step_sums")))
      .getMessage.contains("compiled PER-STEP summary"))
    // a top-level OR in a nav-bearing DEFINE would silently reassociate
    // SQL precedence under the AND-conjunct split — loud rejection
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(
        body("value > 1 OR value > 2 AND value > PREV(b.value)")))
      .getMessage.contains("top-level OR"))
    // ...but an OR inside a parenthesized nav-free conjunct is fine
    val orOk = MatchRecognize.parse(
      body("(value > 1 OR value > 2) AND value > PREV(b.value)"))
    assert(orOk.navConds("b").size == 1)
    assert(orOk.defMap("b").contains("OR"))
  }

  test("MEASURES and ALL ROWS compose with DEFINE navigation (iterative route)") {
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    val CepSql = graft.queries.Analytic.CepSql
    // the ONE-ROW summary route is the already-pinned reference: same
    // matcher, so the match sets must coincide exactly
    val matches = MatchRecognize.run(evDf, CepSql.iterHigher)
      .select("user_id", "start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matches.nonEmpty)
    // values by (user_id, event_id) for the closed-form expectations
    val vals = evDf.select(col("user_id"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val agg = MatchRecognize.run(evDf, CepSql.iterAggMeasures).collect()
    assert(agg.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
      r.getAs[Long]("end_id"))).toSet === matches)
    for (r <- agg) {
      val (u, sid, eid) = (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"))
      val (av, bv) = (vals((u, sid)), vals((u, eid)))
      assert(r.getAs[Long]("n_consumed") === 2L)
      assert(r.getAs[Long]("n_rows") === 2L)
      assert(r.getAs[Double]("total_v") === av + bv)
      assert(r.getAs[Double]("b_value") === bv)
      assert(r.getAs[Double]("max_v") === math.max(av, bv))
      assert(r.getAs[String]("last_step") === "b")
    }
    // ALL ROWS: exactly the two consumed rows per match, pos 1/2, the
    // anchor labeled a and the successor b, values from the input
    val ar = MatchRecognize.run(evDf, CepSql.iterAllRows).collect()
    assert(ar.length === 2 * matches.size)
    val byMatch = ar.groupBy(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("start_id"), r.getAs[Long]("end_id")))
    assert(byMatch.keySet === matches)
    for (((u, sid, eid), rows) <- byMatch) {
      val sorted = rows.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("pos")).toSeq === Seq(1L, 2L))
      assert(sorted.map(_.getAs[String]("step")).toSeq === Seq("a", "b"))
      assert(sorted.map(_.getAs[Long]("event_id")).toSeq === Seq(sid, eid))
      assert(sorted.map(_.getAs[Double]("value")).toSeq ===
        Seq(vals((u, sid)), vals((u, eid))))
    }
  }

  test("aggregate conditions in DEFINE match a brute-force reference") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20260815L)
    val syms = Vector("click", "click", "click", "purchase", "view")
    val rows = (for {
      u <- 0 until 40
      i <- 0 until (12 + rnd.nextInt(20))
    } yield (u.toLong,
        new java.sql.Timestamp(1700000000000L + u * 10000000L + i * 60000L),
        (u * 1000 + i).toLong, syms(rnd.nextInt(syms.size)),
        math.floor(rnd.nextDouble() * 12000) / 100.0)).toVector
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = MatchRecognize.run(df, graft.queries.Analytic.CepSql.defAgg)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"), r.getAs[Long]("n_rows"),
        r.getAs[String]("step_counts"))).toSet
    // reference: per key in (ts, event_id) order, per anchor p — greedy
    // run length L (clicks, every prefix sum <= 200, cap 4), then the
    // LARGEST c <= L whose next row is a purchase (backtracking)
    val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      val s = rs.sortBy(r => (r._2.getTime, r._3))
      s.indices.flatMap { p =>
        var l = 0
        var sum = 0.0
        while (l < 4 && p + l < s.size && s(p + l)._4 == "click" &&
               { sum += s(p + l)._5; sum <= 200 }) l += 1
        val bpos = (1 to l).reverse.find(c =>
          p + c < s.size && s(p + c)._4 == "purchase")
        bpos.map(c => (u, s(p)._3, s(p + c)._3, (c + 1).toLong, s"$c,1"))
      }
    }.toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("MEASURES expressions decompose to exactly the composed simple measures") {
    val ev = Tables.events(spark, sf001)
    val CepSql = graft.queries.Analytic.CepSql
    val got = MatchRecognize.run(ev, CepSql.exprMeasures)
      .orderBy("user_id", "start_id").collect()
    val simple = CepSql.exprMeasures
      .replace("LAST(click.value) - FIRST(click.value) AS climb",
        "LAST(click.value) AS lc")
      .replace("SUM(value) / COUNT(*) AS mean_v", "FIRST(click.value) AS fc")
      .replace("purchase.value AS p_v", "SUM(value) AS sv")
      .replace("MATCH_NUMBER() * 1000 + COUNT(click.*) AS tag",
        "COUNT(*) AS cnt, LAST(purchase.value) AS pv, " +
          "MATCH_NUMBER() AS mn, COUNT(click.*) AS nc")
    val base = MatchRecognize.run(ev, simple)
      .orderBy("user_id", "start_id").collect()
    assert(got.nonEmpty && got.length === base.length)
    for ((g, b) <- got.zip(base)) {
      assert(g.getAs[Double]("climb") ===
        b.getAs[Double]("lc") - b.getAs[Double]("fc"))
      assert(g.getAs[Double]("mean_v") ===
        b.getAs[Double]("sv") / b.getAs[Long]("cnt"))
      assert(g.getAs[Double]("p_v") === b.getAs[Double]("pv"))
      assert(g.getAs[Long]("tag") ===
        b.getAs[Long]("mn") * 1000 + b.getAs[Long]("nc"))
    }
    // ALL ROWS route: a RUNNING expression per consumed row
    val arTxt =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(value) - LAST(click.value) AS gap,
        |           SUM(value) AS rs,
        |           LAST(click.value) AS lc
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    val ar = MatchRecognize.run(ev, arTxt).collect()
    assert(ar.nonEmpty)
    for (r <- ar)
      assert(r.getAs[Double]("gap") ===
        r.getAs[Double]("rs") - r.getAs[Double]("lc"))
    // rejection: an UNKNOWN function call stays loud (it must not
    // silently decompose as a bare-column implicit LAST)
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(ev, CepSql.exprMeasures.replace(
        "SUM(value) / COUNT(*)", "my_udf(SUM(value))")))
      .getMessage.contains("unsupported function"))
    // rejection: a symbol outside the whitelist stays loud
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(ev, CepSql.exprMeasures.replace(
        "SUM(value) / COUNT(*)", "SUM(value) ; COUNT(*)")))
      .getMessage.contains("unsupported token"))
  }

  test("MEASURES expressions beyond arithmetic: CASE / comparison / concat / wrappers") {
    val ev = Tables.events(spark, sf001)
    val CepSql = graft.queries.Analytic.CepSql
    val got = MatchRecognize.run(ev, CepSql.exprCase)
      .orderBy("user_id", "start_id").collect()
    // composed from the simple calls on the same matches
    val simple = CepSql.exprCase
      .replace("CASE WHEN LAST(click.value) > FIRST(click.value) THEN 'up'",
        "LAST(click.value) AS lc,")
      .replace("WHEN LAST(click.value) < FIRST(click.value) THEN 'down'", "")
      .replace("ELSE 'flat' END AS trend,", "FIRST(click.value) AS fc,")
      .replace("CAST(COUNT(click.*) >= 2 AS INT) AS multi,",
        "COUNT(click.*) AS nclk,")
      .replace("CLASSIFIER() || '#' || CAST(COUNT(*) AS STRING) AS tag,",
        "CLASSIFIER() AS cls, COUNT(*) AS cnt,")
      .replace("FLOOR(COALESCE(SUM(click.value), 0) / COUNT(click.*) * 100 + 0.5) / 100 AS avg_click",
        "SUM(click.value) AS sclk")
    val base = MatchRecognize.run(ev, simple)
      .orderBy("user_id", "start_id").collect()
    assert(got.nonEmpty && got.length === base.length)
    for ((g, b) <- got.zip(base)) {
      val (lc, fc) = (b.getAs[Double]("lc"), b.getAs[Double]("fc"))
      assert(g.getAs[String]("trend") ===
        (if (lc > fc) "up" else if (lc < fc) "down" else "flat"))
      assert(g.getAs[Int]("multi") ===
        (if (b.getAs[Long]("nclk") >= 2) 1 else 0))
      assert(g.getAs[String]("tag") ===
        b.getAs[String]("cls") + "#" + b.getAs[Long]("cnt"))
      assert(g.getAs[Double]("avg_click") ===
        math.floor(b.getAs[Double]("sclk") / b.getAs[Long]("nclk")
          * 100 + 0.5) / 100)
    }
    // the same beyond-arithmetic measures run on the ALL ROWS route
    // (RUNNING frames) through the identical decomposition
    val arTxt = CepSql.exprCase
      .replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    val ar = MatchRecognize.run(ev, arTxt)
    assert(ar.columns.contains("trend") && ar.count() > 0)
    // IS NULL + boolean connectives + NULLIF survive the decomposer
    // and evaluate: a measure that is TRUE iff the match has no view
    // rows (it never does here — the pattern consumes clicks+purchase)
    val boolTxt = CepSql.exprCase.replace(
      "CAST(COUNT(click.*) >= 2 AS INT) AS multi,",
      "CAST(NULLIF(SUM(click.value), 0) IS NOT NULL " +
        "AND NOT (COUNT(*) = 0) AS INT) AS multi,")
    val bt = MatchRecognize.run(ev, boolTxt)
      .orderBy("user_id", "start_id").collect()
    assert(bt.nonEmpty && bt.forall(_.getAs[Int]("multi") === 1))
    // the ITERATIVE route (DEFINE navigation) and the ALTERNATION route
    // share the same decomposer + post-projection: a CASE measure over
    // the consumed aggregates evaluates identically to its closed form
    val iterCase = CepSql.iterAggMeasures.replace(
      "MAX(value) AS max_v,",
      "CASE WHEN MAX(value) > 2 * MIN(value) THEN 'jump' ELSE 'step' " +
        "END AS kind, MAX(value) AS max_v, MIN(value) AS min_v,")
    val ic = MatchRecognize.run(ev, iterCase).collect()
    assert(ic.nonEmpty)
    for (r <- ic)
      assert(r.getAs[String]("kind") ===
        (if (r.getAs[Double]("max_v") > 2 * r.getAs[Double]("min_v"))
          "jump" else "step"))
    val altCase = CepSql.altAggMeasures.replace(
      "CLASSIFIER() AS last_step",
      "CASE WHEN COUNT(c.*) > 0 THEN 'click' ELSE 'view' END AS branch, " +
        "COUNT(c.*) AS n_c2, CLASSIFIER() AS last_step")
    val ac = MatchRecognize.run(ev, altCase).collect()
    assert(ac.nonEmpty)
    for (r <- ac)
      assert(r.getAs[String]("branch") ===
        (if (r.getAs[Long]("n_c2") > 0) "click" else "view"))
  }

  test("property: MEASURES expression splicing is exact (300 random trees)") {
    // the decomposer must reproduce the original expression with each
    // call leaf replaced by its hidden alias — substituting the leaves'
    // canonical text back must recover the source exactly (bare var.col
    // leaves canonicalize to their implicit LAST form)
    val spec = MatchRecognize.parse(
      graft.queries.Analytic.CepSql.exprMeasures) // click+ purchase scopes
    val rnd = new scala.util.Random(20260819L)
    def renderCanonical(m: MrResolvedMeasure): String = m match {
      case MrMatchNumber(_) => "MATCH_NUMBER()"
      case MrClassifier(_) => "CLASSIFIER()"
      case MrAggMeasure(f, v, c, _, _, n) =>
        val scope = v.map(_ + ".").getOrElse("")
        val col = c.getOrElse("*")
        val off = if (n > 0) s", $n" else ""
        s"$f($scope$col$off)"
    }
    // (surface text, canonical text) call leaves
    def leaf(): (String, String) = rnd.nextInt(7) match {
      case 0 => ("MATCH_NUMBER()", "MATCH_NUMBER()")
      case 1 => ("COUNT(*)", "COUNT(*)")
      case 2 => ("COUNT(click.*)", "COUNT(click.*)")
      case 3 => ("SUM(value)", "SUM(value)")
      case 4 => ("MAX(click.value)", "MAX(click.value)")
      case 5 =>
        val t = s"FIRST(click.value, ${1 + rnd.nextInt(3)})"
        (t, t)
      case _ => ("purchase.value", "LAST(purchase.value)") // implicit LAST
    }
    def gen(depth: Int): (String, String) =
      if (depth <= 0 || rnd.nextInt(3) == 0) {
        rnd.nextInt(6) match {
          case 0 => val v = rnd.nextInt(100).toString; (v, v)
          case 1 => val s = s"'s${rnd.nextInt(10)}'"; (s, s) // string literal
          case _ => leaf()
        }
      } else rnd.nextInt(7) match {
        case 0 =>
          val (ls, lc) = gen(depth - 1)
          val (rs, rc) = gen(depth - 1)
          val op = Seq("+", "-", "*", "/")(rnd.nextInt(4))
          (s"$ls $op $rs", s"$lc $op $rc")
        case 1 => // comparison / boolean connective node
          val (ls, lc) = gen(depth - 1)
          val (rs, rc) = gen(depth - 1)
          val op = Seq(">", "<", ">=", "<=", "=", "<>", "!=")(rnd.nextInt(7))
          (s"$ls $op $rs", s"$lc $op $rc")
        case 2 => // CASE WHEN cond THEN a ELSE b END
          val (cs, cc) = gen(depth - 1)
          val (as_, ac) = gen(depth - 1)
          val (bs, bc) = gen(depth - 1)
          (s"CASE WHEN $cs THEN $as_ ELSE $bs END",
            s"CASE WHEN $cc THEN $ac ELSE $bc END")
        case 3 => // || concatenation
          val (ls, lc) = gen(depth - 1)
          val (rs, rc) = gen(depth - 1)
          (s"$ls || $rs", s"$lc || $rc")
        case 4 => // whitelisted scalar wrapper (1- and 2-arg shapes)
          val (s1, c1) = gen(depth - 1)
          rnd.nextInt(3) match {
            case 0 => (s"ABS($s1)", s"ABS($c1)")
            case 1 => (s"CAST($s1 AS STRING)", s"CAST($c1 AS STRING)")
            case _ =>
              val (s2, c2) = gen(depth - 1)
              (s"COALESCE($s1, $s2)", s"COALESCE($c1, $c2)")
          }
        case _ =>
          val (s1, c1) = gen(depth - 1)
          (s"($s1)", s"($c1)")
      }
    for (i <- 0 until 300) {
      val (surface, canonical) = gen(3)
      val sp2 = spec.copy(measures = Seq(MrMeasure(surface, "x")))
      val (hidden, projs) = MatchRecognize.resolveMeasuresWithExprs(sp2)
      projs match {
        case Seq(("x", None)) =>
          // the whole text was one simple call — canonical must agree
          assert(hidden.size == 1 &&
            renderCanonical(hidden.head) == canonical, s"#$i: $surface")
        case Seq(("x", Some(proj))) =>
          val byAlias = hidden.map(h => h.alias -> renderCanonical(h)).toMap
          val restored = "__mx\\d+".r.replaceAllIn(proj,
            m2 => java.util.regex.Matcher.quoteReplacement(byAlias(m2.matched)))
          assert(restored == canonical, s"#$i:\n $surface\n $proj\n $restored")
        case other => fail(s"#$i unexpected: $other")
      }
    }
  }

  test("PERMUTE expands to the n! orderings in declared-lexicographic order") {
    val CepSql = graft.queries.Analytic.CepSql
    val spec = MatchRecognize.parse(CepSql.permuteFunnel)
    assert(spec.permute && spec.hasAlternation)
    val branches = spec.expandBranches
    assert(branches.size === 6)
    assert(branches.map(_.elems.map(_.variable).mkString("")) ===
      Seq("cvp", "cpv", "vcp", "vpc", "pcv", "pvc"))
    assert(branches.forall(b => !b.permute && !b.hasAlternation))
    // engine result == brute force: per-ordering sequential matcher,
    // contested anchors to the earliest ordering
    val sp = spark
    import sp.implicits._
    val ev = Tables.events(spark, sf001)
    val got = MatchRecognize.run(ev, CepSql.permuteFunnel)
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    val raw = ev.select("user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val want = raw.flatMap { case (u, evs) =>
      val s = evs.sortBy(e => (e._2.getTime, e._3)).toIndexedSeq
      val perms = Seq("cvp", "cpv", "vcp", "vpc", "pcv", "pvc")
        .map(_.map { case 'c' => "click"; case 'v' => "view"; case _ => "purchase" })
      s.indices.flatMap { i =>
        perms.zipWithIndex.flatMap { case (ord, bi) =>
          if (i + 2 < s.size && (0 to 2).forall(k => s(i + k)._4 == ord(k)) &&
              s(i + 2)._2.getTime - s(i)._2.getTime <= 120L * 60 * 1000)
            Some((u, s(i)._3, s(i + 2)._3, bi))
          else None
        }.sortBy(_._4).headOption.map(m => (m._1, m._2, m._3))
      }
    }.toSet
    assert(want.nonEmpty && got === want)
    // rejections stay loud
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.permuteFunnel.replace("PERMUTE(c, v, p)", "PERMUTE(c, v, p, s, e)")))
      .getMessage.contains("capped at 4"))
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.permuteFunnel.replace("PERMUTE(c, v, p)", "PERMUTE(c, v) p")))
      .getMessage.contains("whole PATTERN"))
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.permuteFunnel.replace("PERMUTE(c, v, p)", "PERMUTE(c, v, q)")))
      .getMessage.contains("must be DEFINEd"))
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.permuteFunnel.replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW")))
      .getMessage.contains("SKIP TO NEXT ROW"))
  }

  test("PERMUTE × step_sums: branch-tagged per-step folds in the matched branch's order") {
    val sp = spark
    import sp.implicits._
    val CepSql = graft.queries.Analytic.CepSql
    def t(m: Int) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    // user 7 binds the c v p ordering (branch 0), user 8 binds v c p
    // (branch 2) — SAME row count, different consumption ORDER, so the
    // per-step sums must come out in each match's own branch order and
    // the branch tags must differ
    val tiny = Seq(
      (1L, t(0), 7L, "click", 1.0), (2L, t(1), 7L, "view", 2.0),
      (3L, t(2), 7L, "purchase", 4.0),
      (11L, t(0), 8L, "view", 3.0), (12L, t(1), 8L, "click", 5.0),
      (13L, t(2), 8L, "purchase", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = MatchRecognize.run(tiny, CepSql.permuteSums)
      .select("user_id", "start_id", "end_id", "n_rows", "step_counts",
        "step_sums", "branch")
      .as[(Long, Long, Long, Long, String, String, Int)].collect().toSet
    assert(got == Set(
      (7L, 1L, 3L, 3L, "1,1,1", "100,200,400", 0),
      (8L, 11L, 13L, 3L, "1,1,1", "300,500,700", 2)),
      s"branch-tagged permute step_sums wrong: $got")
    // the tags came from DIFFERENT branch orders of the same rows —
    // the cross-branch alignment that doesn't exist is disambiguated
    // per match by the tag
    assert(got.map(_._7).size == 2)
    // non-PERMUTE alternation step_sums WITHOUT the '$' anchor still
    // rejects loudly (no cross-branch alignment, no tag offered there)
    val altNoAnchor = CepSql.anchorEndAltSums.replace(" $)", ")")
    val e = intercept[IllegalArgumentException](
      MatchRecognize.run(tiny, altNoAnchor))
    assert(e.getMessage.contains("not supported without the '$' anchor"))
  }

  test("pattern exclusion {- X -}: output filter only, matching and measures unchanged") {
    val CepSql = graft.queries.Analytic.CepSql
    val ev = Tables.events(spark, sf001)
    // the excluded run's rows vanish; the remaining rows are EXACTLY
    // the allRows output's purchase rows with original pos/n numbering
    val full = MatchRecognize.run(ev, CepSql.allRows)
      .select("user_id", "end_id", "pos", "event_id", "step")
      .collect().toSet
    val excl = MatchRecognize.run(ev, CepSql.exclAllRows)
      .select("user_id", "end_id", "pos", "event_id", "step")
      .collect().toSet
    assert(excl.nonEmpty && excl === full.filter(_.getString(4) == "purchase"))
    // ONE ROW PER MATCH: exclusion is a documented no-op (the standard
    // makes it an ALL-ROWS output filter) — identical match summaries
    val oneRowExcl = CepSql.exclAllRows
      .replace("ALL ROWS PER MATCH", "ONE ROW PER MATCH")
    val oneRow = MatchRecognize.run(ev, oneRowExcl).collect().toSet
    val oneRowPlain = MatchRecognize.run(ev, CepSql.allRows
      .replace("ALL ROWS PER MATCH", "ONE ROW PER MATCH")).collect().toSet
    assert(oneRow === oneRowPlain)
    // MEASURES × ALL ROWS: RUNNING/FINAL frames still aggregate the
    // EXCLUDED rows (exclusion is an output filter, not a scope change)
    val exclAgg = CepSql.exclAllRows.replace("ALL ROWS PER MATCH",
      "MEASURES COUNT(*) AS m_rows, SUM(click.value) AS c_sum\n" +
        "  ALL ROWS PER MATCH")
    val ar = MatchRecognize.run(ev, exclAgg).collect()
    assert(ar.nonEmpty)
    for (r <- ar) {
      assert(r.getAs[String]("step") === "purchase")
      // FINAL COUNT(*) spans the whole match: pos == m_rows on the
      // last (purchase) row, and the click sum is present even though
      // every click row was filtered from the output
      assert(r.getAs[Long]("pos") === r.getAs[Long]("m_rows"))
      assert(!r.isNullAt(r.fieldIndex("c_sum")))
    }
    // value-predicate route (no symbolic form): step labels are
    // VARIABLE names and the filter maps through them
    val exclWhere = CepSql.exclAllRows.replace(
      "DEFINE click AS event_type = 'click',",
      "DEFINE click AS click.event_type = 'click' AND click.value >= 0,")
    val vw = MatchRecognize.run(ev, exclWhere)
      .select("step").distinct().collect().map(_.getString(0)).toSet
    assert(vw === Set("purchase"))
    // rejections stay loud
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.exclAllRows.replace("{- click+ -}", "{- click+")))
      .getMessage.contains("unterminated exclusion"))
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(
      CepSql.exclAllRows.replace("{- click+ -}", "{- -} click+")))
      .getMessage.contains("empty exclusion"))
  }

  test("iterative route rejects NULL value loudly (no silent 0.0 aggregation)") {
    val sp = spark
    import sp.implicits._
    val CepSql = graft.queries.Analytic.CepSql
    val withNull = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "purchase",
        Some(10.0)),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "purchase",
        None: Option[Double]))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val e = intercept[Exception](
      MatchRecognize.run(withNull, CepSql.iterHigher).collect())
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("NULL in the `value` column"), rootMsg(e).take(300))
  }

  test("every front-door route is total on EMPTY input (0 rows, no errors)") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val CepSql = graft.queries.Analytic.CepSql
    for (clause <- Seq(CepSql.funnel, CepSql.hotBuy, CepSql.measured,
        CepSql.allRows, CepSql.aggMeasures, CepSql.runningMeasures,
        CepSql.subsetMeasures, CepSql.iterHigher, CepSql.prevRise,
        CepSql.nextDrop, CepSql.defAgg, CepSql.defAggMeasures,
        CepSql.iterAggMeasures, CepSql.iterAllRows, CepSql.altFunnel,
        CepSql.altAggMeasures, CepSql.altAllRows))
      assert(MatchRecognize.run(empty, clause).count() === 0L, clause.take(80))
  }

  test("streamMeasures validates the streaming surface loudly") {
    val CepSql = graft.queries.Analytic.CepSql
    // relaxed contiguity: the sealed span is NOT the consumed set
    assert(intercept[IllegalArgumentException](
      MatchRecognize.streamMeasures(MatchRecognize.parse(CepSql.funnel)))
      .getMessage.contains("STRICT contiguity"))
    // a non-value measured column has no slot in the Ev model
    val badCol = CepSql.aggMeasures.replace("MAX(value) AS max_v",
      "MAX(props) AS max_v")
    assert(intercept[IllegalArgumentException](
      MatchRecognize.streamMeasures(MatchRecognize.parse(badCol)))
      .getMessage.contains("`value` column only"))
    // ALL ROWS has no streaming measures surface (per-match emission)
    val allRowsAgg = CepSql.aggMeasures.replace("ONE ROW PER MATCH",
      "ALL ROWS PER MATCH")
    assert(intercept[IllegalArgumentException](
      MatchRecognize.streamMeasures(MatchRecognize.parse(allRowsAgg)))
      .getMessage.contains("ONE ROW PER MATCH"))
    // an alias colliding with the matcher's own output columns
    val badAlias = CepSql.aggMeasures.replace("AS max_v", "AS start_id")
    assert(intercept[IllegalArgumentException](
      MatchRecognize.streamMeasures(MatchRecognize.parse(badAlias)))
      .getMessage.contains("collide"))
  }

  test("mixed navigation + aggregate conjuncts in one DEFINE match brute force") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20260816L)
    val syms = Vector("click", "click", "click", "purchase", "view")
    val rows = (for {
      u <- 0 until 30
      i <- 0 until (12 + rnd.nextInt(16))
    } yield (u.toLong,
        new java.sql.Timestamp(1700000000000L + u * 10000000L + i * 60000L),
        (u * 1000 + i).toLong, syms(rnd.nextInt(syms.size)),
        math.floor(rnd.nextDouble() * 9000) / 100.0)).toVector
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    // one DEFINE carrying a context-free conjunct, an AGGREGATE
    // conjunct (RUNNING sum cap), and a NAVIGATION conjunct (rising vs
    // the physical partition predecessor) — the three kinds compose
    // under the top-level AND
    val clause =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a{1,3} b)
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 150
        |              AND a.value > PREV(a.value),
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin
    val spec = MatchRecognize.parse(clause)
    assert(spec.navConds("a").size == 1 && spec.aggConds("a").size == 1)
    val got = MatchRecognize.run(df, clause)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"), r.getAs[Long]("n_rows"),
        r.getAs[String]("step_counts"))).toSet
    val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      val s = rs.sortBy(r => (r._2.getTime, r._3))
      s.indices.flatMap { p =>
        var l = 0
        var sum = 0.0
        def okA(i: Int): Boolean =
          s(i)._4 == "click" && i >= 1 && s(i)._5 > s(i - 1)._5
        while (l < 3 && p + l < s.size && okA(p + l) &&
               { sum += s(p + l)._5; sum <= 150 }) l += 1
        val bpos = (1 to l).reverse.find(c =>
          p + c < s.size && s(p + c)._4 == "purchase")
        bpos.map(c => (u, s(p)._3, s(p + c)._3, (c + 1).toLong, s"$c,1"))
      }
    }.toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("MAX/COUNT aggregate conditions match brute force; relaxed agg path is sound") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20260818L)
    val syms = Vector("click", "click", "click", "purchase", "view")
    val rows = (for {
      u <- 0 until 30
      i <- 0 until (12 + rnd.nextInt(16))
    } yield (u.toLong,
        new java.sql.Timestamp(1700000000000L + u * 10000000L + i * 60000L),
        (u * 1000 + i).toLong, syms(rnd.nextInt(syms.size)),
        math.floor(rnd.nextDouble() * 9000) / 100.0)).toVector
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    def clause(cond: String) =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN (a{1,3} b)
         |  DEFINE a AS a.event_type = 'click' AND $cond,
         |         b AS b.event_type = 'purchase'
         |)""".stripMargin
    def run(c: String) = MatchRecognize.run(df, clause(c)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"))).toSet
    def brute(okRun: (Vector[Double], Double) => Boolean) =
      rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        val s = rs.sortBy(r => (r._2.getTime, r._3))
        s.indices.flatMap { p =>
          var l = 0
          while (l < 3 && p + l < s.size && s(p + l)._4 == "click" &&
                 okRun(s.slice(p, p + l).map(_._5).toVector, s(p + l)._5)) l += 1
          (1 to l).reverse.find(c => p + c < s.size && s(p + c)._4 == "purchase")
            .map(c => (u, s(p)._3, s(p + c)._3))
        }
      }.toSet
    // MAX over the running scope (incl. the tentative current row)
    assert(run("MAX(a.value) <= 60") ===
      brute((pre, cur) => (pre :+ cur).max <= 60))
    // COUNT of the scope — equivalent to a tighter quantifier bound
    assert(run("COUNT(a.value) <= 2") ===
      brute((pre, cur) => pre.size + 1 <= 2))
    // AVG over the running scope
    assert(run("AVG(a.value) <= 45") ===
      brute((pre, cur) => ((pre :+ cur).sum / (pre.size + 1)) <= 45))
    // relaxed contiguity + aggregate condition: a trivially-true gate
    // must not change the match set of the same gap pattern without it
    val gapWith =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a g1* b)
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 99999999,
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin
    val gapWithout = gapWith.replace(" AND SUM(a.value) <= 99999999", "")
    val got = MatchRecognize.run(df, gapWith)
      .orderBy("user_id", "start_id").collect().map(_.toSeq).toSeq
    val want = MatchRecognize.run(df, gapWithout)
      .orderBy("user_id", "start_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("alternation composes with general MEASURES (branch-scoped counts)") {
    import org.apache.spark.sql.functions.col
    val evDf = Tables.events(spark, sf001)
    val CepSql = graft.queries.Analytic.CepSql
    // reference match set: the measure-free alternation key (already
    // pinned against the per-branch sequential matcher)
    val ref = MatchRecognize.run(evDf, CepSql.altFunnel)
      .select("user_id", "start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = MatchRecognize.run(evDf, CepSql.altAggMeasures).collect()
    assert(got.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
      r.getAs[Long]("end_id"))).toSet === ref)
    val types = evDf.select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    for (r <- got) {
      assert(r.getAs[Long]("n_consumed") === 3L)
      assert(r.getAs[String]("last_step") === "p")
      // exactly one of the alternatives consumed a row; branch c wins
      // whenever BOTH branches matched this anchor (leftmost preference
      // is pinned by the ref equality above — here pin the scoped count)
      val (nc, nv) = (r.getAs[Long]("n_c"), r.getAs[Long]("n_v"))
      assert(nc + nv === 1L, s"n_c=$nc n_v=$nv")
    }
    // the middle consumed row's type agrees with the winning branch:
    // n_c = 1 iff SOME click row lies strictly between anchor and end
    // consumed as the middle step — cross-checked via ALL ROWS
    val ar = MatchRecognize.run(evDf,
        CepSql.altAggMeasures.replace(
          """MEASURES COUNT(*) AS n_consumed,
            |           SUM(value) AS total_v,
            |           COUNT(c.*) AS n_c,
            |           COUNT(v.*) AS n_v,
            |           CLASSIFIER() AS last_step
            |  ONE ROW PER MATCH""".stripMargin,
          "ALL ROWS PER MATCH"))
      .collect()
    val midStep = ar.filter(_.getAs[Long]("pos") == 2L)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id")) ->
        r.getAs[String]("step")).toMap
    for (r <- got) {
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"))
      val expected = if (r.getAs[Long]("n_c") == 1L) "c" else "v"
      assert(midStep(k) === expected)
      // and the step label agrees with the underlying event type
      val ev = ar.find(x => x.getAs[Long]("pos") == 2L &&
        (x.getAs[Long]("user_id"), x.getAs[Long]("start_id")) == k).get
      val ty = types((ev.getAs[Long]("user_id"), ev.getAs[Long]("event_id")))
      assert(ty === (if (expected == "c") "click" else "view"))
    }
  }

  test("alternation (a | b): union semantics match the sequential reference") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20260814L)
    val syms = Vector("signup", "click", "view", "purchase", "other")
    val rows = (for {
      u <- 0 until 40
      i <- 0 until (10 + rnd.nextInt(25))
    } yield (u.toLong,
        new java.sql.Timestamp(1700000000000L + u * 10000000L + rnd.nextInt(5000000)),
        (u * 1000 + i).toLong, syms(rnd.nextInt(syms.size)))).toVector
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    val got = MatchRecognize.run(df, graft.queries.Analytic.CepSql.altFunnel)
      .orderBy("user_id", "start_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_id"),
        r.getAs[Long]("end_id"), r.getAs[Long]("n_rows"),
        r.getAs[String]("step_counts"))).toSeq
    // reference: per-branch sequential matcher + leftmost-branch dedup
    def branch(mid: String) = CepPattern(
      Seq(CepStep("signup"), CepStep(mid), CepStep("purchase")),
      Some(1440), SkipToNextRow, strict = false)
    def us(t: java.sql.Timestamp) =
      (t.getTime - t.getNanos / 1000000) * 1000L + t.getNanos / 1000
    val want = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      val s = rs.sortBy(r => (us(r._2), r._3))
      val evs = s.map(r => CepEvent(r._4, us(r._2), r._3)).toIndexedSeq
      Seq(branch("click"), branch("view")).zipWithIndex
        .flatMap { case (p, bi) => Cep.matchSequence(evs, p).map(m => (bi, m)) }
        .groupBy(_._2.startIdx).values.map(_.minBy(_._1)).map { case (_, m) =>
          (u, s(m.startIdx)._3, s(m.endIdx)._3, m.nRows.toLong,
            m.stepCounts.mkString(","))
        }
    }.sortBy(t => (t._1, t._2))
    assert(got.nonEmpty, "degenerate fixture: no alternation matches")
    assert(got === want)
  }

  test("alternation parse structure and rejections") {
    def body(pattern: String, skip: String = "AFTER MATCH SKIP TO NEXT ROW",
             defines: String = "s AS event_type = 'signup', c AS event_type = 'click', " +
               "v AS event_type = 'view', p AS event_type = 'purchase'") =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  $skip
         |  PATTERN ($pattern)
         |  DEFINE $defines
         |)""".stripMargin
    val spec = MatchRecognize.parse(body("s g1* (c | v) g2* p"))
    val alt = spec.elems.find(_.altVars.nonEmpty).get
    assert(alt.altVars === Seq("c", "v") && alt.variable === "c")
    assert(spec.expandBranches.size === 2)
    assert(spec.expandBranches.map(_.defines.map(_._1)) ===
      Seq(Seq("s", "c", "p"), Seq("s", "v", "p")))
    // PAST LAST ROW with alternation is rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("s g1* (c | v) g2* p", "")))
      .getMessage.contains("SKIP TO NEXT ROW"))
    // quantified group is rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("s g1* (c | v)+ g2* p")))
      .getMessage.contains("quantifier on an alternation group"))
    // single-variable group is redundant -> rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("s g1* (c) g2* p")))
      .getMessage.contains("alternation"))
    // an undefined alternative is rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("s g1* (c | zz) g2* p")))
      .getMessage.contains("must be DEFINEd"))
    // top-level sequence alternation still rejected with a pointer
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(body("s | c")))
      .getMessage.contains("GROUP form"))
  }

  test("statement-shape strictness: discarded context is rejected, not ignored") {
    val clause =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  PATTERN (a b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin
    // exact supported prefix parses
    assert(MatchRecognize.parse(s"SELECT * FROM events $clause")
      .fromTable === Some("events"))
    // a select list would be silently dropped -> rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(s"SELECT user_id, ts FROM events $clause"))
      .getMessage.contains("unsupported statement shape"))
    // an INSERT context would be silently dropped -> rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(s"INSERT INTO t SELECT * FROM events $clause"))
      .getMessage.contains("unsupported statement shape"))
    // trailing clauses would be silently dropped -> rejected
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(s"SELECT * FROM events $clause LIMIT 5"))
      .getMessage.contains("after the MATCH_RECOGNIZE clause"))
    assert(intercept[IllegalArgumentException](
      MatchRecognize.parse(s"SELECT * FROM events $clause WHERE user_id = 1"))
      .getMessage.contains("after the MATCH_RECOGNIZE clause"))
  }

  test("comments and keyword-shaped identifiers do not divert or mis-split") {
    // the keyword inside a comment is NOT a clause — stock parser keeps it
    assert(!MatchRecognize.hasClause(
      "SELECT 1 -- MATCH_RECOGNIZE (commented out)\nFROM t"))
    assert(!MatchRecognize.hasClause(
      "SELECT 1 /* MATCH_RECOGNIZE ( */ FROM t"))
    // a column merely NAMED match_recognize (no clause body) stays stock
    assert(!MatchRecognize.hasClause("SELECT match_recognize FROM t"))
    // comments INSIDE a real clause are skipped like whitespace
    val commented =
      """MATCH_RECOGNIZE ( -- the funnel
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id /* tiebreak required */
        |  PATTERN (a b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin
    assert(MatchRecognize.hasClause(commented))
    assert(MatchRecognize.parse(commented).toSymbolic.map(_._1) === Some("event_type"))
    // a measure referencing a column named `pattern` does not mis-split
    // the MEASURES scan (clause starts need their full keyword shape)
    val kwMeasure =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES value + pattern AS m
        |  ONE ROW PER MATCH
        |  PATTERN (a b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin
    assert(MatchRecognize.parse(kwMeasure).measures ===
      Seq(MrMeasure("value + pattern", "m")))
  }

  test("negated-step placement is a user-facing rejection, not an internal error") {
    val e = intercept[IllegalArgumentException](MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  PATTERN (a g* !b)
        |  DEFINE a AS event_type = 'view', b AS event_type = 'click'
        |)""".stripMargin))
    assert(e.getMessage.contains("between two positive steps"), e.getMessage)
  }

  test("anchors ^/$ filter matches to partition bounds; placement is validated") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, max, row_number, when}
    val CepSql = graft.queries.Analytic.CepSql
    val ev = Tables.events(spark, sf001)
    // independent reference: run the UNANCHORED clause, filter by the
    // partition's first/last row computed with a window (a different
    // formulation than applyAnchors' min_by join)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val bounds = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("rnd", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1, col("event_id"))).as("first_ord"),
        max(when(col("rnd") === 1, col("event_id"))).as("last_ord"))
    def rows(sql: String) = MatchRecognize.run(ev, sql)
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    val unanchoredStart = CepSql.anchorStart.replace("(^ ", "(")
    val refStart = MatchRecognize.run(ev, unanchoredStart)
      .join(bounds, "user_id")
      .filter(col("start_id") === col("first_ord"))
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows(CepSql.anchorStart) == refStart && refStart.nonEmpty)
    val unanchoredEnd = CepSql.anchorEnd.replace(" $)", ")")
    val refEnd = MatchRecognize.run(ev, unanchoredEnd)
      .join(bounds, "user_id")
      .filter(col("end_id") === col("last_ord"))
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows(CepSql.anchorEnd) == refEnd && refEnd.nonEmpty)
    // anchored is a strict subset on this fixture (anchors have teeth)
    assert(refStart.size < rows(unanchoredStart).size)
    // placement validation: ^ only first, $ only last
    val badCaret = CepSql.anchorStart.replace("(^ signup", "(signup ^")
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(badCaret))
      .getMessage.contains("FIRST element"))
    val badDollar = CepSql.anchorEnd.replace("purchase $)", "$ purchase)")
    assert(intercept[IllegalArgumentException](MatchRecognize.parse(badDollar))
      .getMessage.contains("LAST element"))
    // round-13 lift: reluctant + '$' on a strict ONE-ROW pattern now
    // PARSES (the anchored backtracking matcher route)
    val reluctantEnd = CepSql.anchorEnd.replace("view+", "view+?")
    assert(MatchRecognize.parse(reluctantEnd).anchorEnd)
    // round-14 lift: general MEASURES on the anchored reluctant route
    // now PARSE too (the anchored consumed-row projection feeds
    // runMeasures); round-15 lift: the compiled step_sums form parses
    // as well (stepSumsFromConsumed folds the anchored consumed rows)
    val reluctantEndMeasures = reluctantEnd.replace("ONE ROW PER MATCH",
      "MEASURES SUM(value) AS total_v\n  ONE ROW PER MATCH")
    assert(MatchRecognize.parse(reluctantEndMeasures).anchorEnd)
    val reluctantEndStepSums = reluctantEnd.replace("ONE ROW PER MATCH",
      "MEASURES SUM(value) AS step_sums\n  ONE ROW PER MATCH")
    assert(MatchRecognize.parse(reluctantEndStepSums).anchorEnd &&
      MatchRecognize.parse(reluctantEndStepSums).measuresValCol.nonEmpty)
    // round-14 lift: STRICT iterative + '$' now parses — the anchored
    // backtracking matcher threads the consumption context, general
    // quantifiers included (event_cep_sql_anchor_end_iter_quant pins
    // the semantics against an independent oracle)
    val iterEnd = CepSql.anchorEnd.replace(
      "view AS event_type = 'view'",
      "view AS event_type = 'view' AND view.value >= PREV(view.value)")
    assert(MatchRecognize.parse(iterEnd).anchorEnd)
    // round-15: RELAXED iterative with a general quantifier under '$'
    // now PARSES — the generalized pinned-final DFS explores per-step
    // (alignment, count) choices (the per-anchor speculative-ends
    // search earlier rounds rejected)
    val iterEndRelaxedQuant =
      CepSql.anchorEndIter.replace("a g1* b $", "a g1* b{1,2} $")
    assert(MatchRecognize.parse(iterEndRelaxedQuant).anchorEnd)
    // round-14 lift of the round-13 ADVICE finding: a RELUCTANT
    // quantifier inside an alternation under '$' now PARSES — the
    // branch routes through the anchored backtracking matcher instead
    // of the committed-end pin (the divergence is pinned on a tiny
    // fixture in the "'$' lift" test below)
    val reluctantAlt = CepSql.anchorEndAlt.replace("buy{1,2}", "buy{1,2}?")
    assert(MatchRecognize.parse(reluctantAlt).anchorEnd)
    // round-15 lift: RELAXED branches under '$' parse — {1,1} and
    // QUANTIFIED alike (the generalized pinned-final DFS per branch;
    // as of round 15 no '$' shape rejects)
    assert(MatchRecognize.parse(CepSql.anchorEndAltRelaxed).anchorEnd)
    val relaxedAltQuant = CepSql.anchorEndAlt.replace("buy{1,2} $", "g1* buy{1,2} $")
    assert(MatchRecognize.parse(relaxedAltQuant).anchorEnd)
    // '^' composes with everything ('^'-anchored match starts are the
    // anchor position on every route) — a reluctant quantifier parses
    assert(MatchRecognize.parse(CepSql.anchorStart
      .replace("g* purchase)", "g* purchase{1,2}?)")).anchorStart)
  }

  test("'$' lift: true anchored matching on reluctant / alternation / iterative routes") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, max, row_number, when}
    import org.apache.spark.sql.expressions.Window
    val CepSql = graft.queries.Analytic.CepSql
    val ev = Tables.events(spark, sf001)
    val bounds = ev
      .withColumn("rnd", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy("user_id")
      .agg(max(when(col("rnd") === 1, col("event_id"))).as("last_ord"))
    def rows(sql: String) = MatchRecognize.run(ev, sql)
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    // 1. reluctant: the end pin forces the strict segment decomposition
    // (greedy/reluctant preference has nothing left to choose), so the
    // anchored backtracker equals the GREEDY twin filtered to last-row
    // ends — an independent reference formulation
    val twin = CepSql.anchorEndReluctant
      .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      .replace(" $)", ")")
    val refRel = MatchRecognize.run(ev, twin).join(bounds, "user_id")
      .filter(col("end_id") === col("last_ord"))
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows(CepSql.anchorEndReluctant) == refRel && refRel.nonEmpty)
    // 2. the matcher-vs-filter divergence the round-12 rejection feared,
    // resolved the right way: on V P P the reluctant matcher commits to
    // the minimal end (row 2), so a post-filter finds NOTHING — the
    // anchored backtracker extends the purchase tail to the last row
    def t(m: Int) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    val tiny = Seq(
      (1L, t(0), 7L, "view", 1.0),
      (2L, t(1), 7L, "purchase", 1.0),
      (3L, t(2), 7L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val tinyGot = MatchRecognize.run(tiny, CepSql.anchorEndReluctant)
      .select("start_id", "end_id").as[(Long, Long)].collect().toSet
    assert(tinyGot == Set((1L, 3L)),
      s"anchored backtracker must extend to the last row: $tinyGot")
    val unanchored = CepSql.anchorEndReluctant.replace(" $)", ")")
    assert(MatchRecognize.run(tiny, unanchored)
        .filter(col("end_id") === 3L).count() == 0L,
      "the reluctant matcher's committed end is row 2 — a post-filter " +
        "would have dropped the anchored match (the round-12 rejection)")
    // round-14: the SAME divergence with a MEASURES column — the
    // anchored MEASURES route must aggregate the BACKTRACKED match's
    // rows (view 1, purchases 2+3), not the committed minimal end's
    val tinyM = MatchRecognize.run(tiny, CepSql.anchorEndMeasures)
      .select("start_id", "end_id", "n_views", "view_sum", "last_p_v")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(tinyM == Set((1L, 3L, 1L, 1.0, 1.0)),
      s"anchored MEASURES must project the extended match: $tinyM")
    val unanchoredM = CepSql.anchorEndMeasures.replace(" $)", ")")
    assert(MatchRecognize.run(tiny, unanchoredM)
        .filter(col("end_id") === 3L).count() == 0L,
      "the unanchored MEASURES route commits to the minimal end — " +
        "filtering it would drop the anchored match AND its measures")
    // and the measures equal the GREEDY twin's pinned measures on the
    // full fixture (the decomposition-forcing argument the oracle uses)
    val twinM = CepSql.anchorEndMeasures
      .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      .replace(" $)", ")")
    def mRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("start_id"), col("end_id"), col("n_views"),
        graft.Det.round2(col("view_sum")).as("view_sum"), col("last_p_v"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSet
    val refM = mRows(MatchRecognize.run(ev, twinM).join(bounds, "user_id")
      .filter(col("end_id") === col("last_ord")))
    val gotM = mRows(MatchRecognize.run(ev, CepSql.anchorEndMeasures))
    assert(gotM == refM && refM.nonEmpty,
      s"anchored reluctant measures (${gotM.size}) != pinned greedy twin (${refM.size})")
    // 3. iterative + '$': local reference — per user, the LAST row must
    // be a purchase; every earlier lower-value purchase within 24 h
    // anchors a match ending there
    val evl = ev.select("user_id", "event_id", "ts", "event_type", "value")
      .as[(Long, Long, java.sql.Timestamp, String, Double)].collect().toSeq
    val refIter = evl.groupBy(_._1).flatMap { case (u, rs) =>
      val sorted = rs.sortBy(r => (r._3.getTime, r._2))
      val last = sorted.last
      if (last._4 != "purchase") Seq.empty
      else sorted.init.filter(a => a._4 == "purchase" && last._5 > a._5 &&
          last._3.getTime - a._3.getTime <= 1440L * 60000L)
        .map(a => (u, a._2, last._2))
    }.toSet
    assert(rows(CepSql.anchorEndIter) == refIter && refIter.nonEmpty)
    // 4. alternation + '$': local strict reference — anchor row is a
    // view/click with value >= 10 (lo; hi is its subset, and both
    // branches end identically so leftmost preference cannot change the
    // triple), then purchases only through the partition's last row,
    // 1 or 2 of them
    val refAlt = evl.groupBy(_._1).flatMap { case (u, rs) =>
      val s = rs.sortBy(r => (r._3.getTime, r._2)).toIndexedSeq
      val lastIdx = s.size - 1
      s.indices.collect {
        case i if (s(i)._4 == "view" || s(i)._4 == "click") && s(i)._5 >= 10 &&
            lastIdx - i >= 1 && lastIdx - i <= 2 &&
            (i + 1 to lastIdx).forall(j => s(j)._4 == "purchase") =>
          (u, s(i)._2, s(lastIdx)._2)
      }
    }.toSet
    assert(rows(CepSql.anchorEndAlt) == refAlt && refAlt.nonEmpty)
    // 5. RELUCTANT INSIDE ALTERNATION + '$' (round-14 lift of the
    // round-13 ADVICE finding): on V P P the winning branch's
    // reluctant matcher commits to ONE buy (end row 2), so the
    // committed-end pin finds NOTHING — the per-branch anchored
    // backtracking matcher extends the buy tail to the last row
    val tinyAltGot = MatchRecognize.run(tiny, CepSql.anchorEndAltReluctant)
      .select("start_id", "end_id").as[(Long, Long)].collect().toSet
    assert(tinyAltGot == Set((1L, 3L)),
      s"anchored alternation branch must extend to the last row: $tinyAltGot")
    val unanchoredAlt = CepSql.anchorEndAltReluctant.replace(" $)", ")")
    assert(MatchRecognize.run(tiny, unanchoredAlt)
        .filter(col("end_id") === 3L).count() == 0L,
      "the reluctant branch's committed end is row 2 — the per-branch " +
        "pin would have dropped the anchored match (the ADVICE finding)")
    // the MEASURES twin aggregates the BACKTRACKED match's rows (both
    // purchases), not the committed minimal end's single row
    val tinyAltM = MatchRecognize.run(tiny, CepSql.anchorEndAltMeasures)
      .select("start_id", "end_id", "n_buys", "buy_sum")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(tinyAltM == Set((1L, 3L, 2L, 2.0)),
      s"anchored alternation MEASURES must cover the extended tail: $tinyAltM")
    // full fixture: equals the GREEDY twin pinned to last-row ends.
    // (view | click) branches cannot contest an anchor — a row is one
    // type — so pin-then-dedup equals this dedup-then-pin reference.
    val twinAlt = CepSql.anchorEndAltReluctant
      .replace("buy{1,2}?", "buy{1,2}").replace(" $)", ")")
    val refAltRel = MatchRecognize.run(ev, twinAlt).join(bounds, "user_id")
      .filter(col("end_id") === col("last_ord"))
      .select("user_id", "start_id", "end_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows(CepSql.anchorEndAltReluctant) == refAltRel && refAltRel.nonEmpty)
    // 6. STRICT ITERATIVE + QUANTIFIER + '$' (round-14 lift): the
    // anchored backtracker threads the running-sum context — user 9's
    // two-click anchor dies on the cap (250 > 200) with no anchored
    // fallback (count 1 puts b on a click), while user 8 anchors both
    // k=2 and k=1 within the cap
    val tinyIter = Seq(
      (1L, t(0), 9L, "click", 150.0),
      (2L, t(1), 9L, "click", 100.0),
      (3L, t(2), 9L, "purchase", 10.0),
      (4L, t(0), 8L, "click", 50.0),
      (5L, t(1), 8L, "click", 60.0),
      (6L, t(2), 8L, "purchase", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val gotIterQ = MatchRecognize.run(tinyIter, CepSql.anchorEndIterQuant)
      .select("user_id", "start_id", "end_id", "step_counts")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(gotIterQ == Set((9L, 2L, 3L, "1,1"),
        (8L, 4L, 6L, "2,1"), (8L, 5L, 6L, "1,1")),
      s"sum-capped anchored quantifier wrong: $gotIterQ")
    // 7. ALL ROWS on the lifted routes (round-14): on V P P the
    // anchored consumed-row projection emits the EXTENDED match's
    // three rows — the unanchored matcher has no match ending at row 3
    // to post-filter, so a filter route would emit nothing
    val tinyAR = MatchRecognize.run(tiny, CepSql.anchorEndReluctantAllRows)
      .select("pos", "event_id", "step")
      .as[(Long, Long, String)].collect().toSet
    assert(tinyAR == Set((1L, 1L, "view"), (2L, 2L, "purchase"),
        (3L, 3L, "purchase")),
      s"anchored reluctant ALL ROWS must emit the extended rows: $tinyAR")
    val tinyARAlt = MatchRecognize.run(tiny, CepSql.anchorEndAltAllRows)
      .select("pos", "event_id", "step")
      .as[(Long, Long, String)].collect().toSet
    assert(tinyARAlt == Set((1L, 1L, "view"), (2L, 2L, "buy"),
        (3L, 3L, "buy")),
      s"anchored alternation ALL ROWS wrong: $tinyARAlt")
    // 8. COMPILED step_sums on the lifted routes (round-15 — the last
    // rejected cell of the anchored matrix): on V P P the anchored
    // fold must report the EXTENDED match's per-step cents (view 100;
    // purchases 100+100=200) — the unanchored compiled-measures route
    // commits to the minimal end (row 2), so filtering its output to
    // the last row finds nothing
    val tinySums = MatchRecognize.run(tiny, CepSql.anchorEndSums)
      .select("start_id", "end_id", "n_rows", "step_counts", "step_sums")
      .as[(Long, Long, Long, String, String)].collect().toSet
    assert(tinySums == Set((1L, 3L, 3L, "1,2", "100,200")),
      s"anchored step_sums must fold the extended match: $tinySums")
    val unanchoredSums = CepSql.anchorEndSums.replace(" $)", ")")
    assert(MatchRecognize.run(tiny, unanchoredSums)
        .filter(col("end_id") === 3L).count() == 0L,
      "the unanchored compiled step_sums route commits to the minimal " +
        "end — a post-filter would drop the match and its sums")
    // full fixture: equals the GREEDY twin's compiled step_sums pinned
    // to last-row ends (forced decomposition — the oracle's argument)
    val twinSums = CepSql.anchorEndSums
      .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      .replace(" $)", ")")
    def sRows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "start_id", "end_id", "step_counts", "step_sums")
      .as[(Long, Long, Long, String, String)].collect().toSet
    val refSums = sRows(MatchRecognize.run(ev, twinSums).join(bounds, "user_id")
      .filter(col("end_id") === col("last_ord")))
    val gotSums = sRows(MatchRecognize.run(ev, CepSql.anchorEndSums))
    assert(gotSums == refSums && refSums.nonEmpty,
      s"anchored step_sums (${gotSums.size}) != pinned greedy twin (${refSums.size})")
    // alternation twin: the winning branch's extended tail is folded
    // element-wise (alt element scope {view, click} reads the view row)
    val tinyAltSums = MatchRecognize.run(tiny, CepSql.anchorEndAltSums)
      .select("start_id", "end_id", "step_counts", "step_sums")
      .as[(Long, Long, String, String)].collect().toSet
    assert(tinyAltSums == Set((1L, 3L, "1,2", "100,200")),
      s"anchored alternation step_sums wrong: $tinyAltSums")
    // iterative twin: the running-sum context still gates the anchors
    // (user 9's k=2 dies on the cap), and the fold reports the clicks'
    // cents then the purchase's
    val gotIterSums = MatchRecognize.run(tinyIter, CepSql.anchorEndIterSums)
      .select("user_id", "start_id", "step_counts", "step_sums")
      .as[(Long, Long, String, String)].collect().toSet
    assert(gotIterSums == Set((9L, 2L, "1,1", "10000,1000"),
        (8L, 4L, "2,1", "11000,1000"), (8L, 5L, "1,1", "6000,1000")),
      s"anchored iterative step_sums wrong: $gotIterSums")
    // 9. RELAXED branches under '$' (round-15): on V P P the
    // unanchored relaxed walk binds buy to its FIRST qualifying row
    // (row 2), so a committed-end pin finds nothing — the pinned-final
    // anchored DFS binds the LAST row instead
    val tinyRelAlt = MatchRecognize.run(tiny, CepSql.anchorEndAltRelaxed)
      .select("start_id", "end_id").as[(Long, Long)].collect().toSet
    assert(tinyRelAlt == Set((1L, 3L)),
      s"relaxed anchored branch must bind the last row: $tinyRelAlt")
    val unanchoredRelAlt = CepSql.anchorEndAltRelaxed.replace(" $)", ")")
    assert(MatchRecognize.run(tiny, unanchoredRelAlt)
        .filter(col("end_id") === 3L).count() == 0L,
      "the relaxed walk's committed end is row 2 — a pin over it " +
        "would have dropped the anchored match")
  }

  test("'$' lift: ALL ROWS composes with exclusion and MEASURES on the anchored routes") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val CepSql = graft.queries.Analytic.CepSql
    def t(m: Int) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    val tiny = Seq(
      (1L, t(0), 7L, "view", 2.0),
      (2L, t(1), 7L, "purchase", 3.0),
      (3L, t(2), 7L, "purchase", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // exclusion with variable != DEFINE literal: the anchored
    // consumed-row route emits VARIABLE step labels, and the exclusion
    // filter must use those (the review fix — the symbol-label map
    // would silently keep the excluded rows)
    val exclSql =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ({- v -} p{1,2}? $)
        |  DEFINE v AS event_type = 'view',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    val exclRows = MatchRecognize.run(tiny, exclSql)
      .select("pos", "event_id", "step")
      .as[(Long, Long, String)].collect().toSet
    assert(exclRows == Set((2L, 2L, "p"), (3L, 3L, "p")),
      s"exclusion must drop the v row by its VARIABLE label: $exclRows")
    // ALL ROWS + general MEASURES on the anchored reluctant route:
    // the RUNNING per-variable sum must grow over the EXTENDED match
    // (the committed-end route would have no match at all on V P P)
    val mSql = CepSql.anchorEndReluctant
      .replace("ONE ROW PER MATCH",
        "MEASURES SUM(purchase.value) AS p_sum\n  ALL ROWS PER MATCH")
    val mRows = MatchRecognize.run(tiny, mSql)
      .select(col("pos"), col("p_sum"))
      .as[(Long, Option[Double])].collect().toSet
    assert(mRows == Set((1L, None), (2L, Some(3.0)), (3L, Some(8.0))),
      s"anchored ALL ROWS MEASURES must run over the extended match: $mRows")
  }

  test("property: anchored ALL ROWS is the row expansion of anchored ONE ROW (60 random sequences)") {
    // route-consistency for the lifted '$' reluctant route: on random
    // typed sequences, the ALL ROWS output's distinct (start, end)
    // spans must equal the ONE ROW match set, every match's rows must
    // be the full contiguous span (strict pattern), and pos must
    // number them 1..n — so the two routes cannot drift apart
    val sp = spark
    import sp.implicits._
    val CepSql = graft.queries.Analytic.CepSql
    val rnd = new scala.util.Random(20260816L)
    val types = Vector("view", "purchase", "click")
    for (trial <- 0 until 60) {
      val n = 3 + rnd.nextInt(8)
      val rows = (0 until n).map { i =>
        (i + 1L, new java.sql.Timestamp(1704067200000L + i * 60000L),
          100L + trial, types(rnd.nextInt(types.size)), 1.0 + i)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val one = MatchRecognize.run(df, CepSql.anchorEndReluctant)
        .select("start_id", "end_id", "n_rows")
        .as[(Long, Long, Long)].collect().toSet
      val all = MatchRecognize.run(df, CepSql.anchorEndReluctantAllRows)
        .select("start_id", "end_id", "pos", "event_id")
        .as[(Long, Long, Long, Long)].collect()
      val spans = all.map(r => (r._1, r._2)).toSet
      assert(spans == one.map(t => (t._1, t._2)),
        s"trial $trial: ALL ROWS spans $spans != ONE ROW ${one}")
      one.foreach { case (s, e, nr) =>
        val ms = all.filter(r => r._1 == s && r._2 == e).sortBy(_._3)
        assert(ms.length == nr.toInt &&
            ms.map(_._3).toSeq == (1L to nr).toSeq &&
            ms.map(_._4).toSeq == (s to e).toSeq,
          s"trial $trial: match ($s,$e) rows must be the contiguous " +
            s"span with pos 1..$nr: ${ms.toSeq}")
      }
    }
  }

  test("property: anchored alternation with mixed strict/relaxed branches (60 random sequences)") {
    // the round-15 relaxed-branch lift against brute force: on random
    // typed sequences, the RELAXED alternation `((view|click) g* buy $)`
    // must match every view/click anchor of a partition whose LAST row
    // is a purchase (within 24 h), and the STRICT twin
    // `((view|click) buy $)` must keep only the anchor immediately
    // before it — the strict/relaxed pair cannot drift apart except by
    // exactly the gap rows
    val sp = spark
    import sp.implicits._
    val CepSql = graft.queries.Analytic.CepSql
    val rnd = new scala.util.Random(20260815L)
    val types = Vector("view", "purchase", "click")
    val strictTwin = CepSql.anchorEndAltRelaxed.replace(" g1*", "")
    for (trial <- 0 until 60) {
      val n = 3 + rnd.nextInt(8)
      val rows = (0 until n).map { i =>
        (i + 1L, new java.sql.Timestamp(1704067200000L + i * 60000L),
          200L + trial, types(rnd.nextInt(types.size)), 1.0 + i)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      def got(sql: String) = MatchRecognize.run(df, sql)
        .select("start_id", "end_id")
        .as[(Long, Long)].collect().toSet
      val lastIsBuy = rows.last._4 == "purchase"
      val refRelaxed =
        if (!lastIsBuy) Set.empty[(Long, Long)]
        else rows.init.filter(r => r._4 == "view" || r._4 == "click")
          .map(r => (r._1, rows.last._1)).toSet // 24 h never binds here
      assert(got(CepSql.anchorEndAltRelaxed) == refRelaxed,
        s"trial $trial: relaxed anchored alternation != brute force")
      val refStrict =
        if (!lastIsBuy || n < 2) Set.empty[(Long, Long)]
        else {
          val a = rows(n - 2)
          if (a._4 == "view" || a._4 == "click")
            Set((a._1, rows.last._1)) else Set.empty[(Long, Long)]
        }
      assert(got(strictTwin) == refStrict,
        s"trial $trial: strict anchored alternation != brute force")
      assert(refStrict.subsetOf(refRelaxed),
        s"trial $trial: strict must be the gap-free subset")
    }
  }

  test("property: quantified relaxed '$' equals the scalar preference reference (60 random sequences)") {
    // the round-15 generalized pinned-final DFS against an independent
    // scalar formulation of the preference order: the purchase block
    // is the earliest alignment whose greedy count lands exactly on
    // the last row (so bc = 2 iff row L-1 is a purchase), and each
    // view anchor consumes min(3, contiguous views, block-start - r)
    // — head counts greedy-descending under the pos <= block-start
    // constraint. Includes the committed-walk divergence cases (a
    // non-final purchase between anchor and block is skipped as a gap
    // row where the unanchored walk would bind and under-match).
    val sp = spark
    import sp.implicits._
    val CepSql = graft.queries.Analytic.CepSql
    val rnd = new scala.util.Random(20260817L)
    val types = Vector("view", "purchase", "click")
    for (trial <- 0 until 60) {
      val n = 3 + rnd.nextInt(8)
      val tys = Vector.fill(n)(types(rnd.nextInt(types.size)))
      val rows = (0 until n).map { i =>
        (i + 1L, new java.sql.Timestamp(1704067200000L + i * 60000L),
          300L + trial, tys(i), 1.0 + i)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = MatchRecognize.run(df, CepSql.anchorEndRelaxedQuant)
        .select("start_id", "end_id", "step_counts", "n_rows")
        .as[(Long, Long, String, Long)].collect().toSet
      val L = n - 1
      val ref: Set[(Long, Long, String, Long)] =
        if (tys(L) != "purchase") Set.empty
        else {
          val bc = if (n >= 2 && tys(L - 1) == "purchase") 2 else 1
          val qIdx = L - bc + 1
          (0 until qIdx).collect {
            case r if tys(r) == "view" =>
              val vrun = tys.drop(r).takeWhile(_ == "view").size
              val c1 = math.min(3, math.min(vrun, qIdx - r))
              (r + 1L, L + 1L, s"$c1,$bc", (c1 + bc).toLong)
          }.toSet
        }
      assert(got == ref,
        s"trial $trial (${tys.mkString(",")}): engine $got != scalar $ref")
    }
  }

  test("property: render -> parse round-trips 300 random patterns") {
    val rnd = new scala.util.Random(20260814L)
    val syms = Vector("alpha", "beta", "gamma", "delta", "eps")
    var negCount = 0
    var skipToCount = 0
    for (i <- 0 until 300) {
      val relaxed = rnd.nextBoolean()
      val nSteps = 2 + rnd.nextInt(3)
      val names = rnd.shuffle(syms).take(nSteps)
      val withNeg = relaxed && nSteps >= 2 && rnd.nextBoolean()
      var steps = names.zipWithIndex.map { case (s, j) =>
        val edge = j == 0 || j == nSteps - 1
        // negated patterns reject optional steps (gap-merge ambiguity)
        val mn = if (edge || withNeg) 1 + rnd.nextInt(2) else rnd.nextInt(3)
        val mx = rnd.nextInt(3) match {
          case 0 => None
          case _ => Some(math.max(math.max(mn, 1), 1 + rnd.nextInt(3)))
        }
        // reluctant quantifiers are strict-only in the model
        CepStep(s, mn, mx, greedy = relaxed || rnd.nextBoolean())
      }
      if (withNeg) {
        negCount += 1
        val at = 1 + rnd.nextInt(steps.size - 1)
        val free = syms.filterNot(names.contains)
        steps = steps.take(at) ++
          Seq(CepStep(free(rnd.nextInt(free.size)), negated = true)) ++ steps.drop(at)
      }
      val skip =
        if (!relaxed) { if (rnd.nextBoolean()) SkipPastLastRow else SkipToNextRow }
        else {
          val targets = steps.zipWithIndex.drop(1)
            .filter { case (s, _) => !s.negated && s.minRep >= 1 &&
              steps.count(_.symbol == s.symbol) == 1 }
          if (targets.nonEmpty && rnd.nextInt(3) == 0) {
            skipToCount += 1
            val t = targets(rnd.nextInt(targets.size))._1.symbol
            if (rnd.nextBoolean()) SkipToFirst(t) else SkipToLast(t)
          } else SkipToNextRow
        }
      val within = if (rnd.nextBoolean()) Some(5 + rnd.nextInt(2000)) else None
      val p = CepPattern(steps, within, skip, strict = !relaxed)
      val txt = MatchRecognize.render(p)
      val back = MatchRecognize.parse(txt).toSymbolic
      assert(back === Some(("event_type", p)), s"iteration $i:\n$txt")
    }
    // the generator must actually exercise the interesting arms
    assert(negCount > 20 && skipToCount > 10,
      s"generator degenerate: neg=$negCount skipTo=$skipToCount")
  }

  test("spark.sql runs MATCH_RECOGNIZE through the injected parser front end") {
    val txt = graft.queries.Analytic.CepSql.funnel
    Tables.events(spark, sf001).createOrReplaceTempView("events")
    val viaSql = spark.sql(txt).orderBy("user_id", "start_id").collect()
    val viaApi = MatchRecognize.run(Tables.events(spark, sf001), txt)
      .orderBy("user_id", "start_id").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
    // general MEASURES (MATCH_NUMBER/CLASSIFIER/aggregates/SUBSET)
    // flow through the injected parser unchanged — same rows as the
    // DataFrame route
    val aggTxt = graft.queries.Analytic.CepSql.aggMeasures
    assert(spark.sql(aggTxt).orderBy("user_id", "start_id").collect().toSeq ===
      MatchRecognize.run(Tables.events(spark, sf001), aggTxt)
        .orderBy("user_id", "start_id").collect().toSeq)
    // ordinary SQL still delegates to the stock parser
    assert(spark.sql("SELECT 1 + 1 AS two").collect().map(_.getInt(0)).toSeq === Seq(2))
    // clause body without a FROM table is a clear error, not a mis-parse
    val e = intercept[IllegalArgumentException](spark.sql(
      txt.replace("SELECT * FROM events ", "")))
    assert(e.getMessage.contains("FROM"))
    // the keyword INSIDE a string literal must not divert: stock parser
    assert(spark.sql("SELECT 'MATCH_RECOGNIZE (' AS s").collect()
      .map(_.getString(0)).toSeq === Seq("MATCH_RECOGNIZE ("))
  }
}
