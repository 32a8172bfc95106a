package graft.queries

import graft.{Det, Tables}
import graft.api.{Cep, CepCondPattern, CepCondStep, CepPattern, CepStep, MatchRecognize, SkipToFirst, SkipToLast, SkipToNextRow}
import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic (OVER) window functions and the scalar function surface
  * (SURVEY.md §2 groups E and H).
  *
  * Determinism notes:
  *  - every OVER ordering carries a unique tiebreak except where rank
  *    semantics over ties are themselves under test (rank/dense_rank);
  *  - windowed sums over doubles go through exact DECIMAL (DuckDB
  *    computes window aggregates with segment trees whose fp association
  *    order differs from a sequential fold);
  *  - DuckDB output types are cast in the oracle SQL to match Spark's
  *    (e.g. dayofweek+1 → INTEGER, epoch → BIGINT).
  */
object Analytic {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- E. window functions ----
    "win_rank" -> ((s, d) => {
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val byBalTies = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc)
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          row_number().over(byBal).as("rn"),
          rank().over(byBalTies).as("rnk"),
          dense_rank().over(byBalTies).as("drnk"),
          ntile(4).over(byBal).as("quartile"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
          (lead(col("value"), 1).over(w) - col("value")).as("delta_next"))
        .orderBy("user_id", "event_id")
    }),

    "win_running" -> ((s, d) => {
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last3 = ord.rowsBetween(-2, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          sum(Det.dec2(col("value"))).over(cum).cast("double").as("running_sum"),
          Det.round2(sum(Det.dec2(col("value"))).over(last3).cast("double") /
            count(lit(1)).over(last3)).as("avg_last3"))
        .orderBy("user_id", "event_id")
    }),

    // Relative-position window functions: percent_rank = (rank-1)/(n-1)
    // and cume_dist = n_peers_leq/n are exact integer ratios — the IEEE
    // division of identical operands is bit-identical cross-engine, so
    // no rounding is needed for the hash match.
    "win_percent_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    }),

    // NTILE bucketing (the one classic window function the family
    // lacked): quartiles of order value per priority. Tie hazard:
    // ntile assignment depends on ROW order, so the ORDER BY carries
    // the unique o_orderkey tiebreak — without it equal prices split
    // engine-dependently and the hash match is luck.
    "win_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    }),

    // RANGE frame: per customer, order value in the 30 days preceding
    // each order. Spark needs a numeric range key → epoch seconds.
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          count(lit(1)).over(w).as("n_30d"),
          sum(Det.dec2(col("o_totalprice"))).over(w).cast("double").as("sum_30d"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Value-navigation window functions with an explicit full frame:
    // first/last/nth are pure value passthroughs (no arithmetic), so
    // cross-engine parity needs only a deterministic total order.
    "win_first_last" -> ((s, d) => {
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          first(col("value")).over(full).as("first_v"),
          last(col("value")).over(full).as("last_v"),
          nth_value(col("value"), 2).over(full).as("second_v"))
        .orderBy("user_id", "event_id")
    }),

    // In-order 3-step conversion funnel (view -> click -> purchase, each
    // step within 3 days of the previous step's FIRST occurrence). Each step
    // is a filtered scan + tiny per-user hash agg + join against the
    // previous step's per-user scalars — no window over the raw event
    // stream, so the shape is 3 pushed-down scans and 3 shuffles of
    // per-user rows regardless of corpus size.
    "event_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 3 DAY"))
        .groupBy("user_id", "t_view").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 3 DAY"))
        .groupBy("user_id", "t_view", "t_click").agg(min("ts").as("t_purchase"))
      p.select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          (unix_micros(col("t_purchase")) - unix_micros(col("t_view"))).as("funnel_us"))
        .orderBy("user_id")
    }),

    // Multi-touch ATTRIBUTION (the credit-assignment table behind every
    // marketing-analytics stack): each purchase's preceding touches
    // (clicks/views since the user's previous purchase) share credit —
    // linear 1/n per touch plus the last-touch indicator. The
    // conversion id is a BACKWARD-looking window min (the next purchase
    // ord at-or-after each row), touch counts/maxima one keyed agg —
    // everything partitions by user, one shuffle, nothing global;
    // credit = 1/n on exact longs (bit-identical cross-engine) under
    // the round4 guard.
    "event_attribution" -> ((s, d) => {
      // The canonical total order is (ts, event_id) — NEVER bare ids
      // (ids are not assumed ts-monotone): rows get a per-user ordinal
      // rn in that order, the conversion is the MIN purchase ordinal in
      // the forward frame, and the conversion's event id joins back by
      // (user, rn) — so out-of-order id assignment cannot merge
      // attribution windows or mislabel the last touch.
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wFwd = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val tagged = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("conv_rn",
          min(when(col("event_type") === "purchase", col("rn"))).over(wFwd))
      val convs = tagged.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("rn").as("conv_rn"),
          col("event_id").as("conv_id"))
      val touches = tagged
        .filter(col("event_type").isin("click", "view") &&
          col("conv_rn").isNotNull)
        .join(convs, Seq("user_id", "conv_rn"))
      val per = touches.groupBy(col("user_id"), col("conv_id"))
        .agg(count(lit(1)).as("n_touches"), max(col("rn")).as("last_rn"))
      touches.join(per, Seq("user_id", "conv_id"))
        .select(col("user_id"), col("conv_id"), col("event_id"),
          col("event_type").as("touch_type"), col("n_touches"),
          Det.round4(lit(1.0) / col("n_touches")).as("credit_linear"),
          (col("rn") === col("last_rn")).as("is_last_touch"))
        .orderBy("user_id", "conv_id", "event_id")
    }),

    // Event-type TRANSITION MATRIX (the per-user Markov-chain estimate
    // behind path/flow analytics): consecutive-event (prev -> cur)
    // counts in the (ts, event_id) total order, with the
    // row-normalized transition probability. The lag is a user-keyed
    // window; normalization joins per-prev totals from one aggregation
    // over the type-bounded count table — nothing global, and the
    // output is |types|^2 rows regardless of corpus size.
    "event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val c = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur_type"))
        .withColumn("prev_type", lag(col("cur_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("cur_type")).agg(count(lit(1)).as("n"))
      val tot = c.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
      c.join(broadcast(tot), "prev_type")
        .select(col("prev_type"), col("cur_type"), col("n"),
          Det.round4(col("n") / col("tot")).as("p"))
        .orderBy("prev_type", "cur_type")
    }),

    // Cohort RETENTION (the week-over-week comeback table behind every
    // growth dashboard): users bucketed by first-active week, distinct
    // activity per (cohort, week) with the rate over the cohort size.
    // Shapes: distinct (user, week) is user-keyed, cohort assignment is
    // one per-user min, sizes broadcast back — the output is bounded by
    // weeks², never corpus size.
    "event_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      val sizes = cohort.groupBy("cohort_wk")
        .agg(countDistinct(col("user_id")).as("n_cohort"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk").cast("date").as("cohort_week"),
          expr("CAST(datediff(wk, cohort_wk) / 7 AS INT)").as("week_offset"),
          col("n_active"), col("n_cohort"),
          Det.round4(col("n_active") / col("n_cohort")).as("rate"))
        .orderBy("cohort_week", "week_offset")
    }),

    // CEP pattern matching (Flink CEP / SQL MATCH_RECOGNIZE): greedy
    // `C+ P` — a maximal run of consecutive clicks immediately followed
    // by a purchase, WITHIN 10 minutes of the purchase, AFTER MATCH SKIP
    // PAST LAST ROW. Rewritten as gaps-and-islands: a running count of
    // non-click events blocks each click run; the run preceding a
    // purchase is the one whose block index is the purchase's minus one.
    // Every window/join is user-keyed — per-key linear at any scale.
    "event_cep" -> ((s, d) =>
      graft.api.Cep.runThenFinal(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type", "click", "purchase",
          expr("INTERVAL 10 MINUTES"))
        .select(col("user_id"), col("final_id").as("purchase_id"),
          col("final_ts").as("purchase_ts"), col("n_run").as("n_clicks"),
          col("first_run_ts").as("first_click_ts"))
        .orderBy("user_id", "purchase_id")),

    // MATCH_RECOGNIZE MEASURES over pattern variables: the same C+ P
    // WITHIN 10 min matches as event_cep, each projecting per-step row
    // aggregates — click-run count/first/last plus exact-cents
    // sum/avg/max of the run's values and the purchase row's value —
    // sliced off each strict match's consumed block by the batch replay
    // of StreamOps.cepMeasuresStream (the strict WITHIN anchor-advance
    // consumes exactly the run's qualifying suffix, so the oracle is
    // the event_cep islands rewrite extended with the aggregates).
    "event_cep_measures" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Ev]
      StreamOps.cepMeasuresStream(ev, withinMinutes = 10, streaming = false)
        .toDF()
        .orderBy("user_id", "purchase_id")
    }),

    // ALL ROWS PER MATCH (SQL-standard MATCH_RECOGNIZE output mode,
    // beyond Flink CEP): every consumed row of every C+ P match,
    // tagged with match identity (ending purchase), step symbol, and
    // consumption position — the row-level companion of
    // event_cep_measures, same matches, run by the batch replay of
    // StreamOps.cepPatternAllRows with the old column names restored.
    "event_cep_all_rows" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Ev]
      StreamOps.cepPatternAllRows(ev, StreamOps.clickRun(10),
          Seq("click", "purchase"), streaming = false)
        .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
          col("event_id"), col("ts"), col("step"), col("value"))
        .orderBy("user_id", "purchase_id", "pos")
    }),

    // ---- general CEP pattern compiler (api.Cep.compile) ----
    // Each key compiles a CepPattern spec to the distributed
    // gaps-and-islands form; the oracle below is GENERATED from the same
    // pattern object (Cep.oracleSql), pinning the whole algorithm
    // cross-engine. Property-tested against the sequential reference
    // matcher on random patterns (CepSpec).

    // quantifiers beyond +: minRep 2, a bounded middle {1,2}, greedy
    // unbounded tail — signup{2,} view{1,2} purchase{1,} (chosen for
    // non-empty matches at every fixture scale incl. sf0.001)
    "event_cep_quant" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.quant)
        .orderBy("user_id", "start_id")),

    // COMPILED MEASURES: per-step exact-cents value sums generated
    // into the gaps-and-islands plan itself (Cep.compileMeasures) —
    // MEASURES without a per-key matcher, whole-stage codegen, for the
    // same signup{2,} view{1,2} purchase{1,} pattern as
    // event_cep_quant; the oracle is GENERATED from the same pattern
    // object with the same per-run / prefix / suffix cumulative cents.
    "event_cep_quant_measures" -> ((s, d) =>
      Cep.compileMeasures(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", "value", CepPatterns.quant)
        .orderBy("user_id", "start_id")),

    // optional middle step — click{1,} error{0,1} signup{1,}: the
    // compiler expands the optional into mutually exclusive
    // alternatives and unions them
    "event_cep_optional" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.optional)
        .orderBy("user_id", "start_id")),

    // AFTER MATCH SKIP TO NEXT ROW + WITHIN 12 h — click{1,3}
    // purchase{1,1}: overlapping matches emit (every qualifying suffix
    // row of a click run anchors its own match)
    "event_cep_tonext" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.tonext)
        .orderBy("user_id", "start_id")),

    // RELAXED contiguity (Flink followedBy): irrelevant rows between
    // steps are skipped — signup{1,} ... click{1,2} ... purchase{1,}
    // WITHIN 24 h, SKIP TO NEXT ROW; later steps chain to the first run
    // of their symbol via per-key next-run lookups
    "event_cep_relaxed" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.relaxed)
        .orderBy("user_id", "start_id")),

    // NEGATION (Flink notFollowedBy): view{1,} !click purchase{1,}
    // WITHIN 24 h — purchases reached from a view with NO click in
    // between; the negation is one next-run comparison per gap
    "event_cep_negated" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.negated)
        .orderBy("user_id", "start_id")),

    // TRAILING notFollowedBy + WITHIN (Flink allows a pattern to END
    // in notFollowedBy only when within() bounds it — supported since
    // Flink 1.16): view{1,} click{1,2} !purchase WITHIN 24 h, relaxed —
    // funnels that browsed and clicked but never purchased before the
    // deadline. Composed, not a matcher change: Cep.compileNotEnd runs
    // the positive prefix through the gaps-and-islands compiler and
    // anti-joins purchases in ((end_ts, end_id), start_ts + 24 h] —
    // the matcher's own (ts, ord) order decides same-timestamp ties.
    "event_cep_not_end" -> ((s, d) =>
      Cep.compileNotEnd(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.notEndPrefix, "purchase")
        .orderBy("user_id", "start_id")),

    // CEP TIMEOUT SIDE OUTPUT (Flink PatternStream.select(timeoutTag,
    // PatternTimeoutFunction, ...)): signup followedBy purchase WITHIN
    // 12 h — this key is the TIMED-OUT partial matches, one per signup
    // whose window expired with no purchase, with the deadline the
    // streaming twin's event-time timer fires at. Same composition as
    // event_cep_not_end with a single-step positive prefix.
    "event_cep_timeout" -> ((s, d) =>
      Cep.compileNotEnd(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.timeoutPrefix, "purchase",
          deadlineCol = Some("timeout_deadline"))
        .orderBy("user_id", "start_id")),

    // RELUCTANT quantifier (Flink's greedy toggle, MATCH_RECOGNIZE
    // {m,n}?): same steps as event_cep_quant but the unbounded tail
    // consumes the FEWEST purchases instead of the most — compare the
    // two keys' step_counts on the same anchors. Under strict
    // contiguity only the last step has a free consumption choice, so
    // compiled support is the clast formula; the sequential matcher
    // honors the flag on every step (regex-non-greedy cross-validated).
    "event_cep_reluctant" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.reluctant)
        .orderBy("user_id", "start_id")),

    // VALUE-PREDICATE steps (Flink SimpleCondition.where): each step is
    // an arbitrary SQL predicate — high-value view{1,2} then qualifying
    // purchase{1,} WITHIN 24 h, relaxed. Compiled via the derived
    // first-match-wins symbol CASE (one codegen'd projection), oracle
    // generated with the SAME predicates spliced into the SAME CASE.
    "event_cep_where" -> ((s, d) =>
      Cep.compileWhere(Tables.events(s, d), "user_id", "ts", "event_id",
          CepPatterns.where)
        .orderBy("user_id", "start_id")),

    // UNTIL stop condition (Flink `oneOrMore().until(stop)`): the
    // browse loop (views/clicks, merged by the predicate) stops
    // accepting at the FIRST row with value >= 80 — stop evaluated
    // before accept, so the stop row is never consumed into the loop;
    // it falls through the first-match-wins derivation (a qualifying
    // purchase could still start the next step) or becomes a gap row.
    // With contiguous-run loops this is exactly the stop-gated
    // predicate (accept AND NOT stop) — compileWhere runs unchanged on
    // it, the oracle splices the SAME stop-gated CASE, and CepSpec pins
    // the rewrite against stop-gated sequential evaluation on random
    // stop/accept pairs.
    "event_cep_until" -> ((s, d) =>
      Cep.compileWhere(Tables.events(s, d), "user_id", "ts", "event_id",
          CepPatterns.untilPat)
        .orderBy("user_id", "start_id")),

    // predicate-step COMPILED MEASURES (compileWhereMeasures): per-step
    // cents sums for a value-predicate pattern — browse-run (the
    // predicate merges views and clicks into one derived symbol, so
    // the "run" spans types no symbolic pattern could) then qualifying
    // purchase; one fused CASE projection plus the symbolic measures
    // plan, oracle generated with the same predicates spliced in.
    "event_cep_where_measures" -> ((s, d) =>
      Cep.compileWhereMeasures(Tables.events(s, d), "user_id", "ts", "event_id",
          "value", CepPatterns.whereMeasures)
        .orderBy("user_id", "start_id")),

    // followedByAny (Flink's non-deterministic relaxed contiguity):
    // signup{1,} ...any click{1,2} ...any purchase{1,} WITHIN 24 h —
    // every qualifying combination of later runs emits, not just the
    // first-run chain (compare event_cep_relaxed on the same steps).
    // Ordered by every column: duplicate rows from unrecorded middle-run
    // choices are distinct matches on both engines.
    "event_cep_any" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.any)
        .orderBy("user_id", "start_id", "end_id", "n_rows", "step_counts")),

    // AFTER MATCH SKIP TO FIRST (Flink skipToFirst / MATCH_RECOGNIZE
    // AFTER MATCH SKIP TO FIRST var): the relaxed signup → click →
    // purchase funnel resuming the scan AT the click run's first
    // consumed row — overlapping matches anchored at signup gap rows
    // inside the previous span emit, thinned to the greedy resume
    // chain. Candidates compile exactly like event_cep_relaxed; the
    // chain is a WITH RECURSIVE walk over CANDIDATES (depth = per-key
    // match count, never raw rows), replayed identically by DuckDB.
    "event_cep_skip_first" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.skipFirst)
        .orderBy("user_id", "start_id")),

    // AFTER MATCH SKIP TO LAST: same funnel, resume at the click run's
    // LAST consumed row — a strictly later resume point than skip-to-
    // first, so its match set sits between skip-to-first's and
    // skip-past-last's.
    "event_cep_skip_last" -> ((s, d) =>
      Cep.compile(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type", CepPatterns.skipLast)
        .orderBy("user_id", "start_id")),

    // ITERATIVE condition (Flink IterativeCondition): purchase anchor
    // followed by the FIRST later purchase whose value EXCEEDS THE
    // ANCHOR'S — the predicate reads the rows already matched in the
    // attempt, which no derived symbol column can express. Runs as the
    // per-key distributed sequential matcher (the batch replay of
    // StreamOps.cepPatternIterStream);
    // the oracle is the independent SQL formulation of the same
    // semantics (first qualifying successor via row_number, WITHIN as a
    // post-filter), and CepSpec pins the matcher against a brute-force
    // reimplementation on random sequences.
    "event_cep_iterative" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Ev]
      StreamOps.cepPatternIterStream(ev, CepPatterns.iter, CepPatterns.iterConds,
          streaming = false)
        .toDF()
        .orderBy("user_id", "start_id")
    }),

    // ---- SQL MATCH_RECOGNIZE front door (api.MatchRecognize) ----
    // Each key compiles from CLAUSE TEXT, not DSL calls: the parser
    // resolves the text to the CepPattern/CepCondPattern model and the
    // oracle below is generated FROM THE SAME TEXT (oracleFor), so the
    // parse itself is pinned cross-engine. Round-trips over every
    // declared DSL pattern live in CepSqlSpec.

    // relaxed symbolic funnel (gap variables) with bounded quantifiers,
    // SKIP TO NEXT ROW, WITHIN in HOUR units (parser converts to
    // minutes); the strict path from text is event_cep_sql_measures
    "event_cep_sql" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.funnel)
        .orderBy("user_id", "start_id")),

    // value-predicate text with relaxed-contiguity gap variables and
    // Flink-style `var.col` prefixes (parser strips them); resolves to
    // the compileWhere route
    "event_cep_sql_where" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.hotBuy)
        .orderBy("user_id", "start_id")),

    // MEASURES clause -> the compiled per-step exact-cents sums
    // (Cep.compileMeasures), fully codegen'd, from text
    "event_cep_sql_measures" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.measured)
        .orderBy("user_id", "start_id")),

    // The spark.sql(...) route: the SAME statement text through the
    // injected parser front end (GraftExtensions/MatchRecognizeSqlParser
    // — spark.sql.extensions wiring), resolving the FROM table as a
    // temp view. Must be row-identical to event_cep_sql, so it shares
    // that oracle.
    "event_cep_sql_native" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(CepSql.funnel).orderBy("user_id", "start_id")
    }),

    // ALL ROWS PER MATCH through the SQL route (the round-9 front-door
    // gap): the same C+ P WITHIN 10 min shape as event_cep_all_rows,
    // compiled from CLAUSE TEXT and executed by the general per-key
    // row-level executor (StreamOps.cepAllRowsPattern via
    // MatchRecognize.runAllRows). Must be row-identical to the DSL key,
    // so it shares that oracle (end_id = the ending purchase).
    "event_cep_sql_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.allRows)
        .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
          col("event_id"), col("ts"), col("step"), col("value"))
        .orderBy("user_id", "purchase_id", "pos")),

    // '$' × ALL ROWS (greedy route): the same row-level islands, kept
    // only where the match's end row IS the partition's last row —
    // filter ≡ anchored matching on deterministic-end greedy patterns
    // (see CepSql.anchorEndAllRows).
    "event_cep_sql_anchor_end_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAllRows)
        .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
          col("event_id"), col("ts"), col("step"), col("value"))
        .orderBy("user_id", "purchase_id", "pos")),

    // SQL:2016 exclusion {- click+ -}: the allRows matches with only
    // the un-excluded purchase rows emitted (pos keeps the original
    // consumption numbering). Shares the islands CTE chain with the
    // symbol filter applied in SQL.
    "event_cep_sql_exclude" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.exclAllRows)
        .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
          col("event_id"), col("ts"), col("step"), col("value"))
        .orderBy("user_id", "purchase_id", "pos")),

    // DEFINE navigation from TEXT (the round-9 top-next item): FIRST()
    // routes the clause to the per-key iterative matcher — the
    // event_cep_iterative machinery — with the context-free predicate
    // parts still evaluated by Catalyst before the shuffle. Must match
    // the DSL key's independent oracle (first qualifying successor via
    // row_number + WITHIN post-filter).
    "event_cep_sql_iter" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.iterHigher)
        .orderBy("user_id", "start_id")),

    // PREV() navigation from text: physical-partition row navigation,
    // oracle = one lag/lead window formulation (independent of the
    // matcher — strict contiguity makes the match a 2-row adjacency).
    "event_cep_sql_prev" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.prevRise)
        .orderBy("user_id", "start_id")),

    // NEXT() navigation from text (SQL:2016's fourth navigation
    // function — physical FORWARD look-ahead, offset 2 reaches past
    // the match's own purchase row): same strict 2-row adjacency,
    // lead-window oracle.
    "event_cep_sql_next" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.nextDrop)
        .orderBy("user_id", "start_id")),

    // General MEASURES from text, ONE ROW PER MATCH: MATCH_NUMBER +
    // match-wide and click-scoped aggregates + FIRST/LAST, executed as
    // one per-match hash aggregation over the matcher's consumed rows
    // (MatchRecognize.runMeasures). click_sum bit-stable-rounded to
    // cents on both sides (Det.round2 / floor(x*100+0.5)/100 — double
    // summation order differs across engines).
    "event_cep_sql_agg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.aggMeasures)
        .withColumn("click_sum", Det.round2(col("click_sum")))
        .orderBy("user_id", "start_id")),

    // General MEASURES from text, ALL ROWS PER MATCH: RUNNING/FINAL
    // window frames per consumed row (MatchRecognize.runAllRowsMeasures)
    // — RUNNING sums/counts grow with consumption position, FINAL spans
    // the match, MATCH_NUMBER dense_ranks anchors per key.
    "event_cep_sql_runagg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.runningMeasures)
        .select(col("user_id"), col("end_id").as("purchase_id"), col("pos"),
          col("event_id"), col("ts"), col("step"), col("value"),
          col("match_no"), col("run_rows"),
          Det.round2(col("run_sum")).as("run_sum"),
          col("match_rows"), col("match_max"), col("first_click_v"),
          col("var_name"))
        .orderBy("user_id", "purchase_id", "pos")),

    // SUBSET union variables from text: `cp = (click, purchase)`
    // scopes aggregates to the union's consumed rows (the whole match
    // here — pinned against the member-scoped n_clicks in the same
    // clause). Oracle: the same islands CTE chain, union scope = no
    // CASE filter.
    "event_cep_sql_subset" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.subsetMeasures)
        .withColumn("sum_cp", Det.round2(col("sum_cp")))
        .orderBy("user_id", "start_id")),

    // Bounded alternation `(c | v)` from text: per-branch compiled
    // plans unioned, anchors deduped by leftmost branch preference
    // (regex alternation priority) — property-pinned against the
    // sequential matcher per branch in CepSqlSpec; oracle generated
    // from the same text (branch oracles + the same dedup window).
    "event_cep_alt" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.altFunnel)
        .orderBy("user_id", "start_id")),

    // SQL:2016 PERMUTE(c, v, p) from text: the 3! orderings as
    // expanded branches through the same union + leftmost-preference
    // dedup as alternation (earliest declared ordering wins a
    // contested anchor). Oracle generated from the same text.
    "event_cep_sql_permute" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.permuteFunnel)
        .orderBy("user_id", "start_id")),

    // PERMUTE × compiled step_sums, BRANCH-TAGGED (round-16 — closes
    // the one remaining rejection of the step_sums matrix): branches
    // consume the steps in different orders, so no cross-branch
    // per-step alignment exists — but per match the WINNING branch's
    // order is well-defined, so step_counts/step_sums emit in that
    // order plus a `branch` index column (lexicographic expansion
    // order, shared with the generated oracle's per-branch union).
    "event_cep_sql_permute_sums" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.permuteSums)
        .orderBy("user_id", "start_id")),

    // SQL:2016 `^` anchor (partition-start pin; Flink rejects it): the
    // opening click streak per user. Matching unchanged; the anchor is
    // a match filter against per-key min_by bounds (one tiny keyed agg
    // + an equi join — MatchRecognize.applyAnchors). Oracle = the
    // generated unanchored oracle filtered by the same first-row rule.
    "event_cep_sql_anchor_start" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorStart)
        .orderBy("user_id", "start_id")),

    // SQL:2016 `$` anchor (partition-end pin): histories ENDING in a
    // viewed purchase. Same filter mechanics on the last row.
    "event_cep_sql_anchor_end" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEnd)
        .orderBy("user_id", "start_id")),

    // '$' × RELUCTANT (round-13 lift): true anchored matching via the
    // per-key backtracking matcher — candidate counts explored in
    // preference order until a resolution ends at the partition's last
    // row. Oracle: under the end pin a strict segment's decomposition
    // is forced by the symbol runs, so the anchored reluctant set
    // EQUALS the greedy twin's filtered set (per anchor, under TO NEXT
    // ROW) — replayed by the twin's generated oracle + last-row filter.
    "event_cep_sql_anchor_end_reluctant" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndReluctant)
        .orderBy("user_id", "start_id")),

    // '$' × RELUCTANT × general MEASURES (round-14 lift): per-variable
    // scoped aggregates over the anchored backtracking matcher's
    // consumed rows. Oracle: the greedy twin's generated match oracle
    // + last-row pin (decomposition forced under the pin), measures
    // recomputed literally over each match's contiguous span.
    "event_cep_sql_anchor_end_measures" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndMeasures)
        .withColumn("view_sum", Det.round2(col("view_sum")))
        .orderBy("user_id", "start_id")),

    // '$' × ALTERNATION (round-13 lift): overlapping value-predicate
    // branches, end pin per branch BEFORE the leftmost-branch dedup.
    // Oracle generated from the same text (oracleFor's pinned union).
    "event_cep_sql_anchor_end_alt" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAlt)
        .orderBy("user_id", "start_id")),

    // '$' × ALTERNATION × RELUCTANT (round-14 lift of the round-13
    // ADVICE finding): strict branches with a reluctant tail step run
    // the anchored BACKTRACKING matcher per branch — never the
    // committed-end pin, which silently under-matches (the reluctant
    // matcher commits to minimal ends). Oracle: the GREEDY twin's
    // generated pinned-union oracle — under the pin a strict branch
    // with distinct adjacent symbols has a FORCED decomposition, so
    // the twin's pinned matches (step_counts included) equal the
    // anchored reluctant resolution.
    "event_cep_sql_anchor_end_alt_reluctant" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAltReluctant)
        .orderBy("user_id", "start_id")),

    // ... × general MEASURES: the winning branch's consumed rows come
    // from the anchored matcher's consumed-row projection
    // (alternationConsumed's branch dispatch). Oracle: the greedy
    // twin's pinned-union match oracle, measures recomputed literally
    // over each match's contiguous span.
    "event_cep_sql_anchor_end_alt_measures" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAltMeasures)
        .withColumn("buy_sum", Det.round2(col("buy_sum")))
        .orderBy("user_id", "start_id")),

    // '$' × PERMUTE: the partition's LAST three rows as any ordering of
    // {click, view, purchase} — the end pin per expanded branch before
    // the earliest-ordering dedup, same mechanics as _alt.
    "event_cep_sql_anchor_end_permute" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndPermute)
        .orderBy("user_id", "start_id")),

    // '$' × RELUCTANT × ALL ROWS (round-14): the anchored backtracking
    // matcher's consumed-row projection, one row per consumed row.
    // Oracle: the greedy twin's pinned match oracle expanded over each
    // match's contiguous span (strict: rows rn_start..rn_end; step =
    // the row's type-mapped variable).
    "event_cep_sql_anchor_end_reluctant_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndReluctantAllRows)
        .select("user_id", "start_id", "end_id", "pos", "event_id", "ts",
          "step", "value")
        .orderBy("user_id", "start_id", "pos")),

    // '$' × ALTERNATION(reluctant branch) × ALL ROWS: the winning
    // branch's anchored consumed rows (alternationConsumed's branch
    // dispatch). Oracle: the greedy twin's pinned-union match oracle,
    // span-expanded; 'purchase' rows map to the branch variable 'buy'.
    "event_cep_sql_anchor_end_alt_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAltAllRows)
        .select("user_id", "start_id", "end_id", "pos", "event_id", "ts",
          "step", "value")
        .orderBy("user_id", "start_id", "pos")),

    // '$' × ITERATIVE × ALL ROWS: the pinned-final anchored matcher's
    // two consumed rows per match (the relaxed gap rows are skipped,
    // not consumed). Independent oracle: the anchor_end_iter match
    // formulation exploded to (anchor, last-row) pairs.
    "event_cep_sql_anchor_end_iter_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndIterAllRows)
        .select("user_id", "start_id", "end_id", "pos", "event_id", "ts",
          "step", "value")
        .orderBy("user_id", "start_id", "pos")),

    // '$' × ITERATIVE DEFINE (round-13 lift): the successor pinned to
    // the partition's last row by the pinned-final anchored matcher.
    // Independent oracle: per purchase anchor, match iff the user's
    // LAST row is a purchase with a strictly higher value, WITHIN 24 h.
    "event_cep_sql_anchor_end_iter" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndIter)
        .orderBy("user_id", "start_id")),

    // '$' × STRICT ITERATIVE × QUANTIFIER (round-14 lift): the
    // anchored backtracker explores a{1,3} counts with the running-sum
    // consumption context, the end pinned to the partition's last row.
    // Independent oracle: the user's LAST row must be a purchase; the
    // anchor k∈[1,3] rows above it matches iff those k rows are ALL
    // clicks whose value sum stays <= 200 (positive values make the
    // prefix cap equal the total cap), within 24 h.
    "event_cep_sql_anchor_end_iter_quant" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndIterQuant)
        .orderBy("user_id", "start_id")),

    // '$' × ALTERNATION × RELAXED branches (round-15 lift): anchor at
    // a view-or-click, any gap, a purchase pinned to the partition's
    // last row — the pinned-final anchored DFS per branch. Independent
    // oracle: per user whose LAST row is a purchase, every earlier
    // view/click row within 24 h anchors a match (branches cannot
    // contest an anchor — a row is one type — so the leftmost dedup
    // is the identity here).
    "event_cep_sql_anchor_end_alt_relaxed" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAltRelaxed)
        .orderBy("user_id", "start_id")),

    // '$' × RELAXED × GENERAL QUANTIFIERS (round-15 — completes the
    // anchored matrix): the pinned-final DFS with quantified steps.
    // Independent oracle: per user whose LAST row is a purchase, the
    // purchase block is {L-1, L} when row L-1 is also a purchase else
    // {L} (the earliest alignment whose greedy count lands exactly on
    // L), and every view row r before the block anchors one match
    // consuming min(3, contiguous-views-from-r, block-start - r) views
    // (head counts greedy-descending under the pos <= block-start
    // constraint), within 24 h.
    "event_cep_sql_anchor_end_relaxed_quant" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndRelaxedQuant)
        .orderBy("user_id", "start_id")),

    // ... × ALL ROWS: the generalized pinned-final DFS's consumed-row
    // projection — the head's c1 view rows then the purchase block,
    // gap rows skipped (not consumed). Oracle: the match formulation
    // exploded over exactly those two row ranges.
    "event_cep_sql_anchor_end_relaxed_quant_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndRelaxedQuantAllRows)
        .select("user_id", "start_id", "end_id", "pos", "event_id", "ts",
          "step", "value")
        .orderBy("user_id", "start_id", "pos")),

    // '$' × RELUCTANT × compiled step_sums (round-15 lift of the last
    // rejected cell of the anchored matrix): the per-step exact-cents
    // summary is ONE scoped hash aggregation over the anchored
    // backtracking matcher's consumed rows. Oracle: the greedy twin's
    // GENERATED compiled-measures oracle (step_sums included) + the
    // last-row pin — under the pin the strict decomposition is forced,
    // so each step's consumed rows (hence cents sums) are forced too.
    "event_cep_sql_anchor_end_sums" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndSums)
        .orderBy("user_id", "start_id")),

    // '$' × ALTERNATION(reluctant branch) × compiled step_sums: the
    // pinned per-branch consumed rows (alternationConsumed) folded
    // element-wise — the alternation element scopes over {view, click}
    // combined, reading the winning branch's sums exactly. Oracle: the
    // greedy twin's generated pinned-union oracle, step_sums carried
    // through the leftmost-branch dedup.
    "event_cep_sql_anchor_end_alt_sums" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndAltSums)
        .orderBy("user_id", "start_id")),

    // '$' × STRICT ITERATIVE × QUANTIFIER × compiled step_sums: the
    // anchored backtracker's consumed rows under the SUM(a.value)
    // running cap, folded per step. Independent oracle: the
    // iter_quant formulation extended with the same exact-cents
    // per-step sums (clicks-run cents, last-purchase cents).
    "event_cep_sql_anchor_end_iter_sums" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.anchorEndIterSums)
        .orderBy("user_id", "start_id")),

    // MEASURES × DEFINE navigation (round-10 top-next item): the
    // FIRST(a.value) iterative pattern WITH a general MEASURES clause —
    // the per-key matcher's consumed-row projection feeds the same
    // per-match hash aggregation as the symbolic route. Independent
    // oracle: the row_number-first-successor chain carrying both rows'
    // values, aggregated literally (total_v cents-rounded both sides).
    "event_cep_sql_iter_agg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.iterAggMeasures)
        .withColumn("total_v", Det.round2(col("total_v")))
        .orderBy("user_id", "start_id")),

    // ALL ROWS PER MATCH × DEFINE navigation: the same pattern emitting
    // each match's two consumed rows (anchor purchase pos 1, higher
    // successor pos 2) — the other half of the old rejection at the
    // front door. Oracle: the same first-successor chain exploded to
    // two rows per match.
    "event_cep_sql_iter_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.iterAllRows)
        .orderBy("user_id", "start_id", "pos")),

    // Aggregate condition in DEFINE from text (Flink IterativeCondition
    // `SUM(A.price) < 100`): RUNNING value-sum-capped click run then a
    // purchase, greedy with backtracking. Oracle: explicit lead()
    // chains replaying the exact left-to-right summation and the
    // greedy-then-backtrack position choice.
    "event_cep_sql_defagg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.defAgg)
        .orderBy("user_id", "start_id")),

    // UNBOUNDED aggregate condition (`a+` under SUM(a.value) <= 200):
    // same greedy-with-backtracking matcher route; the oracle is a
    // WITH RECURSIVE chain walk over row-numbered events — the
    // maximal capped click run per anchor, match iff the row after
    // the run is a purchase (strict contiguity makes any earlier
    // backtrack position a click, so only the run-end position can
    // carry the purchase).
    "event_cep_sql_defagg_unbounded" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.defAggUnbounded)
        .orderBy("user_id", "start_id")),

    // MEASURES expressions from text: arithmetic over the simple calls
    // + the implicit-LAST bare reference, on the same C+ P WITHIN 10
    // matches — hidden sub-measures aggregated once, expressions as a
    // post-projection (no extra shuffle). Oracle: the islands CTE chain
    // with the same closed forms (mean_v cents-rounded both sides).
    "event_cep_sql_expr" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.exprMeasures)
        .withColumn("mean_v", Det.round2(col("mean_v")))
        .orderBy("user_id", "start_id")),

    // MEASURES expressions beyond arithmetic (round-12): CASE WHEN over
    // comparisons, CAST-wrapped boolean, `||` concat with CLASSIFIER()
    // as a sub-term, FLOOR/COALESCE wrappers — same islands matches,
    // closed-form oracle. avg_click is bit-stable cents-rounded INSIDE
    // the measure (the FLOOR idiom) on both sides.
    "event_cep_sql_expr_case" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.exprCase)
        .orderBy("user_id", "start_id")),

    // Aggregate condition × MEASURES from text: the defAgg matches
    // with per-match aggregates computed over the consumed span.
    // Oracle: the same lead-chain match derivation carrying the run's
    // values, aggregates closed-form on the backtracked position
    // (a_sum cents-rounded both sides — partial-agg summation order).
    "event_cep_sql_defagg_agg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.defAggMeasures)
        .withColumn("a_sum", Det.round2(col("a_sum")))
        .orderBy("user_id", "start_id")),

    // Alternation × general MEASURES (round-10 item 2): per-branch
    // consumed rows, leftmost-branch anchor dedup, ONE aggregation.
    // Oracle: per-branch first-successor chains carrying consumed
    // values, same dedup, aggregated literally.
    "event_cep_sql_alt_agg" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.altAggMeasures)
        .withColumn("total_v", Det.round2(col("total_v")))
        .orderBy("user_id", "start_id")),

    // Alternation × ALL ROWS PER MATCH: the winning branch's three
    // consumed rows per match (signup, click-or-view with the branch
    // VARIABLE as step, purchase). Oracle: the same deduped match set
    // exploded to rows.
    "event_cep_sql_alt_allrows" -> ((s, d) =>
      MatchRecognize.run(Tables.events(s, d), CepSql.altAllRows)
        .orderBy("user_id", "start_id", "pos")),

    "topk_per_group" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      // no broadcast hint: customer is fact-sized at scale — AQE picks
      // BHJ locally from the observed size and SMJ/SHJ on a cluster
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy("c_mktsegment", "rnk")
    }),

    // ---- H. scalar function families ----
    // Cryptographic hash functions (Flink SQL MD5 / SHA2 family): hex
    // digests are byte-defined by the algorithms, so they hash-match
    // across engines by construction. SHA1/CRC32 exist in both Spark
    // and Flink but not DuckDB — covered by the same-family argument
    // (one algorithm per key suffices to pin the codepath; md5 already
    // underpins every signature expression in the library).
    "fn_hash" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          md5(col("p_name").cast("binary")).as("h_md5"),
          sha2(col("p_name").cast("binary"), 256).as("h_sha256"))
        .orderBy("p_partkey")),

    "fn_string" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("tr"),
          substring(col("p_name"), 1, 5).as("sub5"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
          element_at(split(col("p_name"), " "), 1).as("w0"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("re1"),
          length(col("p_name")).as("len"),
          levenshtein(col("p_name"), lit("red widget")).as("lev"))
        .orderBy("p_partkey")),

    "fn_date" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofweek(col("o_orderdate")).as("dow"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")),

    "fn_math" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          abs(col("l_quantity") - 25).as("ab"),
          pow(lit(2), col("l_linenumber")).as("pw"),
          Det.round2(sqrt(col("l_quantity"))).as("sq"),
          Det.round2(log(col("l_quantity"))).as("lg"),
          pmod(col("l_partkey"), lit(7)).as("md"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Bitwise scalar family over the integer key columns (hash
    // partitioners, bitmap indexes and bucket routing all live on these).
    "fn_bit" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").bitwiseAND(col("l_suppkey")).as("ba"),
          col("l_partkey").bitwiseOR(col("l_suppkey")).as("bo"),
          col("l_partkey").bitwiseXOR(col("l_suppkey")).as("bx"),
          shiftleft(col("l_linenumber"), 3).as("shl"),
          shiftright(col("l_partkey"), 2).as("shr"),
          bit_count(col("l_partkey")).as("bc"))
        .orderBy("l_orderkey", "l_linenumber")),

    "fn_array" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).as("n"),
          Det.round4(expr(
            "aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double))")).as("vsum"),
          expr("size(filter(embedding, x -> x > 0))").as("npos"),
          // round4-scaled ints joined to a string: array cells crash the
          // driver's pandas comparator, and integer serialization avoids
          // cross-engine double-formatting differences.
          concat_ws(",", expr(
            "transform(slice(embedding, 1, 3), x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")).as("first3"),
          Det.round4(expr(
            "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, x) -> acc + x)")).as("dot_self"))
        .orderBy("vec_id")),

    // Map function family: construction, keys/values, map_concat,
    // map_filter, transform_values (the round-9 "oracle depth" item).
    // DuckDB has no map_filter/transform_values — the oracle replays
    // the semantics over the ENTRIES ARRAY (ordered struct list), which
    // is exactly Spark's map entry order for literal-built maps (insert
    // order, preserved by concat/filter/transform).
    "fn_map" -> ((s, d) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(s, d)
        .select(col("event_id"),
          map(lit("k"), k, lit("k2"), k * 2).as("m"),
          map(lit("k3"), k + 1).as("m3"))
        .select(col("event_id"),
          concat_ws(",", map_keys(col("m"))).as("mkeys"),
          concat_ws(",", expr("transform(map_values(m), v -> cast(v as string))")).as("mvals"),
          concat_ws(",", map_keys(map_concat(col("m"), col("m3")))).as("ckeys"),
          concat_ws(",", expr(
            "transform(map_values(map_concat(m, m3)), v -> cast(v as string))")).as("cvals"),
          concat_ws(",", map_keys(expr(
            "map_filter(m, (kk, v) -> v % 2 = 0)"))).as("fkeys"),
          concat_ws(",", expr(
            "transform(map_values(transform_values(m, (kk, v) -> v * 10)), " +
              "v -> cast(v as string))")).as("tvals"))
        .orderBy("event_id")
    }),

    "fn_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          to_json(from_json(col("props"), lit("k INT"))).as("roundtrip"))
        .orderBy("event_id")),

    // URL parsing family over a deterministically synthesized URL (no
    // corpus table carries URLs; the construction is mirrored in the
    // oracle, which pins every parse_url piece directly).
    "fn_url" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang"), lit("&page=2#top")))
        .select(col("doc_id"), col("url"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'REF')").as("frag"),
          expr("parse_url(url, 'QUERY', 'lang')").as("q_lang"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"))
        .orderBy("doc_id")),

    // Spark 4 VARIANT semi-structured type: parse_json → typed
    // variant_get + canonical re-serialization; a missing path yields
    // null (pinned via the is-null bit).
    "fn_variant" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"),
          expr("cast(variant_get(parse_json(props), '$.missing', 'int') is null as int)")
            .as("miss_is_null"),
          expr("to_json(parse_json(props))").as("canon"))
        .orderBy("event_id"))
  )

  /** The declared pattern specs — shared by the queries above, the
    * generated oracles below, and CepSpec's fixture cross-check.
    */
  object CepPatterns {
    val quant = CepPattern(Seq(CepStep("signup", 2, None),
      CepStep("view", 1, Some(2)), CepStep("purchase", 1, None)))
    val optional = CepPattern(Seq(CepStep("click", 1, None),
      CepStep("error", 0, Some(1)), CepStep("signup", 1, None)))
    val tonext = CepPattern(Seq(CepStep("click", 1, Some(3)),
      CepStep("purchase", 1, Some(1))), Some(720), SkipToNextRow)
    val relaxed = CepPattern(Seq(CepStep("signup", 1, None),
      CepStep("click", 1, Some(2)), CepStep("purchase", 1, None)),
      Some(1440), SkipToNextRow, strict = false)
    val negated = CepPattern(Seq(CepStep("view", 1, None),
      CepStep("click", negated = true), CepStep("purchase", 1, None)),
      Some(1440), SkipToNextRow, strict = false)
    // TRAILING negation positive prefixes (see event_cep_not_end /
    // event_cep_timeout): the forbidden continuation symbol lives
    // outside the pattern object — Cep.compileNotEnd composes it as
    // the deadline-bounded anti-join, so the constructor's
    // interior-negation guard stays intact
    val notEndPrefix = CepPattern(Seq(CepStep("view", 1, None),
      CepStep("click", 1, Some(2))), Some(1440), SkipToNextRow,
      strict = false)
    // the timed-out partial: the first two funnel steps matched, the
    // purchase pending when the 12 h window expires (CepPattern keeps
    // its >= 2 steps guard — a 1-step "partial" is just a filter)
    val timeoutPrefix = CepPattern(Seq(CepStep("signup", 1, Some(1)),
      CepStep("click", 1, Some(1))), Some(720), SkipToNextRow,
      strict = false)
    // quant with a reluctant tail (see event_cep_reluctant)
    val reluctant = CepPattern(Seq(CepStep("signup", 2, None),
      CepStep("view", 1, Some(2)),
      CepStep("purchase", 1, None, greedy = false)))
    // value-predicate steps (see event_cep_where): engine-portable SQL,
    // mutually exclusive by event_type — the compileWhere contract
    val where = CepCondPattern(Seq(
      CepCondStep("hi_view", "event_type = 'view' AND value >= 50", 1, Some(2)),
      CepCondStep("buy", "event_type = 'purchase' AND value >= 20", 1, None)),
      Some(1440), SkipToNextRow, strict = false)
    // until() stop condition (see event_cep_until): a browse loop over
    // views/clicks stopped at the first value >= 80 row — stop checked
    // BEFORE accept, the stop row never consumed — then a purchase run.
    val untilPat = CepCondPattern(Seq(
      CepCondStep("browse", "event_type IN ('view', 'click')", 1, None,
        untilSql = Some("value >= 80")),
      CepCondStep("buy", "event_type = 'purchase' AND value >= 20", 1, Some(2))),
      Some(1440), SkipToNextRow, strict = false)
    // strict value-predicate pattern for the compiled-MEASURES route:
    // a browse run (views/clicks, merged by the predicate into ONE
    // derived symbol) ended by a qualifying purchase — mutually
    // exclusive predicates, strict contiguity, PAST LAST ROW
    val whereMeasures = CepCondPattern(Seq(
      CepCondStep("browse", "event_type IN ('view', 'click')", 1, None),
      CepCondStep("buy", "event_type = 'purchase' AND value >= 10", 1, Some(1))),
      Some(1440))
    // AFTER MATCH SKIP TO FIRST/LAST (see event_cep_skip_first/_last):
    // a relaxed signup{1,2} → click{1,2} → purchase{1,} funnel WITHIN
    // 24 h, resuming the scan at the click run's first / last consumed
    // row. Signup gap rows inside a match's span can anchor overlapping
    // matches that PAST LAST ROW would miss, while TO NEXT ROW's full
    // overlap set is thinned to the greedy resume chain.
    val skipFirst = CepPattern(Seq(CepStep("signup", 1, Some(2)),
      CepStep("click", 1, Some(2)), CepStep("purchase", 1, None)),
      Some(1440), SkipToFirst("click"), strict = false)
    val skipLast = skipFirst.copy(skip = SkipToLast("click"))
    // Pattern GROUP repetition (Flink Pattern.begin(sub).times(2)):
    // (view+ click+){2} strict — the bounded-unroll identity makes the
    // group executable as view+ click+ view+ click+ (repeated symbols,
    // so only the sequential matcher runs it — Cep.compile's run
    // alignment declines). TO NEXT ROW so every in-run anchor of the
    // first view run emits its own match.
    val group = CepPattern.repeat(Seq(CepStep("view", 1, None),
      CepStep("click", 1, None)), 2, skip = SkipToNextRow)
    // followedByAny over the same steps as `relaxed`
    val any = CepPattern(Seq(CepStep("signup", 1, None),
      CepStep("click", 1, Some(2)), CepStep("purchase", 1, None)),
      Some(1440), SkipToNextRow, strict = false, anyMatch = true)
    // iterative condition (see event_cep_iterative): step labels only —
    // the semantics live in iterConds
    val iter = CepPattern(Seq(CepStep("p_anchor", 1, Some(1)),
      CepStep("p_higher", 1, Some(1))), Some(1440), SkipToNextRow, strict = false)
    val iterConds: IndexedSeq[(Ev, IndexedSeq[Seq[Ev]]) => Boolean] = IndexedSeq(
      (e, _) => e.event_type == "purchase",
      (e, ctx) => e.event_type == "purchase" && ctx(0).nonEmpty &&
        e.value > ctx(0).head.value)
    // QUANTIFIED iterative condition (round-14 — the streaming seal
    // route's generalization target): the anchor step consumes a
    // CONTIGUOUS purchase run of 1-2 rows (greedy), and the successor
    // step's predicate references the run's FIRST consumed row — a
    // genuine quantifier × IterativeCondition composition, not
    // expressible by the {1,1} route.
    val iterQuant = CepPattern(Seq(CepStep("p_run", 1, Some(2)),
      CepStep("p_higher", 1, Some(1))), Some(1440), SkipToNextRow,
      strict = false)
    val iterQuantConds: IndexedSeq[(Ev, IndexedSeq[Seq[Ev]]) => Boolean] =
      IndexedSeq(
        (e, _) => e.event_type == "purchase",
        (e, ctx) => e.event_type == "purchase" && ctx(0).nonEmpty &&
          e.value > ctx(0).head.value)
  }

  /** MATCH_RECOGNIZE clause texts for the `event_cep_sql*` keys — the
    * single source both the Spark plan (MatchRecognize.run) and the
    * DuckDB oracle (MatchRecognize.oracleFor) compile from.
    */
  object CepSql {
    val funnel: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (v{1,3} g1* c+ g2* p{1,2})
        |  WITHIN INTERVAL '12' HOUR
        |  DEFINE v AS event_type = 'view',
        |         c AS event_type = 'click',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    val hotBuy: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (hot{1,2} g1* buy+)
        |  WITHIN INTERVAL '1' DAY
        |  DEFINE hot AS hot.event_type IN ('view', 'click') AND hot.value >= 60,
        |         buy AS buy.event_type = 'purchase' AND buy.value >= 30
        |)""".stripMargin
    val measured: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(value) AS step_sums
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (c{1,2} p+)
        |  WITHIN INTERVAL '360' MINUTE
        |  DEFINE c AS event_type = 'click',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    // DEFINE navigation (FIRST — match-relative): the iterative-condition
    // semantics of event_cep_iterative from clause TEXT — purchase
    // anchor, then the first later purchase whose value EXCEEDS THE
    // ANCHOR'S (FIRST(a.value) = the anchor row, a is {1,1}). Routes to
    // the per-key generalized matcher; same matches as the DSL key, so
    // the oracle is shared (independent row_number-first-successor
    // formulation, NOT generated from the pattern).
    val iterHigher: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a g1* b)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS a.event_type = 'purchase',
        |         b AS b.event_type = 'purchase' AND b.value > FIRST(a.value)
        |)""".stripMargin
    // DEFINE navigation (PREV — physical-partition relative): a click
    // whose value exceeds the PREVIOUS PARTITION ROW's value (whatever
    // event that was — the SQL:2016/Flink PREV semantics), immediately
    // followed by a purchase, within 60 min. Strict contiguity, so the
    // oracle is one lag + lead window over the partition order.
    val prevRise: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (r p)
        |  WITHIN INTERVAL '60' MINUTE
        |  DEFINE r AS r.event_type = 'click' AND r.value > PREV(r.value),
        |         p AS p.event_type = 'purchase'
        |)""".stripMargin
    // MEASURES composed WITH DEFINE navigation (the round-10 top-next
    // seam): the iterHigher FIRST(a.value) pattern plus a general
    // MEASURES clause — the iterative matcher's consumed-row projection
    // feeds the same runMeasures aggregation as the symbolic route.
    // Matches consume exactly the anchor and successor purchases (gap
    // rows are skipped, not consumed), so every aggregate ranges over
    // those two rows.
    val iterAggMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES MATCH_NUMBER() AS match_no,
        |           COUNT(*) AS n_consumed,
        |           SUM(value) AS total_v,
        |           FIRST(b.value) AS b_value,
        |           MAX(value) AS max_v,
        |           CLASSIFIER() AS last_step
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a g1* b)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS a.event_type = 'purchase',
        |         b AS b.event_type = 'purchase' AND b.value > FIRST(a.value)
        |)""".stripMargin
    // ALL ROWS PER MATCH composed WITH DEFINE navigation (the other
    // half of the old rejection): the same pattern emitting each
    // match's two consumed rows through the iterative matcher's
    // consumed-row projection.
    val iterAllRows: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a g1* b)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS a.event_type = 'purchase',
        |         b AS b.event_type = 'purchase' AND b.value > FIRST(a.value)
        |)""".stripMargin
    // AGGREGATE condition in DEFINE (Flink SQL's IterativeCondition
    // surface, `SUM(A.price) < 100`): a click run capped by its own
    // RUNNING value sum (each acceptance test includes the tentative
    // current row — SQL:2016 RUNNING semantics), then a purchase.
    // Bounded repetition keeps the independent oracle expressible as
    // explicit lead() chains with the engine's exact left-to-right
    // IEEE summation order.
    val defAgg: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a{1,4} b)
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 200,
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin
    // SQL:2016 PERMUTE (round-12 item 5 — a beyond-Flink completion:
    // Flink SQL rejects PERMUTE entirely): any ordering of a strict
    // click/view/purchase triple within 2 h. Expands to the 3! branch
    // orderings in lexicographic declared order; contested anchors go
    // to the earliest ordering (the same leftmost-preference dedup as
    // alternation). Oracle GENERATED from this text (per-permutation
    // branch oracles + the same dedup window).
    // SQL:2016 anchors (Flink rejects both): `^` pins the match start
    // to the partition's first row — "the signup-FIRST cohort that
    // eventually purchased" (onboarding attribution); `$` pins the end
    // to its last row — "the user's history ENDS in a viewed
    // purchase". Anchors filter matches; they consume nothing.
    val anchorStart: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (^ signup g* purchase)
        |  DEFINE signup AS event_type = 'signup',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    val anchorEnd: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (view+ purchase $)
        |  DEFINE view AS event_type = 'view',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // RELUCTANT quantifiers + '$' (round-13 lift of the round-12
    // rejection): both quantifiers reluctant, the end pinned to the
    // partition's last row — runs the per-key anchored BACKTRACKING
    // matcher (Cep.matchCoreAnchoredEnd; a post-filter would
    // under-match because the reluctant matcher commits to minimal
    // ends). TO NEXT ROW tries every anchor independently.
    val anchorEndReluctant: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (view+? purchase{1,2}? $)
        |  DEFINE view AS event_type = 'view',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // RELUCTANT + '$' + general MEASURES (round-14 lift of the last
    // residual rejection on this route): the anchored BACKTRACKING
    // matcher's CONSUMED-ROW projection feeds the same runMeasures
    // executor as the unanchored twins — per-variable scoped
    // aggregates over true anchored matches, never a post-filter.
    // Measure equality with the greedy twin holds for the same reason
    // the match set does: under the end pin a strict segment's
    // decomposition is forced by the symbol runs, so each variable's
    // consumed rows are forced too.
    val anchorEndMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(view.*) AS n_views,
        |           SUM(view.value) AS view_sum,
        |           LAST(purchase.value) AS last_p_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (view+? purchase{1,2}? $)
        |  DEFINE view AS event_type = 'view',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // ALTERNATION + '$' (round-13 lift): OVERLAPPING value-predicate
    // branches (hi ⊂ lo — contested anchors resolve leftmost) with the
    // end pin applied PER BRANCH before the leftmost-branch dedup
    // (runAlternation's pinned union; strict branches make the pin
    // exact — the segment decomposition is forced).
    val anchorEndAlt: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((hi | lo) buy{1,2} $)
        |  DEFINE hi AS hi.event_type IN ('view', 'click') AND hi.value >= 50,
        |         lo AS lo.event_type IN ('view', 'click') AND lo.value >= 10,
        |         buy AS buy.event_type = 'purchase'
        |)""".stripMargin
    // RELUCTANT INSIDE ALTERNATION + '$' (round-14 lift of the
    // round-13 ADVICE finding): each expanded branch is strict with a
    // reluctant tail step — unanchored, a branch commits to ONE buy,
    // so a pin over committed ends would drop anchors whose resolution
    // needs the SECOND buy to reach the last row; the per-branch
    // anchored backtracking matcher extends the reluctant step instead
    // (runAlternation's branch dispatch → Cep.matchCoreAnchoredEnd).
    val anchorEndAltReluctant: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((view | click) buy{1,2}? $)
        |  DEFINE view AS event_type = 'view',
        |         click AS event_type = 'click',
        |         buy AS event_type = 'purchase'
        |)""".stripMargin
    // ... and with general MEASURES: the winning branch's consumed
    // rows come from the anchored matcher's consumed-row projection
    // (alternationConsumed's branch dispatch), feeding the same
    // runMeasures executor as every other route.
    val anchorEndAltMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(buy.*) AS n_buys,
        |           SUM(buy.value) AS buy_sum
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((view | click) buy{1,2}? $)
        |  DEFINE view AS event_type = 'view',
        |         click AS event_type = 'click',
        |         buy AS event_type = 'purchase'
        |)""".stripMargin
    // PERMUTE + '$' (the round-13 alternation lift covers PERMUTE —
    // strict {1,1} branches): the {click, view} permutation pinned to
    // the partition's LAST two rows, either order, within 24 h (the
    // 3-permutation tail never occurs on this fixture, and a 2 h bound
    // empties the sf0.001 smoke fixture).
    val anchorEndPermute: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (PERMUTE(c, v) $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE c AS event_type = 'click',
        |         v AS event_type = 'view'
        |)""".stripMargin
    // ITERATIVE DEFINE + '$' (round-13 lift): the iterHigher
    // FIRST(a.value) pattern with the SUCCESSOR PINNED to the
    // partition's last row — the pinned-final anchored matcher
    // (Cep.matchCoreAnchoredEnd's {1,1} DFS route). Note the anchored
    // semantics differ from iterHigher's: b is THE last row, not the
    // first qualifying successor.
    val anchorEndIter: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a g1* b $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS a.event_type = 'purchase',
        |         b AS b.event_type = 'purchase' AND b.value > FIRST(a.value)
        |)""".stripMargin

    // STRICT ITERATIVE + '$' + QUANTIFIERS (round-14 lift): the
    // sum-capped click run pinned to end adjacent to the partition's
    // last row. STRICT patterns carry the anchored BACKTRACKING
    // matcher with the consumption context, so general quantifiers
    // compose with '$'; relaxed iterative keeps the all-{1,1}
    // pinned-final DFS (rejected loudly otherwise).
    val anchorEndIterQuant: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a{1,3} b $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 200,
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin

    // ALL ROWS twins of the lifted anchored routes (round-14): the
    // same anchored matchers' consumed-row projections, one row per
    // consumed row — never a filter over committed unanchored ends.
    // (Declared AFTER every base fixture — object vals initialize in
    // declaration order.)
    val anchorEndReluctantAllRows: String =
      anchorEndReluctant.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    val anchorEndAltAllRows: String =
      anchorEndAltReluctant.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    val anchorEndIterAllRows: String =
      anchorEndIter.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")

    // RELAXED branches under ALTERNATION + '$' (round-15 lift of the
    // round-14 residual): every branch is relaxed with all-{1,1}
    // steps, so each routes through the pinned-final anchored DFS
    // per branch (Cep.matchCoreAnchoredEnd's relaxed mode) — never
    // the committed-end pin, which would under-match whenever the
    // anchored resolution needs a LATER gap alignment than the
    // unanchored walk's first-qualifying one.
    val anchorEndAltRelaxed: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN ((view | click) g1* buy $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE view AS event_type = 'view',
        |         click AS event_type = 'click',
        |         buy AS event_type = 'purchase'
        |)""".stripMargin

    // GENERAL QUANTIFIERS under RELAXED '$' (round-15 — the final
    // cell: the "per-anchor speculative ends" search rounds 12-14
    // rejected): a contiguous view run (1-3), any gap, a purchase
    // block (1-2) pinned to END at the partition's last row — the
    // preference-ordered pinned-final DFS (alignments earliest-first,
    // counts greedy-descending; Cep.tryRelaxedAnchoredAlt).
    val anchorEndRelaxedQuant: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a{1,3} g1* b{1,2} $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE a AS event_type = 'view',
        |         b AS event_type = 'purchase'
        |)""".stripMargin

    val anchorEndRelaxedQuantAllRows: String =
      anchorEndRelaxedQuant.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")

    // Compiled `SUM(value) AS step_sums` under '$' (round-15 lift of
    // the LAST rejected cell of the anchored matrix): the per-step
    // exact-cents summary folded over the anchored matchers' consumed
    // rows (MatchRecognize.stepSumsFromConsumed) — one twin per lifted
    // route: reluctant backtracking, per-branch alternation dispatch,
    // strict-iterative backtracking with the consumption context.
    val anchorEndSums: String =
      anchorEndReluctant.replace("ONE ROW PER MATCH",
        "MEASURES SUM(value) AS step_sums\n  ONE ROW PER MATCH")
    val anchorEndAltSums: String =
      anchorEndAltReluctant.replace("ONE ROW PER MATCH",
        "MEASURES SUM(value) AS step_sums\n  ONE ROW PER MATCH")
    val anchorEndIterSums: String =
      anchorEndIterQuant.replace("ONE ROW PER MATCH",
        "MEASURES SUM(value) AS step_sums\n  ONE ROW PER MATCH")

    val permuteFunnel: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (PERMUTE(c, v, p))
        |  WITHIN INTERVAL '120' MINUTE
        |  DEFINE c AS event_type = 'click',
        |         v AS event_type = 'view',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    // PERMUTE × compiled step_sums, BRANCH-TAGGED (round 16 — the last
    // matrix cell): same funnel, MEASURES SUM(value) AS step_sums.
    val permuteSums: String =
      permuteFunnel.replace("ONE ROW PER MATCH",
        "MEASURES SUM(value) AS step_sums\n  ONE ROW PER MATCH")
    // UNBOUNDED aggregate condition in DEFINE (round-12 item 4): the
    // same RUNNING-sum-capped click run with `a+` instead of `a{1,4}`
    // — the run length is limited only by the sum cap and contiguity,
    // so the independent oracle is a WITH RECURSIVE chain walk (the
    // event_cep_skip_first style) instead of a closed-form lead chain.
    val defAggUnbounded: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a+ b)
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 200,
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin
    // MEASURES EXPRESSIONS (Flink SQL's `LAST(A.v) - FIRST(A.v)`):
    // arithmetic over the simple calls, a bare `purchase.value`
    // (SQL:2016 implicit LAST), and mixed long arithmetic — decomposed
    // to hidden sub-measures + one post-aggregation projection.
    val exprMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES LAST(click.value) - FIRST(click.value) AS climb,
        |           SUM(value) / COUNT(*) AS mean_v,
        |           purchase.value AS p_v,
        |           MATCH_NUMBER() * 1000 + COUNT(click.*) AS tag
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // MEASURES expressions BEYOND arithmetic (round-12 top-next item):
    // CASE WHEN over a comparison of navigation extremes, an integer
    // comparison CAST to INT, string concatenation with CLASSIFIER()
    // as a sub-term, and FLOOR/COALESCE wrappers (the bit-stable
    // cents-rounding spelled INSIDE the measure) — all decomposed to
    // hidden simple sub-measures + ONE post-aggregation Catalyst
    // projection, no extra shuffle.
    val exprCase: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES CASE WHEN LAST(click.value) > FIRST(click.value) THEN 'up'
        |                WHEN LAST(click.value) < FIRST(click.value) THEN 'down'
        |                ELSE 'flat' END AS trend,
        |           CAST(COUNT(click.*) >= 2 AS INT) AS multi,
        |           CLASSIFIER() || '#' || CAST(COUNT(*) AS STRING) AS tag,
        |           FLOOR(COALESCE(SUM(click.value), 0) / COUNT(click.*) * 100 + 0.5) / 100 AS avg_click
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // Aggregate condition × general MEASURES: the RUNNING-sum-capped
    // click run WITH a measures clause — the last unexercised
    // composition cell (iterative-aggregate route into runMeasures).
    val defAggMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES MATCH_NUMBER() AS match_no,
        |           COUNT(*) AS n_consumed,
        |           SUM(a.value) AS a_sum,
        |           LAST(b.value) AS b_v,
        |           CLASSIFIER() AS last_step
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a{1,4} b)
        |  DEFINE a AS a.event_type = 'click' AND SUM(a.value) <= 200,
        |         b AS b.event_type = 'purchase'
        |)""".stripMargin
    // Alternation composed WITH general MEASURES (round-10 item 2):
    // per-branch consumed rows, leftmost-branch anchor dedup, then ONE
    // runMeasures aggregation — branch-scoped COUNTs pin which
    // alternative won.
    val altAggMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(*) AS n_consumed,
        |           SUM(value) AS total_v,
        |           COUNT(c.*) AS n_c,
        |           COUNT(v.*) AS n_v,
        |           CLASSIFIER() AS last_step
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (s g1* (c | v) g2* p)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE s AS event_type = 'signup',
        |         c AS event_type = 'click',
        |         v AS event_type = 'view',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    // DEFINE navigation (NEXT — physical FORWARD partition navigation,
    // the fourth SQL:2016 navigation function): a click that exceeds
    // the value TWO partition rows ahead (look-ahead past the match's
    // own purchase), immediately followed by a purchase, within 60 min.
    // Strict contiguity, so the oracle is lead(value, 2) + lead(·, 1)
    // windows — no matcher at all.
    val nextDrop: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (r p)
        |  WITHIN INTERVAL '60' MINUTE
        |  DEFINE r AS r.event_type = 'click' AND r.value > NEXT(r.value, 2),
        |         p AS p.event_type = 'purchase'
        |)""".stripMargin
    // Alternation composed WITH ALL ROWS PER MATCH: the same funnel
    // emitting each winning branch's three consumed rows (the
    // alternationConsumed union + leftmost-branch dedup, row output).
    val altAllRows: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (s g1* (c | v) g2* p)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE s AS event_type = 'signup',
        |         c AS event_type = 'click',
        |         v AS event_type = 'view',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    // Bounded alternation `(c | v)`: the relaxed signup -> click-or-view
    // -> purchase funnel — two expanded branches compiled and unioned,
    // overlapping anchors deduped by leftmost branch preference. The
    // oracle is GENERATED from the same text (per-branch generated
    // oracles + the same dedup window).
    val altFunnel: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (s g1* (c | v) g2* p)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE s AS event_type = 'signup',
        |         c AS event_type = 'click',
        |         v AS event_type = 'view',
        |         p AS event_type = 'purchase'
        |)""".stripMargin
    // SQL:2016 pattern exclusion (round-12 item 6 — Flink SQL rejects
    // `{- X -}` too, so this is a beyond-Flink completion): the same
    // C+ P islands matches as allRows, with the click run EXCLUDED
    // from the row output — matching unchanged, only the purchase rows
    // emit, `pos` keeping the original consumption numbering. Oracle:
    // the shared islands CTE chain with the symbol filter in SQL.
    val exclAllRows: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN ({- click+ -} purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // ALL ROWS PER MATCH from text: variables NAMED by the symbols they
    // define, so the executor's `step` column equals event_cep_all_rows'
    // (which emits event_type) and the two keys share one oracle.
    val allRows: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // '$' × ALL ROWS PER MATCH on the GREEDY route (round-14): the end
    // anchor is the documented match-level filter (applyAnchors) over
    // the row-level output — every row of a match carries its end_id,
    // and a greedy deterministic-end match's committed end is its only
    // candidate end, so filter ≡ anchored matching here. ALL ROWS on
    // the LIFTED routes (reluctant / alternation / iterative '$')
    // stays rejected: there the committed end is not the only
    // candidate and a filter under-matches.
    val anchorEndAllRows: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase $)
        |  WITHIN INTERVAL '1440' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // General MEASURES, ONE ROW PER MATCH: MATCH_NUMBER, match-wide and
    // variable-scoped aggregates, FIRST/LAST over the click run — the
    // same C+ P WITHIN 10 min matches as allRows, so the oracle
    // aggregates the same islands CTE chain.
    val aggMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES MATCH_NUMBER() AS match_no,
        |           COUNT(*) AS n_consumed,
        |           COUNT(click.*) AS n_clicks,
        |           SUM(click.value) AS click_sum,
        |           FIRST(click.value) AS first_click_v,
        |           LAST(click.value) AS last_click_v,
        |           MAX(value) AS max_v,
        |           FIRST(click.value, 1) AS click2_v,
        |           LAST(click.value, 1) AS click_penult_v,
        |           CLASSIFIER() AS last_step
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // SUBSET union variables (SQL:2016): `cp` covers both steps, so
    // its aggregates range over every consumed row — declared next to
    // a member-scoped aggregate (n_clicks) to pin that the isin()
    // scope is genuinely the union, not a single variable.
    val subsetMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(cp.*) AS n_cp,
        |           SUM(cp.value) AS sum_cp,
        |           MIN(cp.value) AS min_cp,
        |           COUNT(click.*) AS n_clicks,
        |           LAST(cp.value) AS last_cp_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  SUBSET cp = (click, purchase)
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
    // General MEASURES, ALL ROWS PER MATCH: RUNNING (the mode default)
    // vs explicit FINAL frames, plus MATCH_NUMBER and a variable-scoped
    // ignore-nulls FIRST — every consumed row annotated.
    val runningMeasures: String =
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES MATCH_NUMBER() AS match_no,
        |           RUNNING COUNT(*) AS run_rows,
        |           RUNNING SUM(value) AS run_sum,
        |           FINAL COUNT(*) AS match_rows,
        |           FINAL MAX(value) AS match_max,
        |           FIRST(click.value) AS first_click_v,
        |           CLASSIFIER() AS var_name
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (click+ purchase)
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE click AS event_type = 'click',
        |         purchase AS event_type = 'purchase'
        |)""".stripMargin
  }

  /** Independent SQL formulation of the iterative-condition semantics
    * (NOT generated from the pattern — the predicate references the
    * matched anchor row, so the derivation route cannot express it):
    * per purchase anchor, the first later purchase of the same user
    * with a strictly higher value, in (ts, event_id) order, kept when
    * the span fits WITHIN 24 h. Shared by the DSL key
    * (event_cep_iterative) and the SQL-route key (event_cep_sql_iter —
    * FIRST(a.value) navigation resolves to the same machinery). */
  private val IterOracle: String =
    """WITH p AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, value
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
      |             b.event_id AS end_id, b.ts AS end_ts,
      |             row_number() OVER (PARTITION BY a.user_id, a.event_id
      |                                ORDER BY b.ts, b.event_id) AS rn
      |      FROM p a JOIN p b ON b.user_id = a.user_id
      |        AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
      |        AND b.value > a.value)
      |SELECT user_id, start_id, start_ts, end_id, end_ts,
      |       CAST(2 AS BIGINT) AS n_rows, '1,1' AS step_counts
      |FROM c WHERE rn = 1 AND end_ts <= start_ts + INTERVAL 1440 MINUTE
      |ORDER BY user_id, start_id""".stripMargin

  /** The iter match set WITH both consumed rows' values (the
    * [[IterOracle]] chain plus av/bv) — the base for the
    * MEASURES-with-navigation and ALL-ROWS-with-navigation oracles:
    * matches consume exactly the anchor purchase and its first
    * strictly-higher successor (gap rows are skipped, not consumed). */
  private val IterValueCtes: String =
    """WITH p AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, value
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
      |             a.value AS av,
      |             b.event_id AS end_id, b.ts AS end_ts, b.value AS bv,
      |             row_number() OVER (PARTITION BY a.user_id, a.event_id
      |                                ORDER BY b.ts, b.event_id) AS rn
      |      FROM p a JOIN p b ON b.user_id = a.user_id
      |        AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
      |        AND b.value > a.value),
      |m AS (SELECT * FROM c
      |      WHERE rn = 1 AND end_ts <= start_ts + INTERVAL 1440 MINUTE)""".stripMargin

  /** MEASURES × DEFINE navigation oracle: the iter match set
    * aggregated literally — each match's scope is its two consumed
    * rows, so the aggregates are closed-form over (av, bv). total_v
    * cents-rounded on both sides (two-term IEEE addition is
    * order-independent, but the rounding keeps the discipline
    * uniform). */
  private val IterAggOracle: String = IterValueCtes +
    """
      |SELECT user_id, start_id, start_ts, end_id, end_ts,
      |       CAST(2 AS BIGINT) AS n_rows,
      |       CAST(row_number() OVER (PARTITION BY user_id
      |              ORDER BY start_ts, start_id) AS BIGINT) AS match_no,
      |       CAST(2 AS BIGINT) AS n_consumed,
      |       floor((av + bv)*100 + 0.5)/100 AS total_v,
      |       bv AS b_value,
      |       greatest(av, bv) AS max_v,
      |       'b' AS last_step
      |FROM m ORDER BY user_id, start_id""".stripMargin

  /** ALL ROWS × DEFINE navigation oracle: the iter match set exploded
    * to its two consumed rows (anchor pos 1, successor pos 2). */
  private val IterAllRowsOracle: String = IterValueCtes +
    """
      |SELECT user_id, start_id, end_id, CAST(1 AS BIGINT) AS pos,
      |       start_id AS event_id, start_ts AS ts, 'a' AS step, av AS value
      |FROM m
      |UNION ALL
      |SELECT user_id, start_id, end_id, CAST(2 AS BIGINT) AS pos,
      |       end_id, end_ts, 'b', bv
      |FROM m
      |ORDER BY user_id, start_id, pos""".stripMargin

  /** Aggregate-condition-in-DEFINE oracle (a{1,4} with RUNNING
    * SUM(a.value) <= 200, then b = purchase, strict contiguity, SKIP
    * TO NEXT ROW): explicit lead() chains replay the matcher exactly —
    * ok_k gates each prefix with the SAME left-to-right IEEE sum
    * (value + v1 + ... parses left-associative, the engine's
    * sequential fold), L is the greedy run length, and the
    * backtracking choice is the LARGEST c <= L whose next row is a
    * purchase. NULL leads at the partition tail make ok_k NULL ->
    * CASE-false, matching the matcher's bounds checks. */
  private val DefAggOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
      |    lead(event_type, 1) OVER w AS ty1, lead(value, 1) OVER w AS v1,
      |    lead(event_id, 1) OVER w AS id1, lead(ts::TIMESTAMP, 1) OVER w AS ts1,
      |    lead(event_type, 2) OVER w AS ty2, lead(value, 2) OVER w AS v2,
      |    lead(event_id, 2) OVER w AS id2, lead(ts::TIMESTAMP, 2) OVER w AS ts2,
      |    lead(event_type, 3) OVER w AS ty3, lead(value, 3) OVER w AS v3,
      |    lead(event_id, 3) OVER w AS id3, lead(ts::TIMESTAMP, 3) OVER w AS ts3,
      |    lead(event_type, 4) OVER w AS ty4,
      |    lead(event_id, 4) OVER w AS id4, lead(ts::TIMESTAMP, 4) OVER w AS ts4
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (
      |  SELECT *,
      |    CASE WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty3 = 'click' AND ty2 = 'click' AND ty1 = 'click'
      |                   AND value + v1 <= 200 AND value + v1 + v2 <= 200
      |                   AND value + v1 + v2 + v3 <= 200 THEN TRUE END THEN 4
      |         WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty2 = 'click' AND ty1 = 'click'
      |                   AND value + v1 <= 200 AND value + v1 + v2 <= 200
      |                   THEN TRUE END THEN 3
      |         WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty1 = 'click' AND value + v1 <= 200
      |                   THEN TRUE END THEN 2
      |         WHEN event_type = 'click' AND value <= 200 THEN 1
      |         ELSE 0 END AS l
      |  FROM t),
      |mm AS (
      |  SELECT *,
      |    CASE WHEN l >= 4 AND ty4 = 'purchase' THEN 4
      |         WHEN l >= 3 AND ty3 = 'purchase' THEN 3
      |         WHEN l >= 2 AND ty2 = 'purchase' THEN 2
      |         WHEN l >= 1 AND ty1 = 'purchase' THEN 1 END AS bpos
      |  FROM r WHERE l >= 1)
      |SELECT user_id, event_id AS start_id, ts AS start_ts,
      |       CASE bpos WHEN 1 THEN id1 WHEN 2 THEN id2 WHEN 3 THEN id3
      |            ELSE id4 END AS end_id,
      |       CASE bpos WHEN 1 THEN ts1 WHEN 2 THEN ts2 WHEN 3 THEN ts3
      |            ELSE ts4 END AS end_ts,
      |       CAST(bpos + 1 AS BIGINT) AS n_rows,
      |       bpos || ',1' AS step_counts
      |FROM mm WHERE bpos IS NOT NULL
      |ORDER BY user_id, start_id""".stripMargin

  /** Unbounded-aggregate-condition oracle (round 12): WITH RECURSIVE
    * chain walk over row-numbered events — per qualifying click anchor,
    * the maximal contiguous click run whose LEFT-TO-RIGHT running sum
    * stays <= 200 (each recursion step replays the engine's exact
    * IEEE summation order and RUNNING acceptance test `s + v <= 200`),
    * then a match iff the row immediately after the run is a purchase.
    * Strict contiguity makes every earlier backtrack position a click
    * (it was part of the maximal run), so the run-end position is the
    * only one that can carry the purchase — the general
    * greedy-backtrack CASE of [[DefAggOracle]] degenerates to this
    * single check when the repetition is unbounded. */
  private val DefAggUnboundedOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |chain AS (
      |  SELECT user_id, rn AS start_rn, event_id AS start_id,
      |         ts AS start_ts, rn AS cur_rn, value AS s, 1 AS l
      |  FROM t WHERE event_type = 'click' AND value <= 200
      |  UNION ALL
      |  SELECT c.user_id, c.start_rn, c.start_id, c.start_ts,
      |         n.rn, c.s + n.value, c.l + 1
      |  FROM chain c JOIN t n ON n.user_id = c.user_id
      |    AND n.rn = c.cur_rn + 1
      |  WHERE n.event_type = 'click' AND c.s + n.value <= 200),
      |g AS (
      |  SELECT user_id, start_rn, start_id, start_ts, max(l) AS lmax
      |  FROM chain GROUP BY user_id, start_rn, start_id, start_ts)
      |SELECT g.user_id, g.start_id, g.start_ts,
      |       p.event_id AS end_id, p.ts AS end_ts,
      |       CAST(g.lmax + 1 AS BIGINT) AS n_rows,
      |       g.lmax || ',1' AS step_counts
      |FROM g JOIN t p ON p.user_id = g.user_id
      |  AND p.rn = g.start_rn + g.lmax AND p.event_type = 'purchase'
      |ORDER BY g.user_id, g.start_id""".stripMargin

  /** The alternation match set with ALL consumed rows' identities and
    * values (ending in deduped `w`): per-branch first-successor chains
    * (signup sv, click/view x_id/x_ts/xv, purchase pv), the same
    * leftmost-branch anchor dedup as the engine's union — the base for
    * BOTH the alternation × MEASURES and alternation × ALL ROWS
    * oracles. */
  private val AltMatchCtes: String =
    """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
      |                  value
      |           FROM events),
      |s AS (SELECT user_id, ts, event_id, value FROM e
      |      WHERE event_type = 'signup'),
      |xcc AS (SELECT s.user_id, s.event_id AS start_id, s.ts AS start_ts,
      |               s.value AS sv, x.event_id AS x_id, x.ts AS x_ts,
      |               x.value AS xv,
      |               row_number() OVER (PARTITION BY s.user_id, s.event_id
      |                                  ORDER BY x.ts, x.event_id) AS rn
      |        FROM s JOIN e x ON x.user_id = s.user_id
      |          AND x.event_type = 'click'
      |          AND (x.ts > s.ts OR (x.ts = s.ts AND x.event_id > s.event_id))),
      |xvv AS (SELECT s.user_id, s.event_id AS start_id, s.ts AS start_ts,
      |               s.value AS sv, x.event_id AS x_id, x.ts AS x_ts,
      |               x.value AS xv,
      |               row_number() OVER (PARTITION BY s.user_id, s.event_id
      |                                  ORDER BY x.ts, x.event_id) AS rn
      |        FROM s JOIN e x ON x.user_id = s.user_id
      |          AND x.event_type = 'view'
      |          AND (x.ts > s.ts OR (x.ts = s.ts AND x.event_id > s.event_id))),
      |bc AS (SELECT c.user_id, c.start_id, c.start_ts, c.sv,
      |              c.x_id, c.x_ts, c.xv,
      |              p.event_id AS end_id, p.ts AS end_ts, p.value AS pv,
      |              row_number() OVER (PARTITION BY c.user_id, c.start_id
      |                                 ORDER BY p.ts, p.event_id) AS rn2
      |       FROM (SELECT * FROM xcc WHERE rn = 1) c
      |       JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
      |         AND (p.ts > c.x_ts OR (p.ts = c.x_ts AND p.event_id > c.x_id))),
      |bv AS (SELECT c.user_id, c.start_id, c.start_ts, c.sv,
      |              c.x_id, c.x_ts, c.xv,
      |              p.event_id AS end_id, p.ts AS end_ts, p.value AS pv,
      |              row_number() OVER (PARTITION BY c.user_id, c.start_id
      |                                 ORDER BY p.ts, p.event_id) AS rn2
      |       FROM (SELECT * FROM xvv WHERE rn = 1) c
      |       JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
      |         AND (p.ts > c.x_ts OR (p.ts = c.x_ts AND p.event_id > c.x_id))),
      |u AS (SELECT user_id, start_id, start_ts, sv, x_id, x_ts, xv,
      |             end_id, end_ts, pv, 0 AS br
      |      FROM bc WHERE rn2 = 1
      |        AND end_ts <= start_ts + INTERVAL 1440 MINUTE
      |      UNION ALL
      |      SELECT user_id, start_id, start_ts, sv, x_id, x_ts, xv,
      |             end_id, end_ts, pv, 1
      |      FROM bv WHERE rn2 = 1
      |        AND end_ts <= start_ts + INTERVAL 1440 MINUTE),
      |w AS (SELECT *, min(br) OVER (PARTITION BY user_id, start_id) AS mbr
      |      FROM u)""".stripMargin

  /** Aggregate-condition × MEASURES oracle: the [[DefAggOracle]]
    * lead-chain match derivation EXTENDED with the consumed values —
    * the greedy run length l, the backtracked b position, then every
    * measure closed-form on bpos: a_sum is the same left-associative
    * prefix sum the gate tested (cents-rounded on both sides — the
    * engine aggregates per match with partial-agg order), b_v is
    * lead(value, bpos), MATCH_NUMBER numbers the surviving anchors per
    * key in (ts, event_id) order. */
  private val DefAggMeasuresOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
      |    lead(event_type, 1) OVER w AS ty1, lead(value, 1) OVER w AS v1,
      |    lead(event_id, 1) OVER w AS id1, lead(ts::TIMESTAMP, 1) OVER w AS ts1,
      |    lead(event_type, 2) OVER w AS ty2, lead(value, 2) OVER w AS v2,
      |    lead(event_id, 2) OVER w AS id2, lead(ts::TIMESTAMP, 2) OVER w AS ts2,
      |    lead(event_type, 3) OVER w AS ty3, lead(value, 3) OVER w AS v3,
      |    lead(event_id, 3) OVER w AS id3, lead(ts::TIMESTAMP, 3) OVER w AS ts3,
      |    lead(event_type, 4) OVER w AS ty4, lead(value, 4) OVER w AS v4,
      |    lead(event_id, 4) OVER w AS id4, lead(ts::TIMESTAMP, 4) OVER w AS ts4
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |r AS (
      |  SELECT *,
      |    CASE WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty3 = 'click' AND ty2 = 'click' AND ty1 = 'click'
      |                   AND value + v1 <= 200 AND value + v1 + v2 <= 200
      |                   AND value + v1 + v2 + v3 <= 200 THEN TRUE END THEN 4
      |         WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty2 = 'click' AND ty1 = 'click'
      |                   AND value + v1 <= 200 AND value + v1 + v2 <= 200
      |                   THEN TRUE END THEN 3
      |         WHEN CASE WHEN event_type = 'click' AND value <= 200
      |                   AND ty1 = 'click' AND value + v1 <= 200
      |                   THEN TRUE END THEN 2
      |         WHEN event_type = 'click' AND value <= 200 THEN 1
      |         ELSE 0 END AS l
      |  FROM t),
      |mm AS (
      |  SELECT *,
      |    CASE WHEN l >= 4 AND ty4 = 'purchase' THEN 4
      |         WHEN l >= 3 AND ty3 = 'purchase' THEN 3
      |         WHEN l >= 2 AND ty2 = 'purchase' THEN 2
      |         WHEN l >= 1 AND ty1 = 'purchase' THEN 1 END AS bpos
      |  FROM r WHERE l >= 1),
      |m2 AS (SELECT * FROM mm WHERE bpos IS NOT NULL)
      |SELECT user_id, event_id AS start_id, ts AS start_ts,
      |       CASE bpos WHEN 1 THEN id1 WHEN 2 THEN id2 WHEN 3 THEN id3
      |            ELSE id4 END AS end_id,
      |       CASE bpos WHEN 1 THEN ts1 WHEN 2 THEN ts2 WHEN 3 THEN ts3
      |            ELSE ts4 END AS end_ts,
      |       CAST(bpos + 1 AS BIGINT) AS n_rows,
      |       CAST(row_number() OVER (PARTITION BY user_id
      |              ORDER BY ts, event_id) AS BIGINT) AS match_no,
      |       CAST(bpos + 1 AS BIGINT) AS n_consumed,
      |       floor(CASE bpos WHEN 1 THEN value WHEN 2 THEN value + v1
      |                  WHEN 3 THEN value + v1 + v2
      |                  ELSE value + v1 + v2 + v3 END * 100 + 0.5) / 100 AS a_sum,
      |       CASE bpos WHEN 1 THEN v1 WHEN 2 THEN v2 WHEN 3 THEN v3
      |            ELSE v4 END AS b_v,
      |       'b' AS last_step
      |FROM m2
      |ORDER BY user_id, start_id""".stripMargin

  /** Alternation × MEASURES oracle: the deduped match set aggregated
    * literally. total_v replays the engine's pos-order summation
    * (sv + xv) + pv — SQL's left-associative parse. */
  private val AltAggOracle: String = AltMatchCtes +
    """
      |SELECT user_id, start_id, start_ts, end_id, end_ts,
      |       CAST(3 AS BIGINT) AS n_rows,
      |       CAST(3 AS BIGINT) AS n_consumed,
      |       floor((sv + xv + pv)*100 + 0.5)/100 AS total_v,
      |       CAST(CASE WHEN br = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_c,
      |       CAST(CASE WHEN br = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_v,
      |       'p' AS last_step
      |FROM w WHERE br = mbr
      |ORDER BY user_id, start_id""".stripMargin

  /** Alternation × ALL ROWS oracle: the deduped match set exploded to
    * its three consumed rows — signup pos 1, the winning branch's
    * click/view pos 2 (step = the branch VARIABLE), purchase pos 3. */
  private val AltAllRowsOracle: String = AltMatchCtes +
    """
      |SELECT user_id, start_id, end_id, CAST(1 AS BIGINT) AS pos,
      |       start_id AS event_id, start_ts AS ts, 's' AS step, sv AS value
      |FROM w WHERE br = mbr
      |UNION ALL
      |SELECT user_id, start_id, end_id, CAST(2 AS BIGINT) AS pos,
      |       x_id, x_ts, CASE WHEN br = 0 THEN 'c' ELSE 'v' END, xv
      |FROM w WHERE br = mbr
      |UNION ALL
      |SELECT user_id, start_id, end_id, CAST(3 AS BIGINT) AS pos,
      |       end_id, end_ts, 'p', pv
      |FROM w WHERE br = mbr
      |ORDER BY user_id, start_id, pos""".stripMargin

  /** The islands-rewrite consumed-rows CTE chain (ending in `ar`, the
    * per-match consumed rows of the C+ P WITHIN 10 min shape): the
    * independent formulation [[AllRowsOracle]] selects from directly,
    * and the general-MEASURES oracles aggregate (event_cep_sql_agg)
    * or window (event_cep_sql_runagg) — one reconstruction, three
    * cross-checked surfaces. */
  /** The click+ purchase islands chain with the WITHIN horizon as a
    * parameter — `AllRowsCtes` keeps the original 10-minute form; the
    * anchored-allrows key replays the same chain at its own horizon. */
  private def allRowsCtes(withinMinutes: Int): String =
      s"""WITH t AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    sum(CASE WHEN event_type != 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS blk
        |  FROM events),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
        |             value AS pval, blk - 1 AS pblk
        |      FROM t WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, blk, ts AS cts, event_id AS c_id, value AS cval
        |      FROM t WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, purchase_id, any_value(purchase_ts) AS purchase_ts,
        |             any_value(pval) AS pval, any_value(p.pblk) AS pblk
        |      FROM p JOIN c ON c.user_id = p.user_id AND c.blk = p.pblk
        |      WHERE cts >= purchase_ts - INTERVAL $withinMinutes MINUTE
        |      GROUP BY p.user_id, purchase_id),
        |r AS (SELECT m.user_id, m.purchase_id, c.c_id AS event_id, c.cts AS ts,
        |             'click' AS step, c.cval AS value
        |      FROM m JOIN c ON c.user_id = m.user_id AND c.blk = m.pblk
        |       AND c.cts >= m.purchase_ts - INTERVAL $withinMinutes MINUTE
        |      UNION ALL
        |      SELECT user_id, purchase_id, purchase_id, purchase_ts,
        |             'purchase', pval FROM m),
        |ar AS (
        |  SELECT user_id, purchase_id,
        |         row_number() OVER (PARTITION BY user_id, purchase_id
        |                            ORDER BY ts, event_id) AS pos,
        |         event_id, ts, step, value
        |  FROM r)""".stripMargin

  private val AllRowsCtes: String = allRowsCtes(10)

  /** The islands-rewrite ALL ROWS oracle, shared by the DSL key
    * (event_cep_all_rows) and the SQL-route key (event_cep_sql_allrows
    * — row-identical by construction, same matcher, same pattern). */
  private val AllRowsOracle: String = AllRowsCtes +
    "\nSELECT user_id, purchase_id, pos, event_id, ts, step, value" +
    "\nFROM ar ORDER BY user_id, purchase_id, pos"

  /** General-MEASURES (ONE ROW PER MATCH) oracle: the SAME consumed
    * rows as [[AllRowsCtes]], aggregated per match with DuckDB's
    * conditional aggregates / arg-extremes — independently formulating
    * what [[graft.api.MatchRecognize]]'s runMeasures executor computes
    * with groupBy + min_by/max_by (MATCH_NUMBER = anchor-order
    * row_number per key). click_sum is bit-stable-rounded to cents on
    * BOTH sides (floor(x*100+0.5)/100, the Det.round2 idiom — double
    * summation order differs across engines). */
  private val AggMeasuresOracle: String = AllRowsCtes +
    """,
      |ar2 AS (
      |  SELECT *,
      |         CASE WHEN step = 'click' THEN row_number() OVER
      |           (PARTITION BY user_id, purchase_id, step ORDER BY pos)
      |         END AS crn,
      |         CASE WHEN step = 'click' THEN count(*) OVER
      |           (PARTITION BY user_id, purchase_id, step)
      |         END AS ccnt
      |  FROM ar),
      |g AS (
      |  SELECT user_id,
      |         arg_min(event_id, pos) AS start_id,
      |         arg_min(ts, pos) AS start_ts,
      |         purchase_id AS end_id,
      |         arg_max(ts, pos) AS end_ts,
      |         count(*) AS n_rows,
      |         count(*) AS n_consumed,
      |         count(CASE WHEN step = 'click' THEN 1 END) AS n_clicks,
      |         floor(sum(CASE WHEN step = 'click' THEN value END)*100 + 0.5)/100 AS click_sum,
      |         arg_min(CASE WHEN step = 'click' THEN value END,
      |                 CASE WHEN step = 'click' THEN pos END) AS first_click_v,
      |         arg_max(CASE WHEN step = 'click' THEN value END,
      |                 CASE WHEN step = 'click' THEN pos END) AS last_click_v,
      |         max(value) AS max_v,
      |         max(CASE WHEN crn = 2 THEN value END) AS click2_v,
      |         max(CASE WHEN crn = ccnt - 1 THEN value END) AS click_penult_v,
      |         arg_max(step, pos) AS last_step
      |  FROM ar2 GROUP BY user_id, purchase_id)
      |SELECT user_id, start_id, start_ts, end_id, end_ts, n_rows,
      |       row_number() OVER (PARTITION BY user_id
      |                          ORDER BY start_ts, start_id) AS match_no,
      |       n_consumed, n_clicks, click_sum, first_click_v, last_click_v,
      |       max_v, click2_v, click_penult_v, last_step
      |FROM g ORDER BY user_id, start_id""".stripMargin

  /** MEASURES-expressions oracle: the same islands consumed-rows chain,
    * each expression in closed form over the per-match aggregates —
    * climb = last minus first click value (arg extremes, exact double
    * subtraction on identical operands), mean_v = sum/count
    * (cents-rounded both sides — summation order), p_v = the implicit
    * LAST(purchase.value), tag = match_no*1000 + n_clicks (exact long
    * arithmetic). */
  private val ExprMeasuresOracle: String = AllRowsCtes +
    """,
      |g AS (
      |  SELECT user_id,
      |         arg_min(event_id, pos) AS start_id,
      |         arg_min(ts, pos) AS start_ts,
      |         purchase_id AS end_id,
      |         arg_max(ts, pos) AS end_ts,
      |         count(*) AS n_rows,
      |         arg_max(CASE WHEN step = 'click' THEN value END,
      |                 CASE WHEN step = 'click' THEN pos END)
      |           - arg_min(CASE WHEN step = 'click' THEN value END,
      |                     CASE WHEN step = 'click' THEN pos END) AS climb,
      |         floor(sum(value) / count(*) * 100 + 0.5) / 100 AS mean_v,
      |         arg_max(CASE WHEN step = 'purchase' THEN value END,
      |                 CASE WHEN step = 'purchase' THEN pos END) AS p_v,
      |         count(CASE WHEN step = 'click' THEN 1 END) AS n_clicks
      |  FROM ar GROUP BY user_id, purchase_id)
      |SELECT user_id, start_id, start_ts, end_id, end_ts, n_rows,
      |       climb, mean_v, p_v,
      |       CAST(row_number() OVER (PARTITION BY user_id
      |              ORDER BY start_ts, start_id) * 1000 + n_clicks
      |            AS BIGINT) AS tag
      |FROM g ORDER BY user_id, start_id""".stripMargin

  /** MEASURES-expressions-beyond-arithmetic oracle (round 12): the
    * same islands consumed-rows chain with each expression in closed
    * form — trend = CASE over the click-value arg-extremes (exact
    * double comparison on identical operands), multi = the integer
    * comparison cast to INT (exact), tag = last step || '#' || row
    * count (byte-defined string concat), avg_click = the FLOOR
    * cents-rounding idiom applied on BOTH sides. */
  private val ExprCaseOracle: String = AllRowsCtes +
    """,
      |g AS (
      |  SELECT user_id,
      |         arg_min(event_id, pos) AS start_id,
      |         arg_min(ts, pos) AS start_ts,
      |         purchase_id AS end_id,
      |         arg_max(ts, pos) AS end_ts,
      |         count(*) AS n_rows,
      |         arg_max(CASE WHEN step = 'click' THEN value END,
      |                 CASE WHEN step = 'click' THEN pos END) AS lc,
      |         arg_min(CASE WHEN step = 'click' THEN value END,
      |                 CASE WHEN step = 'click' THEN pos END) AS fc,
      |         count(CASE WHEN step = 'click' THEN 1 END) AS nclk,
      |         sum(CASE WHEN step = 'click' THEN value END) AS sclk,
      |         arg_max(step, pos) AS last_step
      |  FROM ar GROUP BY user_id, purchase_id)
      |SELECT user_id, start_id, start_ts, end_id, end_ts, n_rows,
      |       CASE WHEN lc > fc THEN 'up'
      |            WHEN lc < fc THEN 'down'
      |            ELSE 'flat' END AS trend,
      |       CAST(nclk >= 2 AS INT) AS multi,
      |       last_step || '#' || CAST(n_rows AS VARCHAR) AS tag,
      |       floor(COALESCE(sclk, 0) / nclk * 100 + 0.5) / 100 AS avg_click
      |FROM g ORDER BY user_id, start_id""".stripMargin

  /** General-MEASURES (ALL ROWS PER MATCH) oracle: the same consumed
    * rows with RUNNING frames (`ROWS UNBOUNDED PRECEDING` in pos
    * order), FINAL frames (whole-match window), ignore-nulls
    * first_value for the variable-scoped FIRST, and anchor-order
    * dense_rank for MATCH_NUMBER — the window formulation of
    * runAllRowsMeasures. run_sum bit-stable-rounded to cents on both
    * sides (the Det.round2 idiom). */
  private val RunMeasuresOracle: String = AllRowsCtes +
    """,
      |e AS (
      |  SELECT *,
      |         min(ts) OVER wm AS mts,
      |         arg_min(event_id, pos) OVER wm AS sid,
      |         count(*) OVER wr AS run_rows,
      |         floor(sum(value) OVER wr*100 + 0.5)/100 AS run_sum,
      |         count(*) OVER wm AS match_rows,
      |         max(value) OVER wm AS match_max,
      |         first_value(CASE WHEN step = 'click' THEN value END IGNORE NULLS)
      |           OVER wr AS first_click_v
      |  FROM ar
      |  WINDOW wm AS (PARTITION BY user_id, purchase_id),
      |         wr AS (PARTITION BY user_id, purchase_id ORDER BY pos
      |                ROWS UNBOUNDED PRECEDING))
      |SELECT user_id, purchase_id, pos, event_id, ts, step, value,
      |       dense_rank() OVER (PARTITION BY user_id ORDER BY mts, sid) AS match_no,
      |       run_rows, run_sum, match_rows, match_max, first_click_v,
      |       step AS var_name
      |FROM e ORDER BY user_id, purchase_id, pos""".stripMargin

  /** SUBSET-scoped measures replay: `cp` = both steps, so its scope is
    * every consumed row of the match (no CASE filter); n_clicks keeps
    * the member-scoped contrast. Same islands CTE chain as the
    * all-rows / agg / runagg oracles. */
  private val SubsetMeasuresOracle: String = AllRowsCtes +
    """,
      |g AS (
      |  SELECT user_id,
      |         arg_min(event_id, pos) AS start_id,
      |         arg_min(ts, pos) AS start_ts,
      |         purchase_id AS end_id,
      |         arg_max(ts, pos) AS end_ts,
      |         count(*) AS n_rows,
      |         count(*) AS n_cp,
      |         floor(sum(value)*100 + 0.5)/100 AS sum_cp,
      |         min(value) AS min_cp,
      |         count(CASE WHEN step = 'click' THEN 1 END) AS n_clicks,
      |         arg_max(value, pos) AS last_cp_v
      |  FROM ar GROUP BY user_id, purchase_id)
      |SELECT user_id, start_id, start_ts, end_id, end_ts, n_rows,
      |       n_cp, sum_cp, min_cp, n_clicks, last_cp_v
      |FROM g ORDER BY user_id, start_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "event_cep_sql" -> MatchRecognize.oracleFor(CepSql.funnel),
    "event_cep_sql_native" -> MatchRecognize.oracleFor(CepSql.funnel),
    "event_cep_sql_where" -> MatchRecognize.oracleFor(CepSql.hotBuy),
    "event_cep_sql_measures" -> MatchRecognize.oracleFor(CepSql.measured),
    "event_cep_alt" -> MatchRecognize.oracleFor(CepSql.altFunnel),
    "event_cep_sql_permute" -> MatchRecognize.oracleFor(CepSql.permuteFunnel),
    // branch-tagged PERMUTE step_sums: the same per-branch generated
    // replay, each branch's compiled-measures oracle already emitting
    // step_counts/step_sums in ITS order, `__br AS branch` carried
    // through the leftmost dedup
    "event_cep_sql_permute_sums" ->
      MatchRecognize.oracleFor(CepSql.permuteSums),
    // anchors replay: the generated UNANCHORED oracle (anchors change
    // no matching) filtered by the partition's first/last row —
    // row_number over the same (ts, event_id) order.
    "event_cep_sql_anchor_start" -> {
      val base = MatchRecognize.oracleFor(CepSql.anchorStart)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __first FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS __rn FROM events) WHERE __rn = 1)
         |SELECT b.* FROM ($base) b
         |JOIN bd ON b.user_id = bd.__k AND b.start_id = bd.__first
         |ORDER BY user_id, start_id""".stripMargin
    },
    "event_cep_sql_anchor_end" -> {
      val base = MatchRecognize.oracleFor(CepSql.anchorEnd)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __last FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events) WHERE __rn = 1)
         |SELECT b.* FROM ($base) b
         |JOIN bd ON b.user_id = bd.__k AND b.end_id = bd.__last
         |ORDER BY user_id, start_id""".stripMargin
    },
    // reluctant + '$' replay: the GREEDY TWIN's generated oracle + the
    // last-row filter — equal to the anchored backtracking matcher
    // because the end pin forces the strict segment's decomposition
    // (greedy/reluctant preference has nothing left to choose); TO NEXT
    // ROW makes anchors independent, so no shadowing divergence.
    "event_cep_sql_anchor_end_reluctant" -> {
      val twin = CepSql.anchorEndReluctant
        .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __last FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events) WHERE __rn = 1)
         |SELECT b.* FROM ($base) b
         |JOIN bd ON b.user_id = bd.__k AND b.end_id = bd.__last
         |ORDER BY user_id, start_id""".stripMargin
    },
    // reluctant + '$' + MEASURES replay: the greedy twin's generated
    // MATCH oracle + the last-row pin gives the anchored match set
    // (the decomposition-forcing argument above), and the measures are
    // recomputed LITERALLY over each match's contiguous consumed span
    // (strict pattern: rows rn_start..rn_end), variable scope =
    // event_type (the DEFINEs are type equalities).
    "event_cep_sql_anchor_end_measures" -> {
      val twin = CepSql.anchorEndMeasures
        .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
        .replace("""  MEASURES COUNT(view.*) AS n_views,
                    |           SUM(view.value) AS view_sum,
                    |           LAST(purchase.value) AS last_p_v
                    |""".stripMargin, "")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __last FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events) WHERE __rn = 1),
         |base AS ($base),
         |p AS (SELECT b.* FROM base b
         |      JOIN bd ON b.user_id = bd.__k AND b.end_id = bd.__last),
         |e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY ts, event_id) AS rn FROM events),
         |pr AS (SELECT p.user_id, p.start_id, p.start_ts, p.end_id, p.end_ts,
         |              p.n_rows, s.rn AS rs, t.rn AS re
         |       FROM p JOIN e s ON s.user_id = p.user_id AND s.event_id = p.start_id
         |              JOIN e t ON t.user_id = p.user_id AND t.event_id = p.end_id)
         |SELECT pr.user_id, pr.start_id, pr.start_ts, pr.end_id, pr.end_ts,
         |       pr.n_rows,
         |       CAST(count(CASE WHEN e.event_type = 'view' THEN 1 END) AS BIGINT)
         |         AS n_views,
         |       floor(sum(CASE WHEN e.event_type = 'view' THEN e.value END)
         |         * 100 + 0.5) / 100 AS view_sum,
         |       arg_max(e.value, e.rn) FILTER (WHERE e.event_type = 'purchase')
         |         AS last_p_v
         |FROM pr JOIN e ON e.user_id = pr.user_id AND e.rn BETWEEN pr.rs AND pr.re
         |GROUP BY ALL ORDER BY pr.user_id, pr.start_id""".stripMargin
    },
    // alternation + '$': generated from the same text — oracleFor pins
    // each branch's end to the last row BEFORE the leftmost dedup,
    // mirroring runAlternation's pinned union.
    "event_cep_sql_anchor_end_alt" ->
      MatchRecognize.oracleFor(CepSql.anchorEndAlt),
    // reluctant-in-alternation + '$': the GREEDY twin's generated
    // pinned-union oracle (oracleFor pins each branch before the
    // leftmost dedup). Under the pin, each strict branch's
    // decomposition is forced by the distinct adjacent symbols, so the
    // twin's pinned matches equal the anchored backtracker's reluctant
    // resolution, step_counts included.
    "event_cep_sql_anchor_end_alt_reluctant" ->
      MatchRecognize.oracleFor(
        CepSql.anchorEndAltReluctant.replace("buy{1,2}?", "buy{1,2}")),
    // ... + MEASURES: the twin's pinned-union MATCH oracle (MEASURES
    // stripped — no generated oracle on the general-measures route),
    // measures recomputed literally over each match's contiguous span
    // (strict branches: rows rn_start..rn_end; buy scope = purchase
    // type equality).
    "event_cep_sql_anchor_end_alt_measures" -> {
      val twin = CepSql.anchorEndAltMeasures
        .replace("buy{1,2}?", "buy{1,2}")
        .replace("""  MEASURES COUNT(buy.*) AS n_buys,
                    |           SUM(buy.value) AS buy_sum
                    |""".stripMargin, "")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH base AS ($base),
         |e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY ts, event_id) AS rn FROM events),
         |pr AS (SELECT p.user_id, p.start_id, p.start_ts, p.end_id, p.end_ts,
         |              p.n_rows, s.rn AS rs, t.rn AS re
         |       FROM base p
         |            JOIN e s ON s.user_id = p.user_id AND s.event_id = p.start_id
         |            JOIN e t ON t.user_id = p.user_id AND t.event_id = p.end_id)
         |SELECT pr.user_id, pr.start_id, pr.start_ts, pr.end_id, pr.end_ts,
         |       pr.n_rows,
         |       CAST(count(CASE WHEN e.event_type = 'purchase' THEN 1 END)
         |         AS BIGINT) AS n_buys,
         |       floor(sum(CASE WHEN e.event_type = 'purchase' THEN e.value END)
         |         * 100 + 0.5) / 100 AS buy_sum
         |FROM pr JOIN e ON e.user_id = pr.user_id AND e.rn BETWEEN pr.rs AND pr.re
         |GROUP BY ALL ORDER BY pr.user_id, pr.start_id""".stripMargin
    },
    "event_cep_sql_anchor_end_permute" ->
      MatchRecognize.oracleFor(CepSql.anchorEndPermute),
    // reluctant + '$' + ALL ROWS: the greedy twin's pinned match
    // oracle expanded over each match's contiguous span (strict
    // pattern — rows rn_start..rn_end; forced decomposition makes the
    // twin's pinned spans the anchored reluctant spans, and each row's
    // step is its type-mapped variable)
    "event_cep_sql_anchor_end_reluctant_allrows" -> {
      val twin = CepSql.anchorEndReluctant
        .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __last FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events) WHERE __rn = 1),
         |base AS ($base),
         |p AS (SELECT b.* FROM base b
         |      JOIN bd ON b.user_id = bd.__k AND b.end_id = bd.__last),
         |e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY ts, event_id) AS rn FROM events),
         |pr AS (SELECT p.user_id, p.start_id, p.end_id, s.rn AS rs, t.rn AS re
         |       FROM p JOIN e s ON s.user_id = p.user_id AND s.event_id = p.start_id
         |              JOIN e t ON t.user_id = p.user_id AND t.event_id = p.end_id)
         |SELECT pr.user_id, pr.start_id, pr.end_id,
         |       CAST(e.rn - pr.rs + 1 AS BIGINT) AS pos, e.event_id, e.ts,
         |       CASE WHEN e.event_type = 'view' THEN 'view'
         |            ELSE 'purchase' END AS step, e.value
         |FROM pr JOIN e ON e.user_id = pr.user_id AND e.rn BETWEEN pr.rs AND pr.re
         |ORDER BY pr.user_id, pr.start_id, pos""".stripMargin
    },
    // alternation(reluctant branch) + '$' + ALL ROWS: the greedy
    // twin's pinned-union match oracle, span-expanded; the branch
    // variable for purchase rows is 'buy'
    "event_cep_sql_anchor_end_alt_allrows" -> {
      val twin = CepSql.anchorEndAltReluctant.replace("buy{1,2}?", "buy{1,2}")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH base AS ($base),
         |e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY ts, event_id) AS rn FROM events),
         |pr AS (SELECT p.user_id, p.start_id, p.end_id, s.rn AS rs, t.rn AS re
         |       FROM base p
         |            JOIN e s ON s.user_id = p.user_id AND s.event_id = p.start_id
         |            JOIN e t ON t.user_id = p.user_id AND t.event_id = p.end_id)
         |SELECT pr.user_id, pr.start_id, pr.end_id,
         |       CAST(e.rn - pr.rs + 1 AS BIGINT) AS pos, e.event_id, e.ts,
         |       CASE WHEN e.event_type = 'purchase' THEN 'buy'
         |            ELSE e.event_type END AS step, e.value
         |FROM pr JOIN e ON e.user_id = pr.user_id AND e.rn BETWEEN pr.rs AND pr.re
         |ORDER BY pr.user_id, pr.start_id, pos""".stripMargin
    },
    // iterative + '$' + ALL ROWS: the independent anchor_end_iter
    // match formulation exploded to its two consumed rows (relaxed gap
    // rows are skipped, not consumed)
    "event_cep_sql_anchor_end_iter_allrows" ->
      """WITH l AS (SELECT user_id, event_id, ts, value FROM (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type = 'purchase'),
        |a AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |             a.value AS av, l.event_id AS end_id, l.ts AS end_ts,
        |             l.value AS bv
        |      FROM a JOIN l ON l.user_id = a.user_id
        |        AND (a.ts < l.ts OR (a.ts = l.ts AND a.event_id < l.event_id))
        |        AND l.value > a.value
        |        AND l.ts <= a.ts + INTERVAL 1440 MINUTE)
        |SELECT user_id, start_id, end_id, CAST(1 AS BIGINT) AS pos,
        |       start_id AS event_id, start_ts AS ts, 'a' AS step, av AS value
        |FROM m
        |UNION ALL
        |SELECT user_id, start_id, end_id, CAST(2 AS BIGINT) AS pos,
        |       end_id, end_ts, 'b', bv FROM m
        |ORDER BY user_id, start_id, pos""".stripMargin,
    // iterative + '$': independent formulation — per purchase anchor,
    // the match exists iff the user's LAST row (ts desc, id desc) is a
    // purchase with a strictly higher value within 24 h of the anchor.
    "event_cep_sql_anchor_end_iter" ->
      """WITH l AS (SELECT user_id, event_id, ts, value, event_type FROM (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1),
        |a AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |       l.event_id AS end_id, l.ts AS end_ts,
        |       CAST(2 AS BIGINT) AS n_rows, '1,1' AS step_counts
        |FROM a JOIN l ON l.user_id = a.user_id
        |  AND (a.ts < l.ts OR (a.ts = l.ts AND a.event_id < l.event_id))
        |  AND l.event_type = 'purchase' AND l.value > a.value
        |  AND l.ts <= a.ts + INTERVAL 1440 MINUTE
        |ORDER BY a.user_id, start_id""".stripMargin,
    // strict iterative + quantifier + '$': independent formulation —
    // per user, the LAST row (ts desc, id desc) must be a purchase;
    // the anchor k rows above it (k in 1..3) matches iff the k rows
    // between are all clicks whose value sum is <= 200 (positive
    // values: prefix cap == total cap), within 24 h of the anchor.
    "event_cep_sql_anchor_end_iter_quant" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
        |             event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |           FROM events),
        |l AS (SELECT user_id, rn AS lrn, event_id AS lid, ts AS lts FROM (
        |        SELECT *, max(rn) OVER (PARTITION BY user_id) AS mx FROM e)
        |      WHERE rn = mx AND event_type = 'purchase')
        |SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |       l.lid AS end_id, l.lts AS end_ts,
        |       CAST(l.lrn - a.rn + 1 AS BIGINT) AS n_rows,
        |       concat(CAST(l.lrn - a.rn AS VARCHAR), ',1') AS step_counts
        |FROM e a JOIN l ON l.user_id = a.user_id
        |WHERE l.lrn - a.rn BETWEEN 1 AND 3
        |  AND l.lts <= a.ts + INTERVAL 1440 MINUTE
        |  AND (SELECT count(*) FROM e m
        |       WHERE m.user_id = a.user_id AND m.rn >= a.rn AND m.rn < l.lrn
        |         AND m.event_type = 'click') = l.lrn - a.rn
        |  AND (SELECT sum(m.value) FROM e m
        |       WHERE m.user_id = a.user_id AND m.rn >= a.rn
        |         AND m.rn < l.lrn) <= 200
        |ORDER BY a.user_id, start_id""".stripMargin,
    // relaxed + general quantifiers + '$': independent formulation —
    // the purchase block bc = 2 iff the second-to-last row is also a
    // purchase; anchors are view rows strictly before the block start
    // q = lrn - bc + 1; the consumed view count is
    // least(3, contiguous views from r, q - r)
    "event_cep_sql_anchor_end_relaxed_quant" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |           FROM events),
        |mx AS (SELECT user_id, max(rn) AS mrn FROM e GROUP BY user_id),
        |l AS (SELECT e.user_id, e.rn AS lrn, e.event_id AS lid, e.ts AS lts,
        |             CASE WHEN p.event_type = 'purchase' THEN 2 ELSE 1 END AS bc
        |      FROM e JOIN mx ON mx.user_id = e.user_id AND e.rn = mx.mrn
        |      LEFT JOIN e p ON p.user_id = e.user_id AND p.rn = e.rn - 1
        |      WHERE e.event_type = 'purchase'),
        |v AS (SELECT e.user_id, e.event_id, e.ts, e.rn,
        |        coalesce(min(CASE WHEN e.event_type <> 'view' THEN e.rn END)
        |                   OVER (PARTITION BY e.user_id ORDER BY e.rn
        |                         ROWS BETWEEN CURRENT ROW
        |                                  AND UNBOUNDED FOLLOWING),
        |                 mx.mrn + 1) - e.rn AS vrun,
        |        e.event_type
        |      FROM e JOIN mx ON mx.user_id = e.user_id)
        |SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |       l.lid AS end_id, l.lts AS end_ts,
        |       CAST(least(3, a.vrun, l.lrn - l.bc + 1 - a.rn) + l.bc
        |            AS BIGINT) AS n_rows,
        |       concat(CAST(least(3, a.vrun, l.lrn - l.bc + 1 - a.rn)
        |                   AS VARCHAR), ',',
        |              CAST(l.bc AS VARCHAR)) AS step_counts
        |FROM v a JOIN l ON l.user_id = a.user_id
        |WHERE a.event_type = 'view'
        |  AND a.rn <= l.lrn - l.bc
        |  AND l.lts <= a.ts + INTERVAL 1440 MINUTE
        |ORDER BY a.user_id, start_id""".stripMargin,
    // relaxed + quantifiers + '$' + ALL ROWS: the match formulation's
    // consumed rows — c1 head views from the anchor, then the bc-row
    // purchase block ending at the last row (gap rows between are
    // skipped, not consumed)
    "event_cep_sql_anchor_end_relaxed_quant_allrows" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
        |             event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |           FROM events),
        |mx AS (SELECT user_id, max(rn) AS mrn FROM e GROUP BY user_id),
        |l AS (SELECT e.user_id, e.rn AS lrn, e.event_id AS lid, e.ts AS lts,
        |             CASE WHEN p.event_type = 'purchase' THEN 2 ELSE 1 END AS bc
        |      FROM e JOIN mx ON mx.user_id = e.user_id AND e.rn = mx.mrn
        |      LEFT JOIN e p ON p.user_id = e.user_id AND p.rn = e.rn - 1
        |      WHERE e.event_type = 'purchase'),
        |v AS (SELECT e.user_id, e.event_id, e.ts, e.rn,
        |        coalesce(min(CASE WHEN e.event_type <> 'view' THEN e.rn END)
        |                   OVER (PARTITION BY e.user_id ORDER BY e.rn
        |                         ROWS BETWEEN CURRENT ROW
        |                                  AND UNBOUNDED FOLLOWING),
        |                 mx.mrn + 1) - e.rn AS vrun,
        |        e.event_type
        |      FROM e JOIN mx ON mx.user_id = e.user_id),
        |m AS (SELECT a.user_id, a.event_id AS start_id, a.rn AS arn,
        |             l.lid AS end_id, l.lrn, l.bc,
        |             least(3, a.vrun, l.lrn - l.bc + 1 - a.rn) AS c1
        |      FROM v a JOIN l ON l.user_id = a.user_id
        |      WHERE a.event_type = 'view' AND a.rn <= l.lrn - l.bc
        |        AND l.lts <= a.ts + INTERVAL 1440 MINUTE)
        |SELECT m.user_id, m.start_id, m.end_id,
        |       CAST(e.rn - m.arn + 1 AS BIGINT) AS pos, e.event_id, e.ts,
        |       'a' AS step, e.value
        |FROM m JOIN e ON e.user_id = m.user_id
        |             AND e.rn BETWEEN m.arn AND m.arn + m.c1 - 1
        |UNION ALL
        |SELECT m.user_id, m.start_id, m.end_id,
        |       CAST(m.c1 + e.rn - (m.lrn - m.bc + 1) + 1 AS BIGINT) AS pos,
        |       e.event_id, e.ts, 'b' AS step, e.value
        |FROM m JOIN e ON e.user_id = m.user_id
        |             AND e.rn BETWEEN m.lrn - m.bc + 1 AND m.lrn
        |ORDER BY user_id, start_id, pos""".stripMargin,
    // relaxed-branch alternation + '$': independent formulation — the
    // user's LAST row (ts desc, id desc) must be a purchase; every
    // earlier view/click row within 24 h anchors one match ending
    // there (gap rows are skipped, not consumed: n_rows = 2)
    "event_cep_sql_anchor_end_alt_relaxed" ->
      """WITH l AS (SELECT user_id, event_id AS lid, ts AS lts FROM (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type = 'purchase'),
        |a AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts
        |      FROM events WHERE event_type IN ('view', 'click'))
        |SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |       l.lid AS end_id, l.lts AS end_ts,
        |       CAST(2 AS BIGINT) AS n_rows, '1,1' AS step_counts
        |FROM a JOIN l ON l.user_id = a.user_id
        |  AND (a.ts < l.lts OR (a.ts = l.lts AND a.event_id < l.lid))
        |  AND l.lts <= a.ts + INTERVAL 1440 MINUTE
        |ORDER BY a.user_id, start_id""".stripMargin,
    // reluctant + '$' + compiled step_sums replay (round-15): the
    // GREEDY twin's GENERATED compiled-measures oracle (step_sums
    // included — oracleSqlMeasures) + the last-row pin. Under the pin
    // the strict decomposition is forced, so each step's consumed
    // rows — hence its exact-cents sum — equal the anchored reluctant
    // resolution's.
    "event_cep_sql_anchor_end_sums" -> {
      val twin = CepSql.anchorEndSums
        .replace("view+?", "view+").replace("purchase{1,2}?", "purchase{1,2}")
      val base = MatchRecognize.oracleFor(twin)
      s"""WITH bd AS (SELECT user_id AS __k, event_id AS __last FROM (
         |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events) WHERE __rn = 1)
         |SELECT b.* FROM ($base) b
         |JOIN bd ON b.user_id = bd.__k AND b.end_id = bd.__last
         |ORDER BY user_id, start_id""".stripMargin
    },
    // alternation(reluctant branch) + '$' + compiled step_sums: the
    // greedy twin's generated pinned-union oracle with step_sums
    // carried through the leftmost-branch dedup (branches share the
    // element order, so the winning branch's per-step sums ARE the
    // element-wise step_sums).
    "event_cep_sql_anchor_end_alt_sums" ->
      MatchRecognize.oracleFor(
        CepSql.anchorEndAltSums.replace("buy{1,2}?", "buy{1,2}")),
    // strict iterative + quantifier + '$' + compiled step_sums: the
    // iter_quant independent formulation extended with the same
    // per-step exact-cents sums — per-row floor(value*100+0.5) cents
    // (positive values: identical to the engine's HALF_UP round)
    // summed over the k-click run, then the last purchase's cents.
    "event_cep_sql_anchor_end_iter_sums" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
        |             event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |           FROM events),
        |l AS (SELECT user_id, rn AS lrn, event_id AS lid, ts AS lts,
        |             value AS lv FROM (
        |        SELECT *, max(rn) OVER (PARTITION BY user_id) AS mx FROM e)
        |      WHERE rn = mx AND event_type = 'purchase')
        |SELECT a.user_id, a.event_id AS start_id, a.ts AS start_ts,
        |       l.lid AS end_id, l.lts AS end_ts,
        |       CAST(l.lrn - a.rn + 1 AS BIGINT) AS n_rows,
        |       concat(CAST(l.lrn - a.rn AS VARCHAR), ',1') AS step_counts,
        |       concat(CAST((SELECT sum(CAST(floor(m.value * 100 + 0.5)
        |                                     AS BIGINT)) FROM e m
        |                    WHERE m.user_id = a.user_id AND m.rn >= a.rn
        |                      AND m.rn < l.lrn) AS VARCHAR),
        |              ',',
        |              CAST(CAST(floor(l.lv * 100 + 0.5) AS BIGINT)
        |                   AS VARCHAR)) AS step_sums
        |FROM e a JOIN l ON l.user_id = a.user_id
        |WHERE l.lrn - a.rn BETWEEN 1 AND 3
        |  AND l.lts <= a.ts + INTERVAL 1440 MINUTE
        |  AND (SELECT count(*) FROM e m
        |       WHERE m.user_id = a.user_id AND m.rn >= a.rn AND m.rn < l.lrn
        |         AND m.event_type = 'click') = l.lrn - a.rn
        |  AND (SELECT sum(m.value) FROM e m
        |       WHERE m.user_id = a.user_id AND m.rn >= a.rn
        |         AND m.rn < l.lrn) <= 200
        |ORDER BY a.user_id, start_id""".stripMargin,
    "event_cep_quant" -> Cep.oracleSql(CepPatterns.quant),
    "event_cep_quant_measures" -> Cep.oracleSqlMeasures(CepPatterns.quant, "value"),
    "event_cep_where_measures" ->
      Cep.oracleSqlWhereMeasures(CepPatterns.whereMeasures, "value"),
    "event_cep_optional" -> Cep.oracleSql(CepPatterns.optional),
    "event_cep_tonext" -> Cep.oracleSql(CepPatterns.tonext),
    "event_cep_relaxed" -> Cep.oracleSql(CepPatterns.relaxed),
    "event_cep_negated" -> Cep.oracleSql(CepPatterns.negated),
    "event_cep_not_end" ->
      Cep.oracleSqlNotEnd(CepPatterns.notEndPrefix, "purchase"),
    "event_cep_timeout" ->
      Cep.oracleSqlNotEnd(CepPatterns.timeoutPrefix, "purchase",
        deadlineCol = Some("timeout_deadline")),
    "event_cep_where" -> Cep.oracleSqlWhere(CepPatterns.where),
    "event_cep_until" -> Cep.oracleSqlWhere(CepPatterns.untilPat),
    "event_cep_any" -> Cep.oracleSql(CepPatterns.any),
    "event_cep_skip_first" -> Cep.oracleSql(CepPatterns.skipFirst),
    "event_cep_skip_last" -> Cep.oracleSql(CepPatterns.skipLast),
    "event_cep_reluctant" -> Cep.oracleSql(CepPatterns.reluctant),

    // Independent SQL formulation of the iterative-condition semantics
    // (NOT generated from the pattern — the predicate references the
    // matched anchor row, so the derivation route cannot express it):
    // per purchase anchor, the first later purchase of the same user
    // with a strictly higher value, in (ts, event_id) order, kept when
    // the span fits WITHIN 24 h.
    "event_cep_iterative" -> IterOracle,
    "event_cep_sql_iter" -> IterOracle,
    "event_cep_sql_iter_agg" -> IterAggOracle,
    "event_cep_sql_iter_allrows" -> IterAllRowsOracle,
    "event_cep_sql_defagg" -> DefAggOracle,
    "event_cep_sql_defagg_unbounded" -> DefAggUnboundedOracle,
    "event_cep_sql_defagg_agg" -> DefAggMeasuresOracle,
    "event_cep_sql_expr" -> ExprMeasuresOracle,
    "event_cep_sql_expr_case" -> ExprCaseOracle,
    "event_cep_sql_alt_agg" -> AltAggOracle,
    "event_cep_sql_alt_allrows" -> AltAllRowsOracle,

    // PREV navigation replay: the strict 2-step match is a row adjacency,
    // so lag (the PREV value) + lead (the immediate successor) over the
    // partition order formulate it with no matcher at all.
    "event_cep_sql_prev" ->
      """WITH t AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
        |    lag(value) OVER w AS pv,
        |    lead(event_id) OVER w AS nid,
        |    lead(ts::TIMESTAMP) OVER w AS nts,
        |    lead(event_type) OVER w AS nty
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS start_id, ts AS start_ts,
        |       nid AS end_id, nts AS end_ts,
        |       CAST(2 AS BIGINT) AS n_rows, '1,1' AS step_counts
        |FROM t
        |WHERE event_type = 'click' AND pv IS NOT NULL AND value > pv
        |  AND nty = 'purchase' AND nts <= ts + INTERVAL 60 MINUTE
        |ORDER BY user_id, start_id""".stripMargin,
    // NEXT navigation replay: the strict 2-step match is a row
    // adjacency; lead(value, 2) is the navigated look-ahead value and
    // lead(·, 1) the immediate successor — window formulation, no
    // matcher. A missing look-ahead row (partition tail) is NULL →
    // false, matching the engine's NaN rule.
    "event_cep_sql_next" ->
      """WITH t AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type, value,
        |    lead(value, 2) OVER w AS nv2,
        |    lead(event_id) OVER w AS nid,
        |    lead(ts::TIMESTAMP) OVER w AS nts,
        |    lead(event_type) OVER w AS nty
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS start_id, ts AS start_ts,
        |       nid AS end_id, nts AS end_ts,
        |       CAST(2 AS BIGINT) AS n_rows, '1,1' AS step_counts
        |FROM t
        |WHERE event_type = 'click' AND nv2 IS NOT NULL AND value > nv2
        |  AND nty = 'purchase' AND nts <= ts + INTERVAL 60 MINUTE
        |ORDER BY user_id, start_id""".stripMargin,

    "win_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(row_number() OVER wtb AS INTEGER) AS rn,
        |  CAST(rank() OVER wt AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER wt AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER wtb AS INTEGER) AS quartile
        |FROM customer
        |WINDOW wtb AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
        |       wt  AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "win_lag_lead" ->
      """SELECT user_id, event_id, value,
        |  value - lag(value, 1) OVER w AS delta_prev,
        |  lead(value, 1) OVER w - value AS delta_next
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "win_running" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER cum AS DOUBLE) AS running_sum,
        |  floor(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER l3 AS DOUBLE)
        |        / count(*) OVER l3 * 100 + 0.5) / 100 AS avg_last3
        |FROM events
        |WINDOW cum AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING),
        |       l3  AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "win_percent_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,

    // ntile is BIGINT in DuckDB, IntegerType in Spark — cast; the
    // unique tiebreak makes the bucket split deterministic
    "win_ntile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |                      ORDER BY o_totalprice, o_orderkey) AS INTEGER)
        |    AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "win_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_first_last" ->
      """SELECT user_id, event_id,
        |  first_value(value) OVER w AS first_v,
        |  last_value(value) OVER w AS last_v,
        |  nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,

    // attribution replay: the same (ts, event_id) ordinal, the same
    // forward-frame min over purchase ordinals, the conversion id
    // joined back by ordinal, 1/n on exact longs under round4.
    "event_attribution" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    min(CASE WHEN event_type = 'purchase' THEN rn END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_rn
        |  FROM o),
        |cv AS (SELECT user_id, rn AS conv_rn, event_id AS conv_id
        |       FROM t WHERE event_type = 'purchase'),
        |tch AS (SELECT t.user_id, t.rn, t.event_id, t.event_type, cv.conv_id
        |        FROM t JOIN cv USING (user_id, conv_rn)
        |        WHERE t.event_type IN ('click', 'view')),
        |per AS (SELECT user_id, conv_id, count(*) AS n_touches,
        |               max(rn) AS last_rn
        |        FROM tch GROUP BY 1, 2)
        |SELECT tch.user_id, conv_id, event_id, event_type AS touch_type,
        |  CAST(n_touches AS BIGINT) AS n_touches,
        |  floor(1.0 / n_touches * 10000 + 0.5) / 10000 AS credit_linear,
        |  rn = last_rn AS is_last_touch
        |FROM tch JOIN per USING (user_id, conv_id)
        |ORDER BY user_id, conv_id, event_id""".stripMargin,

    "event_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v.t_view, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |        AND e.ts <= v.t_view + INTERVAL 3 DAY
        |      GROUP BY e.user_id, v.t_view),
        |p AS (SELECT e.user_id, c.t_view, c.t_click, min(e.ts) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |        AND e.ts <= c.t_click + INTERVAL 3 DAY
        |      GROUP BY e.user_id, c.t_view, c.t_click)
        |SELECT user_id, t_view, t_click, t_purchase,
        |       epoch_us(t_purchase) - epoch_us(t_view) AS funnel_us
        |FROM p ORDER BY user_id""".stripMargin,

    "event_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |            FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_wk, count(DISTINCT user_id) AS n_cohort
        |       FROM coh GROUP BY cohort_wk),
        |a AS (SELECT c.cohort_wk, e.wk, count(DISTINCT e.user_id) AS n_active
        |      FROM ev e JOIN coh c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(a.cohort_wk AS DATE) AS cohort_week,
        |       CAST(date_diff('day', a.cohort_wk, a.wk) // 7 AS INTEGER)
        |         AS week_offset,
        |       CAST(a.n_active AS BIGINT) AS n_active,
        |       CAST(sz.n_cohort AS BIGINT) AS n_cohort,
        |       floor(a.n_active::DOUBLE / sz.n_cohort * 10000 + 0.5) / 10000 AS rate
        |FROM a JOIN sz USING (cohort_wk)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "event_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS cur_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, cur_type, count(*) AS n FROM tr
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY prev_type)
        |SELECT c.prev_type, c.cur_type, CAST(c.n AS BIGINT) AS n,
        |       floor(c.n::DOUBLE / t.tot * 10000 + 0.5) / 10000 AS p
        |FROM c JOIN t USING (prev_type)
        |ORDER BY prev_type, cur_type""".stripMargin,

    "event_cep" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(CASE WHEN event_type != 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS blk
        |  FROM events),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
        |             blk - 1 AS pblk
        |      FROM t WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, blk, ts AS cts FROM t WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, purchase_ts,
        |       count(*) AS n_clicks, min(cts) AS first_click_ts
        |FROM p JOIN c ON c.user_id = p.user_id AND c.blk = p.pblk
        |WHERE cts >= purchase_ts - INTERVAL 10 MINUTE
        |GROUP BY p.user_id, purchase_id, purchase_ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,

    // event_cep's islands rewrite extended with the MEASURES
    // aggregates; cents derive exactly like the Scala fold
    // (round(cval*100), summed/compared as exact integers), and avg is
    // one double division of exact operands on both engines.
    "event_cep_measures" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    sum(CASE WHEN event_type != 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS blk
        |  FROM events),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
        |             value AS pval, blk - 1 AS pblk
        |      FROM t WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, blk, ts AS cts, value AS cval
        |      FROM t WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, purchase_ts,
        |       count(*) AS n_clicks,
        |       min(cts) AS first_click_ts, max(cts) AS last_click_ts,
        |       CAST(sum(round(cval * 100)) AS DOUBLE) / 100 AS sum_click,
        |       CAST(sum(round(cval * 100)) AS DOUBLE) / (100 * count(*)) AS avg_click,
        |       CAST(max(round(cval * 100)) AS DOUBLE) / 100 AS max_click,
        |       any_value(pval) AS purchase_value
        |FROM p JOIN c ON c.user_id = p.user_id AND c.blk = p.pblk
        |WHERE cts >= purchase_ts - INTERVAL 10 MINUTE
        |GROUP BY p.user_id, purchase_id, purchase_ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,

    // The islands rewrite's matches exploded back to their consumed
    // rows: qualifying clicks plus the ending purchase, positioned by
    // per-match (ts, event_id) row_number = consumption order.
    "event_cep_all_rows" -> AllRowsOracle,
    "event_cep_sql_allrows" -> AllRowsOracle,
    // anchored allrows = the SAME islands chain + the last-row pin on
    // the match's end (purchase_id IS end_id in this projection)
    "event_cep_sql_anchor_end_allrows" -> (allRowsCtes(1440) +
      """
        |, bd AS (SELECT user_id AS __k, event_id AS __last FROM (
        |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS __rn FROM events)
        |  WHERE __rn = 1)
        |SELECT ar.user_id, ar.purchase_id, ar.pos, ar.event_id, ar.ts,
        |       ar.step, ar.value
        |FROM ar JOIN bd ON ar.user_id = bd.__k AND ar.purchase_id = bd.__last
        |ORDER BY user_id, purchase_id, pos""".stripMargin),
    // exclusion = the SAME islands chain with the symbol filter in SQL
    "event_cep_sql_exclude" -> (AllRowsCtes +
      "\nSELECT user_id, purchase_id, pos, event_id, ts, step, value" +
      "\nFROM ar WHERE step = 'purchase'" +
      "\nORDER BY user_id, purchase_id, pos"),
    "event_cep_sql_agg" -> AggMeasuresOracle,
    "event_cep_sql_runagg" -> RunMeasuresOracle,
    "event_cep_sql_subset" -> SubsetMeasuresOracle,

    "topk_per_group" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin,

    "fn_hash" ->
      """SELECT p_partkey, md5(p_name) AS h_md5, sha256(p_name) AS h_sha256
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,

    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS up,
        |  trim('  ' || p_name || '  ') AS tr,
        |  substring(p_name, 1, 5) AS sub5,
        |  p_brand || '|' || p_type AS cw,
        |  str_split(p_name, ' ')[1] AS w0,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS re1,
        |  CAST(length(p_name) AS INTEGER) AS len,
        |  CAST(levenshtein(p_name, 'red widget') AS INTEGER) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS days_to_2002,
        |  (o_orderdate + INTERVAL 30 DAY)::DATE AS plus30,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  date_trunc('month', o_orderdate)::TIMESTAMP AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  abs(l_quantity - 25) AS ab,
        |  power(2, l_linenumber) AS pw,
        |  floor(sqrt(l_quantity) * 100 + 0.5) / 100 AS sq,
        |  floor(ln(l_quantity) * 100 + 0.5) / 100 AS lg,
        |  l_partkey % 7 AS md
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_bit" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_partkey & l_suppkey AS ba,
        |  l_partkey | l_suppkey AS bo,
        |  xor(l_partkey, l_suppkey) AS bx,
        |  CAST(l_linenumber << 3 AS INTEGER) AS shl,
        |  l_partkey >> 2 AS shr,
        |  CAST(bit_count(l_partkey) AS INTEGER) AS bc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS n,
        |  floor(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum')
        |        * 10000 + 0.5) / 10000 AS vsum,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS npos,
        |  array_to_string(list_transform(embedding[1:3],
        |    x -> CAST(floor(x::DOUBLE * 10000 + 0.5) AS BIGINT)), ',') AS first3,
        |  floor(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')
        |        * 10000 + 0.5) / 10000 AS dot_self
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // map_filter / transform_values replayed over the ordered ENTRIES
    // ARRAY (struct list) — DuckDB has no map higher-order functions;
    // entry order = Spark's literal-map insert order, preserved by
    // concat/filter/transform on both representations.
    "fn_map" ->
      """WITH b AS (SELECT event_id,
        |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |           FROM events),
        |e AS (SELECT event_id, k,
        |        [struct_pack(kk := 'k', vv := k),
        |         struct_pack(kk := 'k2', vv := k * 2)] AS ents
        |      FROM b),
        |c AS (SELECT *, list_append(ents,
        |        struct_pack(kk := 'k3', vv := k + 1)) AS cents FROM e)
        |SELECT event_id,
        |  array_to_string(list_transform(ents, x -> x.kk), ',') AS mkeys,
        |  array_to_string(list_transform(ents, x -> CAST(x.vv AS VARCHAR)), ',') AS mvals,
        |  array_to_string(list_transform(cents, x -> x.kk), ',') AS ckeys,
        |  array_to_string(list_transform(cents, x -> CAST(x.vv AS VARCHAR)), ',') AS cvals,
        |  array_to_string(list_transform(list_filter(ents, x -> x.vv % 2 = 0),
        |                                 x -> x.kk), ',') AS fkeys,
        |  array_to_string(list_transform(ents, x -> CAST(x.vv * 10 AS VARCHAR)), ',') AS tvals
        |FROM c ORDER BY event_id""".stripMargin,

    "fn_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INTEGER))) AS roundtrip
        |FROM events ORDER BY event_id""".stripMargin,

    // The oracle reconstructs each URL piece from the source columns —
    // pinning parse_url's expected output rather than re-parsing.
    "fn_url" ->
      """SELECT doc_id,
        |  'https://' || source || '.example.com/docs/' || doc_id
        |    || '?lang=' || lang || '&page=2#top' AS url,
        |  source || '.example.com' AS host,
        |  '/docs/' || doc_id AS path,
        |  'lang=' || lang || '&page=2' AS query,
        |  'top' AS frag,
        |  lang AS q_lang,
        |  'https' AS proto
        |FROM documents ORDER BY doc_id""".stripMargin,

    // miss_is_null is DERIVED (json_extract IS NULL), not hard-coded, so
    // it stays honest if the fixture ever gains a literal 'missing' key.
    // `canon` is FIXTURE-COUPLED: DuckDB's json_extract re-serialization
    // coincides with Spark's variant to_json only for the current
    // single-key '{"k": <int>}' props shape (no key reordering, no
    // nesting, no floats) — a props-schema change must revisit this
    // oracle rather than trust it.
    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CAST(json_extract(props, '$.missing') IS NULL AS INTEGER) AS miss_is_null,
        |  json_extract(props, '$')::VARCHAR AS canon
        |FROM events ORDER BY event_id""".stripMargin
  )
}
