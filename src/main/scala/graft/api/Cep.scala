package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** One CEP pattern step: a symbol with a quantifier.
  * `{minRep, maxRep}`; `maxRep = None` is unbounded (`+` = (1, None),
  * `?` = (0, Some(1)), exactly-one = (1, Some(1))).
  *
  * `greedy` (default) prefers the MOST repetitions that let the rest
  * match; `greedy = false` is the RELUCTANT mode (Flink's
  * greedy/oneOrMore toggle, MATCH_RECOGNIZE `{m,n}?`): prefer the
  * fewest. Strict contiguity only (relaxed run alignment is inherently
  * greedy — enforced by CepPattern); under strict contiguity with
  * distinct step symbols only the LAST step has a free consumption
  * choice (interior steps are forced to their whole run), which is why
  * the compiled form needs just the last step's flag — the sequential
  * matcher honors the flag on every step, repeated symbols included,
  * cross-validated against java.util.regex non-greedy quantifiers.
  *
  * `negated = true` (Flink `notFollowedBy`, relaxed mode only): the
  * step consumes nothing and instead asserts that NO row of its symbol
  * occurs in the gap between the surrounding positive steps (from the
  * previous step's last consumed row to the next step's first row).
  * The quantifier is ignored.
  */
case class CepStep(symbol: String, minRep: Int = 1, maxRep: Option[Int] = Some(1),
                   negated: Boolean = false, greedy: Boolean = true)

/** AFTER MATCH SKIP strategy (Flink CEP / SQL MATCH_RECOGNIZE). */
sealed trait CepSkip
/** Resume the scan after the last matched row — matches never overlap. */
case object SkipPastLastRow extends CepSkip
/** Resume at the row after the match start — overlapping matches emit. */
case object SkipToNextRow extends CepSkip
/** Resume the scan AT the first row the named step consumed (Flink
  * `AfterMatchSkipStrategy.skipToFirst(name)`, MATCH_RECOGNIZE
  * `AFTER MATCH SKIP TO FIRST name`): matches anchored before that row
  * are suppressed, later overlaps emit. The named step must be a
  * unique-symbol, non-first, non-negated, non-optional step — Flink
  * likewise rejects skipping to the leading variable, which could
  * re-anchor the same row forever. Under STRICT contiguity with
  * pairwise-distinct step symbols this is provably equivalent to
  * SKIP PAST LAST ROW (the consumed span contains no first-step-symbol
  * row after the named step's rows, so the next anchor found is the
  * one past the match either way); the distinct behavior lives in
  * relaxed mode, where gap rows of the first step's symbol inside the
  * span can anchor overlapping matches.
  */
case class SkipToFirst(symbol: String) extends CepSkip
/** Resume the scan AT the last row the named step consumed (Flink
  * `skipToLast(name)`, `AFTER MATCH SKIP TO LAST name`). Same
  * restrictions and strict-mode equivalence as [[SkipToFirst]]. */
case class SkipToLast(symbol: String) extends CepSkip

/** A CEP pattern over a per-key event sequence ordered by (ts, ord):
  * ordered steps with greedy quantifiers, an optional WITHIN bound on
  * the match's event-time span, an AFTER MATCH SKIP strategy, and a
  * contiguity mode:
  *
  *  - `strict = true` (Flink `.next()` / MATCH_RECOGNIZE default): any
  *    non-matching row between steps breaks the match attempt. Steps
  *    resolve left to right with greedy backtracking (each quantifier
  *    prefers the most repetitions that still lets the rest match);
  *    the WITHIN bound is then checked on the resolved span — a
  *    violating attempt fails and the scan advances one row.
  *  - `strict = false` (Flink `followedBy`): irrelevant rows between
  *    steps are skipped. Step 1 consumes the greedy contiguous run
  *    prefix from the anchor (capped by maxRep; leftover same-symbol
  *    rows become gap rows); each later step aligns to the FIRST run
  *    of its symbol after the previously consumed row, which must
  *    satisfy the quantifier (capped consumption — a too-short first
  *    occurrence fails the attempt rather than searching further).
  *    Optional steps expand to alternatives tried in presence-priority
  *    order (greedy `?` prefers present); WITHIN is part of each
  *    alternative's success test.
  *  - `strict = false, anyMatch = true` (Flink `followedByAny`): like
  *    relaxed, but each later step aligns to EVERY following run of
  *    its symbol (not just the first), each consuming its capped
  *    greedy prefix — one match per qualifying combination of runs.
  *    Inherently overlapping, so SKIP TO NEXT ROW only; a
  *    notFollowedBy gap constraint blocks all alignments past the
  *    first negated-symbol occurrence, exactly as in first-run mode.
  *
  * All semantics are pinned by [[Cep.matchSequence]], the executable
  * reference.
  *
  * The compiler ([[Cep.compile]]) requires pairwise-distinct step
  * symbols. First and last steps must not be optional (drop them from
  * the pattern instead — they would make the match boundary ambiguous).
  */
case class CepPattern(steps: Seq[CepStep], withinMinutes: Option[Int] = None,
                      skip: CepSkip = SkipPastLastRow, strict: Boolean = true,
                      anyMatch: Boolean = false) {
  require(!anyMatch || (!strict && skip == SkipToNextRow),
    "followedByAny (anyMatch) is a relaxed-contiguity mode and emits " +
      "overlapping matches — strict = false with SKIP TO NEXT ROW only")
  require(strict || steps.forall(_.greedy),
    "reluctant quantifiers are strict-contiguity only (relaxed run " +
      "alignment consumes capped greedy prefixes by construction)")
  require(steps.size >= 2, "a CEP pattern needs at least two steps")
  require(!steps.head.negated && !steps.last.negated,
    "a negated step must sit between two positive steps (Flink's " +
      "notFollowedBy cannot start or end a pattern either)")
  require(steps.head.minRep >= 1 && steps.last.minRep >= 1,
    "first and last steps must not be optional")
  require(steps.forall(s => !s.negated) || !strict,
    "negated steps require relaxed contiguity (strict adjacency leaves " +
      "no gap for a notNext to constrain — distinct step symbols " +
      "already exclude everything else)")
  require(steps.forall(s => !s.negated) || steps.forall(s => s.negated || s.minRep >= 1),
    "negated and optional steps cannot be combined (an absent optional " +
      "merges adjacent gaps, making the negation scope ambiguous)")
  skipTargetSymbol.foreach { s =>
    require(steps.count(_.symbol == s) == 1,
      s"skip-to target '$s' must name exactly one step")
    val i = steps.indexWhere(_.symbol == s)
    require(i > 0, s"skip-to target '$s' must not be the first step " +
      "(resuming at the match anchor would loop — Flink rejects it too)")
    require(!steps(i).negated && steps(i).minRep >= 1,
      s"skip-to target '$s' must be a non-negated, non-optional step " +
        "(an absent or forbidden step has no consumed row to resume at)")
  }
  // NOTE: repeated step symbols are legal at the PATTERN level — the
  // sequential matcher (matchSequence, StreamOps.cepPattern) handles
  // them; only Cep.compile/oracleSql require pairwise-distinct symbols
  // (their run alignment needs them) and enforce that themselves.
  steps.foreach { s =>
    require(s.minRep >= 0, s"negative minRep in $s")
    require(s.maxRep.forall(m => m >= math.max(s.minRep, 1)), s"empty quantifier in $s")
  }

  /** Optional steps expanded to concrete absent/present alternatives,
    * ORDERED BY PRESENCE PRIORITY (all-present first; earlier optionals
    * prefer present — greedy `?`). Each alternative is the ORIGINAL
    * step indices it retains. In strict mode the alternatives are
    * mutually exclusive on any fixed run sequence (the run symbols
    * determine which one can align) so the order is immaterial; in
    * relaxed mode several can align at one anchor and the first in
    * this order wins (the compiler dedups by anchor on it).
    */
  def alternatives: Seq[Seq[Int]] =
    steps.indices.foldLeft(Seq(Seq.empty[Int])) { (acc, i) =>
      if (steps(i).negated) acc
      else if (steps(i).minRep == 0) acc.flatMap(pre => Seq(pre :+ i, pre))
      else acc.map(_ :+ i)
    }

  /** The skip-to target symbol, when the strategy names one. */
  private[graft] def skipTargetSymbol: Option[String] = skip match {
    case SkipToFirst(s) => Some(s)
    case SkipToLast(s) => Some(s)
    case _ => None
  }

  /** Original index of the skip-to target step. */
  private[graft] def skipTargetIdx: Option[Int] =
    skipTargetSymbol.map(s => steps.indexWhere(_.symbol == s))

  /** Negated original step indices lying between original positions
    * `a` and `b` — the notFollowedBy constraints of that gap. */
  private[graft] def negsBetween(a: Int, b: Int): Seq[Int] =
    (a + 1 until b).filter(steps(_).negated)

  private[graft] def withinUs: Option[Long] = withinMinutes.map(_ * 60L * 1000000L)
}

object CepPattern {
  /** Bounded pattern-GROUP repetition — Flink
    * `Pattern.begin(groupPattern).times(n)` — as the EXECUTABLE form of
    * the round-6 scope note: a group repeated exactly `n` times IS its
    * steps unrolled n times ((A B){2} ≡ A B A B, the standard regex
    * identity), and the repeated-symbol sequential matcher
    * ([[Cep.matchSequence]], StreamOps.cepPattern) accepts the unrolled
    * pattern directly. `Cep.compile` does NOT (run alignment needs
    * pairwise-distinct symbols) — which is exactly why groups unroll
    * here instead of compiling. CepSpec cross-validates the identity
    * against java.util.regex `(?:…){n}` GROUP-FORM repetition on random
    * grouped patterns.
    *
    * Validation: `n >= 1` and bounded (UNBOUNDED group repetition stays
    * out of scope — its match count per anchor is input-unbounded, the
    * scope note's exclusion); the group must be non-empty; every
    * CepPattern invariant then applies to the UNROLLED sequence, so an
    * optional or negated group head/tail is rejected by the constructor
    * with its usual message (every copy's head is the pattern head once
    * for n's first copy — keep group boundaries solid).
    */
  def repeat(group: Seq[CepStep], n: Int, withinMinutes: Option[Int] = None,
             skip: CepSkip = SkipPastLastRow, strict: Boolean = true,
             anyMatch: Boolean = false): CepPattern = {
    require(group.nonEmpty, "empty pattern group")
    require(n >= 1,
      s"group repetition needs a bounded n >= 1, got $n (unbounded group " +
        "repetition has an input-unbounded match count per anchor — out of " +
        "scope, see SURVEY.md round-6 note)")
    CepPattern(Seq.fill(n)(group).flatten, withinMinutes, skip, strict, anyMatch)
  }
}

/** One event for the sequential reference matcher. */
case class CepEvent(sym: String, tsUs: Long, ord: Long)

/** One reference-matcher match: start/end indices into the (sorted)
  * sequence (endIdx = last CONSUMED row — in relaxed mode consumed rows
  * are non-contiguous, so endIdx - startIdx + 1 may exceed nRows) and
  * per-ORIGINAL-step consumed counts (absent optional steps report 0).
  */
case class CepSeqMatch(startIdx: Int, endIdx: Int, stepCounts: IndexedSeq[Int]) {
  def nRows: Int = stepCounts.sum
}

/** A value-predicate CEP step (Flink CEP `SimpleCondition.where(...)`):
  * the step matches rows satisfying an arbitrary boolean expression
  * instead of a symbol equality. `predicateSql` is written once in
  * engine-portable SQL and runs VERBATIM on both engines — Spark parses
  * it with `expr(...)`, the generated oracle splices it into the DuckDB
  * query — the same single-source splicing discipline as the md5
  * constants elsewhere in this library. `name` labels the step and
  * becomes its derived symbol.
  *
  * `untilSql` (Flink `Pattern.oneOrMore().until(stop)`): a STOP
  * condition on a looping step — the loop stops accepting rows at the
  * first row satisfying it. Flink evaluates the stop condition BEFORE
  * the accept condition, so a row matching both is NOT consumed into
  * the loop; it is still offered to the rest of the pattern (it may
  * begin the next step) or becomes a gap/blocker row. Because every
  * loop here consumes a CONTIGUOUS same-symbol run prefix (the
  * CepPattern contiguity model), that row-level rule is exactly the
  * predicate rewrite `(predicateSql) AND NOT (untilSql)` — the first
  * stop row breaks the derived-symbol run, and a later accept-run can
  * never rejoin the same step's consumption (relaxed alignment reads
  * only the FIRST run, any-mode enumerates runs whole). The rewrite is
  * pinned against stop-gated sequential evaluation on random
  * stop/accept predicate pairs in CepSpec. Flink-like validity: a stop
  * condition needs a step that can actually loop (`maxRep != Some(1)`),
  * and a negated step has no loop to stop.
  */
case class CepCondStep(name: String, predicateSql: String, minRep: Int = 1,
                       maxRep: Option[Int] = Some(1), negated: Boolean = false,
                       greedy: Boolean = true, untilSql: Option[String] = None) {
  require(name.nonEmpty && !name.contains("'") && name != "__other",
    s"step name '$name' must be non-empty, quote-free, and not the reserved gap label")
  require(predicateSql.trim.nonEmpty, "empty predicate")
  require(untilSql.forall(_.trim.nonEmpty), "empty until condition")
  require(untilSql.isEmpty || maxRep != Some(1),
    "until() needs a looping step (Flink allows it on oneOrMore/timesOrMore " +
      "only — a single-row step has no loop to stop)")
  require(untilSql.isEmpty || !negated,
    "until() cannot apply to a negated step (notFollowedBy consumes nothing)")

  /** The effective row-acceptance predicate: accept gated by NOT stop
    * (stop-first evaluation — see the class scaladoc). */
  def effectiveSql: String =
    untilSql.fold(predicateSql)(u => s"($predicateSql) AND NOT ($u)")
}

/** A CEP pattern over value predicates. Compiled via a DERIVED SYMBOL
  * column — `CASE WHEN p1 THEN 'name1' WHEN p2 THEN 'name2' … ELSE
  * '__other' END` — so the whole symbolic machinery (runs, alignment,
  * quantifiers, negation, WITHIN, both contiguity modes, anyMatch)
  * applies unchanged and the oracle GENERATES the same derivation.
  * First-match-wins resolves overlapping predicates deterministically;
  * when the predicates are MUTUALLY EXCLUSIVE (the compile contract —
  * the usual Flink case of conditions that partition the stream) this
  * equals evaluating each step's predicate independently, which is what
  * [[Cep.matchSequenceIter]] does and CepSpec's random-predicate
  * property gate checks. Conditions that need the rows already matched
  * in the attempt (Flink `IterativeCondition`) are NOT expressible as a
  * derived column — use [[Cep.matchSequenceIter]] /
  * StreamOps.cepPatternIterStream for those.
  */
case class CepCondPattern(steps: Seq[CepCondStep], withinMinutes: Option[Int] = None,
                          skip: CepSkip = SkipPastLastRow, strict: Boolean = true,
                          anyMatch: Boolean = false) {
  /** The symbolic pattern over the derived step-name symbols (validates
    * the step-structure invariants too). */
  def symbolic: CepPattern = CepPattern(
    steps.map(s => CepStep(s.name, s.minRep, s.maxRep, s.negated, s.greedy)),
    withinMinutes, skip, strict, anyMatch)

  /** The first-match-wins symbol derivation, valid on both engines.
    * Steps with an until() stop condition contribute their EFFECTIVE
    * predicate (accept AND NOT stop) — a stop row falls through to the
    * later steps' predicates (it may begin the next step, exactly
    * Flink's re-offer of the stop event to subsequent states) and
    * otherwise lands in '__other'. */
  def caseSql: String =
    "CASE " +
      steps.map(s => s"WHEN (${s.effectiveSql}) THEN '${s.name}'").mkString(" ") +
      " ELSE '__other' END"
}

/** Complex-event-processing patterns (Flink CEP / SQL MATCH_RECOGNIZE),
  * compiled to gaps-and-islands window/join shapes — no per-row NFA in
  * the batch path, so a pattern runs as ordinary distributed SQL and
  * replays exactly in any engine. [[matchSequence]] is the sequential
  * executable semantics both the compiler (property-tested) and the
  * stateful streaming form (graft.streaming.StreamOps.cepPattern)
  * must reproduce.
  */
object Cep {

  /** The compiled forms align steps to symbol runs, which needs
    * pairwise-distinct step symbols; the sequential matcher has no such
    * restriction (cross-validated against java.util.regex greedy
    * semantics on repeated-symbol patterns in CepSpec).
    */
  private def requireDistinctSymbols(pattern: CepPattern): Unit =
    require(pattern.steps.map(_.symbol).distinct.size == pattern.steps.size,
      "Cep.compile/oracleSql require pairwise-distinct step symbols " +
        "(run alignment); use StreamOps.cepPattern for repeated-symbol " +
        "patterns — its sequential matcher handles them")

  /** Greedy `A+ B` with a WITHIN bound and AFTER MATCH SKIP PAST LAST
    * ROW: a maximal run of consecutive `runType` events immediately
    * followed by a `finalType` event, keeping only run events within
    * `within` of the final event.
    *
    * Islands construction: a running count of non-`runType` events (the
    * block index) is constant across each run and increments on every
    * other event — so the run immediately preceding a `finalType` row is
    * exactly the rows whose block index is the final's minus one. Runs
    * never span a non-`runType` event (adjacency is structural, not
    * time-based), and the greedy/skip-past semantics fall out because
    * each maximal run pairs with at most the one final event that ends
    * it.
    *
    * Note the WITHIN here FILTERS run rows (a match still fires if at
    * least one run event is inside the bound) — the original
    * `event_cep` contract semantics. [[compile]]'s WITHIN instead
    * bounds the whole match span (Flink `within`); both are kept.
    *
    * Scale: one user-keyed running-count window + one user-keyed join —
    * per-key linear; nothing global.
    */
  def runThenFinal(df: DataFrame, keyCol: String, tsCol: String,
                   ordCol: String, typeCol: String,
                   runType: String, finalType: String,
                   within: Column): DataFrame = {
    val wOrd = W.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    val t = df.select(col(keyCol), col(tsCol), col(ordCol), col(typeCol))
      .withColumn("blk",
        sum(when(col(typeCol) =!= runType, 1).otherwise(0)).over(wOrd))
    val fin = t.filter(col(typeCol) === finalType)
      .select(col(keyCol), col(tsCol).as("final_ts"),
        col(ordCol).as("final_id"), (col("blk") - 1).as("pblk"))
    val run = t.filter(col(typeCol) === runType)
      .select(col(keyCol).as("__rk"), col("blk").as("rblk"), col(tsCol).as("rts"))
    fin.join(run, fin(keyCol) === col("__rk") && col("rblk") === col("pblk"))
      .filter(col("rts") >= col("final_ts") - within)
      .groupBy(fin(keyCol), col("final_id"), col("final_ts"))
      .agg(count(lit(1)).as("n_run"), min("rts").as("first_run_ts"))
      .select(col(keyCol), col("final_id"), col("final_ts"),
        col("n_run"), col("first_run_ts"))
  }

  /** Step-satisfaction oracle for the generalized core: does event `ei`
    * satisfy step `si`, given the attempt's context — `ctx(oi)` = event
    * indices already consumed by ORIGINAL step `oi` in this attempt, in
    * consumption order? Symbolic matching ignores `ctx`; iterative
    * conditions (Flink `IterativeCondition`) read it. The views in
    * `ctx` are live (they mutate as the walk advances/backtracks) — a
    * predicate must not retain them past the call.
    */
  type CepSat = (Int, Int, IndexedSeq[scala.collection.Seq[Int]]) => Boolean

  /** The executable reference semantics: greedy-backtracking scan over
    * one key's (tsUs, ord)-sorted events. O(n · pattern) per key; used
    * by the property tests (ground truth for [[compile]]) and by the
    * stateful streaming matcher's batch replay.
    */
  def matchSequence(events: IndexedSeq[CepEvent], pattern: CepPattern): Seq[CepSeqMatch] =
    matchCore(events.size, i => events(i).tsUs, pattern,
      (si, ei, _) => events(ei).sym == pattern.steps(si).symbol)

  /** The reference semantics over arbitrary per-step conditions (Flink
    * `SimpleCondition` / `IterativeCondition`): `conds(si)(e, matched)`
    * accepts event `e` for step `si` given the events each original step
    * has already consumed in this attempt. Row-wise evaluation — no
    * symbol derivation, so overlapping predicates and match-relative
    * conditions ("value > first matched value") are both expressible.
    * The distributed form is StreamOps.cepPatternIterStream (per-key,
    * streaming or batch replay); [[compile]] cannot plan iterative conditions (the
    * run table is condition-independent) and [[compileWhere]] covers
    * only context-free, mutually-exclusive predicates.
    */
  def matchSequenceIter[E](events: IndexedSeq[E], tsUs: E => Long, pattern: CepPattern,
      conds: IndexedSeq[(E, IndexedSeq[Seq[E]]) => Boolean]): Seq[CepSeqMatch] = {
    require(conds.size == pattern.steps.size,
      s"${conds.size} conditions for ${pattern.steps.size} steps")
    matchCore(events.size, i => tsUs(events(i)), pattern,
      (si, ei, ctx) => conds(si)(events(ei), ctx.map(_.toIndexedSeq.map(events))))
  }

  /** MATCH_RECOGNIZE MEASURES support (Flink CEP's
    * `PatternProcessFunction` match map / SQL `MEASURES avg(C.value),
    * last(P.ts)`): run the sequential matcher and return, per match,
    * each ORIGINAL step's consumed rows in consumption order, so the
    * caller projects arbitrary per-step aggregates of the matched rows
    * into the output. Absent optional steps report an empty seq; in
    * relaxed modes the rows of one step are contiguous but steps may be
    * separated by skipped gap rows (exactly the rows `stepCounts`
    * counts). Semantics are [[matchSequence]]'s — same anchors, same
    * greedy resolution, same skip/WITHIN — with the consumption context
    * the matcher already threads snapshotted at emission instead of
    * discarded. The distributed form is a per-key flatMapGroups
    * (StreamOps.cepAllRowsPattern), the same placement as every other
    * per-key CEP path here.
    */
  def matchSequenceMeasures[E](events: IndexedSeq[E], tsUs: E => Long, sym: E => String,
                               pattern: CepPattern): Seq[(CepSeqMatch, IndexedSeq[IndexedSeq[E]])] =
    matchCoreRows(events.size, i => tsUs(events(i)), pattern,
      (si, ei, _) => sym(events(ei)) == pattern.steps(si).symbol)
      .map { case (m, rows) => (m, rows.map(_.map(events))) }

  /** Generalized sequential matcher: all contiguity modes (strict,
    * relaxed first-run, relaxed any-run), quantifiers, negation, WITHIN
    * and skip strategies over an abstract step-satisfaction oracle.
    * Each attempt threads a consumption context through `sat`, so
    * iterative conditions see the rows matched so far (including
    * earlier repetitions of their own step, exactly Flink's
    * `getEventsForPattern`). With a context-blind symbolic `sat` this
    * reduces to the original run-based semantics — the CepSpec regex
    * cross-validation and compile property gates pin that reduction.
    */
  private[graft] def matchCore(n: Int, tsUsAt: Int => Long, pattern: CepPattern,
                               sat: CepSat): Seq[CepSeqMatch] =
    matchCoreRows(n, tsUsAt, pattern, sat).map(_._1)

  /** [[matchCore]] with the consumption context SNAPSHOTTED at each
    * emission: per match, each ORIGINAL step's consumed event indices in
    * consumption order (absent optional steps report an empty seq) —
    * the structure MATCH_RECOGNIZE MEASURES projects per-step aggregates
    * from ([[matchSequenceMeasures]]). The snapshot is taken exactly
    * when a match resolves, so backtracking and the any-run DFS never
    * alias into an emitted match's rows.
    */
  /** TRUE SQL:2016 end-anchored matching (`PATTERN (... $)`): candidate
    * ends are restricted to the partition's LAST row INSIDE the matcher
    * — per anchor, the preferred resolution AMONG those ending at the
    * last row — so the anchor participates in match preference and
    * skip advancement instead of being a post-filter (a post-filter
    * under-matches whenever the matcher commits to a non-last-row end:
    * a reluctant backtrack, an unconsumed anchored alternative under
    * SKIP PAST LAST ROW, an iterative condition's later candidate).
    * Two matcher classes carry the search (matchCoreRows' requiredEnd):
    * STRICT patterns backtrack over quantifier counts until a
    * resolution ends exactly at the last row; RELAXED patterns DFS
    * over per-step (alignment, count) choices — alignments
    * earliest-first (the first-qualifying preference), counts
    * greedy-descending, negated gap rows blocking later alignments —
    * with the final step PINNED to land exactly on the last row
    * (round-15: general quantifiers; previously all-{1,1} only).
    */
  private[graft] def matchCoreAnchoredEnd(n: Int, tsUsAt: Int => Long,
                                          pattern: CepPattern,
                                          sat: CepSat): Seq[CepSeqMatch] =
    if (n == 0) Seq.empty
    else matchCoreRows(n, tsUsAt, pattern, sat, requiredEnd = n - 1).map(_._1)

  private[graft] def matchCoreRows(n: Int, tsUsAt: Int => Long, pattern: CepPattern,
                                   sat: CepSat, requiredEnd: Int = -1
                                  ): Seq[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] = {
    val steps = pattern.steps
    val withinUs = pattern.withinUs
    require(requiredEnd < 0 || !pattern.anyMatch,
      "anchored matching under followedByAny is not defined (per-anchor " +
        "emission is unbounded) — drop the anchor or anyMatch")
    // round-15: relaxed anchored-end matching is GENERAL — quantified
    // and negated steps ride the preference-ordered pinned-final DFS
    // (tryRelaxedAnchoredAlt); strict patterns anchor via backtracking.
    def withinOk(m: CepSeqMatch): Boolean =
      withinUs.forall(w => tsUsAt(m.endIdx) - tsUsAt(m.startIdx) <= w)
    def newCtx(): (Array[scala.collection.mutable.ArrayBuffer[Int]],
                   IndexedSeq[scala.collection.Seq[Int]]) = {
      val consumed = Array.fill(steps.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
      (consumed, scala.collection.immutable.ArraySeq.unsafeWrapArray(consumed))
    }
    def snap(consumed: Array[scala.collection.mutable.ArrayBuffer[Int]]): IndexedSeq[IndexedSeq[Int]] =
      consumed.toIndexedSeq.map(_.toIndexedSeq)
    // strict: greedy backtracking over contiguous rows; within is a
    // post-check on the single greedy resolution. Rows are accepted one
    // by one so each acceptance test sees the rows consumed before it
    // (context prefix-closure keeps backtracked prefixes valid).
    def tryStrict(p: Int): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] = {
      val (consumed, ctx) = newCtx()
      val counts = Array.fill(steps.size)(0)
      def go(si: Int, pos: Int): Int = {
        // anchored-end: a resolution counts only if it ends exactly at
        // the required row — rejecting here makes the backtracking
        // explore every other candidate count in preference order,
        // which IS anchored matching for strict patterns
        if (si == steps.size)
          return if (requiredEnd < 0 || pos - 1 == requiredEnd) pos else -1
        val st = steps(si)
        var maxFit = 0
        while (pos + maxFit < n && st.maxRep.forall(maxFit < _) &&
               sat(si, pos + maxFit, ctx)) {
          consumed(si) += (pos + maxFit); maxFit += 1
        }
        // acceptance is prefix-closed (each row's test saw only earlier
        // rows), so any candidate count is the first c accepted rows
        val accepted = consumed(si).toIndexedSeq
        val cands =
          if (st.greedy) st.minRep.to(maxFit).reverse else st.minRep.to(maxFit)
        for (c <- cands) {
          counts(si) = c
          consumed(si).clear()
          consumed(si) ++= accepted.take(c)
          val e = go(si + 1, pos + c)
          if (e >= 0) return e
        }
        counts(si) = 0
        consumed(si).clear()
        -1
      }
      val e = go(0, p)
      if (e < 0) None
      else {
        val m = CepSeqMatch(p, e - 1, counts.toIndexedSeq)
        if (withinOk(m)) Some((m, snap(consumed))) else None
      }
    }
    // relaxed head consumption, shared by first-run and any-run walks:
    // capped greedy contiguous prefix from the anchor. Returns the
    // consumed count, or -1 if the anchor fails (no acceptance or a
    // natural run shorter than minRep — capped stops always satisfy
    // minRep because maxRep >= minRep).
    def consumeHead(p: Int, h: Int,
                    consumed: Array[scala.collection.mutable.ArrayBuffer[Int]],
                    ctx: IndexedSeq[scala.collection.Seq[Int]]): Int = {
      val cap = steps(h).maxRep.getOrElse(Int.MaxValue)
      var tail = 0
      while (p + tail < n && tail < cap && sat(h, p + tail, ctx)) {
        consumed(h) += (p + tail); tail += 1
      }
      if (tail < steps(h).minRep) -1 else tail
    }
    // relaxed: per-alternative deterministic walk (gap rows skipped
    // between steps, capped contiguous consumption per step aligned to
    // the FIRST satisfying run); within is part of each alternative's
    // success; presence-priority order wins
    def walkAlt(p: Int, presentIdx: Seq[Int]): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] = {
      val (consumed, ctx) = newCtx()
      val counts = Array.fill(steps.size)(0)
      val c1 = consumeHead(p, presentIdx.head, consumed, ctx)
      if (c1 < 0) return None
      counts(presentIdx.head) = c1
      var pos = p + c1
      var end = p + c1 - 1
      var i = 1
      while (i < presentIdx.size) {
        val stIdx = presentIdx(i)
        val st = steps(stIdx)
        val negIdxs = pattern.negsBetween(presentIdx(i - 1), stIdx)
        var q = pos
        while (q < n && !sat(stIdx, q, ctx)) {
          if (negIdxs.exists(g => sat(g, q, ctx))) return None
          q += 1
        }
        if (q == n) return None
        val cap = st.maxRep.getOrElse(Int.MaxValue)
        var t2 = 0
        while (q + t2 < n && t2 < cap && sat(stIdx, q + t2, ctx)) {
          consumed(stIdx) += (q + t2); t2 += 1
        }
        if (t2 < st.minRep) return None
        counts(stIdx) = t2
        pos = q + t2
        end = q + t2 - 1
        i += 1
      }
      Some((CepSeqMatch(p, end, counts.toIndexedSeq), snap(consumed)))
    }
    def tryRelaxed(p: Int): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] =
      pattern.alternatives.iterator
        .flatMap(walkAlt(p, _).filter(r => withinOk(r._1)).iterator).nextOption()
    // relaxed ANCHORED-END, GENERAL quantifiers (round-15 — the
    // "per-anchor speculative ends" search the earlier rounds
    // rejected): per alternative (presence-priority order), a DFS over
    // per-step (alignment, count) choices in PREFERENCE order —
    // alignments earliest-first (the first-qualifying preference),
    // counts greedy-descending within an alignment (relaxed reluctant
    // patterns cannot exist, CepPattern invariant) — with the FINAL
    // step constrained to END exactly at the required row. The head
    // step consumes a contiguous prefix from the anchor itself (the
    // scan's anchor convention), counts greedy-descending. A scanned
    // gap row matching a negated step between two positive steps
    // blocks all later alignments of that step (walkAlt's rule; a row
    // the step CONSUMES is not a gap row, so negation is not tested
    // on it). Iterative conditions compose: every acceptance threads
    // the consumption context, and acceptance is prefix-closed so
    // count truncation keeps the context consistent (tryStrict's
    // argument). With all-{1,1} non-negated steps this reduces
    // exactly to the round-13 pinned-final DFS (same candidates, same
    // order). Worst case is exponential in the step count like every
    // backtracking matcher here — per key, bounded steps, never
    // cross-key.
    def tryRelaxedAnchoredAlt(p: Int, presentIdx: Seq[Int]
                             ): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] = {
      val (consumed, ctx) = newCtx()
      val counts = Array.fill(steps.size)(0)
      def clearStep(si: Int): Unit = { consumed(si).clear(); counts(si) = 0 }
      // greedy contiguous prefix of step `si` from row `q`, capped at
      // the required end; returns the accepted rows (consumed holds
      // them afterwards)
      def acceptPrefix(si: Int, q: Int): IndexedSeq[Int] = {
        val cap = steps(si).maxRep.getOrElse(Int.MaxValue)
        var t = 0
        while (q + t <= requiredEnd && t < cap && sat(si, q + t, ctx)) {
          consumed(si) += (q + t); t += 1
        }
        consumed(si).toIndexedSeq.takeRight(t)
      }
      def rec(i: Int, pos: Int): Boolean = {
        if (i == presentIdx.size) return pos - 1 == requiredEnd
        val stIdx = presentIdx(i)
        val st = steps(stIdx)
        val negIdxs = pattern.negsBetween(presentIdx(i - 1), stIdx)
        val isLast = i == presentIdx.size - 1
        var q = pos
        var blocked = false
        while (q <= requiredEnd && !blocked) {
          if (sat(stIdx, q, ctx)) {
            val accepted = acceptPrefix(stIdx, q)
            var c = accepted.size
            // presence implies consumption (walkAlt's rule): a min-0
            // quantified step that is PRESENT must bind >= 1 row — the
            // zero-width configuration belongs to the ABSENT
            // alternative, where negation between the neighboring
            // steps scopes over the rows this alignment would skip
            // (round-16 ADVICE: a zero-width binding at alignment q
            // would skip the notFollowedBy check on rows >= q)
            while (c >= math.max(1, st.minRep)) {
              // only a count landing exactly on the pin can close the
              // final step; interior steps try every greedy-ordered c
              if (!isLast || q + c - 1 == requiredEnd) {
                consumed(stIdx).clear()
                consumed(stIdx) ++= accepted.take(c)
                counts(stIdx) = c
                if (rec(i + 1, q + c)) return true
              }
              c -= 1
            }
            clearStep(stIdx)
          }
          if (negIdxs.exists(g => sat(g, q, ctx))) blocked = true
          q += 1
        }
        false
      }
      if (p > requiredEnd) return None
      val hIdx = presentIdx.head
      val headAccepted = acceptPrefix(hIdx, p)
      if (headAccepted.size < steps(hIdx).minRep) { clearStep(hIdx); return None }
      var c1 = headAccepted.size
      while (c1 >= steps(hIdx).minRep) {
        consumed(hIdx).clear()
        consumed(hIdx) ++= headAccepted.take(c1)
        counts(hIdx) = c1
        val ok =
          if (presentIdx.size == 1) p + c1 - 1 == requiredEnd
          else rec(1, p + c1)
        if (ok) {
          val m = CepSeqMatch(p, requiredEnd, counts.toIndexedSeq)
          return if (withinOk(m)) Some((m, snap(consumed))) else None
        }
        c1 -= 1
      }
      clearStep(hIdx)
      None
    }
    def tryRelaxedAnchored(p: Int): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] =
      pattern.alternatives.iterator
        .flatMap(tryRelaxedAnchoredAlt(p, _).iterator).nextOption()
    // relaxed ANY (followedByAny): later steps align to EVERY following
    // satisfying run (DFS over run choices), each consuming its capped
    // greedy prefix; a negated gap row blocks all later alignments of
    // that step. Emits every combination passing quantifiers + WITHIN.
    def walkAltAny(p: Int, presentIdx: Seq[Int],
                   out: scala.collection.mutable.ArrayBuffer[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])]): Unit = {
      val (consumed, ctx) = newCtx()
      val counts = Array.fill(steps.size)(0)
      val c1 = consumeHead(p, presentIdx.head, consumed, ctx)
      if (c1 < 0) return
      counts(presentIdx.head) = c1
      def rec(i: Int, pos: Int): Unit = {
        if (i == presentIdx.size) {
          val m = CepSeqMatch(p, pos - 1, counts.toIndexedSeq)
          if (withinOk(m)) out += ((m, snap(consumed)))
          return
        }
        val stIdx = presentIdx(i)
        val st = steps(stIdx)
        val cap = st.maxRep.getOrElse(Int.MaxValue)
        val negIdxs = pattern.negsBetween(presentIdx(i - 1), stIdx)
        var q = pos
        var blocked = false
        while (q < n && !blocked) {
          // run start relative to the scan: satisfying, and either at the
          // scan origin or preceded by a non-satisfying row
          if (sat(stIdx, q, ctx) && (q == pos || !sat(stIdx, q - 1, ctx))) {
            var t2 = 0
            while (q + t2 < n && t2 < cap && sat(stIdx, q + t2, ctx)) {
              consumed(stIdx) += (q + t2); t2 += 1
            }
            if (t2 >= st.minRep) {
              counts(stIdx) = t2
              rec(i + 1, q + t2)
            }
            var r = t2
            while (r > 0) { consumed(stIdx).remove(consumed(stIdx).size - 1); r -= 1 }
            counts(stIdx) = 0
          }
          if (negIdxs.exists(g => sat(g, q, ctx))) blocked = true
          q += 1
        }
      }
      rec(1, p + c1)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])]
    var p = 0
    if (pattern.anyMatch) {
      while (p < n) {
        pattern.alternatives.foreach(walkAltAny(p, _, out))
        p += 1
      }
    } else {
      def tryAt(q: Int): Option[(CepSeqMatch, IndexedSeq[IndexedSeq[Int]])] =
        if (pattern.strict) tryStrict(q)
        else if (requiredEnd >= 0) tryRelaxedAnchored(q)
        else tryRelaxed(q)
      val skipIdx = pattern.skipTargetIdx.getOrElse(-1)
      while (p < n) {
        (tryAt(p), pattern.skip) match {
          case (Some(r), SkipPastLastRow) => out += r; p = r._1.endIdx + 1
          case (Some(r), SkipToNextRow) => out += r; p += 1
          // skip-to resumes AT the named step's first/last consumed row
          // (inclusive — the next attempt starts there). The target step
          // is non-first and non-optional, so its consumed rows are
          // non-empty and strictly after the anchor: progress holds.
          case (Some(r), SkipToFirst(_)) => out += r; p = r._2(skipIdx).head
          case (Some(r), SkipToLast(_)) => out += r; p = r._2(skipIdx).last
          case _ => p += 1
        }
      }
    }
    out.toSeq
  }

  /** Compile `pattern` over `df` to a distributed gaps-and-islands plan.
    *
    * Construction (every stage key- or run-partitioned — per-key linear,
    * nothing global):
    *  1. symbol runs per key: change-flag + running count (one
    *     key-partitioned window pass) → `rid`, position-in-run `pos`;
    *  2. run table (one groupBy (key, rid)): symbol + length;
    *  3. per concrete alternative, align steps 2..j to the following
    *     runs via `lead` over the key's run order: middle steps must
    *     consume their ENTIRE run within the quantifier bounds (strict
    *     contiguity with distinct adjacent symbols forces this — a
    *     partial middle run would put a same-symbol row where the next
    *     step expects its own symbol), the last step consumes a greedy
    *     PREFIX `min(len, maxRep)`, the first step a SUFFIX of its run;
    *  4. the end row (last run's prefix end) joins back by position;
    *     the first step's qualifying suffix rows join back filtered by
    *     the maxRep bound and the WITHIN bound vs the end timestamp —
    *     under SKIP PAST LAST ROW the suffix aggregates to one match
    *     (count = consumed, min = anchor; exactly the first scan
    *     position where the reference matcher succeeds), under SKIP TO
    *     NEXT ROW every qualifying suffix row anchors its own match.
    *
    * Output: key, start_id/start_ts, end_id/end_ts (first/last consumed
    * rows), n_rows, and `step_counts` — per-original-step consumed
    * counts, comma-joined (absent optional steps report 0).
    *
    * Property-tested against [[matchSequence]] on random patterns and
    * sequences (CepSpec); the DuckDB replay of the same construction
    * comes from [[oracleSql]].
    */
  def compile(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
              symCol: String, pattern: CepPattern): DataFrame =
    compileImpl(df, keyCol, tsCol, ordCol, symCol, None, pattern)

  /** [[compile]] over a PREBUILT annotated-rows table (r18, guide §3.3
    * shared-intermediate discipline): an alternation/PERMUTE caller
    * compiles n branch patterns whose annotated row table —
    * [[annotatedRows]] — is pattern-INDEPENDENT, so it builds the table
    * once and every branch plan reads the shared checkpoint instead of
    * re-deriving (and re-materializing) it per branch. */
  private[api] def compileOnRows(rows: DataFrame, keyCol: String,
                                 pattern: CepPattern): DataFrame =
    compileImpl(null, keyCol, null, null, null, None, pattern,
      rowsPre = Some(rows))

  /** The pattern-independent annotated row table every compiled plan
    * reads: per-key time-ordered rows with symbol-run ids and in-run
    * positions (plus exact-cents cumulative sums when measured) —
    * extracted from [[compileImpl]] so alternation callers can build it
    * ONCE for all branches ([[compileOnRows]]). */
  private[api] def annotatedRows(df: DataFrame, keyCol: String, tsCol: String,
                                 ordCol: String, symCol: String,
                                 valCol: Option[String]): DataFrame = {
    val measured = valCol.isDefined
    val wOrd = W.partitionBy(col("k")).orderBy(col("ts"), col("ord"))
    val wRun = W.partitionBy(col("k"), col("rid")).orderBy(col("ts"), col("ord"))
    val baseSel = Seq(col(keyCol).as("k"), col(tsCol).as("ts"),
      col(ordCol).as("ord"), col(symCol).cast("string").as("sym")) ++
      valCol.map(v => expr(s"round($v * 100)").cast("long").as("cents")).toSeq
    var rows0 = df.select(baseSel: _*)
      .withColumn("chg", when(lag(col("sym"), 1).over(wOrd).isNull ||
        lag(col("sym"), 1).over(wOrd) =!= col("sym"), 1).otherwise(0))
      .withColumn("rid", sum(col("chg")).over(
        wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("pos", row_number().over(wRun))
    if (measured) rows0 = rows0
      // prefix / suffix cumulative cents within the run — the last
      // step's prefix consumption and the first step's suffix
      // consumption read these directly (same sort, no extra shuffle)
      .withColumn("pcum", sum(col("cents")).over(
        wRun.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("scum", sum(col("cents")).over(
        wRun.rowsBetween(W.currentRow, W.unboundedFollowing)))
    val keepCols = Seq("k", "ts", "ord", "sym", "rid", "pos") ++
      (if (measured) Seq("cents", "pcum", "scum") else Nil)
    rows0.select(keepCols.head, keepCols.tail: _*)
  }

  /** Compiled MEASURES — per-step VALUE aggregates generated into the
    * gaps-and-islands plan itself: the output gains `step_sums`, the
    * per-original-step exact-cents sums (`round(valCol*100)` summed as
    * longs, comma-joined like `step_counts`; absent optional steps
    * report 0). Fully declarative — no per-key matcher, whole-stage
    * codegen, the same key-/run-partitioned stages as [[compile]] —
    * so MEASURES run distributed at any scale for any STRICT pattern:
    *
    *  - middle steps consume their whole run → the run table carries
    *    per-run cents sums, lead-aligned like `len`;
    *  - the last step consumes a greedy/reluctant PREFIX → the end-row
    *    lookup carries the run's prefix-cumulative sum at the consumed
    *    position;
    *  - the first step consumes a SUFFIX → under SKIP PAST LAST ROW the
    *    qualifying anchor rows ARE the consumed suffix (both the WITHIN
    *    and maxRep constraints select suffixes of a time-ordered run),
    *    so their group-sum is the step's sum; under SKIP TO NEXT ROW
    *    each anchor reads its precomputed suffix-cumulative sum.
    *
    * Relaxed patterns use [[matchSequenceMeasures]] /
    * StreamOps.cepAllRowsPattern instead (the same split as relaxed +
    * PAST LAST ROW, which compile also declines). Property-tested against
    * the sequential reference on random strict patterns (CepSpec); the
    * DuckDB replay comes from [[oracleSqlMeasures]].
    */
  def compileMeasures(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
                      symCol: String, valCol: String, pattern: CepPattern): DataFrame = {
    require(pattern.strict,
      "compiled MEASURES cover strict contiguity (run-aligned value " +
        "aggregation); use Cep.matchSequenceMeasures / " +
        "StreamOps.cepAllRowsPattern for relaxed patterns")
    compileImpl(df, keyCol, tsCol, ordCol, symCol, Some(valCol), pattern)
  }

  private def compileImpl(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
                          symCol: String, valCol: Option[String],
                          pattern0: CepPattern,
                          rowsPre: Option[DataFrame] = None): DataFrame = {
    // Strict-mode SKIP TO FIRST/LAST is provably SKIP PAST LAST ROW
    // under the compiler's pairwise-distinct-symbols precondition
    // ([[SkipToFirst]] scaladoc; equivalence property-pinned in
    // CepSpec) — compile the equivalent form.
    val pattern =
      if (pattern0.strict && pattern0.skipTargetIdx.isDefined)
        pattern0.copy(skip = SkipPastLastRow)
      else pattern0
    require(pattern.strict || pattern.skip != SkipPastLastRow,
      "relaxed contiguity compiles under SKIP TO NEXT ROW or SKIP TO " +
        "FIRST/LAST only (PAST LAST ROW suppression over arbitrary " +
        "overlapping spans is a sequential scan — use " +
        "StreamOps.cepPattern's batch replay for it)")
    require(pattern.strict || pattern.skipTargetIdx.isEmpty ||
        pattern.alternatives.size == 1,
      "relaxed SKIP TO FIRST/LAST compiles without optional steps " +
        "(the resume row must come from a step present in every match)")
    // NOTE: skip-to + MEASURES cannot co-occur here — compileMeasures is
    // strict-only and the strict rewrite above already cleared the skip
    // target; if MEASURES ever relaxes, add the guard back.
    requireDistinctSymbols(pattern)
    val steps = pattern.steps
    val measured = valCol.isDefined
    // lazily checkpoint the annotated row table: the run table, the
    // end-position lookup, and the anchor-suffix lookup all reuse it,
    // and without materialization each branch re-scans and re-windows
    // the source (measured 3 FileScans per pattern; at a 100 TB event
    // volume the scan is the dominant cost). Lazy keeps plan building
    // (and .explain) job-free; the first action materializes once.
    // An alternation caller passes the SHARED prebuilt table instead
    // (rowsPre — see compileOnRows), already checkpointed by the caller.
    val rows = rowsPre.getOrElse(
      annotatedRows(df, keyCol, tsCol, ordCol, symCol, valCol)
        .localCheckpoint(eager = false))
    val runAggs = Seq(count(lit(1)).as("len")) ++
      (if (measured) Seq(sum(col("cents")).as("rsum")) else Nil)
    val runs = rows.groupBy("k", "rid")
      .agg(min(col("sym")).as("sym"), runAggs: _*)
    val maxJ = pattern.alternatives.map(_.size).max
    val wSeq = W.partitionBy(col("k")).orderBy(col("rid"))
    val seq = (2 to maxJ).foldLeft(runs) { (d, i) =>
      val d2 = d.withColumn(s"sym_$i", lead(col("sym"), i - 1).over(wSeq))
        .withColumn(s"len_$i", lead(col("len"), i - 1).over(wSeq))
      if (measured) d2.withColumn(s"vsum_$i", lead(col("rsum"), i - 1).over(wSeq))
      else d2
    }
    val endSel = Seq(col("k"), col("rid").as("erid"),
      col("pos").as("epos"), col("ts").as("end_ts"), col("ord").as("end_id")) ++
      (if (measured) Seq(col("pcum").as("end_pref")) else Nil)
    val endRows = rows.select(endSel: _*)
    val r1Sel = Seq(col("k"), col("rid").as("arid"), col("pos").as("apos"),
      col("ts").as("a_ts"), col("ord").as("a_ord")) ++
      (if (measured) Seq(col("cents").as("a_cents"), col("scum").as("a_scum")) else Nil)
    val r1 = rows.select(r1Sel: _*)
    if (pattern.anyMatch)
      return compileRelaxedAny(keyCol, pattern, rows, runs, endRows, r1)
    if (!pattern.strict)
      return compileRelaxed(keyCol, pattern, rows, runs, endRows, r1)
    val alts = pattern.alternatives.map { presentIdx =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      var cond = col("sym") === alt.head.symbol
      for (i <- 2 to j) cond = cond && col(s"sym_$i") === alt(i - 1).symbol
      for (i <- 2 until j) {
        cond = cond && col(s"len_$i") >= alt(i - 1).minRep
        alt(i - 1).maxRep.foreach(m => cond = cond && col(s"len_$i") <= m)
      }
      cond = cond && col(s"len_$j") >= alt.last.minRep
      // the last step is the only FREE consumption choice under strict
      // contiguity with distinct symbols (interior steps must swallow
      // their whole run): greedy takes the capped maximum, reluctant
      // exactly minRep
      val clast =
        if (alt.last.greedy)
          alt.last.maxRep
            .map(m => least(col(s"len_$j"), lit(m.toLong))).getOrElse(col(s"len_$j"))
        else lit(alt.last.minRep.toLong)
      val mids = (2 until j).map(i => col(s"len_$i"))
      val midTotal = if (mids.isEmpty) lit(0L) else mids.reduce(_ + _)
      val midSel = (2 until j).map(i => col(s"len_$i").as(s"mc_${presentIdx(i - 1)}")) ++
        (if (measured)
          (2 until j).map(i => col(s"vsum_$i").as(s"ms_${presentIdx(i - 1)}"))
        else Nil)
      val cand = seq.filter(cond).select(
        Seq(col("k"), col("rid").as("arid"), col("len").as("len1"),
          (col("rid") + lit((j - 1).toLong)).as("erid"),
          clast.as("clast"), midTotal.as("mid_total")) ++ midSel: _*)
      val withEnd = cand.join(endRows, Seq("k", "erid"))
        .filter(col("epos") === col("clast")).drop("epos")
      var j1 = withEnd.join(r1, Seq("k", "arid"))
      alt.head.maxRep.foreach(m =>
        j1 = j1.filter(col("apos") >= col("len1") - lit(m.toLong) + 1))
      pattern.withinMinutes.foreach(w =>
        j1 = j1.filter(col("a_ts") >= col("end_ts") - expr(s"INTERVAL $w MINUTES")))
      val matched = pattern.skip match {
        // strict SKIP TO FIRST/LAST was rewritten to PAST LAST ROW at
        // entry, so this arm is the only suppression plan ever built
        case SkipToFirst(_) | SkipToLast(_) =>
          sys.error("unreachable: strict skip-to rewritten at compile entry")
        case SkipPastLastRow =>
          // the qualifying anchor rows ARE the consumed first-step
          // suffix (WITHIN and maxRep both select suffixes of the
          // time-ordered run), so count/sum over the group are the
          // step's consumed count and cents
          val gcols = Seq("k", "arid", "erid", "len1", "clast", "mid_total",
            "end_ts", "end_id") ++
            (if (measured) Seq("end_pref") else Nil) ++
            (2 until j).map(i => s"mc_${presentIdx(i - 1)}") ++
            (if (measured) (2 until j).map(i => s"ms_${presentIdx(i - 1)}") else Nil)
          val aggs = Seq(min(struct(col("a_ts").as("t"), col("a_ord").as("o"))).as("st")) ++
            (if (measured) Seq(sum(col("a_cents")).as("s1")) else Nil)
          j1.groupBy(gcols.head, gcols.tail: _*)
            .agg(count(lit(1)).as("c1"), aggs: _*)
            .filter(col("c1") >= alt.head.minRep)
            .withColumn("start_ts", col("st.t")).withColumn("start_id", col("st.o"))
        case SkipToNextRow =>
          val base = j1.withColumn("c1", col("len1") - col("apos") + 1)
            .filter(col("c1") >= alt.head.minRep)
            .withColumn("start_ts", col("a_ts")).withColumn("start_id", col("a_ord"))
          if (measured) base.withColumn("s1", col("a_scum")) else base
      }
      val countCols = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) lit(0L)
        else if (oi == presentIdx.head) col("c1")
        else if (oi == presentIdx.last) col("clast")
        else col(s"mc_$oi")
      }
      val outCols = Seq(col("k").as(keyCol), col("start_id"), col("start_ts"),
        col("end_id"), col("end_ts"),
        (col("c1") + col("mid_total") + col("clast")).as("n_rows"),
        concat_ws(",", countCols.map(_.cast("string")): _*).as("step_counts")) ++
        (if (measured) {
          val sumCols = steps.indices.map { oi =>
            if (!presentIdx.contains(oi)) lit(0L)
            else if (oi == presentIdx.head) col("s1")
            else if (oi == presentIdx.last) col("end_pref")
            else col(s"ms_$oi")
          }
          Seq(concat_ws(",", sumCols.map(_.cast("string")): _*).as("step_sums"))
        } else Nil)
      matched.select(outCols: _*)
    }
    alts.reduce(_ union _)
  }

  /** Relaxed-contiguity compilation (Flink `followedBy`): anchors are
    * ROWS of the first step's symbol (SKIP TO NEXT ROW — the compile
    * precondition); later steps chain run-to-run through per-key
    * "next run of symbol X" lookups (one descending-ordered window min
    * per later step symbol), each consuming a capped greedy prefix of
    * its run. Alternatives from optional steps can overlap at one
    * anchor in relaxed mode, so candidates dedup by anchor on presence
    * priority. Every stage is key- or run-partitioned, like the strict
    * path.
    */
  private def compileRelaxed(keyCol: String, pattern: CepPattern,
                             rows: DataFrame, runs: DataFrame,
                             endRows: DataFrame, r1: DataFrame): DataFrame = {
    val steps = pattern.steps
    val wNext = W.partitionBy(col("k")).orderBy(col("rid").desc)
      .rowsBetween(W.unboundedPreceding, -1)
    val laterIdx = steps.indices.drop(1)
    val runsx = laterIdx.foldLeft(runs) { (d, oi) =>
      d.withColumn(s"nxt_$oi",
        min(when(col("sym") === steps(oi).symbol, col("rid"))).over(wNext))
    }
    def capped(lenCol: Column, st: CepStep): Column =
      st.maxRep.map(m => least(lenCol, lit(m.toLong))).getOrElse(lenCol)
    val alts = pattern.alternatives.zipWithIndex.map { case (presentIdx, ai) =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      def gapNegs(i: Int): Seq[Int] =
        pattern.negsBetween(presentIdx(i - 1), presentIdx(i))
      var cand = runsx.filter(col("sym") === alt.head.symbol)
        .select(Seq(col("k"), col("rid").as("arid"), col("len").as("len1"),
          col(s"nxt_${presentIdx(1)}").as("chain")) ++
          gapNegs(1).map(g => col(s"nxt_$g").as(s"ng_$g")): _*)
      for (i <- 1 until j) {
        val nextSel = (if (i + 1 < j)
          Seq(col(s"nxt_${presentIdx(i + 1)}").as("chain2")) else Seq.empty) ++
          (if (i + 1 < j) gapNegs(i + 1).map(g => col(s"nxt_$g").as(s"ngx_$g"))
           else Seq.empty)
        val ri = runsx.filter(col("sym") === alt(i).symbol)
          .select(Seq(col("k").as("kr"), col("rid").as(s"rid_$i"),
            col("len").as(s"len_$i")) ++ nextSel: _*)
        cand = cand.join(ri,
            col("k") === col("kr") && col(s"rid_$i") === col("chain"))
          .drop("kr", "chain")
          .filter(col(s"len_$i") >= alt(i).minRep)
        // notFollowedBy: the gap's negated symbols have no run strictly
        // between the previous chain run and this step's run
        gapNegs(i).foreach { g =>
          cand = cand.filter(col(s"ng_$g").isNull || col(s"ng_$g") > col(s"rid_$i"))
            .drop(s"ng_$g")
        }
        if (i + 1 < j) {
          cand = cand.withColumnRenamed("chain2", "chain")
          gapNegs(i + 1).foreach(g =>
            cand = cand.withColumnRenamed(s"ngx_$g", s"ng_$g"))
        }
      }
      // SKIP TO FIRST/LAST: carry the target step's aligned run id so
      // the resume row (its first / last consumed row) can join back
      // after candidate generation. Single alternative (compile
      // precondition) but negated steps are absent from presentIdx, so
      // the rid_* column index is the target's POSITION in the
      // alternative, not its original step index.
      val skipVi = pattern.skipTargetIdx
      val candSel = cand.select(
        Seq(col("k"), col("arid"), col("len1"),
          col(s"rid_${j - 1}").as("erid"),
          capped(col(s"len_${j - 1}"), alt.last).as("clast")) ++
          skipVi.map(vi => col(s"rid_${presentIdx.indexOf(vi)}").as("vrid")).toSeq ++
          (1 until j).map(i =>
            capped(col(s"len_$i"), alt(i)).as(s"cc_${presentIdx(i)}")): _*)
      val withEnd = candSel.join(endRows, Seq("k", "erid"))
        .filter(col("epos") === col("clast")).drop("epos")
      var j1 = withEnd.join(r1, Seq("k", "arid"))
        .withColumn("tail", col("len1") - col("apos") + 1)
        .filter(col("tail") >= alt.head.minRep)
        .withColumn("c1", capped(col("tail"), alt.head))
      pattern.withinMinutes.foreach(w =>
        j1 = j1.filter(col("a_ts") >= col("end_ts") - expr(s"INTERVAL $w MINUTES")))
      val countCols = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) lit(0L)
        else if (oi == presentIdx.head) col("c1")
        else col(s"cc_$oi")
      }
      j1.select(Seq(col("k").as(keyCol), col("a_ord").as("start_id"),
        col("a_ts").as("start_ts"), col("end_id"), col("end_ts"),
        (col("c1") +: (1 until j).map(i => col(s"cc_${presentIdx(i)}")))
          .reduce(_ + _).as("n_rows"),
        concat_ws(",", countCols.map(_.cast("string")): _*).as("step_counts"),
        lit(ai).as("alt")) ++
        skipVi.toSeq.flatMap(vi => Seq(col("vrid"), col(s"cc_$vi").as("vcnt"))): _*)
    }
    val wp = W.partitionBy(col(keyCol), col("start_id")).orderBy(col("alt"))
    val out0 = alts.reduce(_ union _)
      .withColumn("prn", row_number().over(wp)).filter(col("prn") === 1)
      .drop("prn", "alt")
    pattern.skipTargetIdx match {
      case None => out0
      case Some(_) =>
        // resume row: the target run's row at pos 1 (SKIP TO FIRST) or
        // at the consumed count (SKIP TO LAST — consumption is a run
        // prefix, so the last consumed row sits at pos = vcnt)
        val vpos = pattern.skip match {
          case SkipToFirst(_) => lit(1L)
          case _ => col("vcnt")
        }
        val resRows = rows.select(col("k").as("rk"), col("rid").as("rrid"),
          col("pos").as("rpos"), col("ts").as("res_ts"), col("ord").as("res_ord"))
        val withRes = out0.join(resRows,
            col(keyCol) === col("rk") && col("vrid") === col("rrid") &&
              col("rpos") === vpos)
          .drop("rk", "rrid", "rpos", "vrid", "vcnt")
        chainSkipSelect(withRes, keyCol)
    }
  }

  /** Greedy AFTER MATCH SKIP TO FIRST/LAST selection over the candidate
    * table: walk a key's candidates in anchor order, emit one whose
    * anchor is at/after the current resume point, and jump the resume
    * point to the emitted match's `res` row — exactly the reference
    * matcher's scan. The fold is inherently sequential PER KEY (each
    * emission decides the next resume point), so it runs as ONE hash
    * shuffle on the key plus a linear `flatMapGroups` walk over that
    * key's CANDIDATES — bounded by the per-key match count (WITHIN- and
    * quantifier-bounded), never raw rows. This replaces a recursive-CTE
    * formulation whose depth-N iteration cost N global stages (each a
    * whole-cluster barrier — wrong at scale, and measurably 6x slower
    * at sf0.1); the DuckDB oracle still replays the identical selection
    * as WITH RECURSIVE, where single-node recursion is the natural
    * form, so the two engines pin each other.
    */
  private def chainSkipSelect(cands: DataFrame, keyCol: String): DataFrame = {
    val prepped = cands
      .withColumn("start_us", unix_micros(col("start_ts").cast("timestamp")))
      .withColumn("res_us", unix_micros(col("res_ts").cast("timestamp")))
    val schema = prepped.schema
    val iKey = schema.fieldIndex(keyCol)
    // the JVM-side grouping key is the key's string form, which must be
    // VALUE-based: a binary key's Array[Byte].toString is identity-based
    // and would silently split one key's candidate chain
    require(!schema(iKey).dataType.simpleString.contains("binary"),
      s"SKIP TO FIRST/LAST chain selection needs a value-comparable key " +
        s"column; '$keyCol' is/contains BINARY — cast it (e.g. to hex) first")
    val iSid = schema.fieldIndex("start_id")
    val iSus = schema.fieldIndex("start_us")
    val iRus = schema.fieldIndex("res_us")
    val iRord = schema.fieldIndex("res_ord")
    def lv(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    val walked = prepped
      .groupByKey(r => String.valueOf(r.get(iKey)))(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val ms = it.toArray.sortBy(r => (r.getLong(iSus), lv(r, iSid)))
        var resUs = 0L
        var resOrd = 0L
        var first = true
        ms.iterator.filter { r =>
          val emit = first || r.getLong(iSus) > resUs ||
            (r.getLong(iSus) == resUs && lv(r, iSid) >= resOrd)
          if (emit) { resUs = r.getLong(iRus); resOrd = lv(r, iRord); first = false }
          emit
        }
      }(Encoders.row(schema))
    walked.select(col(keyCol), col("start_id"), col("start_ts"),
      col("end_id"), col("end_ts"), col("n_rows"), col("step_counts"))
  }

  /** followedByAny compilation (relaxed + `anyMatch`): later steps join
    * to EVERY later run of their symbol (`rid` inequality instead of the
    * first-run pointer), each consuming its capped greedy prefix; gap
    * negation uses the previous chosen run's next-negated-run lookup
    * (no negated run strictly between the chosen rids — identical to
    * the row-level "blocked past the first negated occurrence" rule,
    * because runs tile the row space). Every qualifying combination
    * emits; two run choices that differ only in an unrecorded middle
    * run legitimately produce duplicate output rows (they are distinct
    * matches — Flink emits both too), so there is no dedup and no
    * anchor-priority filter.
    *
    * Scale: the chain joins are per-key range joins over the RUN table
    * (not rows); candidate volume is the per-key product of runs inside
    * the WITHIN horizon — the inherent followedByAny combinatorics,
    * bounded in practice by WITHIN exactly as in Flink. Patterns
    * without WITHIN pay the full per-key product; the sequential
    * matcher has the same cost per key.
    */
  private def compileRelaxedAny(keyCol: String, pattern: CepPattern,
                                rows: DataFrame, runs: DataFrame,
                                endRows: DataFrame, r1: DataFrame): DataFrame = {
    val steps = pattern.steps
    val wNext = W.partitionBy(col("k")).orderBy(col("rid").desc)
      .rowsBetween(W.unboundedPreceding, -1)
    // next-run lookups are needed only for negated symbols here (chains
    // use rid inequality); computed once, reused by every alternative
    val negIdx = steps.indices.filter(steps(_).negated)
    val runsx = negIdx.foldLeft(runs) { (d, oi) =>
      d.withColumn(s"nxt_$oi",
        min(when(col("sym") === steps(oi).symbol, col("rid"))).over(wNext))
    }
    def capped(lenCol: Column, st: CepStep): Column =
      st.maxRep.map(m => least(lenCol, lit(m.toLong))).getOrElse(lenCol)
    val alts = pattern.alternatives.map { presentIdx =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      var cand = runsx.filter(col("sym") === alt.head.symbol)
        .select(Seq(col("k"), col("rid").as("rid_0"), col("len").as("len1")) ++
          negIdx.map(g => col(s"nxt_$g").as(s"ng0_$g")): _*)
      for (i <- 1 until j) {
        val ri = runsx.filter(col("sym") === alt(i).symbol)
          .select(Seq(col("k").as("kr"), col("rid").as(s"rid_$i"),
            col("len").as(s"len_$i")) ++
            negIdx.map(g => col(s"nxt_$g").as(s"ng${i}_$g")): _*)
        cand = cand.join(ri,
            col("k") === col("kr") && col(s"rid_$i") > col(s"rid_${i - 1}"))
          .drop("kr")
          .filter(col(s"len_$i") >= alt(i).minRep)
        pattern.negsBetween(presentIdx(i - 1), presentIdx(i)).foreach { g =>
          cand = cand.filter(col(s"ng${i - 1}_$g").isNull ||
            col(s"ng${i - 1}_$g") > col(s"rid_$i"))
        }
      }
      val candSel = cand.select(
        Seq(col("k"), col("rid_0").as("arid"), col("len1"),
          col(s"rid_${j - 1}").as("erid"),
          capped(col(s"len_${j - 1}"), alt.last).as("clast")) ++
          (1 until j).map(i =>
            capped(col(s"len_$i"), alt(i)).as(s"cc_${presentIdx(i)}")): _*)
      val withEnd = candSel.join(endRows, Seq("k", "erid"))
        .filter(col("epos") === col("clast")).drop("epos")
      var j1 = withEnd.join(r1, Seq("k", "arid"))
        .withColumn("tail", col("len1") - col("apos") + 1)
        .filter(col("tail") >= alt.head.minRep)
        .withColumn("c1", capped(col("tail"), alt.head))
      pattern.withinMinutes.foreach(w =>
        j1 = j1.filter(col("a_ts") >= col("end_ts") - expr(s"INTERVAL $w MINUTES")))
      val countCols = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) lit(0L)
        else if (oi == presentIdx.head) col("c1")
        else col(s"cc_$oi")
      }
      j1.select(col("k").as(keyCol), col("a_ord").as("start_id"),
        col("a_ts").as("start_ts"), col("end_id"), col("end_ts"),
        (col("c1") +: (1 until j).map(i => col(s"cc_${presentIdx(i)}")))
          .reduce(_ + _).as("n_rows"),
        concat_ws(",", countCols.map(_.cast("string")): _*).as("step_counts"))
    }
    alts.reduce(_ union _)
  }

  /** Value-predicate compilation (Flink `SimpleCondition`): derive the
    * symbol column from the pattern's predicates (first-match-wins
    * CASE), then run the ordinary symbolic compiler on it. The
    * derivation is one projection — it fuses into the scan under
    * whole-stage codegen, so predicate steps cost nothing extra at
    * scale. See [[CepCondPattern]] for the mutual-exclusivity contract.
    */
  def compileWhere(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
                   pattern: CepCondPattern): DataFrame =
    compile(df.withColumn("__dsym", expr(pattern.caseSql)),
      keyCol, tsCol, ordCol, "__dsym", pattern.symbolic)

  /** The DuckDB replay of [[compileWhere]] — the SAME CASE derivation
    * (generated from the same pattern object) wrapped around the same
    * generated symbolic oracle, so the predicates themselves are pinned
    * cross-engine, not just the run algebra.
    */
  def oracleSqlWhere(pattern: CepCondPattern, table: String = "events",
                     keyCol: String = "user_id", tsCol: String = "ts",
                     ordCol: String = "event_id"): String =
    oracleSql(pattern.symbolic,
      s"(SELECT *, ${pattern.caseSql} AS __dsym FROM $table)",
      keyCol, tsCol, ordCol, "__dsym")

  /** Predicate-step MEASURES: [[compileMeasures]] over the derived
    * first-match-wins symbol column — per-step exact-cents sums for
    * value-predicate patterns (strict, mutually-exclusive predicates:
    * the [[CepCondPattern]] compile contract), still one fused
    * projection plus the symbolic plan. */
  def compileWhereMeasures(df: DataFrame, keyCol: String, tsCol: String,
                           ordCol: String, valCol: String,
                           pattern: CepCondPattern): DataFrame =
    compileMeasures(df.withColumn("__dsym", expr(pattern.caseSql)),
      keyCol, tsCol, ordCol, "__dsym", valCol, pattern.symbolic)

  /** The DuckDB replay of [[compileWhereMeasures]]. */
  def oracleSqlWhereMeasures(pattern: CepCondPattern, valCol: String,
                             table: String = "events", keyCol: String = "user_id",
                             tsCol: String = "ts", ordCol: String = "event_id"): String =
    oracleSqlMeasures(pattern.symbolic, valCol,
      s"(SELECT *, ${pattern.caseSql} AS __dsym FROM $table)",
      keyCol, tsCol, ordCol, "__dsym")

  /** TRAILING notFollowedBy under a WITHIN window — Flink's
    * `Pattern...notFollowedBy(x).within(w)` (legal in Flink only WITH
    * the window, since 1.16) and, framed the other way, the CEP
    * TIMEOUT SIDE OUTPUT (`PatternStream.select(timeoutTag,
    * PatternTimeoutFunction, ...)`): a partial match whose window
    * expires before the next step arrives IS a match of the positive
    * prefix with the forbidden continuation absent until the deadline.
    *
    * Composition, not a matcher change: the POSITIVE pattern runs
    * through [[compile]] unchanged (so the CepPattern constructor's
    * "negation must sit between positive steps" guard stays — this
    * wrapper is the one legal trailing form, and it demands the
    * window), then matches are anti-joined against `negSymbol` rows
    * falling STRICTLY AFTER the match's last consumed row — in the
    * matcher's own (ts, ord) total order, so a same-timestamp
    * forbidden row is ordered by `ordCol`, deterministically — and at
    * or before the match-start deadline `start_ts + within`. Flink
    * emits these matches when the watermark passes the deadline;
    * batch over a closed dataset evaluates the same predicate
    * directly. `deadlineCol` (the timeout framing) appends that
    * deadline as an output column.
    *
    * Scale: the anti-join shuffles on the key both sides, the
    * negSymbol side is filtered at the scan (one symbol of the event
    * volume), and the time bounds make state per key O(window) under
    * the streaming twin — no new quadratic term next to [[compile]]'s
    * own stages.
    */
  def compileNotEnd(df: DataFrame, keyCol: String, tsCol: String,
                    ordCol: String, symCol: String, pattern: CepPattern,
                    negSymbol: String,
                    deadlineCol: Option[String] = None): DataFrame = {
    val w = pattern.withinMinutes.getOrElse(throw new IllegalArgumentException(
      "a trailing notFollowedBy needs WITHIN: without a window the " +
        "absence of the forbidden event is undecidable on an unbounded " +
        "stream (Flink rejects the un-windowed shape for the same reason)"))
    val m = compile(df, keyCol, tsCol, ordCol, symCol, pattern)
    val neg = df.filter(col(symCol).cast("string") === negSymbol)
      .select(col(keyCol).as("__nk"), col(tsCol).as("__nts"),
        col(ordCol).as("__nord"))
    val survived = m.join(neg,
      m(keyCol) === col("__nk") &&
        (col("__nts") > col("end_ts") ||
          (col("__nts") === col("end_ts") && col("__nord") > col("end_id"))) &&
        col("__nts") <= col("start_ts") + expr(s"INTERVAL $w MINUTES"),
      "left_anti")
    deadlineCol.fold(survived)(dc =>
      survived.withColumn(dc, col("start_ts") + expr(s"INTERVAL $w MINUTES")))
  }

  /** The DuckDB replay of [[compileNotEnd]]: the positive pattern's
    * generated oracle wrapped in the same (ts, ord)-ordered,
    * deadline-bounded NOT EXISTS. */
  def oracleSqlNotEnd(pattern: CepPattern, negSymbol: String,
                      deadlineCol: Option[String] = None,
                      table: String = "events", keyCol: String = "user_id",
                      tsCol: String = "ts", ordCol: String = "event_id",
                      symCol: String = "event_type"): String = {
    val w = pattern.withinMinutes.getOrElse(
      throw new IllegalArgumentException("trailing notFollowedBy needs WITHIN"))
    val dl = deadlineCol
      .map(dc => s", m.start_ts + INTERVAL $w MINUTE AS $dc").getOrElse("")
    s"""SELECT m.*$dl FROM (
       |${oracleSql(pattern, table, keyCol, tsCol, ordCol, symCol)}
       |) m WHERE NOT EXISTS (
       |  SELECT 1 FROM $table e
       |  WHERE e.$keyCol = m.$keyCol AND e.$symCol = '$negSymbol'
       |    AND (CAST(e.$tsCol AS TIMESTAMP) > m.end_ts OR
       |         (CAST(e.$tsCol AS TIMESTAMP) = m.end_ts AND e.$ordCol > m.end_id))
       |    AND CAST(e.$tsCol AS TIMESTAMP) <= m.start_ts + INTERVAL $w MINUTE)
       |ORDER BY m.$keyCol, m.start_id""".stripMargin
  }

  /** The DuckDB replay of [[compile]] — the SAME gaps-and-islands
    * construction generated from the SAME pattern object, so the whole
    * algorithm (runs, alignment, greedy prefix/suffix, WITHIN, skip
    * strategy) is pinned cross-engine, not just row counts.
    */
  def oracleSql(pattern: CepPattern, table: String = "events",
                keyCol: String = "user_id", tsCol: String = "ts",
                ordCol: String = "event_id", symCol: String = "event_type"): String =
    oracleSqlImpl(pattern, table, keyCol, tsCol, ordCol, symCol, None)

  /** The DuckDB replay of [[compileMeasures]] — the same generated
    * construction extended with per-run / prefix- / suffix-cumulative
    * cents, mirroring the Spark plan stage for stage. */
  def oracleSqlMeasures(pattern: CepPattern, valCol: String,
                        table: String = "events", keyCol: String = "user_id",
                        tsCol: String = "ts", ordCol: String = "event_id",
                        symCol: String = "event_type"): String = {
    require(pattern.strict, "compiled MEASURES are strict-only (see compileMeasures)")
    oracleSqlImpl(pattern, table, keyCol, tsCol, ordCol, symCol, Some(valCol))
  }

  private def oracleSqlImpl(pattern0: CepPattern, table: String, keyCol: String,
                            tsCol: String, ordCol: String, symCol: String,
                            valCol: Option[String]): String = {
    // same strict-mode SKIP TO FIRST/LAST ≡ SKIP PAST LAST ROW
    // rewrite as compileImpl
    val pattern =
      if (pattern0.strict && pattern0.skipTargetIdx.isDefined)
        pattern0.copy(skip = SkipPastLastRow)
      else pattern0
    requireDistinctSymbols(pattern)
    // mirror compileImpl's relaxed-mode guards: an oracle for a pattern
    // the compiler rejects would silently pin the WRONG semantics (the
    // relaxed skip branch has no presence-priority dedup, so a
    // multi-alternative anchor would contribute duplicate chain rows
    // with nondeterministic row_number tie-breaks)
    require(pattern.strict || pattern.skip != SkipPastLastRow,
      "relaxed contiguity oracles cover SKIP TO NEXT ROW and SKIP TO " +
        "FIRST/LAST only (same restriction as Cep.compile)")
    require(pattern.strict || pattern.skipTargetIdx.isEmpty ||
        pattern.alternatives.size == 1,
      "relaxed SKIP TO FIRST/LAST oracles require no optional steps " +
        "(same restriction as Cep.compile)")
    val steps = pattern.steps
    val measured = valCol.isDefined
    val maxJ = pattern.alternatives.map(_.size).max
    val leadSel = (2 to maxJ).flatMap(i => Seq(
      s"lead(sym, ${i - 1}) OVER wseq AS sym_$i",
      s"lead(len, ${i - 1}) OVER wseq AS len_$i") ++
      (if (measured) Seq(s"lead(rsum, ${i - 1}) OVER wseq AS vsum_$i") else Nil))
      .mkString(", ")
    val centsSel = valCol.map(v =>
      s",\n            CAST(round($v * 100) AS BIGINT) AS cents").getOrElse("")
    val cumSel = if (measured)
      """,
        |            sum(cents) OVER (PARTITION BY k, rid ORDER BY ts, ord
        |                             ROWS UNBOUNDED PRECEDING) AS pcum,
        |            sum(cents) OVER (PARTITION BY k, rid ORDER BY ts, ord
        |                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS scum""".stripMargin
      else ""
    val rsumSel = if (measured) ", sum(cents) AS rsum" else ""
    val header =
      s"""WITH e AS (SELECT $keyCol AS k, $tsCol::TIMESTAMP AS ts, $ordCol AS ord,
         |            $symCol AS sym$centsSel FROM $table),
         |f AS (SELECT *, CASE WHEN lag(sym) OVER (PARTITION BY k ORDER BY ts, ord)
         |                     IS DISTINCT FROM sym THEN 1 ELSE 0 END AS chg FROM e),
         |r AS (SELECT *, sum(chg) OVER (PARTITION BY k ORDER BY ts, ord
         |                               ROWS UNBOUNDED PRECEDING) AS rid FROM f),
         |p AS (SELECT *, row_number() OVER (PARTITION BY k, rid ORDER BY ts, ord) AS pos$cumSel
         |      FROM r),
         |runs AS (SELECT k, rid, any_value(sym) AS sym, count(*) AS len$rsumSel
         |         FROM p GROUP BY k, rid),
         |seq AS (SELECT *, $leadSel FROM runs
         |        WINDOW wseq AS (PARTITION BY k ORDER BY rid))""".stripMargin
    if (!pattern.strict) {
      // relaxed modes reuse the header up to `runs` (no lead alignment)
      val relaxedHeader = header.substring(0, header.indexOf(",\nseq AS"))
      return if (pattern.anyMatch) oracleSqlAny(pattern, relaxedHeader, keyCol)
             else oracleSqlRelaxed(pattern, relaxedHeader, keyCol)
    }
    val altSql = pattern.alternatives.zipWithIndex.map { case (presentIdx, ai) =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      val conds = Seq(s"sym = '${alt.head.symbol}'") ++
        (2 to j).map(i => s"sym_$i = '${alt(i - 1).symbol}'") ++
        (2 until j).flatMap { i =>
          Seq(s"len_$i >= ${alt(i - 1).minRep}") ++
            alt(i - 1).maxRep.map(m => s"len_$i <= $m")
        } ++ Seq(s"len_$j >= ${alt.last.minRep}")
      val clast =
        if (alt.last.greedy)
          alt.last.maxRep.map(m => s"least(len_$j, $m)").getOrElse(s"len_$j")
        else alt.last.minRep.toString
      val mids = (2 until j).map(i => s"len_$i")
      val midTotal = if (mids.isEmpty) "0" else mids.mkString(" + ")
      val midSel = (2 until j).map(i => s", len_$i AS mc_${presentIdx(i - 1)}").mkString +
        (if (measured)
          (2 until j).map(i => s", vsum_$i AS ms_${presentIdx(i - 1)}").mkString
        else "")
      val w1 = alt.head.maxRep.map(m => s" AND r1.pos >= w.len1 - $m + 1").getOrElse("")
      val ww = pattern.withinMinutes
        .map(w => s" AND r1.ts >= w.end_ts - INTERVAL $w MINUTE").getOrElse("")
      val mcCols = (2 until j).map(i => s"mc_${presentIdx(i - 1)}") ++
        (if (measured) (2 until j).map(i => s"ms_${presentIdx(i - 1)}") else Nil)
      val endPrefSel = if (measured) ", pe.pcum AS end_pref" else ""
      val matchSql = pattern.skip match {
        // strict SKIP TO FIRST/LAST was rewritten to PAST LAST ROW at entry
        case SkipToFirst(_) | SkipToLast(_) =>
          sys.error("unreachable: strict skip-to rewritten at oracle entry")
        case SkipPastLastRow =>
          val g = (Seq("w.k", "w.arid", "w.erid", "w.len1", "w.clast", "w.mid_total",
            "w.end_ts", "w.end_id") ++
            (if (measured) Seq("w.end_pref") else Nil) ++
            mcCols.map("w." + _)).mkString(", ")
          val s1 = if (measured) ", sum(r1.cents) AS s1" else ""
          s"""SELECT $g, count(*) AS c1$s1, arg_min(r1.ts, r1.pos) AS start_ts,
             |        arg_min(r1.ord, r1.pos) AS start_id
             |FROM wend_$ai w JOIN p r1 ON r1.k = w.k AND r1.rid = w.arid
             |WHERE 1=1$w1$ww
             |GROUP BY $g HAVING count(*) >= ${alt.head.minRep}""".stripMargin
        case SkipToNextRow =>
          val s1 = if (measured) ", r1.scum AS s1" else ""
          s"""SELECT w.*, r1.ts AS start_ts, r1.ord AS start_id,
             |        w.len1 - r1.pos + 1 AS c1$s1
             |FROM wend_$ai w JOIN p r1 ON r1.k = w.k AND r1.rid = w.arid
             |WHERE w.len1 - r1.pos + 1 >= ${alt.head.minRep}$w1$ww""".stripMargin
      }
      val countExprs = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) "0"
        else if (oi == presentIdx.head) "c1"
        else if (oi == presentIdx.last) "clast"
        else s"mc_$oi"
      }.mkString(", ")
      val sumsOut = if (measured) {
        val sumExprs = steps.indices.map { oi =>
          if (!presentIdx.contains(oi)) "0"
          else if (oi == presentIdx.head) "s1"
          else if (oi == presentIdx.last) "end_pref"
          else s"ms_$oi"
        }.mkString(", ")
        s",\n            concat_ws(',', $sumExprs) AS step_sums"
      } else ""
      s"""cand_$ai AS (SELECT k, rid AS arid, len AS len1, rid + ${j - 1} AS erid,
         |             $clast AS clast, $midTotal AS mid_total$midSel
         |             FROM seq WHERE ${conds.mkString(" AND ")}),
         |wend_$ai AS (SELECT c.*, pe.ts AS end_ts, pe.ord AS end_id$endPrefSel
         |             FROM cand_$ai c JOIN p pe ON pe.k = c.k AND pe.rid = c.erid
         |                                      AND pe.pos = c.clast),
         |m_$ai AS ($matchSql),
         |out_$ai AS (SELECT k AS $keyCol, start_id, start_ts, end_id, end_ts,
         |            c1 + mid_total + clast AS n_rows,
         |            concat_ws(',', $countExprs) AS step_counts$sumsOut FROM m_$ai)""".stripMargin
    }
    val unions = pattern.alternatives.indices
      .map(i => s"SELECT * FROM out_$i").mkString(" UNION ALL ")
    header + ",\n" + altSql.mkString(",\n") +
      s"\n$unions\nORDER BY $keyCol, start_id"
  }

  /** DuckDB replay of [[compileRelaxed]] — next-run lookups via the same
    * descending-window min, run-chaining via joins, anchor-priority
    * dedup via row_number over the alternative index.
    */
  private def oracleSqlRelaxed(pattern: CepPattern, header: String,
                               keyCol: String): String = {
    val steps = pattern.steps
    val laterIdx = steps.indices.drop(1)
    val nxtSel = laterIdx.map(oi =>
      s"min(CASE WHEN sym = '${steps(oi).symbol}' THEN rid END) OVER wnx AS nxt_$oi")
      .mkString(", ")
    val runsx =
      s"""runsx AS (SELECT *, $nxtSel FROM runs
         |          WINDOW wnx AS (PARTITION BY k ORDER BY rid DESC
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin
    def capped(lenSql: String, st: CepStep): String =
      st.maxRep.map(m => s"least($lenSql, $m)").getOrElse(lenSql)
    val altSql = pattern.alternatives.zipWithIndex.map { case (presentIdx, ai) =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      // r2..rj chain on the PREVIOUS frame's nxt_<orig idx of this step>
      val joins = (1 until j).map { i =>
        s"JOIN runsx r${i + 1} ON r${i + 1}.k = r1.k AND r${i + 1}.rid = r$i.nxt_${presentIdx(i)}"
      }.mkString("\n             ")
      val lenConds = ((1 until j)
        .map(i => s"r${i + 1}.len >= ${alt(i).minRep}") ++
        // notFollowedBy: no negated-symbol run strictly inside the gap
        (1 until j).flatMap { i =>
          pattern.negsBetween(presentIdx(i - 1), presentIdx(i)).map(g =>
            s"(r$i.nxt_$g IS NULL OR r$i.nxt_$g > r${i + 1}.rid)")
        }).mkString(" AND ")
      val ccSel = (1 until j)
        .map(i => s"${capped(s"r${i + 1}.len", alt(i))} AS cc_${presentIdx(i)}")
        .mkString(", ")
      val clast = capped(s"r$j.len", alt.last)
      val w1 = pattern.withinMinutes
        .map(w => s" AND r1r.ts >= w.end_ts - INTERVAL $w MINUTE").getOrElse("")
      val ccCols = (1 until j).map(i => s"cc_${presentIdx(i)}")
      val countExprs = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) "0"
        else if (oi == presentIdx.head) "c1"
        else s"cc_$oi"
      }.mkString(", ")
      val vSel = pattern.skipTargetIdx
        .map(vi => s", vrid, cc_$vi AS vcnt").getOrElse("")
      val vCand = pattern.skipTargetIdx
        .map(vi => s", r${presentIdx.indexOf(vi) + 1}.rid AS vrid").getOrElse("")
      s"""cand_$ai AS (SELECT r1.k, r1.rid AS arid, r1.len AS len1,
         |             r$j.rid AS erid, $clast AS clast, $ccSel$vCand
         |             FROM runsx r1
         |             $joins
         |             WHERE r1.sym = '${alt.head.symbol}' AND $lenConds),
         |wend_$ai AS (SELECT c.*, pe.ts AS end_ts, pe.ord AS end_id
         |             FROM cand_$ai c JOIN p pe ON pe.k = c.k AND pe.rid = c.erid
         |                                      AND pe.pos = c.clast),
         |m_$ai AS (SELECT w.*, r1r.ts AS start_ts, r1r.ord AS start_id,
         |            ${capped("w.len1 - r1r.pos + 1", alt.head)} AS c1
         |          FROM wend_$ai w JOIN p r1r ON r1r.k = w.k AND r1r.rid = w.arid
         |          WHERE w.len1 - r1r.pos + 1 >= ${alt.head.minRep}$w1),
         |out_$ai AS (SELECT k AS $keyCol, start_id, start_ts, end_id, end_ts,
         |            c1 + ${ccCols.mkString(" + ")} AS n_rows,
         |            concat_ws(',', $countExprs) AS step_counts, $ai AS alt$vSel
         |            FROM m_$ai)""".stripMargin
    }
    val unions = pattern.alternatives.indices
      .map(i => s"SELECT * FROM out_$i").mkString(" UNION ALL ")
    val body = header + ",\n" + runsx + ",\n" + altSql.mkString(",\n")
    pattern.skipTargetIdx match {
      case None =>
        body +
          s"""
             |SELECT $keyCol, start_id, start_ts, end_id, end_ts, n_rows, step_counts
             |FROM (SELECT *, row_number() OVER (PARTITION BY $keyCol, start_id
             |                                   ORDER BY alt) AS prn
             |      FROM ($unions))
             |WHERE prn = 1
             |ORDER BY $keyCol, start_id""".stripMargin
      case Some(_) =>
        // resume row join + the greedy skip-chain recursion — the same
        // construction chainSkipSelect compiles on the Spark side
        val vposSql = pattern.skip match {
          case SkipToFirst(_) => "1"
          case _ => "o.vcnt"
        }
        val ge = "c2.start_ts > ch.cres_ts OR " +
          "(c2.start_ts = ch.cres_ts AND c2.start_id >= ch.cres_ord)"
        body.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
          s"""res AS (SELECT o.*, pr.ts AS res_ts, pr.ord AS res_ord
             |        FROM ($unions) o JOIN p pr ON pr.k = o.$keyCol
             |             AND pr.rid = o.vrid AND pr.pos = $vposSql),
             |c AS (SELECT *, row_number() OVER (PARTITION BY $keyCol
             |               ORDER BY start_ts, start_id) AS rn FROM res),
             |chain (ck, crn, cres_ts, cres_ord, emit) AS (
             |  SELECT $keyCol, rn, res_ts, res_ord, true FROM c WHERE rn = 1
             |  UNION ALL
             |  SELECT c2.$keyCol, c2.rn,
             |         CASE WHEN $ge THEN c2.res_ts ELSE ch.cres_ts END,
             |         CASE WHEN $ge THEN c2.res_ord ELSE ch.cres_ord END,
             |         $ge
             |  FROM chain ch JOIN c c2 ON c2.$keyCol = ch.ck AND c2.rn = ch.crn + 1)
             |SELECT c.$keyCol, c.start_id, c.start_ts, c.end_id, c.end_ts,
             |       c.n_rows, c.step_counts
             |FROM c JOIN chain ch2 ON ch2.ck = c.$keyCol AND ch2.crn = c.rn
             |WHERE ch2.emit
             |ORDER BY c.$keyCol, c.start_id""".stripMargin
    }
  }

  /** DuckDB replay of [[compileRelaxedAny]] — any-run chaining via rid
    * inequality joins over the run table, negation via the previous
    * chosen run's next-negated-run lookup, UNION ALL with no dedup
    * (duplicate rows from unrecorded middle-run choices are distinct
    * matches on both engines). Output ordered by EVERY column so the
    * duplicate multiset compares deterministically.
    */
  private def oracleSqlAny(pattern: CepPattern, header: String,
                           keyCol: String): String = {
    val steps = pattern.steps
    val negIdx = steps.indices.filter(steps(_).negated)
    val runsxSql =
      if (negIdx.isEmpty) "runsx AS (SELECT * FROM runs)"
      else {
        val nxtSel = negIdx.map(oi =>
          s"min(CASE WHEN sym = '${steps(oi).symbol}' THEN rid END) OVER wnx AS nxt_$oi")
          .mkString(", ")
        s"""runsx AS (SELECT *, $nxtSel FROM runs
           |          WINDOW wnx AS (PARTITION BY k ORDER BY rid DESC
           |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin
      }
    def capped(lenSql: String, st: CepStep): String =
      st.maxRep.map(m => s"least($lenSql, $m)").getOrElse(lenSql)
    val altSql = pattern.alternatives.zipWithIndex.map { case (presentIdx, ai) =>
      val alt = presentIdx.map(steps)
      val j = alt.size
      val joins = (1 until j).map { i =>
        s"JOIN runsx r${i + 1} ON r${i + 1}.k = r1.k AND r${i + 1}.rid > r$i.rid " +
          s"AND r${i + 1}.sym = '${alt(i).symbol}'"
      }.mkString("\n             ")
      val conds = ((1 until j).map(i => s"r${i + 1}.len >= ${alt(i).minRep}") ++
        (1 until j).flatMap { i =>
          pattern.negsBetween(presentIdx(i - 1), presentIdx(i)).map(g =>
            s"(r$i.nxt_$g IS NULL OR r$i.nxt_$g > r${i + 1}.rid)")
        }).mkString(" AND ")
      val ccSel = (1 until j)
        .map(i => s"${capped(s"r${i + 1}.len", alt(i))} AS cc_${presentIdx(i)}")
        .mkString(", ")
      val clast = capped(s"r$j.len", alt.last)
      val w1 = pattern.withinMinutes
        .map(w => s" AND r1r.ts >= w.end_ts - INTERVAL $w MINUTE").getOrElse("")
      val ccCols = (1 until j).map(i => s"cc_${presentIdx(i)}")
      val countExprs = steps.indices.map { oi =>
        if (!presentIdx.contains(oi)) "0"
        else if (oi == presentIdx.head) "c1"
        else s"cc_$oi"
      }.mkString(", ")
      s"""cand_$ai AS (SELECT r1.k, r1.rid AS arid, r1.len AS len1,
         |             r$j.rid AS erid, $clast AS clast, $ccSel
         |             FROM runsx r1
         |             $joins
         |             WHERE r1.sym = '${alt.head.symbol}' AND $conds),
         |wend_$ai AS (SELECT c.*, pe.ts AS end_ts, pe.ord AS end_id
         |             FROM cand_$ai c JOIN p pe ON pe.k = c.k AND pe.rid = c.erid
         |                                      AND pe.pos = c.clast),
         |m_$ai AS (SELECT w.*, r1r.ts AS start_ts, r1r.ord AS start_id,
         |            ${capped("w.len1 - r1r.pos + 1", alt.head)} AS c1
         |          FROM wend_$ai w JOIN p r1r ON r1r.k = w.k AND r1r.rid = w.arid
         |          WHERE w.len1 - r1r.pos + 1 >= ${alt.head.minRep}$w1),
         |out_$ai AS (SELECT k AS $keyCol, start_id, start_ts, end_id, end_ts,
         |            c1 + ${ccCols.mkString(" + ")} AS n_rows,
         |            concat_ws(',', $countExprs) AS step_counts
         |            FROM m_$ai)""".stripMargin
    }
    val unions = pattern.alternatives.indices
      .map(i => s"SELECT * FROM out_$i").mkString(" UNION ALL ")
    header + ",\n" + runsxSql + ",\n" + altSql.mkString(",\n") +
      s"""
         |SELECT * FROM ($unions)
         |ORDER BY $keyCol, start_id, end_id, n_rows, step_counts""".stripMargin
  }
}
