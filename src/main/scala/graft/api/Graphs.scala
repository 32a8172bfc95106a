package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis over explicit edge lists (the graph layer next to
  * [[Dedup.clusters]]' connected components): corpus-curation ranking
  * over the kNN graph — SemDeDup-style cluster pruning keeps the
  * highest-CENTRALITY member, near-dup audit orders candidates by how
  * referenced they are, crawl frontiers prioritize by link rank.
  */
object Graphs {

  /** Distributed PageRank over a directed edge list, in EXACT
    * fixed-point integer arithmetic.
    *
    * Ranks live in integer `scale` units (default parts-per-trillion):
    * r_0 = scale div n, and each of the `iters` synchronous rounds is
    *
    *   r'(i) = (15 * (scale div n)) div 100
    *         + (85 * Σ_{j→i} (r(j) div out(j))) div 100
    *
    * i.e. the standard d = 0.85 update with every division an INTEGER
    * floor division and every sum an integer sum. That choice is what
    * makes the operator oracle-able: float PageRank depends on the
    * ORDER partial sums combine in (engine- and partitioning-specific),
    * while integer sums are associative — Spark and DuckDB agree
    * bit-for-bit at any parallelism. The sub-ulp mass lost to the
    * floors (and, by default, the dangling mass — NOT redistributed)
    * makes this a centrality SCORE, not a probability distribution —
    * the ranking use cases above never needed the simplex.
    *
    * `redistributeDangling = true` (round-16, opt-in) restores the
    * textbook treatment: each round adds the damped uniform share of
    * the DANGLING mass (the rank sitting on nodes with no out-edges)
    *
    *   + (85 * D) div (100 * n),  D = Σ_{out(j)=0} r(j)
    *
    * to every node — still exact integer (one floor per node per
    * round), so the oracle replay stays bit-exact, and total mass is
    * conserved up to floor loss (PipelineSpec pins Σr within the
    * per-round floor budget of `scale`). The dangling sum is ONE
    * scalar-sized aggregate per round — a 1-row DataFrame broadcast
    * into the rank projection (BroadcastNestedLoopJoin on one row),
    * never a driver-side collect loop; the dangling node SET is fixed
    * across rounds (out-degrees don't change) and computed once.
    *
    * Scale: per round, one (src-keyed) join of edges to ranks + one
    * dst-keyed partial-aggregated shuffle of the contributions + one
    * left join back to the node set — all key-partitioned, nothing
    * global; edges for a capped kNN graph are O(n·k). `iters` is fixed
    * (deterministic output), each round localCheckpointed so the plan
    * does not grow with the unroll. Overflow headroom: total rank mass
    * <= scale = 1e12, times 85 stays far inside Long.
    *
    * Output: (id, r) — node id and its integer rank in `scale` units.
    */
  def pagerank(nodes: DataFrame, idCol: String, edges: DataFrame,
               srcCol: String, dstCol: String, iters: Int = 8,
               scale: Long = 1000000000000L,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outd"))
    // every round is materialized under the loop settings (Fixpoint —
    // AQE off, shuffle parallelism derived from the edge count, taken by
    // the job that materializes the edges once for every round; see
    // pagerankConvergedWithRound's note for the measured why)
    val (fx, eoIn) = Fixpoint.over(e.join(outdeg, "src"))
    val eo = eoIn.state
    val n = ids.count() // bounded: one scalar to the driver
    require(n > 0, "pagerank over an empty node set")
    val r0 = scale / n
    val base = (15L * r0) / 100L
    // the dangling node set is round-invariant (out-degrees are a
    // property of the edge list): computed once, reused every round
    val dangling =
      if (!redistributeDangling) null
      else ids.join(eo.select(col("src").as("id")), Seq("id"), "left_anti")
        .localCheckpoint()
    // a fixed round count is a normal end, never a spent budget
    fx.back(fx.run(ids.select(col("id"), lit(r0).as("r")), iters)((ranks, _) => {
      val contribs = eo.join(ranks, eo("src") === ranks("id"))
        .select(col("dst").as("id"), expr("r div outd").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      val next = ids.join(contribs, Seq("id"), "left")
      if (!redistributeDangling)
        next.select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      else {
        // ONE scalar-sized aggregate: the round's dangling mass as a
        // 1-row DataFrame, broadcast into the rank projection (a
        // BroadcastNestedLoopJoin over one row — in-plan, never a
        // driver collect loop)
        val d = ranks.join(dangling, Seq("id"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L)).as("dsum"))
        next.crossJoin(broadcast(d))
          .select(col("id"),
            (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")
              + expr(s"(85 * dsum) div ${100L * n}")).as("r"))
      }
    })((_, _, _) => false).state)
  }

  /** Per-node TRIANGLE counts over a directed edge list (the local
    * clustering signal next to [[pagerank]]'s centrality and
    * Dedup.clusters' components: a near-dup cluster whose members
    * interlock in triangles is a dense paraphrase nest, not a chain of
    * borderline pairs — curation keeps/audits them differently).
    *
    * Exact and integer — fully oracle-able. Construction: edges are
    * UNDIRECTED and canonicalized (`least < greatest`, distinct), then
    * the classic triple join over canonical orderings: a triangle
    * {a < b < c} is counted ONCE as (a,b) ⋈ (b,c) semi-joined to
    * (a,c). Per-node counts explode each triangle's three corners and
    * re-aggregate; nodes in no triangle report 0.
    *
    * Scale: the (a,b) ⋈ (b,c) join is keyed on the shared vertex and
    * its volume is Σ deg² — BOUNDED for a capped kNN graph (deg <=
    * 2k), the intended input, exactly the Σocc² discipline the capped
    * LSH family documents; the closing check is a key-partitioned semi
    * join, the corner explode is x3. Nothing global, no driver-side
    * data. Arbitrary power-law graphs would want the usual
    * high-degree-vertex split before the wedge join — out of scope for
    * the kNN use case, noted here so the boundary is explicit. */
  def triangleCounts(nodes: DataFrame, idCol: String, edges: DataFrame,
                     srcCol: String, dstCol: String): DataFrame = {
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val wedges = und.select(col("a"), col("b").as("m"))
      .join(und.select(col("a").as("m"), col("b").as("c")), "m")
      .select(col("a"), col("m").as("b"), col("c")) // a < b < c by construction
    val tris = wedges.join(und.select(col("a"), col("b").as("c")),
      Seq("a", "c"), "left_semi")
    val corners = tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    ids.join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** [[pagerank]] iterated to its integer-rank FIXPOINT (the
    * `knnGraphConverged` convergent-loop discipline, round-14 verdict
    * item): rounds repeat until NO node's integer rank changes, and the
    * CONVERGENCE ROUND (1-based; the first round whose output equals
    * its input) is returned so callers can couple it to a generated
    * oracle's fixed unroll — a fixpoint round is idempotent, so any
    * unroll >= the round replays the converged ranks exactly; callers
    * must assert `round <= unroll` LOUDLY at query-build time (the
    * knnGraphConverged/ConvergedOracleRounds pattern).
    *
    * The iteration is seeded from the BOTTOM — r_0 = base, the rank a
    * node with zero in-contributions holds — NOT from the uniform
    * scale div n seed [[pagerank]] uses, and that choice is what makes
    * an EXACT integer fixpoint reachable at all: the update map is
    * monotone (floors preserve order) and F(bottom) >= bottom, so the
    * rank sequence is pointwise NON-DECREASING and bounded (total mass
    * <= n*base/0.15), and a monotone bounded integer sequence
    * terminates at the map's LEAST FIXPOINT — Kleene iteration, no
    * cycles possible. From the uniform seed the same map oscillates in
    * a small floor-noise cycle forever (deltas contract by 85/100 plus
    * O(1) floor noise, which never reaches zero — measured on the
    * fixture: no fixpoint in 128 rounds). The least fixpoint is also
    * seed-independent as a definition — a cleaner converged score than
    * "wherever the oscillation was truncated".
    *
    * Increments contract by the damping factor per round, so the
    * fixpoint lands near log_{100/85}(base) rounds — why this variant
    * defaults to the n-derived [[autoScale]] (scale = 0 sentinel,
    * VERDICT r16 item 3): base stays in [15, 150] at ANY n, bounding
    * the depth at ~31 rounds whether n is 500 or 5e8, and a converged
    * score needs no more precision than its own stopping threshold
    * (1 integer unit). An explicit scale keeps the caller's units.
    * LOUD failure after `maxIters` rounds — never a silently
    * truncated iteration.
    *
    * The returned round is a CERTIFIED UPPER BOUND on the exact
    * first-flat round, within `blockSize - 1` of it: rounds run in
    * BLOCKS of `blockSize` — ONE Spark job per block that materializes
    * the block's ranks and sums them (the [[Fixpoint]] probe) — and
    * monotonicity makes the block check exact: if the block's
    * endpoint ranks are equal, every intermediate round was equal too
    * (a non-decreasing chain with equal endpoints is constant), so
    * the block-start ranks already ARE the least fixpoint and any
    * oracle unroll >= the reported round replays them. Blocking cuts
    * the per-round driver latency (18.6 s unblocked vs 12.2 s at
    * n=2000, measured when a block still cost a checkpoint job and a
    * probe job); the REMAINING
    * cost is the ~log_{100/85}(base) synchronous shuffle rounds
    * themselves (~0.25 s each at local[32]), intrinsic to an exact
    * BSP fixpoint — block size 3/4/6 measure within noise of each
    * other. A latency-sensitive caller should prefer the fixed-round
    * [[pagerank]] (8 rounds) and treat this variant as the
    * exactness-first scorer.
    *
    * Scale: per block one src-keyed join + one dst-keyed combine per
    * round, one checkpoint whose job also sums the ranks (the single
    * driver scalar). The round
    * count is BOUNDED BY log_{100/85}(base) plus the graph's mixing
    * time — at fixed scale the base term shrinks as n grows, but on a
    * sharded corpus the certified round is the max over shards (an
    * extreme-value term that can offset the shrink; measured both
    * ways in BENCH_SCALE.md's fixed-scale block: rounds 81 → 65 → 77
    * over 1×/10×/100× while wall-clock stayed sub-linear per decade,
    * 0.34 then 0.29) — and per-round cost is linear in edges, which
    * is what keeps the total sub-linear either way. */
  /** The auto-derived fixed-point scale for [[pagerankConvergedWithRound]]
    * (VERDICT r16 item 3): the smallest power of ten >= 100*n, so the
    * per-node base (15 * (scale div n)) div 100 always lands in
    * [15, 150] — nonzero at ANY n (the fixed ppm scale floored it to 0
    * past n ~ 1.4e5 and rejected larger inputs), with the two digits of
    * headroom the engine's require asks for, and a BOUNDED fixpoint
    * depth (~log_{100/85}(150) ~ 31 rounds) that no longer grows as n
    * shrinks relative to a fixed scale. The oracle derives the SAME
    * rule in SQL from count(*), so engine and replay stay coupled by
    * construction. */
  def autoScale(n: Long): Long = {
    require(n >= 1 && n <= 10000000000000000L,
      s"autoScale: n out of range: $n")
    Iterator.iterate(10L)(_ * 10).find(_ >= 100L * n).get
  }

  def pagerankConvergedWithRound(nodes: DataFrame, idCol: String,
                                 edges: DataFrame, srcCol: String,
                                 dstCol: String, maxIters: Int = 128,
                                 scale: Long = 0L,
                                 blockSize: Int = 4): (DataFrame, Int) = {
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outd"))
    // r18: the ~30 synchronous rounds execute under the loop settings
    // (Fixpoint — AQE off, shuffle parallelism derived from the edge
    // count): round 17 profiled this loop at 290 jobs with ~45% of
    // wall-clock in driver gaps between them; the loop body is a
    // fixed-shape keyed join + combine whose size is bounded by the edge
    // table, so per-round re-optimization has nothing to decide.
    val (fx, eoIn) = Fixpoint.over(e.join(outdeg, "src"))
    val eo = eoIn.state
    val n = ids.count()
    require(n > 0, "pagerankConverged over an empty node set")
    // scale = 0 (the default) derives the scale from n via [[autoScale]]
    // (VERDICT r16 item 3) — any input size is accepted and the base
    // stays in [15, 150]; an explicit scale keeps the caller's units
    // (the BENCH_SCALE fixed-scale twin, the spec's ppm reference).
    val sc = if (scale == 0L) autoScale(n) else scale
    val base = (15L * (sc / n)) / 100L
    // a floored-to-zero base makes every rank 0 and the "fixpoint"
    // degenerate — the scale must grow with n (pick scale >= ~100*n
    // so ranks keep at least two digits of headroom)
    require(base >= 1L,
      s"pagerankConverged: scale=$sc is too coarse for n=$n nodes " +
        "(the per-node base floors to 0, so every rank would be 0) — " +
        "raise scale proportionally to n")
    val ranks0 = ids.select(col("id"), lit(base).as("r"))
    def oneRound(r: DataFrame): DataFrame = {
      val contribs = eo.join(r, eo("src") === r("id"))
        .select(col("dst").as("id"), expr("r div outd").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      ids.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    // r17 convergence probe (guide §1.2): the rank chain is pointwise
    // NON-DECREASING (monotone map from the bottom seed — the Kleene
    // argument above), so two rank tables along the chain are equal iff
    // their SUMS are equal. One scalar aggregate, observed by the job
    // that materializes the block, replaces the union + group-count
    // symmetric-difference job (two extra shuffles) per block.
    // Overflow-safe: Σr <= scale <= 1e18 (autoScale caps n at 1e16).
    // (The union-seeded round body
    // tried alongside this was MEASURED SLOWER than the left-join form
    // — 10.3 s vs 4.9 s profiled at sf0.1 — and was reverted; see
    // OPTIMIZATION_r17.md.)
    var prevSum = n * base // the seed's sum: n rows of `base`
    def flat(s: Long): Boolean = {
      // The sum probe is sound ONLY because the rank chain is pointwise
      // non-decreasing (Kleene from the bottom seed, no dangling
      // reflow). Guard the invariant: any future edit
      // that breaks the precondition fails loudly here instead of
      // silently declaring a false fixpoint on a sum collision.
      if (s < prevSum) throw new IllegalStateException(
        s"pagerankConverged: rank-sum decreased ($prevSum -> $s) — the " +
          "pointwise-monotone precondition of the sum-based convergence " +
          "probe no longer holds; restore the bottom seed / reflow-free " +
          "round body or replace the probe with a symmetric difference")
      val same = s == prevSum
      prevSum = s
      same
    }
    // coalesce: locally total even on an empty rank table (sum over zero
    // rows is SQL NULL; reaching it would otherwise rely on the distant
    // require(n > 0))
    val res = fx.run(ranks0, maxIters, blockSize)((r, _) => oneRound(r),
      _ => Seq(coalesce(sum(col("r")), lit(0L))))((_, b, _) => flat(b.probes.getLong(0)))
    if (!res.converged) throw new IllegalStateException(
      s"pagerankConverged: no integer fixpoint after $maxIters rounds — " +
        "raise maxIters (and the oracle's unroll depth) rather than " +
        "accepting a truncated iteration")
    // reported round = block start + 1: r_{blockStart} equals
    // r_{blockStart+1} (constant chain), so the fixpoint is certified
    // reached by that round — an upper bound within blockSize-1 of the
    // exact first-flat round (blocks start at multiples of blockSize)
    (fx.back(res.state), (res.rounds - 1) / blockSize * blockSize + 1)
  }

  /** K-CORE of an undirected graph — the maximal induced subgraph in
    * which every node keeps degree >= `k` — by iterative PEELING to
    * the (unique) fixpoint, with the certified peel-round count. The
    * pipeline reading: the densest backbone of the kNN graph — the
    * k-core filter curation uses to keep documents with at least k
    * mutually-near neighbors (tight semantic clusters) and shed
    * dangling chains that survive a plain degree threshold one hop at
    * a time.
    *
    * The peel is the FRONTIER-DELTA form, not a per-round full degree
    * recompute: when the round's removed set R drops out, only
    * NEIGHBORS of R lose degree, so each round joins the (shrinking)
    * frontier to the static symmetrized edge list, discounts the lost
    * edges from the maintained degree table, and the nodes that fall
    * below k become the next frontier. Every edge is discounted
    * exactly once per endpoint removal, so total work across ALL
    * rounds is O(E) edge visits — the same discipline that turns
    * [[ssspWithRound]] into BFS — while the naive form pays O(E) per
    * round. The k-core is removal-order-independent (peeling is a
    * confluent chaotic iteration), so the synchronous rounds here and
    * the oracle's unrolled alive-set replay reach the identical
    * fixpoint. An empty frontier IS the fixpoint: no remaining node
    * can ever fall below k. Rounds run in BLOCKS of `blockSize`, one
    * Spark job per block that materializes the state and counts the
    * last round's new layer (the [[Fixpoint]] discipline); LOUD
    * failure past `maxIters`, never a silently truncated peel.
    *
    * Output: the full ONION DECOMPOSITION (id, layer) — layer = the
    * synchronous peel round that removed the node (1 = fell below k in
    * the raw graph, 2 = fell after layer 1 dropped out, …), layer 0 =
    * k-core member (never removed). Every node WITH an edge gets
    * exactly one row — the layer is the node's depth inside the
    * graph's dense backbone, the feature graph-curation ranks by —
    * and a possibly-EMPTY core is still a meaningful (and total)
    * answer. Isolated nodes emit no row on either engine.
    *
    * Scale: the degree table and frontier are id-partitioned; the
    * static edge list is checkpointed once; per round one frontier
    * join + one dst-keyed discount aggregate + one key-partitioned
    * merge — nothing global, rounds bounded by the peel cascade depth
    * (short for expander-like kNN graphs). */
  def kcoreWithRound(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxIters: Int = 64,
                     blockSize: Int = 4): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1: $k")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // symmetrize + dedup: degree = out-degree in the undirected edge set.
    // r18: peel rounds run under the loop settings (Fixpoint — AQE off,
    // parallelism derived from the edge count taken by the job that
    // materializes the symmetrized edges)
    val (fx, egIn) = Fixpoint.over(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    val eg = egIn.state
    // ONE state table carries the whole peel — (id, deg, layer) with
    // layer NULL while alive — so each block materializes ONE
    // checkpoint instead of three separately-recomputed chains
    // (deg/frontier/layers as distinct DataFrames tripled the block's
    // executed work; measured 16.9 s -> the fused form at sf0.1). The
    // seed is computed by the first block's job.
    val st0 = eg.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"),
        when(col("deg") < k, 1).otherwise(lit(null)).cast("int").as("layer"))
    // peel round i: the nodes of layer i - 1 drop out, and every alive
    // node that falls below k gets layer i
    def peel(s: DataFrame, i: Int): DataFrame = {
      val f = s.filter(col("layer") === i - 1).select("id")
      // edges whose dst just dropped: each still-alive src loses that many
      val lost = eg.join(f, eg("dst") === f("id"))
        .groupBy("src").agg(count(lit(1)).as("lostn"))
        .select(col("src").as("id"), col("lostn"))
      s.join(lost, Seq("id"), "left")
        .select(col("id"),
          when(col("layer").isNotNull, col("deg"))
            .otherwise(col("deg") - coalesce(col("lostn"), lit(0L))).as("deg"),
          coalesce(col("layer"),
            when(col("deg") - coalesce(col("lostn"), lit(0L)) < k,
              lit(i))).cast("int").as("layer"))
    }
    // Layer 1 is assigned above, so it counts against maxIters. Fixpoint
    // probe: the LAST round assigned no layer => the next frontier is
    // empty — nothing can ever fall below k (mid-block emptying leaves
    // later in-block rounds as no-ops). The block's job also observes
    // the deepest layer so far, the depth this call reports.
    val res = fx.run(st0, maxIters, blockSize, start = 1)(peel,
      i => Seq(count(when(col("layer") === i, 1)), max(col("layer"))))(
      (_, b, _) => b.probes.getLong(0) == 0L)
    val st = fx.on(res.state)
    // Post-loop boundary probe (ADVICE r16): the in-loop probe only
    // certifies a fixpoint when the final block's LAST round assigned
    // nothing — a cascade whose last assignment landed exactly on round
    // maxIters has ALSO converged iff one further round would assign
    // nothing. Probe that once before declaring truncation, so hitting
    // the budget exactly is success, not a spurious failure.
    val after = res.rounds + 1
    if (!res.converged && !peel(st, after).filter(col("layer") === after).isEmpty)
      throw new IllegalStateException(
        s"kcore: the peel cascade is still running after $maxIters rounds " +
          "(the initial below-k layer counts as round 1) — raise maxIters " +
          "(and the oracle's unroll depth) rather than accepting a " +
          "truncated core")
    val done = st.select(col("id"), coalesce(col("layer"), lit(0)).as("layer"))
    // certified peel depth = the deepest assigned layer (observed by the
    // last block's job; one scalar job only when no block ran); the
    // oracle's unroll R is sound iff R >= this
    val deepest = res.probes.map(_.get(1))
      .getOrElse(st.agg(max(col("layer"))).head().get(0))
    (fx.back(done), deepest match {
      case null => 0
      case v: Int => v
    })
  }

  /** Multi-source SHORTEST PATHS (unit weights — BFS levels) to the
    * least fixpoint, with the certified round: frontier-based
    * Bellman-Ford in the (min, +) semiring, the OTHER classic Kleene
    * iteration next to [[pagerankConvergedWithRound]]'s (+ , x) one.
    * The pipeline reading: distance-to-nearest-SEED over the kNN
    * graph — "how many hops is this document from the labeled set" —
    * the graph-proximity feature curation pipelines use for
    * label-spreading and crawl-frontier prioritization.
    *
    * Unit weights make levels FINAL: a node first reached in round r
    * has shortest distance exactly r, so the frontier is the
    * anti-join of the round's min-combined candidates against every
    * already-reached node, and each round's work is O(edges out of
    * the frontier) — the delta optimization that turns Bellman-Ford's
    * O(V·E) into BFS's O(E). Termination is by construction: the
    * reached set grows monotonically and is bounded by n, and an
    * empty frontier IS the least fixpoint (no relaxation can ever
    * fire again). Rounds run in BLOCKS of `blockSize`, one Spark job per
    * block that materializes the state and counts the last round's
    * newly reached nodes (the [[Fixpoint]] discipline); rounds past an
    * in-block empty frontier are no-ops, so the reported round is an
    * upper bound within blockSize - 1 of the exact emptying round, and
    * every distance in the output is < that round. Unreached nodes emit no
    * row (infinite distance), matching the oracle's recursive
    * closure. LOUD failure past `maxIters` — never a silently
    * truncated frontier.
    *
    * Scale: per round one src-keyed join of the (shrinking) frontier
    * to edges, one dst-keyed min-combine, one anti-join against the
    * reached set — all key-partitioned; total work across ALL rounds
    * is O(E) edge visits, and rounds are bounded by the graph
    * diameter (small for kNN graphs, which are expander-like). */
  def ssspWithRound(seeds: DataFrame, idCol: String, edges: DataFrame,
                    srcCol: String, dstCol: String, maxIters: Int = 64,
                    blockSize: Int = 4): (DataFrame, Int) = {
    // r18: BFS rounds under the loop settings (see
    // pagerankConvergedWithRound's note for the measured why), sized by
    // the edge count the edges' one materialization takes
    val (fx, eIn) = Fixpoint.over(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val e = eIn.state
    // ONE state table (id, dist, r) — r = the round that reached the
    // node — so the frontier is a cheap filter over the single
    // per-block checkpoint instead of a second separately-recomputed
    // chain (the kcoreWithRound fusion; it halved this loop's wall). The
    // caller's seeds are planned once and computed by the first block's
    // job, which reads them three times.
    val st0 = fx.on(seeds.select(col(idCol).cast("long").as("id"),
      lit(0).cast("int").as("dist"), lit(0).cast("int").as("r"))).localCheckpoint(false)
    // round i expands the nodes reached in round i - 1. The LAST round's
    // reached set empty => the next frontier is empty — the fixpoint
    // (mid-block emptying leaves later in-block rounds as no-ops, so
    // checking the final round alone is sound)
    val res = fx.run(st0, maxIters, blockSize)((s, i) => {
      val f = s.filter(col("r") === i - 1).select("id", "dist")
      val nf = e.join(f, e("src") === f("id"))
        .select(col("dst").as("id"), (col("dist") + 1).as("nd"))
        .groupBy("id").agg(min(col("nd")).cast("int").as("dist"))
        .join(s.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("dist"), lit(i).cast("int").as("r"))
      s.union(nf)
    }, i => Seq(count(when(col("r") === i, 1))))((_, b, _) => b.probes.getLong(0) == 0L)
    if (!res.converged) throw new IllegalStateException(
      s"sssp: the frontier is still growing after $maxIters rounds — " +
        "raise maxIters (and the oracle's depth bound) rather than " +
        "accepting truncated distances")
    (fx.back(res.state.select("id", "dist")), res.rounds)
  }

  /** WEIGHTED multi-source shortest paths to the least fixpoint —
    * genuine (min, +) relaxation over positive integer edge weights,
    * where [[ssspWithRound]]'s BFS shortcut (levels final) no longer
    * holds: a node's distance can IMPROVE after first discovery, so
    * the frontier is the per-round IMPROVED set (delta-stepping's
    * simplest form: Bellman-Ford relaxing only edges out of nodes
    * whose distance changed). Termination is by construction for
    * positive integer weights: every improvement strictly decreases
    * an integer bounded below, and an empty improved set means no
    * relaxation can ever fire again — the least fixpoint. The
    * certified round is an upper bound within blockSize - 1 of the
    * exact emptying round, which itself is (max shortest-path HOP
    * count) + 1 — the coupling the oracle's hop-bounded recursive
    * closure asserts against at build time.
    *
    * Scale: per round one src-keyed join of the improved set to the
    * edges, one dst-keyed min-combine, and one key-partitioned
    * full-outer merge of the distance table (the relaxation step
    * Bellman-Ford cannot avoid once improvements re-open settled
    * nodes); all partitioned by id, rounds bounded by the hop radius
    * of the shortest-path forest, one state checkpoint per block (the
    * kcoreWithRound fusion). */
  def ssspWeightedWithRound(seeds: DataFrame, idCol: String,
                            edges: DataFrame, srcCol: String,
                            dstCol: String, wCol: String,
                            maxIters: Int = 64,
                            blockSize: Int = 4): (DataFrame, Int) = {
    // r18: relaxation rounds under the loop settings (see
    // pagerankConvergedWithRound's note for the measured why)
    val (fx, eIn) = Fixpoint.over(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(wCol).cast("int").as("w")))
    val e = eIn.state
    // ONE state table (id, dist, ir) — ir = the round of the node's
    // last improvement, so the improved-set frontier is a filter over
    // the single per-block checkpoint; the caller's seeds are planned
    // once and computed by the first block's job
    val st0 = fx.on(seeds.select(col(idCol).cast("long").as("id"),
      lit(0).cast("int").as("dist"), lit(0).cast("int").as("ir"))).localCheckpoint(false)
    // round i relaxes the edges out of the nodes improved in round i - 1
    val res = fx.run(st0, maxIters, blockSize)((s, i) => {
      val f = s.filter(col("ir") === i - 1).select("id", "dist")
      val cand = e.join(f, e("src") === f("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
        .groupBy("id").agg(min(col("nd")).cast("int").as("nd"))
      val better = col("nd").isNotNull &&
        (col("dist").isNull || col("nd") < col("dist"))
      s.join(cand, Seq("id"), "full_outer")
        .select(col("id"),
          when(better, col("nd")).otherwise(col("dist")).cast("int").as("dist"),
          when(better, lit(i)).otherwise(col("ir")).cast("int").as("ir"))
    }, i => Seq(count(when(col("ir") === i, 1))))((_, b, _) => b.probes.getLong(0) == 0L)
    if (!res.converged) throw new IllegalStateException(
      s"ssspWeighted: improvements persist after $maxIters rounds — " +
        "raise maxIters (and the oracle's hop bound) rather than " +
        "accepting truncated distances")
    (fx.back(res.state.select("id", "dist")), res.rounds)
  }
}
