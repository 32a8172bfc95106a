package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{vec_dot, vec_norm}

/** Similarity search over an embedding column (Array[Float]).
  *
  * Vector math uses the engine's native `vec_dot` Catalyst expression
  * (graft.functions.VecDot): a single fused codegen loop, accumulating in
  * double in index order — bit-identical to the higher-order-function
  * fold it replaces, with no per-row intermediate arrays.
  */
object Similarity {

  /** Precompute the L2 norm (cosine denominator) on the raw vector. */
  private[api] def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("nrm", vec_norm(col(vecCol)))

  /** Random-hyperplane (Charikar) LSH constants for [[lshTopK]]:
    * `tables * bits` planes of `dim` integer components in [-1000, 1000],
    * derived from md5("p_i") so the DuckDB oracle regenerates the SAME
    * planes from the same formula (md5 is bit-identical everywhere).
    * Integer components + an integer-quantized vector make the bucket
    * dot products EXACT 64-bit arithmetic on both engines — bucket
    * assignment cannot diverge on floating-point summation order.
    */
  def lshPlanes(tables: Int, bits: Int, dim: Int): IndexedSeq[IndexedSeq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(tables * bits) { p =>
      IndexedSeq.tabulate(dim) { i =>
        val hex = md.digest(s"${p}_${i}".getBytes("UTF-8"))
          .take(4).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
      }
    }
  }

  /** `tables` x `bits`-bit LSH bucket ids per row as (tbl, bkt) rows:
    * bit j of table t is sign(round(v*1000) . plane(t*bits+j)) — pure
    * 64-bit integer arithmetic inside one fused codegen expression
    * (graft.functions.LshBucketSig; the quantization lives there too).
    */
  private def lshBuckets(vec: Column, planes: IndexedSeq[IndexedSeq[Long]],
                         tables: Int, bits: Int): Column =
    posexplode(graft.functions.Signatures.lsh_bucket_sig(vec, planes, tables, bits))

  /** Random-hyperplane LSH top-`k` cosine ANN — the bucketed scale path
    * that needs NO training pass (vs [[annTopK]]'s IVF centroids):
    * `tables` independent hash tables of `bits` sign bits each; a
    * candidate is any corpus row sharing a (table, bucket) with the
    * probe; candidates are verified with the exact cosine and ranked.
    *
    * 100 TB shape: each corpus row emits `tables` rows keyed by a
    * ~uniform (table, bucket) key — a plain shuffle join against the
    * (tiny, broadcast) probe buckets, candidate volume bounded by bucket
    * occupancy ~ n/2^bits per table. Recall grows with `tables`,
    * precision with `bits`; both are per-query knobs, and the verify
    * step is exact so precision of the OUTPUT is 1 within candidates.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int, tables: Int = 4, bits: Int = 8,
              dim: Int = 64): DataFrame = {
    val planes = lshPlanes(tables, bits, dim)
    val e = withNorm(corpus, vecCol)
    val cb = corpus.select(col(idCol),
      lshBuckets(col(vecCol), planes, tables, bits).as(Seq("tbl", "bkt")))
    val pb = probes.select(col(idCol).as("probe_id"),
      lshBuckets(col(vecCol), planes, tables, bits).as(Seq("tbl", "bkt")))
    val cand = cb.join(broadcast(pb), Seq("tbl", "bkt"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol)).distinct()
    val p = withNorm(probes, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"), col("nrm").as("pn"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col(idCol))
    cand.join(e, idCol).join(broadcast(p), "probe_id")
      .withColumn("cos", vec_dot(col("pv"), col(vecCol)) / (col("pn") * col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** k-NN GRAPH construction — every corpus vector's top-`k` cosine
    * neighbors among its LSH-bucket candidates (the all-sources sibling
    * of [[lshTopK]], whose probe side is a small broadcast set). The
    * k-NN graph is the backbone structure for semantic clustering,
    * graph-based dedup, and NN-Descent-style refinement over a training
    * corpus.
    *
    * 100 TB shape: the candidate set is a bucket SELF-join — both sides
    * shuffle on the ~uniform (table, bucket) key, per-bucket cost
    * O(occupancy²) with occupancy ~ n/2^bits per table (bits is the
    * knob that keeps buckets bounded as n grows; a skewed bucket is a
    * salting candidate like any other hot key). The exact-cosine verify
    * joins each side's vector by id (two shuffle joins on the id key),
    * and the top-k rank windows per SOURCE id — fully distributed,
    * never a global sort. Output is n·k rows — linear in the corpus.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               tables: Int = 4, bits: Int = 8, dim: Int = 64): DataFrame = {
    val planes = lshPlanes(tables, bits, dim)
    val cb = corpus.select(col(idCol),
      lshBuckets(col(vecCol), planes, tables, bits).as(Seq("tbl", "bkt")))
    val cand = cb.join(
        cb.select(col(idCol).as("neighbor_id"), col("tbl"), col("bkt")),
        Seq("tbl", "bkt"))
      .filter(col(idCol) =!= col("neighbor_id"))
      .select(col(idCol).as("src_id"), col("neighbor_id")).distinct()
    knnRankTopK(corpus, idCol, vecCol, cand, k)
  }

  /** [[knnGraph]] with a PER-BUCKET OCCUPANCY CAP — the dense-bucket
    * treatment that removes the Σocc² term from the candidate join
    * (the round-12 watch item): each (table, bucket)'s NEIGHBOR-side
    * membership keeps only its `cap` deterministic representatives
    * (smallest md5(id), id tiebreak — both engines reproduce the
    * selection), while the SOURCE side keeps every row, so every vector
    * still gets candidates from all its buckets and only the supply of
    * bucket-mates is bounded. A row beyond the cap in one bucket is
    * still discoverable as a neighbor through its other `tables − 1`
    * buckets (and through [[knnGraphRefine]]'s neighbor-of-neighbor
    * expansion, which this pairs with).
    *
    * 100 TB shape: per-bucket join cost drops from occ² to occ · cap —
    * total candidate volume ≤ tables · n · cap, LINEAR in the corpus at
    * fixed cap (BENCH_SCALE measures the exponent; the fixed-bits
    * quadratic term is gone by construction). cap (like bits) grows
    * with log n in production to hold recall.
    */
  def knnGraphCapped(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, tables: Int = 4, bits: Int = 8, dim: Int = 64,
                     cap: Int = 8): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val planes = lshPlanes(tables, bits, dim)
    val cb = corpus.select(col(idCol),
      lshBuckets(col(vecCol), planes, tables, bits).as(Seq("tbl", "bkt")))
    val wb = Window.partitionBy(col("tbl"), col("bkt"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val reps = cb.withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= cap)
      .select(col(idCol).as("neighbor_id"), col("tbl"), col("bkt"))
    val cand = cb.join(reps, Seq("tbl", "bkt"))
      .filter(col(idCol) =!= col("neighbor_id"))
      .select(col(idCol).as("src_id"), col("neighbor_id")).distinct()
    knnRankTopK(corpus, idCol, vecCol, cand, k)
  }

  /** The exact-cosine verify + per-source top-k tail shared by
    * [[knnGraph]] and [[knnGraphRefine]] (the Spark twin of the
    * oracles' shared `knnRankSql`): `cand(src_id, neighbor_id)` pairs
    * join each side's vector by id and rank per source — a rank
    * convention change lands in ONE place or the refine pair's
    * dominance property breaks its own test. */
  private[graft] def knnRankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                          cand: DataFrame, k: Int): DataFrame =
    knnRankTopKNormed(withNorm(corpus, vecCol), idCol, vecCol, cand, k)

  /** [[knnRankTopK]] over a frame that ALREADY carries the `nrm`
    * column — the loop-hoisting entry point (r18): a fixpoint caller
    * computes + checkpoints the normed corpus ONCE and every round's
    * rank pass reads the checkpoint instead of re-scanning the corpus
    * and re-deriving norms (guide §5 — reuse when recomputing is the
    * expensive side). */
  private[graft] def knnRankTopKNormed(e: DataFrame, idCol: String,
                          vecCol: String,
                          cand: DataFrame, k: Int): DataFrame = {
    val src = e.select(col(idCol).as("src_id"), col(vecCol).as("sv"),
      col("nrm").as("sn"))
    val nbr = e.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      col("nrm").as("nn"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(nbr, "neighbor_id").join(src, "src_id")
      .withColumn("cos", vec_dot(col("sv"), col("nv")) / (col("sn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("src_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** One NN-DESCENT refinement iteration over [[knnGraph]] (Dong et
    * al. 2011 — "a neighbor of a neighbor is likely a neighbor"): the
    * UNDIRECTED base edges generate neighbor-of-neighbor candidates
    * (a—b, b—c ⇒ try (a, c)), which union with the base edges and
    * re-rank per source by exact cosine. Per-source top-k over a
    * SUPERSET of the base candidates, so quality DOMINATES the base
    * graph pointwise (property-tested) — this is the standard way a
    * high-recall graph is built at billion scale without all-pairs.
    *
    * 100 TB shape: edges are n·k rows each direction; the expansion is
    * one self-join keyed on the shared middle vertex b (degree ~2k per
    * b → candidate volume ~n·k², bounded by the graph's own degree,
    * not the corpus square), then the same two id-keyed verify joins
    * and the per-source rank window as the base graph. Iterating to a
    * fixpoint is repeating this operator; one round is the declared
    * shape. */
  def knnGraphRefine(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, tables: Int = 4, bits: Int = 8,
                     dim: Int = 64): DataFrame =
    refineStep(corpus, idCol, vecCol, k,
      knnGraph(corpus, idCol, vecCol, k, tables, bits, dim)
        .select(col("src_id"), col("neighbor_id")))

  /** One NN-Descent round over an arbitrary edge set: undirect, expand
    * neighbor-of-neighbor, union the base edges, re-rank per source by
    * exact cosine (the loop body shared by [[knnGraphRefine]] and
    * [[knnGraphConverged]]). */
  private[graft] def refineStep(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, base: DataFrame): DataFrame = {
    val und = base.union(base.select(col("neighbor_id").as("src_id"),
      col("src_id").as("neighbor_id")))
    val cand = und.select(col("src_id").as("a"), col("neighbor_id").as("b"))
      .join(und.select(col("src_id").as("b"), col("neighbor_id").as("c")), "b")
      .filter(col("a") =!= col("c"))
      .select(col("a").as("src_id"), col("c").as("neighbor_id"))
      .union(base)
      .distinct()
    knnRankTopK(corpus, idCol, vecCol, cand, k)
  }

  /** NN-Descent iterated to CONVERGENCE (round-12 verdict item 4): the
    * refine round repeats until the edge set reaches its fixpoint — no
    * edge changed — with the same convergent-loop discipline as
    * `Dedup.clusters` (driver holds only the per-round delta counter;
    * each round is ONE Spark job that materializes the ranked edges, so
    * round N's plan never replays — or nests — rounds 1..N-1 (one
    * refine body references its base edges five times, so an uncut
    * lineage grows 5^N), and counts the edges the round added; LOUD
    * failure if `maxIters` rounds don't converge, never a silent
    * truncation). Because a fixpoint
    * round is idempotent, the converged output equals ANY fixed
    * unrolling of >= the convergence round — which is exactly what the
    * generated oracle ([[knnGraphConvergedOracleSql]]) replays.
    *
    * 100 TB shape: each round is the [[knnGraphRefine]] body (candidate
    * volume bounded by graph degree ~ n·k², never the corpus square);
    * NN-Descent converges in a handful of rounds on real data (Dong et
    * al. 2011 report 4-6 at billion scale), and the per-round delta
    * count is the natural early-exit signal.
    */
  def knnGraphConverged(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, tables: Int = 4, bits: Int = 8,
                        dim: Int = 64, maxIters: Int = 16,
                        cap: Option[Int] = None): DataFrame =
    knnGraphConvergedWithRound(corpus, idCol, vecCol, k, tables, bits,
      dim, maxIters, cap)._1

  /** [[knnGraphConverged]] plus the CONVERGENCE ROUND (the 1-based
    * refine round whose edge delta was zero). The round is what couples
    * the engine's fixpoint to the generated oracle's fixed unroll
    * depth: the oracle replays the converged edges only when its
    * unroll >= this round (idempotence past the fixpoint), so callers
    * registering the oracle must assert `round <= unroll` LOUDLY —
    * otherwise a data/parameter change that pushes the fixpoint past
    * the unroll would replay a truncated graph and masquerade as an
    * engine bug (round-13 ADVICE). */
  def knnGraphConvergedWithRound(corpus: DataFrame, idCol: String,
                        vecCol: String,
                        k: Int, tables: Int = 4, bits: Int = 8,
                        dim: Int = 64, maxIters: Int = 16,
                        cap: Option[Int] = None): (DataFrame, Int) = {
    def und(e: DataFrame): DataFrame =
      e.union(e.select(col("neighbor_id").as("src_id"),
        col("src_id").as("neighbor_id")))
    // `cap` composes the dense-bucket treatment into the loop — the
    // production shape: the capped base bounds candidate volume
    // (tables·n·cap), the NN-Descent rounds recover the recall the cap
    // gave up (they are degree-bounded already, so no cap is needed
    // inside the loop).
    val base = cap.fold(
      knnGraph(corpus, idCol, vecCol, k, tables, bits, dim))(c =>
      knnGraphCapped(corpus, idCol, vecCol, k, tables, bits, dim, c))
    // r18: NN-Descent rounds run under the loop settings (Fixpoint — AQE
    // off, shuffle parallelism derived from the edge count taken by the
    // job that materializes the base edges; see
    // Graphs.pagerankConvergedWithRound's note for the measured why). The
    // per-round candidate table is O(edges · k), so the derived partition
    // count is sized by edges × k, not the bare edge count.
    val (fx, in) = Fixpoint.over(base.select(col("src_id"), col("neighbor_id")),
      weight = math.max(k, 1))
    // r18 loop hoist: the normed corpus is computed + checkpointed ONCE
    // and every round's exact-cosine rank pass reads it, instead of
    // re-scanning the corpus and re-deriving vec_norm twice per round
    // (src + neighbor side) for every round of the loop.
    val eN = withNorm(corpus, vecCol)
      .select(col(idCol), col(vecCol), col("nrm")).localCheckpoint()
    // the loop state: the ranked edges (src_id, rnk, neighbor_id, cos) —
    // what the loop returns — with a `fresh` flag on each edge the last
    // round added. Round 1 treats every base edge as new — identical to
    // the full NoN expansion (and to the oracle's unrolled round 1).
    val edges0 = in.state.withColumn("fresh", lit(true))
    def refine(s: DataFrame): DataFrame = {
      // Dong et al.'s incremental rule, EXACT here: a candidate pair
      // whose connecting hops are both OLD was already offered in an
      // earlier round and lost to a per-source top-k that has only
      // improved since (the ranked list is monotone under the
      // (cos desc, id) order because the current edges are always in
      // the candidate set), so it can never enter later — only pairs
      // through at least one new edge need expanding. Late rounds cost
      // O(delta · k), not O(n · k²).
      val edges = s.select(col("src_id"), col("neighbor_id"))
      val undAll = und(edges)
      val undNew = und(s.filter(col("fresh")).select(col("src_id"), col("neighbor_id")))
      val non = undNew.select(col("src_id").as("a"), col("neighbor_id").as("b"))
        .join(undAll.select(col("src_id").as("b"), col("neighbor_id").as("c")), "b")
        .union(undAll.select(col("src_id").as("a"), col("neighbor_id").as("b"))
          .join(undNew.select(col("src_id").as("b"), col("neighbor_id").as("c")), "b"))
        .filter(col("a") =!= col("c"))
        .select(col("a").as("src_id"), col("c").as("neighbor_id"))
      val cand = non.union(edges).distinct()
      knnRankTopKNormed(eN, idCol, vecCol, cand, k)
        .join(edges.withColumn("old", lit(true)), Seq("src_id", "neighbor_id"), "left")
        .select(col("src_id"), col("rnk"), col("neighbor_id"), col("cos"),
          col("old").isNull.as("fresh"))
    }
    // r18 probe fusion: the NEW-EDGE set `next \ edges` doubles as the
    // convergence probe — it is empty iff next == edges, because
    // next(src) is a top-k over a candidate set that CONTAINS
    // edges(src), so |next(src)| = min(k, |cand(src)|) >=
    // |edges(src)| per source: next ⊆ edges forces next = edges.
    // The `fresh` flag is one left join inside the round, counted by the
    // job that materializes the round, and materializing it with the
    // state removes its 4x lazy re-run in the next round's plan
    // (und(fresh) twice x the two non branches).
    val res = fx.run(edges0, maxIters)((s, _) => refine(s),
      _ => Seq(count(when(col("fresh"), 1))))((_, b, _) => b.probes.getLong(0) == 0L)
    if (!res.converged) throw new IllegalStateException(
      s"knnGraphConverged: no fixpoint after $maxIters NN-Descent rounds " +
        "— raise maxIters (and the oracle's unroll depth) rather than " +
        "accepting a truncated graph")
    // fixpoint: the returned frame reads the last block's checkpoint
    (fx.back(res.state.drop("fresh")), res.rounds)
  }

  /** Shared CTE chain of the k-NN graph oracles: quantized vectors,
    * md5-derived plane literals, per-table buckets, and the bucket
    * self-join candidate set (`cand(src_id, neighbor_id)`). With `cap`
    * set, the neighbor side is restricted to each bucket's `cap`
    * smallest-md5 representatives — [[knnGraphCapped]]'s selection. */
  private def knnCtesSql(tables: Int, bits: Int, dim: Int,
                         cap: Option[Int] = None): String = {
    val planes = lshPlanes(tables, bits, dim)
    val rows = (0 until tables).flatMap { t =>
      (0 until bits).map { j =>
        s"(${t}, ${j}, [${planes(t * bits + j).mkString(",")}]::BIGINT[])"
      }
    }.mkString(",\n")
    val nbrSide = cap.fold("bk c")(c =>
      s"""(SELECT vec_id, tbl, bkt FROM (
         |    SELECT vec_id, tbl, bkt, row_number() OVER (PARTITION BY tbl, bkt
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM bk)
         |   WHERE rn <= ${c}) c""".stripMargin)
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |    sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |planes(tbl, j, pl) AS (VALUES ${rows}),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN list_aggregate(list_transform(list_zip(q, pl), x -> x[1] * x[2]), 'sum') > 0
       |             THEN 1::BIGINT << j ELSE 0 END) AS bkt
       |  FROM e CROSS JOIN planes GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT s.vec_id AS src_id, c.vec_id AS neighbor_id
       |  FROM bk s JOIN ${nbrSide} ON c.tbl = s.tbl AND c.bkt = s.bkt
       |                     AND c.vec_id != s.vec_id)""".stripMargin
  }

  /** The DuckDB replay of [[knnGraphCapped]] — the base-graph oracle
    * with the capped neighbor side spliced into the candidate CTE. */
  def knnGraphCappedOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                              dim: Int = 64, cap: Int = 8): String =
    s"""WITH ${knnCtesSql(tables, bits, dim, Some(cap))}
       |${knnRankSql(k, "cand")}""".stripMargin

  /** The DuckDB replay of the SEMANTIC-CLUSTER composition over the
    * capped k-NN graph (`sim_knn_clusters`): the capped graph's CTEs +
    * rank, edges thresholded on the ROUND4 cosine (both engines filter
    * the identically-rounded value), then the same recursive
    * min-reachable-id closure as the dedup_clusters oracle over every
    * embedding row. */
  def knnClustersOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                           dim: Int = 64, cap: Int = 8,
                           tau: Double): String =
    s"""WITH RECURSIVE ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |pr AS (SELECT src_id, neighbor_id FROM g WHERE cos >= $tau),
       |eg AS (SELECT src_id AS src, neighbor_id AS dst FROM pr
       |       UNION SELECT neighbor_id, src_id FROM pr),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT eg.dst AS id, reach.r FROM reach JOIN eg ON eg.src = reach.id),
       |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT comp.id AS vec_id, cluster_id, cluster_size
       |FROM comp JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin

  /** The DuckDB replay of PageRank over the capped k-NN graph
    * ([[graft.api.Graphs.pagerank]] fed by [[knnGraphCapped]] edges):
    * the capped graph's CTEs + rank give the edge set, then `iters`
    * UNROLLED rank rounds in the SAME fixed-point integer arithmetic
    * as the engine — every division a floor division, every sum an
    * integer sum, so the replay is bit-exact with no float-order
    * dependence. sum(BIGINT) is HUGEINT in DuckDB, hence the final
    * CAST back to BIGINT (values stay <= 85 * scale). */
  def knnPagerankOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                           dim: Int = 64, cap: Int = 8, iters: Int = 8,
                           scale: Long = 1000000000000L,
                           rankCol: String = "rank_ppt",
                           seedBottom: Boolean = false,
                           forwardOnly: Boolean = false,
                           dangling: Boolean = false): String = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // scale = 0: derive the scale from n IN SQL by the same rule as
    // Graphs.autoScale — smallest power of ten >= 100*count(*) — so
    // the engine and the replay stay coupled by construction at any
    // input size (VERDICT r16 item 3)
    val scCte =
      if (scale != 0L) ""
      else {
        val powers = (1 to 18).scanLeft(1L)((a, _) => a * 10).tail
          .map(p => s"($p)").mkString(", ")
        s"""sc AS (SELECT min(p.s) AS s FROM (VALUES $powers) p(s)
           |       WHERE p.s >= 100 * (SELECT count(*) FROM nodes)),
           |""".stripMargin
      }
    val scaleExpr = if (scale == 0L) "(SELECT s FROM sc)" else scale.toString
    // dangling redistribution (round 16): each round adds the damped
    // uniform share of the rank mass sitting on out-degree-0 nodes —
    // (85 * D) // (100 * n), the same single floor per node as the
    // engine's broadcast term
    def dterm(i: Int): String =
      if (!dangling) ""
      else s"""
         |           + (SELECT (85 * coalesce(sum(p.r), 0))
         |                     // (100 * (SELECT nn FROM base))
         |              FROM r${i - 1} p
         |              WHERE p.id NOT IN (SELECT src FROM od))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.id, (SELECT b FROM base)
         |           + (85 * coalesce(s.s, 0)) // 100${dterm(i)} AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT eg.dst AS id, sum(p.r // eg.outd) AS s
         |    FROM eg JOIN r${i - 1} p ON p.id = eg.src
         |    GROUP BY eg.dst) s ON s.id = n.id)""".stripMargin
    }.mkString(",\n")
    val fwd = if (forwardOnly) " WHERE src_id < neighbor_id" else ""
    s"""WITH ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |eg0 AS (SELECT src_id AS src, neighbor_id AS dst FROM g$fwd),
       |od AS (SELECT src, count(*) AS outd FROM eg0 GROUP BY src),
       |eg AS (SELECT eg0.src, eg0.dst, od.outd FROM eg0 JOIN od USING (src)),
       |nodes AS (SELECT vec_id AS id FROM embeddings),
       |${scCte}base AS (SELECT (15 * ($scaleExpr // count(*))) // 100 AS b,
       |                $scaleExpr // count(*) AS rinit,
       |                count(*) AS nn FROM nodes),
       |r0 AS (SELECT id, (SELECT ${if (seedBottom) "b" else "rinit"}
       |                   FROM base) AS r FROM nodes),
       |$rounds
       |SELECT id AS vec_id, CAST(r AS BIGINT) AS $rankCol
       |FROM r$iters ORDER BY vec_id""".stripMargin
  }

  /** The DuckDB replay of the K-CORE over the capped k-NN graph
    * ([[graft.api.Graphs.kcoreWithRound]] fed by [[knnGraphCapped]]
    * edges): the capped graph's CTEs + rank give the directed edge
    * set, symmetrized and de-self-looped into the undirected `eg`;
    * then `rounds` UNROLLED synchronous peel rounds — alive_i = the
    * alive_{i-1} nodes whose induced degree stays >= `k` — and the
    * final ONION projection: the node removed between a_{i-1} and a_i
    * carries layer i, the a_`rounds` survivors layer 0. Peeling is
    * confluent (the k-core is removal-order-independent), so the
    * engine's frontier-delta peel and this full-recompute replay
    * reach the identical fixpoint and layer assignment; the engine
    * asserts its certified round stays inside `rounds` at build time,
    * and rounds past the fixpoint are idempotent (their removed sets
    * are empty). */
  def knnKcoreOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                        dim: Int = 64, cap: Int = 8, coreK: Int = 4,
                        rounds: Int = 24): String = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val peels = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT eg.src AS id FROM eg
         |  JOIN a${i - 1} s ON s.id = eg.src
         |  JOIN a${i - 1} t ON t.id = eg.dst
         |  GROUP BY eg.src HAVING count(*) >= $coreK)""".stripMargin
    }.mkString(",\n")
    val layers = (1 to rounds).map { i =>
      s"""  SELECT s.id, $i AS layer FROM a${i - 1} s
         |  LEFT JOIN a$i t ON t.id = s.id WHERE t.id IS NULL""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |eg AS (SELECT DISTINCT src, dst FROM (
       |         SELECT src_id AS src, neighbor_id AS dst FROM g
       |         UNION SELECT neighbor_id, src_id FROM g)
       |       WHERE src <> dst),
       |a0 AS (SELECT DISTINCT src AS id FROM eg),
       |$peels,
       |onion AS (
       |$layers
       |  UNION ALL
       |  SELECT id, 0 AS layer FROM a$rounds)
       |SELECT id AS vec_id, CAST(layer AS INTEGER) AS layer
       |FROM onion ORDER BY vec_id""".stripMargin
  }

  /** The DuckDB replay of multi-source shortest paths over the capped
    * k-NN graph ([[graft.api.Graphs.ssspWithRound]] fed by
    * [[knnGraphCapped]] edges, seeds = vec_id % `seedMod` = 0): the
    * capped graph's CTEs + rank give the DIRECTED edge set, then a
    * recursive (id, dist) closure bounded at `maxDepth` hops with
    * min(dist) per node — BFS levels, exact integers, no float past
    * the ranked edge set. The engine asserts its certified round stays
    * <= `maxDepth` at build time, so the bound never truncates a
    * genuine distance; unreached nodes appear in neither output. */
  def knnSsspOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                       dim: Int = 64, cap: Int = 8, seedMod: Long = 97L,
                       maxDepth: Int = 32): String =
    s"""WITH RECURSIVE ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |sse AS (SELECT src_id AS src, neighbor_id AS dst FROM g),
       |r AS (
       |  SELECT vec_id AS id, 0 AS dist FROM embeddings
       |  WHERE vec_id % $seedMod = 0
       |  UNION
       |  SELECT sse.dst, r.dist + 1 FROM r JOIN sse ON sse.src = r.id
       |  WHERE r.dist < $maxDepth)
       |SELECT id AS vec_id, CAST(min(dist) AS INTEGER) AS dist
       |FROM r GROUP BY id ORDER BY vec_id""".stripMargin

  /** The DuckDB replay of WEIGHTED multi-source shortest paths over
    * the capped k-NN graph ([[graft.api.Graphs.ssspWeightedWithRound]]
    * with weights derived arithmetically from the edge ids — both
    * engines compute w = (src + dst) % 2 + 1 on the same edge set):
    * a hop-bounded recursive (id, dist, hops) closure with min(dist)
    * per node. The triple space is bounded — dist <= 2·maxHops,
    * hops <= maxHops — and UNION dedups revisits, so path
    * proliferation cannot blow the recursion up. The engine asserts
    * its certified round <= `maxHops` at build time (the emptying
    * round is max shortest-path hops + 1, so the bound never
    * truncates a genuine distance). */
  def knnSsspWeightedOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                               dim: Int = 64, cap: Int = 8,
                               seedMod: Long = 97L,
                               maxHops: Int = 32): String =
    s"""WITH RECURSIVE ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |sse AS (SELECT src_id AS src, neighbor_id AS dst,
       |               CAST((src_id + neighbor_id) % 2 + 1 AS INTEGER) AS w
       |        FROM g),
       |r AS (
       |  SELECT vec_id AS id, 0 AS dist, 0 AS hops FROM embeddings
       |  WHERE vec_id % $seedMod = 0
       |  UNION
       |  SELECT sse.dst, r.dist + sse.w, r.hops + 1
       |  FROM r JOIN sse ON sse.src = r.id
       |  WHERE r.hops < $maxHops)
       |SELECT id AS vec_id, CAST(min(dist) AS INTEGER) AS dist
       |FROM r GROUP BY id ORDER BY vec_id""".stripMargin

  /** The DuckDB replay of triangle counting over the capped k-NN graph
    * ([[graft.api.Graphs.triangleCounts]] fed by [[knnGraphCapped]]
    * edges): the capped graph's CTEs + rank give the edge set, then
    * the SAME canonical-ordering triple join — undirect + dedupe,
    * wedge join on the shared vertex, closing-edge EXISTS, corner
    * explode. Exact integer counts, no float anywhere past the ranked
    * edge set, so the replay is bit-equal at any parallelism. */
  def knnTrianglesOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                            dim: Int = 64, cap: Int = 8): String =
    s"""WITH ${knnCtesSql(tables, bits, dim, Some(cap))},
       |g AS (
       |${knnRankSql(k, "cand")}),
       |und AS (SELECT DISTINCT least(src_id, neighbor_id) AS a,
       |               greatest(src_id, neighbor_id) AS b
       |        FROM g WHERE src_id <> neighbor_id),
       |w AS (SELECT e1.a, e1.b, e2.b AS c
       |      FROM und e1 JOIN und e2 ON e2.a = e1.b),
       |t AS (SELECT w.a, w.b, w.c FROM w
       |      WHERE EXISTS (SELECT 1 FROM und u
       |                    WHERE u.a = w.a AND u.b = w.c)),
       |corners AS (SELECT a AS id FROM t UNION ALL SELECT b FROM t
       |            UNION ALL SELECT c FROM t),
       |cnt AS (SELECT id, count(*) AS n FROM corners GROUP BY id)
       |SELECT emb.vec_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles
       |FROM embeddings emb LEFT JOIN cnt ON cnt.id = emb.vec_id
       |ORDER BY emb.vec_id""".stripMargin

  /** The DuckDB replay of [[knnGraphConverged]]: `rounds` NN-Descent
    * rounds UNROLLED into chained CTEs (b0 = the base graph's edges,
    * then undirect → expand → re-rank per round). Valid whenever the
    * Spark side's fixpoint lands at or before `rounds` — a fixpoint
    * round is idempotent, so deeper unrolls replay the same edge set
    * (the same argument [[pqTrainedOracleSql]] makes for its fixed
    * Lloyd unroll). */
  def knnGraphConvergedOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                                 dim: Int = 64, rounds: Int = 3,
                                 cap: Option[Int] = None): String = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // Every round CTE is MATERIALIZED: each references its predecessor
    // three times, so default inlining copies the base scan 3^rounds
    // times — at 8 rounds that exhausts file handles before it
    // exhausts patience. Materialization evaluates each round once
    // (exactly like the Spark side's localCheckpoint).
    def rankEdges(name: String, from: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT src_id, neighbor_id FROM (
         |    SELECT cd.src_id, cd.neighbor_id,
         |      CAST(row_number() OVER (PARTITION BY cd.src_id ORDER BY
         |        list_aggregate(list_transform(list_zip(s.v, c.v), x -> x[1] * x[2]), 'sum')
         |          / (s.nrm * c.nrm) DESC, cd.neighbor_id) AS INTEGER) AS rnk
         |    FROM $from cd JOIN e s ON s.vec_id = cd.src_id
         |                 JOIN e c ON c.vec_id = cd.neighbor_id
         |  ) WHERE rnk <= ${k})""".stripMargin
    def expand(i: Int): String =
      s"""u$i AS MATERIALIZED (SELECT src_id, neighbor_id FROM b${i - 1}
         |        UNION SELECT neighbor_id, src_id FROM b${i - 1}),
         |c$i AS MATERIALIZED (
         |  SELECT DISTINCT u1.src_id, u2.neighbor_id
         |  FROM u$i u1 JOIN u$i u2 ON u1.neighbor_id = u2.src_id
         |                         AND u1.src_id != u2.neighbor_id
         |  UNION SELECT src_id, neighbor_id FROM b${i - 1})""".stripMargin
    val chain = (rankEdges("b0", "cand") +:
      (1 until rounds).flatMap(i => Seq(expand(i), rankEdges(s"b$i", s"c$i")))
      :+ expand(rounds)).mkString(",\n")
    s"""WITH ${knnCtesSql(tables, bits, dim, cap)},
       |$chain
       |${knnRankSql(k, s"c$rounds")}""".stripMargin
  }

  /** Rank-and-emit tail shared by the k-NN graph oracles: exact cosine
    * over `fromCand(src_id, neighbor_id)`, per-source rank, top-k. */
  private def knnRankSql(k: Int, fromCand: String): String =
    s"""SELECT src_id, rnk, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cos FROM (
       |  SELECT cd.src_id, cd.neighbor_id,
       |    list_aggregate(list_transform(list_zip(s.v, c.v), x -> x[1] * x[2]), 'sum')
       |      / (s.nrm * c.nrm) AS cos,
       |    CAST(row_number() OVER (PARTITION BY cd.src_id ORDER BY
       |      list_aggregate(list_transform(list_zip(s.v, c.v), x -> x[1] * x[2]), 'sum')
       |        / (s.nrm * c.nrm) DESC, cd.neighbor_id) AS INTEGER) AS rnk
       |  FROM ${fromCand} cd JOIN e s ON s.vec_id = cd.src_id
       |               JOIN e c ON c.vec_id = cd.neighbor_id
       |) WHERE rnk <= ${k} ORDER BY src_id, rnk""".stripMargin

  /** The DuckDB replay of [[knnGraph]] — the same md5-derived plane
    * literals, the bucket SELF-join, and the per-source rank. */
  def knnGraphOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                        dim: Int = 64): String =
    s"""WITH ${knnCtesSql(tables, bits, dim)}
       |${knnRankSql(k, "cand")}""".stripMargin

  /** The DuckDB replay of [[knnGraphRefine]]: the base graph's CTEs +
    * rank, the undirected neighbor-of-neighbor expansion, one re-rank. */
  def knnGraphRefineOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                              dim: Int = 64): String =
    s"""WITH ${knnCtesSql(tables, bits, dim)},
       |base AS (
       |  SELECT src_id, neighbor_id FROM (
       |    SELECT cd.src_id, cd.neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY cd.src_id ORDER BY
       |        list_aggregate(list_transform(list_zip(s.v, c.v), x -> x[1] * x[2]), 'sum')
       |          / (s.nrm * c.nrm) DESC, cd.neighbor_id) AS INTEGER) AS rnk
       |    FROM cand cd JOIN e s ON s.vec_id = cd.src_id
       |                 JOIN e c ON c.vec_id = cd.neighbor_id
       |  ) WHERE rnk <= ${k}),
       |und AS (SELECT src_id, neighbor_id FROM base
       |        UNION SELECT neighbor_id, src_id FROM base),
       |cand2 AS (
       |  SELECT DISTINCT u1.src_id, u2.neighbor_id
       |  FROM und u1 JOIN und u2 ON u1.neighbor_id = u2.src_id
       |                         AND u1.src_id != u2.neighbor_id
       |  UNION SELECT src_id, neighbor_id FROM base)
       |${knnRankSql(k, "cand2")}""".stripMargin

  /** The DuckDB replay of [[lshTopK]], spliced with the same md5-derived
    * plane literals (see [[lshPlanes]] — integer dots make bucket
    * assignment engine-independent; the cosine verify reuses the
    * list_zip/list_aggregate formulation proven bit-parity with
    * `vec_dot`).
    */
  def lshTopKOracleSql(k: Int, tables: Int = 4, bits: Int = 8,
                       dim: Int = 64, probeIdBound: Long = 10): String = {
    val planes = lshPlanes(tables, bits, dim)
    val rows = (0 until tables).flatMap { t =>
      (0 until bits).map { j =>
        s"(${t}, ${j}, [${planes(t * bits + j).mkString(",")}]::BIGINT[])"
      }
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |    sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |planes(tbl, j, pl) AS (VALUES ${rows}),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN list_aggregate(list_transform(list_zip(q, pl), x -> x[1] * x[2]), 'sum') > 0
       |             THEN 1::BIGINT << j ELSE 0 END) AS bkt
       |  FROM e CROSS JOIN planes GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
       |  FROM (SELECT * FROM bk WHERE vec_id < ${probeIdBound}) p
       |  JOIN bk c ON c.tbl = p.tbl AND c.bkt = p.bkt AND c.vec_id != p.vec_id)
       |SELECT probe_id, rnk, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cos FROM (
       |  SELECT cd.probe_id, cd.neighbor_id,
       |    list_aggregate(list_transform(list_zip(p.v, c.v), x -> x[1] * x[2]), 'sum')
       |      / (p.nrm * c.nrm) AS cos,
       |    CAST(row_number() OVER (PARTITION BY cd.probe_id ORDER BY
       |      list_aggregate(list_transform(list_zip(p.v, c.v), x -> x[1] * x[2]), 'sum')
       |        / (p.nrm * c.nrm) DESC, cd.neighbor_id) AS INTEGER) AS rnk
       |  FROM cand cd JOIN e p ON p.vec_id = cd.probe_id
       |               JOIN e c ON c.vec_id = cd.neighbor_id
       |) WHERE rnk <= ${k} ORDER BY probe_id, rnk""".stripMargin
  }

  /** Brute-force cosine top-`k` neighbors for each probe. Probes are
    * broadcast; the corpus is scanned once map-side, then a tiny
    * (probe, k) shuffle ranks. This IS the 100 TB baseline shape.
    */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val e = withNorm(corpus, vecCol)
    val p = withNorm(probes, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"), col("nrm").as("pn"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col(idCol))
    e.join(broadcast(p), col(idCol) =!= col("probe_id"))
      .withColumn("cos", vec_dot(col("pv"), col(vecCol)) / (col("pn") * col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** IVF-style partition-pruned ANN: `partCol` is the coarse centroid id
    * (any clustering/partitioning column); each probe searches only its
    * `nProbe` nearest partitions. The centroid table is tiny and
    * broadcast; the corpus is partition-pruned — the scale path for
    * billion-vector search.
    */
  def annTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, partCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val e = withNorm(corpus, vecCol)
    // Centroid components are exact-DECIMAL sums divided by the count:
    // order-independent (a double `avg` varies with partial-agg merge
    // order), so the centroid — and therefore the probe→partition routing
    // and the final result — is bit-deterministic and oracle-checkable.
    val cent = corpus
      .select(col(partCol), posexplode(expr(s"transform($vecCol, x -> cast(x as double))"))
        .as(Seq("pos", "x")))
      .groupBy(partCol, "pos")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 15)))
        .cast("double") / count(lit(1))).as("cx"))
      .groupBy(partCol)
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), p -> p.cx)").as("cv"))
      .withColumn("cnrm", vec_norm(col("cv")))
    val p = withNorm(probes, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"), col("nrm").as("pn"))
    val wl = Window.partitionBy(col("probe_id")).orderBy(col("lcos").desc, col(partCol))
    val topParts = p.crossJoin(broadcast(cent))
      .withColumn("lcos", vec_dot(col("pv"), col("cv")) / (col("pn") * col("cnrm")))
      .withColumn("lrnk", row_number().over(wl))
      .filter(col("lrnk") <= nProbe)
      .select(col("probe_id"), col("pv"), col("pn"), col(partCol).as("ppart"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col(idCol))
    e.join(broadcast(topParts), col(partCol) === col("ppart") && col(idCol) =!= col("probe_id"))
      .withColumn("cos", vec_dot(col("pv"), col(vecCol)) / (col("pn") * col("nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Product-quantization codebooks: `m` subspaces x `k` centroids x
    * `subDim` integer components in [-1000, 1000], derived from
    * md5("pq_{sub}_{cent}_{dim}") exactly like [[lshPlanes]] — the
    * DuckDB oracle regenerates the SAME codebook from the same formula.
    * Deterministic stand-ins for k-means-trained centroids: the
    * training pass is engine-dependent float iteration (the round-6
    * scope note's oracle objection, which still stands), but the
    * SERVING side — encode, asymmetric-distance tables, top-k — is
    * exact integer arithmetic once the codebook is fixed, so a user
    * plugs real trained codebooks into the same operator unchanged.
    * Flattened [ (sub*k + cent)*subDim + d ].
    */
  def pqCodebooks(m: Int, k: Int, subDim: Int): IndexedSeq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for {
      s <- 0 until m; c <- 0 until k; d <- 0 until subDim
    } yield {
      val hex = md.digest(s"pq_${s}_${c}_${d}".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  /** Product-quantization top-`k` nearest neighbors (IVFADC's ADC half,
    * Jegou et al. 2011): corpus vectors ENCODE to `m` centroid indices
    * (8 longs replacing 64 floats — the compression that makes 100 TB
    * of embeddings scannable), probes precompute their `m*kCent`
    * asymmetric-distance table, and a row scores as the sum of `m`
    * table lookups — no per-pair vector math at scan time.
    *
    * 100 TB shape: encode is map-only fused codegen over the corpus
    * scan (codes would be precomputed and STORED in a real deployment —
    * this operator shows the full pipeline); the probe ADC tables
    * broadcast; scoring + per-probe top-k is one scan with a
    * (probe, k)-bounded shuffle, exactly [[cosineTopK]]'s baseline
    * shape but touching 8 longs per row instead of the vector. All
    * arithmetic is exact 64-bit integers (quantize -> squared L2), so
    * scores and ranks are engine-independent; ties break by
    * neighbor id.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, kCent: Int = 16,
             subDim: Int = 8): DataFrame =
    pqTopKWith(pqCodebooks(m, kCent, subDim), corpus, probes, idCol,
      vecCol, k, m, kCent, subDim)

  /** [[pqTopK]] against a caller-supplied codebook — the serving half
    * shared by the md5 stand-in route and the trained route
    * ([[pqTrainCodebooks]]). */
  def pqTopKWith(cb: IndexedSeq[Long], corpus: DataFrame, probes: DataFrame,
                 idCol: String, vecCol: String, k: Int, m: Int = 8,
                 kCent: Int = 16, subDim: Int = 8): DataFrame = {
    val enc = corpus.select(col(idCol),
      graft.functions.Signatures.pq_code_sig(col(vecCol), cb, m, kCent, subDim).as("codes"))
    val p = probes.select(col(idCol).as("probe_id"),
      graft.functions.Signatures.pq_adc_sig(col(vecCol), cb, m, kCent, subDim).as("adc"))
    // score = sum over subs of adc[sub*kCent + codes[sub]] — m native
    // element_at lookups, codegen'd, no lambda dispatch
    val score = (0 until m).map(s =>
      element_at(col("adc"), element_at(col("codes"), s + 1).cast("int") + lit(s * kCent) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score"), col(idCol))
    enc.join(broadcast(p), col(idCol) =!= col("probe_id"))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col(idCol).as("neighbor_id"), col("score"))
  }

  /** The DuckDB replay of [[pqTopK]], spliced with the same md5-derived
    * codebook literals — integer encode/ADC arithmetic is exact on both
    * engines, so scores and ranks hash-match.
    */
  def pqTopKOracleSql(k: Int, m: Int = 8, kCent: Int = 16, subDim: Int = 8,
                      probeIdBound: Long = 10): String = {
    val cb = pqCodebooks(m, kCent, subDim)
    val rows = (for (s <- 0 until m; c <- 0 until kCent) yield {
      val base = (s * kCent + c) * subDim
      s"(${s}, ${c}, [${(0 until subDim).map(d => cb(base + d)).mkString(",")}]::BIGINT[])"
    }).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |cb(sub, cent, cv) AS (VALUES ${rows}),
       |${pqServeSqlTail(k, subDim, probeIdBound)}""".stripMargin
  }

  /** The ADC serving stages of the PQ oracle (encode -> score -> top-k),
    * shared between the VALUES-codebook and trained-codebook forms.
    * Assumes CTEs `e(vec_id, q)` and `cb(sub, cent, cv)` are in scope.
    */
  private def pqServeSqlTail(k: Int, subDim: Int, probeIdBound: Long): String =
    s"""dist AS (
       |  SELECT e.vec_id, cb.sub, cb.cent,
       |    list_aggregate(list_transform(list_zip(e.q[cb.sub * ${subDim} + 1 : (cb.sub + 1) * ${subDim}], cb.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM e CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, sub, cent AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                 ORDER BY d2, cent) AS rn FROM dist)
       |  WHERE rn = 1),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    CAST(sum(pd.d2) AS BIGINT) AS score
       |  FROM codes c
       |  JOIN e p ON p.vec_id < ${probeIdBound} AND p.vec_id != c.vec_id
       |  JOIN dist pd ON pd.vec_id = p.vec_id AND pd.sub = c.sub AND pd.cent = c.code
       |  GROUP BY 1, 2)
       |SELECT probe_id, rnk, neighbor_id, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |              ORDER BY score, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${k} ORDER BY probe_id, rnk""".stripMargin

  /** Round-half-up offset used to make the centroid-mean division
    * portable: DuckDB's `//` TRUNCATES toward zero while the trainer
    * uses floor division, so the oracle shifts the numerator positive
    * (where trunc == floor) by `MeanOffset * count` and shifts back.
    * Valid while |coordinate| < MeanOffset — quantized embeddings are
    * floor(x*1000+0.5) of unit-scale floats, so |q| stays ~1e3. */
  private val MeanOffset = 1048576L

  /** Deterministic integer k-means PQ codebook training — replaces the
    * md5 stand-in codebooks with centroids actually fit to the corpus,
    * while staying exactly replayable in any engine (the round-6
    * objection to float k-means):
    *
    *  - operates on the QUANTIZED vectors (the serving pipeline's
    *    floor(x*1000+0.5) longs), so every distance is exact 64-bit;
    *  - seeded deterministic init: the `kCent` corpus rows with the
    *    smallest md5(id) (hex-string order, id tiebreak) donate their
    *    subvectors — an order both engines reproduce bit-for-bit;
    *  - FIXED iteration count (no data-dependent convergence test);
    *    each Lloyd round assigns by exact squared L2 (ties to the
    *    lowest centroid index — the [[graft.functions.Signatures
    *    .pq_code_sig]] scan order) and recomputes centroids as the
    *    round-half-up integer mean (Math.floorDiv(2*sum+n, 2*n));
    *    empty clusters keep their previous centroid.
    *
    * Scale shape: one aggregate pass per round (map-side partial sums
    * of m*kCent*subDim cells), centroids broadcast back; the init is a
    * takeOrdered(kCent) — never a global sort. The per-round driver
    * step handles m*kCent rows, like the convergence aggregates of
    * dedup_clusters. A 100 TB deployment would train on a sample
    * partition and broadcast the result; the full-corpus pass here is
    * what the cross-engine oracle replays.
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, kCent: Int = 16, subDim: Int = 8,
                       iters: Int = 3): IndexedSeq[Long] = {
    val qCol = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))
    val base = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      qCol.as("__q"))
    val seed = base
      .withColumn("__r", md5(col("__id").cast("string")))
      .orderBy(col("__r"), col("__id")).limit(kCent)
      .select("__q").collect().map(_.getSeq[Long](0).toArray)
    require(seed.length == kCent,
      s"corpus has ${seed.length} rows < kCent=$kCent — nothing to train on")
    var cb = new Array[Long](m * kCent * subDim)
    for (c <- 0 until kCent; s <- 0 until m; d <- 0 until subDim)
      cb((s * kCent + c) * subDim + d) = seed(c)(s * subDim + d)
    val sums = (0 until subDim).map(d =>
      sum(element_at(col("__sv"), d + 1)).as(s"d$d"))
    for (_ <- 0 until iters) {
      val stats = base
        .select(col("__q"), posexplode(graft.functions.Signatures
          .pq_code_sig(col("__v"), cb.toIndexedSeq, m, kCent, subDim))
          .as(Seq("__s", "__c")))
        .withColumn("__sv",
          slice(col("__q"), (col("__s") * subDim + 1).cast("int"), lit(subDim)))
        .groupBy("__s", "__c")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = cb.clone()
      stats.foreach { r =>
        val s = r.getInt(0)
        val c = r.getLong(1).toInt
        val n = r.getLong(2)
        var d = 0
        while (d < subDim) {
          next((s * kCent + c) * subDim + d) =
            Math.floorDiv(2L * r.getLong(3 + d) + n, 2L * n)
          d += 1
        }
      }
      cb = next
    }
    cb.toIndexedSeq
  }

  /** The DuckDB replay of [[pqTrainCodebooks]] + [[pqTopKWith]] as ONE
    * query: the fixed-count Lloyd rounds UNROLL into chained CTEs (no
    * recursion needed — `iters` is a constant), each reproducing the
    * trainer's assignment (argmin by exact d2, ties to the lowest
    * centroid) and integer-mean update (see [[MeanOffset]] for the
    * floor-vs-trunc division portability), with empty clusters keeping
    * the previous centroid via the COALESCE left join. The final CTE
    * is named `cb`, feeding the same serving tail as [[pqTopKOracleSql]]
    * — so init, every training round, the encode, and the ADC top-k
    * are all pinned cross-engine from the same constants.
    */
  def pqTrainedOracleSql(k: Int, m: Int = 8, kCent: Int = 16, subDim: Int = 8,
                         iters: Int = 3, probeIdBound: Long = 10): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |${kmeansCtesSql(m, kCent, subDim, iters)},
       |${pqServeSqlTail(k, subDim, probeIdBound)}""".stripMargin

  /** The training CTE chain of [[pqTrainedOracleSql]] (init through the
    * final codebook CTE `${p}cb`), shared by the PQ, IVF-assignment and
    * IVFADC oracles. `src` names the in-scope CTE holding
    * (vec_id, q) — the quantized training vectors; `p` prefixes every
    * generated CTE name so two chains can coexist in one query.
    */
  private def kmeansCtesSql(m: Int, kCent: Int, subDim: Int, iters: Int,
                            src: String = "e", p: String = ""): String = {
    val K = MeanOffset
    val meanExprs = (1 to subDim).map(d =>
      s"CAST((2 * (sum(sv[$d]) + $K * count(*)) + count(*)) // (2 * count(*)) - $K AS BIGINT)")
      .mkString(", ")
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) s"${p}cb0" else s"${p}cb${i - 1}"
      s"""${p}d$i AS (
         |  SELECT e.vec_id, p.sub, p.cent,
         |    list_aggregate(list_transform(list_zip(e.q[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
         |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
         |  FROM $src e CROSS JOIN $prev p),
         |${p}a$i AS (
         |  SELECT vec_id, sub, cent AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |                                 ORDER BY d2, cent) AS rn FROM ${p}d$i)
         |  WHERE rn = 1),
         |${p}m$i AS (
         |  SELECT t.sub, t.code AS cent, list_value(${meanExprs}) AS cv
         |  FROM (SELECT a.sub, a.code,
         |          e.q[a.sub * ${subDim} + 1 : (a.sub + 1) * ${subDim}] AS sv
         |        FROM ${p}a$i a JOIN $src e USING (vec_id)) t
         |  GROUP BY t.sub, t.code),
         |${p}cb$i AS (
         |  SELECT p.sub, p.cent, COALESCE(mm.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${p}m$i mm ON mm.sub = p.sub AND mm.cent = p.cent)""".stripMargin
    }.mkString(",\n")
    s"""${p}init AS (
       |  SELECT q, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
       |  FROM $src),
       |${p}cb0 AS (
       |  SELECT s.s AS sub, i.c AS cent,
       |    i.q[s.s * ${subDim} + 1 : (s.s + 1) * ${subDim}] AS cv
       |  FROM ${p}init i CROSS JOIN (SELECT unnest(range(${m})) AS s) s
       |  WHERE i.c < ${kCent}),
       |$rounds,
       |${p}cb AS (SELECT sub, cent, cv FROM ${p}cb${iters})""".stripMargin
  }

  /** The DuckDB replay of the TRAINED IVF route: the integer k-means
    * (m = 1 subspace over the whole vector) assigns each corpus vector
    * a coarse cluster, and [[annTopK]]'s partition-pruned search runs
    * over that assignment — same DECIMAL-exact within-cluster
    * centroids, same nProbe routing, same cosine top-k as the
    * label-partitioned oracle, with `label` replaced by the trained
    * `part`. Closes the "partitioning column is a given, not trained"
    * caveat on the IVF family with full cross-engine pinning.
    */
  /** Full IVFADC (Jegou et al. 2011, the billion-vector serving shape):
    * a trained coarse quantizer partitions the corpus, PQ codebooks are
    * trained on the RESIDUALS (vector minus its coarse centroid — the
    * refinement that makes 8-byte codes accurate), and a probe searches
    * only its `nProbe` nearest coarse cells with one asymmetric-distance
    * table per probed cell. All training and serving arithmetic is
    * exact 64-bit integer (both k-means passes are
    * [[pqTrainCodebooks]]; residuals are integer differences; scores
    * are sums of integer squared L2), so the whole pipeline — two
    * trainings, assignment, residual encode, routing, ADC top-k —
    * replays bit-for-bit in the generated oracle
    * ([[ivfAdcOracleSql]]).
    *
    * The residual float view (`(q - centroid) / 1000.0`) exists only to
    * reuse the fused quantize-first PQ expressions: their internal
    * `floor(x * 1000 + 0.5)` recovers the INTEGER residual exactly
    * (|ulp error of r/1000*1000| << 0.5), which the oracle exploits by
    * working on the integer residuals directly.
    *
    * 100 TB shape: both trainings are fixed-round aggregate passes
    * (sampled in a real deployment); encode is map-only; the probe side
    * (nProbe ADC tables per probe) broadcasts; candidates are
    * partition-pruned to the probed cells — the scan touches
    * |corpus| * nProbe / kCoarse rows of 8 longs each.
    */
  def ivfAdcTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int, kCoarse: Int = 8, nProbe: Int = 2,
                 m: Int = 8, kCent: Int = 16, subDim: Int = 8,
                 coarseIters: Int = 2, pqIters: Int = 2): DataFrame = {
    import graft.functions.Signatures.{pq_code_sig, pq_adc_sig}
    val dim = m * subDim
    val coarseCb = pqTrainCodebooks(corpus, idCol, vecCol, 1, kCoarse, dim, coarseIters)
    // centroid lookup literal: array[part] -> 64-long centroid vector
    val centLit = array((0 until kCoarse).map(c =>
      array((0 until dim).map(d => lit(coarseCb(c * dim + d))): _*)): _*)
    val qCol = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))
    def withResidual(df: DataFrame): DataFrame = df
      .withColumn("__part",
        element_at(pq_code_sig(col(vecCol), coarseCb, 1, kCoarse, dim), 1))
      .withColumn("__cv", element_at(centLit, col("__part").cast("int") + 1))
      .withColumn("__rvf", zip_with(qCol, col("__cv"),
        (a, b) => (a - b).cast("double") / lit(1000.0)))
    val corpusR = withResidual(corpus)
    val pqCb = pqTrainCodebooks(
      corpusR.select(col(idCol), col("__rvf")), idCol, "__rvf",
      m, kCent, subDim, pqIters)
    val enc = corpusR.select(col(idCol), col("__part"),
      pq_code_sig(col("__rvf"), pqCb, m, kCent, subDim).as("codes"))
    // probe routing: exact integer d2 to every coarse centroid (the
    // m=1 ADC table IS that distance vector), rank, keep nProbe cells
    val pr = probes
      .withColumn("__cd", pq_adc_sig(col(vecCol), coarseCb, 1, kCoarse, dim))
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"),
        posexplode(col("__cd")).as(Seq("__p0", "__cd2")))
    val wp = Window.partitionBy(col("probe_id")).orderBy(col("__cd2"), col("__p0"))
    val probed = pr.withColumn("__prnk", row_number().over(wp))
      .filter(col("__prnk") <= nProbe)
      .withColumn("__part", col("__p0").cast("long"))
      .withColumn("__cv", element_at(centLit, col("__p0") + 1))
      .withColumn("__rvf", zip_with(
        transform(col("__pv"), x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long")),
        col("__cv"), (a, b) => (a - b).cast("double") / lit(1000.0)))
      .select(col("probe_id"), col("__part"),
        pq_adc_sig(col("__rvf"), pqCb, m, kCent, subDim).as("adc"))
    val score = (0 until m).map(s =>
      element_at(col("adc"), element_at(col("codes"), s + 1).cast("int") + lit(s * kCent) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("score"), col(idCol))
    enc.join(broadcast(probed),
        enc("__part") === probed("__part") && col(idCol) =!= col("probe_id"))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col(idCol).as("neighbor_id"), col("score"))
  }

  /** Hybrid retrieval with Reciprocal Rank Fusion (the BM25 + vector
    * pattern every RAG stack runs): the lexical side ranks documents by
    * BM25 against a fixed term set, the dense side ranks by cosine to a
    * query embedding, and candidates fuse by
    * `1/(60 + rank_lex) + 1/(60 + rank_vec)` over the UNION of the two
    * top-`shortK` lists (a missing side contributes 0 — standard RRF).
    *
    * Scale + determinism shape: each side's global top-`shortK` is an
    * orderBy().limit() — TakeOrderedAndProject, never a global sort or
    * an unpartitioned window — and the ranks come from a better-count
    * self-join over the two bounded lists (O(shortK^2) constant work),
    * so NO window runs at all. RRF terms are 1.0/BIGINT divisions —
    * bit-identical IEEE on both engines; ordering uses the unrounded
    * fused score with id tiebreak.
    */
  def hybridRrf(docs: DataFrame, embeds: DataFrame, terms: Seq[String],
                queryVecId: Long, k: Int = 10, shortK: Int = 50): DataFrame = {
    val bm = TextOps.bm25(docs, "doc_id", "text", terms)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(shortK)
    val brank = bm.as("x").join(broadcast(bm.as("y")),
        col("y.score") > col("x.score") ||
          (col("y.score") === col("x.score") && col("y.doc_id") < col("x.doc_id")),
        "left_outer")
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg((count(col("y.doc_id")) + 1).as("brank"))
    val e = withNorm(embeds, "embedding")
    val probe = e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("pv"), col("nrm").as("pn"))
    val cos = e.filter(col("vec_id") =!= queryVecId).crossJoin(broadcast(probe))
      .withColumn("cos", vec_dot(col("pv"), col("embedding")) / (col("pn") * col("nrm")))
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(shortK)
    val vrank = cos.as("x").join(broadcast(cos.as("y")),
        col("y.cos") > col("x.cos") ||
          (col("y.cos") === col("x.cos") && col("y.vec_id") < col("x.vec_id")),
        "left_outer")
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg((count(col("y.vec_id")) + 1).as("vrank"))
    val fused = brank.join(vrank, brank("doc_id") === vrank("vec_id"), "full_outer")
      .select(coalesce(brank("doc_id"), vrank("vec_id")).as("id"),
        col("brank"), col("vrank"),
        (coalesce(lit(1.0) / (lit(60L) + col("brank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("vrank")), lit(0.0))).as("rrf"))
    fused.orderBy(col("rrf").desc, col("id")).limit(k)
      .select(col("id"), col("brank"), col("vrank"),
        (floor(col("rrf") * 1e4 + lit(0.5)) / 1e4).as("rrf4"))
  }

  /** The DuckDB replay of [[hybridRrf]]: the text_bm25 oracle's raw
    * per-term CTEs (unrounded), the cosine shortlist, the same
    * better-count ranks and RRF fusion — ordered by the unrounded fused
    * score exactly as the Spark plan orders. */
  def hybridRrfOracleSql(terms: Seq[String], queryVecId: Long,
                         k: Int = 10, shortK: Int = 50): String = {
    require(terms.size == 3, "oracle splices exactly the declared 3-term query")
    val Seq(t1, t2, t3) = terms
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |dlen AS (SELECT doc_id, len(tk) AS dl FROM t),
       |st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dlen),
       |tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
       |tf AS (SELECT k.doc_id, d.dl, k.term, count(*) AS tf
       |       FROM tok k JOIN dlen d USING (doc_id)
       |       WHERE k.term IN ('${t1}', '${t2}', '${t3}')
       |       GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.term,
       |         ln(1.0 + (st.n - dfq.df_t + 0.5) / (dfq.df_t + 0.5)) *
       |           (tf.tf * 2.2) /
       |           (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) * st.n / st.sumdl))) AS s
       |       FROM tf JOIN dfq USING (term) CROSS JOIN st),
       |p AS (SELECT doc_id,
       |        max(CASE WHEN term = '${t1}' THEN s END) AS s1,
       |        max(CASE WHEN term = '${t2}' THEN s END) AS s2,
       |        max(CASE WHEN term = '${t3}' THEN s END) AS s3
       |      FROM sc GROUP BY doc_id),
       |bk AS (SELECT doc_id,
       |         coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0) AS score
       |       FROM p ORDER BY score DESC, doc_id LIMIT ${shortK}),
       |br AS (SELECT x.doc_id, count(y.doc_id) + 1 AS brank
       |       FROM bk x LEFT JOIN bk y ON y.score > x.score
       |         OR (y.score = x.score AND y.doc_id < x.doc_id)
       |       GROUP BY x.doc_id),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |        sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm
       |      FROM embeddings),
       |pr AS (SELECT v AS pv, nrm AS pn FROM e WHERE vec_id = ${queryVecId}),
       |ck AS (SELECT e.vec_id,
       |         list_aggregate(list_transform(list_zip(pr.pv, e.v), x -> x[1] * x[2]), 'sum')
       |           / (pr.pn * e.nrm) AS cos
       |       FROM e CROSS JOIN pr WHERE e.vec_id != ${queryVecId}
       |       ORDER BY cos DESC, vec_id LIMIT ${shortK}),
       |vr AS (SELECT x.vec_id, count(y.vec_id) + 1 AS vrank
       |       FROM ck x LEFT JOIN ck y ON y.cos > x.cos
       |         OR (y.cos = x.cos AND y.vec_id < x.vec_id)
       |       GROUP BY x.vec_id),
       |f AS (SELECT coalesce(br.doc_id, vr.vec_id) AS id, brank, vrank,
       |        coalesce(1.0 / (60 + brank), 0.0) + coalesce(1.0 / (60 + vrank), 0.0) AS rrf
       |      FROM br FULL OUTER JOIN vr ON br.doc_id = vr.vec_id)
       |SELECT id, brank, vrank, floor(rrf * 10000 + 0.5) / 10000 AS rrf4
       |FROM f ORDER BY f.rrf DESC, id LIMIT ${k}""".stripMargin
  }

  /** Two-stage IVFADC serving (the standard production shape): the ADC
    * scan produces a `shortlist` of candidates per probe, then the
    * EXACT integer squared-L2 on the full quantized vectors re-ranks
    * the shortlist to the final top-`k` — compressed-domain recall,
    * exact-domain precision. The re-rank touches only
    * |probes| * shortlist full vectors (both sides broadcast against
    * the corpus scan), so the exact pass costs O(shortlist) per probe
    * regardless of corpus size.
    */
  def ivfAdcRerankTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, k: Int, shortlist: Int = 20,
                       kCoarse: Int = 8, nProbe: Int = 2, m: Int = 8,
                       kCent: Int = 16, subDim: Int = 8): DataFrame = {
    val cand = ivfAdcTopK(corpus, probes, idCol, vecCol, shortlist,
        kCoarse, nProbe, m, kCent, subDim)
      .select(col("probe_id"), col("neighbor_id"))
    val qCol = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))
    val qs = corpus.select(col(idCol).as("__qid"), qCol.as("__q"))
    val pq = probes.select(col(idCol).as("__pid"), qCol.as("__pq"))
    val exactD2 = expr(
      "aggregate(zip_with(__pq, __q, (a, b) -> (a - b) * (a - b)), " +
        "cast(0 as bigint), (acc, x) -> acc + x)")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score"), col("neighbor_id"))
    qs.join(broadcast(cand), col("__qid") === col("neighbor_id"))
      .join(broadcast(pq), col("probe_id") === col("__pid"))
      .withColumn("score", exactD2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("score"))
  }

  /** The DuckDB replay of [[ivfAdcRerankTopK]]: the full IVFADC oracle
    * as the shortlist CTE (nested WITH), then the exact integer
    * re-rank. */
  def ivfAdcRerankOracleSql(k: Int = 5, shortlist: Int = 20,
                            probeIdBound: Long = 10): String =
    s"""WITH cand AS (
       |${ivfAdcOracleSql(shortlist, probeIdBound = probeIdBound)}
       |),
       |eq AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |rr AS (
       |  SELECT c.probe_id, c.neighbor_id,
       |    CAST(list_aggregate(list_transform(list_zip(pn.q, nn.q),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS BIGINT) AS score
       |  FROM cand c JOIN eq pn ON pn.vec_id = c.probe_id
       |              JOIN eq nn ON nn.vec_id = c.neighbor_id)
       |SELECT probe_id, rnk, neighbor_id, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |              ORDER BY score, neighbor_id) AS INTEGER) AS rnk
       |  FROM rr)
       |WHERE rnk <= ${k} ORDER BY probe_id, rnk""".stripMargin

  /** The DuckDB replay of [[ivfAdcTopK]] as ONE query: the coarse
    * k-means chain (prefix `c`), assignment, integer residuals, the
    * residual-PQ k-means chain (prefix `p`, trained on the residual
    * table), corpus encode, probe routing to `nProbe` cells, per-cell
    * probe ADC tables, and the pruned top-k — every stage generated
    * from the same constants the Spark plan uses.
    */
  def ivfAdcOracleSql(k: Int = 5, kCoarse: Int = 8, nProbe: Int = 2,
                      m: Int = 8, kCent: Int = 16, subDim: Int = 8,
                      coarseIters: Int = 2, pqIters: Int = 2,
                      probeIdBound: Long = 10): String = {
    val dim = m * subDim
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |${kmeansCtesSql(1, kCoarse, dim, coarseIters, src = "e", p = "c")},
       |cfd AS (
       |  SELECT e.vec_id, p.cent,
       |    list_aggregate(list_transform(list_zip(e.q, p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM e CROSS JOIN ccb p),
       |cfa AS (
       |  SELECT vec_id, cent AS part FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent) AS rn FROM cfd)
       |  WHERE rn = 1),
       |re AS (
       |  SELECT e.vec_id, cfa.part,
       |    list_transform(list_zip(e.q, p.cv), x -> x[1] - x[2]) AS q
       |  FROM e JOIN cfa USING (vec_id) JOIN ccb p ON p.cent = cfa.part),
       |${kmeansCtesSql(m, kCent, subDim, pqIters, src = "re", p = "p")},
       |dist AS (
       |  SELECT re.vec_id, p.sub, p.cent,
       |    list_aggregate(list_transform(list_zip(re.q[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM re CROSS JOIN pcb p),
       |codes AS (
       |  SELECT vec_id, sub, cent AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                 ORDER BY d2, cent) AS rn FROM dist)
       |  WHERE rn = 1),
       |pp AS (
       |  SELECT probe_id, part FROM (
       |    SELECT e.vec_id AS probe_id, p.cent AS part,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_aggregate(list_transform(list_zip(e.q, p.cv),
       |          x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum'), p.cent) AS prnk
       |    FROM e CROSS JOIN ccb p
       |    WHERE e.vec_id < ${probeIdBound})
       |  WHERE prnk <= ${nProbe}),
       |prv AS (
       |  SELECT pp.probe_id, pp.part,
       |    list_transform(list_zip(e.q, c.cv), x -> x[1] - x[2]) AS r
       |  FROM pp JOIN e ON e.vec_id = pp.probe_id
       |          JOIN ccb c ON c.cent = pp.part),
       |padc AS (
       |  SELECT prv.probe_id, prv.part, p.sub, p.cent,
       |    list_aggregate(list_transform(list_zip(prv.r[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM prv CROSS JOIN pcb p),
       |scored AS (
       |  SELECT pd.probe_id, co.vec_id AS neighbor_id,
       |    CAST(sum(pd.d2) AS BIGINT) AS score
       |  FROM cfa ca
       |  JOIN codes co ON co.vec_id = ca.vec_id
       |  JOIN padc pd ON pd.part = ca.part AND pd.sub = co.sub AND pd.cent = co.code
       |  WHERE pd.probe_id != ca.vec_id
       |  GROUP BY 1, 2)
       |SELECT probe_id, rnk, neighbor_id, score FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |              ORDER BY score, neighbor_id) AS INTEGER) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${k} ORDER BY probe_id, rnk""".stripMargin
  }

  def annTrainedOracleSql(k: Int = 5, kCent: Int = 8, subDim: Int = 64,
                          iters: Int = 2, nProbe: Int = 2,
                          probeIdBound: Long = 10): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |${kmeansCtesSql(1, kCent, subDim, iters)},
       |fd AS (
       |  SELECT e.vec_id, p.cent,
       |    list_aggregate(list_transform(list_zip(e.q[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM e CROSS JOIN cb p),
       |fa AS (
       |  SELECT vec_id, cent AS part FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent) AS rn FROM fd)
       |  WHERE rn = 1),
       |ev AS (
       |  SELECT emb.vec_id, fa.part,
       |    list_transform(emb.embedding, x -> x::DOUBLE) AS v,
       |    sqrt(list_aggregate(list_transform(emb.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm
       |  FROM embeddings emb JOIN fa ON fa.vec_id = emb.vec_id),
       |ex AS (SELECT part, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM ev),
       |cagg AS (SELECT part, pos,
       |           CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS cx
       |         FROM ex GROUP BY part, pos),
       |centv AS (SELECT part, list(cx ORDER BY pos) AS cv FROM cagg GROUP BY part),
       |cent2 AS (SELECT part, cv,
       |            sqrt(list_aggregate(list_transform(cv, y -> y * y), 'sum')) AS cnrm
       |          FROM centv),
       |probes AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM ev
       |           WHERE vec_id < ${probeIdBound}),
       |lsel AS (
       |  SELECT probe_id, pv, pn, part FROM (
       |    SELECT p.probe_id, p.pv, p.pn, c.part,
       |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
       |        list_aggregate(list_transform(list_zip(p.pv, c.cv), x -> x[1] * x[2]), 'sum')
       |          / (p.pn * c.cnrm) DESC, c.part) AS lrnk
       |    FROM probes p CROSS JOIN cent2 c
       |  ) WHERE lrnk <= ${nProbe})
       |SELECT probe_id, rnk, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cos FROM (
       |  SELECT s.probe_id, n.vec_id AS neighbor_id,
       |    list_aggregate(list_transform(list_zip(s.pv, n.v), x -> x[1] * x[2]), 'sum')
       |      / (s.pn * n.nrm) AS cos,
       |    CAST(row_number() OVER (PARTITION BY s.probe_id ORDER BY
       |      list_aggregate(list_transform(list_zip(s.pv, n.v), x -> x[1] * x[2]), 'sum')
       |        / (s.pn * n.nrm) DESC, n.vec_id) AS INTEGER) AS rnk
       |  FROM lsel s JOIN ev n ON n.part = s.part AND n.vec_id != s.probe_id
       |) WHERE rnk <= ${k} ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB replay of the IVF partition-BALANCE audit: the same trained
    * coarse assignment as [[annTrainedOracleSql]] (integer k-means +
    * argmin-by-exact-d2, ties to the lowest centroid), aggregated to
    * per-partition sizes with corpus share and load factor
    * (n · kCent / total — 1.0 = perfectly balanced inverted lists).
    */
  def ivfBalanceOracleSql(kCent: Int = 8, subDim: Int = 64,
                          iters: Int = 2): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |${kmeansCtesSql(1, kCent, subDim, iters)},
       |fd AS (
       |  SELECT e.vec_id, p.cent,
       |    list_aggregate(list_transform(list_zip(e.q[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM e CROSS JOIN cb p),
       |fa AS (
       |  SELECT vec_id, cent AS part FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent) AS rn FROM fd)
       |  WHERE rn = 1),
       |sz AS (SELECT part, count(*) AS n_vecs FROM fa GROUP BY part),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM sz)
       |SELECT CAST(sz.part AS BIGINT) AS part, CAST(sz.n_vecs AS BIGINT) AS n_vecs,
       |       floor(sz.n_vecs::DOUBLE / tot.total * 10000 + 0.5) / 10000 AS share,
       |       floor(sz.n_vecs::DOUBLE * ${kCent}.0 / tot.total * 10000 + 0.5) / 10000
       |         AS load
       |FROM sz CROSS JOIN tot ORDER BY part""".stripMargin

  /** DuckDB replay of SEMANTIC dedup (Dedup.semanticDedup over the
    * trained coarse assignment): the same integer k-means + argmin
    * assignment as [[annTrainedOracleSql]], then within-cluster
    * cosine pairs at the threshold (sequential-fold dot products —
    * the embedCosinePairs discipline) and the min-id survivor rule. */
  def semanticDedupOracleSql(threshold: Double, kCent: Int = 8,
                             subDim: Int = 64, iters: Int = 2): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |${kmeansCtesSql(1, kCent, subDim, iters)},
       |fd AS (
       |  SELECT e.vec_id, p.cent,
       |    list_aggregate(list_transform(list_zip(e.q[p.sub * ${subDim} + 1 : (p.sub + 1) * ${subDim}], p.cv),
       |      x -> (x[1] - x[2]) * (x[1] - x[2])), 'sum') AS d2
       |  FROM e CROSS JOIN cb p),
       |fa AS (
       |  SELECT vec_id, cent AS part FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent) AS rn FROM fd)
       |  WHERE rn = 1),
       |ev AS (
       |  SELECT emb.vec_id, fa.part,
       |    list_transform(emb.embedding, x -> x::DOUBLE) AS v,
       |    sqrt(list_aggregate(list_transform(emb.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS nrm
       |  FROM embeddings emb JOIN fa ON fa.vec_id = emb.vec_id),
       |pr AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM ev a JOIN ev b ON b.part = a.part AND a.vec_id < b.vec_id
       |  WHERE list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
       |          / (a.nrm * b.nrm) >= ${threshold}),
       |bo AS (SELECT vec_a AS id, vec_b AS other FROM pr
       |       UNION ALL SELECT vec_b, vec_a FROM pr),
       |ag AS (SELECT id, count(*) AS n_dups, min(other) AS mo
       |       FROM bo GROUP BY id)
       |SELECT ev.vec_id, CAST(ev.part AS BIGINT) AS part,
       |       CAST(coalesce(ag.n_dups, 0) AS BIGINT) AS n_dups,
       |       (ag.mo IS NULL OR ag.mo > ev.vec_id) AS kept
       |FROM ev LEFT JOIN ag ON ag.id = ev.vec_id
       |ORDER BY ev.vec_id""".stripMargin
}
