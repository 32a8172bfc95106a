package graft

import org.apache.spark.sql.functions._
import graft.queries.Pipeline

/** Property checks for the LLM-pipeline operators that have no DuckDB
  * oracle (SURVEY.md §5.3): LSH recall vs exact ground truth, ANN recall
  * vs brute force, dedup idempotence, SimHash signature sanity.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  /** Exact global near-dup "dominated" set (any doc that has a smaller
    * near-dup partner at token-Jaccard >= 0.7) — brute force all pairs,
    * feasible at sf0.001 (500 docs).
    */
  private lazy val exactDominated: Set[Long] = {
    val t = Tables.documents(spark, sf001)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("da"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("db"), col("toks").as("tb"))
    a.join(b, col("da") < col("db"))
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("ni").cast("double") / (size(col("ta")) + size(col("tb")) - col("ni")))
      .filter(col("jac") >= 0.7)
      .select(col("db")).distinct().as[Long].collect().toSet
  }

  test("minhash LSH survivors: high recall of the exact dominated set") {
    val survivors = Pipeline.queries("dedup_minhash")(spark, sf001)
      .as[Long].collect().toSet
    val all = Tables.documents(spark, sf001).select("doc_id").as[Long].collect().toSet
    val lshDominated = all -- survivors
    // every LSH-dominated doc must truly be dominated (precision = 1: the
    // Jaccard verification step is exact)
    assert(lshDominated.subsetOf(exactDominated),
      s"false positives: ${lshDominated -- exactDominated}")
    val recall = lshDominated.size.toDouble / exactDominated.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 " +
      s"(found ${lshDominated.size} of ${exactDominated.size})")
  }

  test("ANN partitioned search: recall@5 vs brute force") {
    val brute = Pipeline.queries("sim_cosine_topk")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Pipeline.queries("sim_ann_partitioned")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ann & brute).size.toDouble / brute.size
    info(s"ANN recall@5 = $recall")
    // The fixture embeddings are isotropic (no cluster structure), so the
    // information-free floor for nProbe=2 of 10 partitions is 0.2 and the
    // measured recall is 0.30 — pinned here as the regression bar. High
    // recall on clusterABLE data is proven by the dedicated test below.
    assert(recall >= 0.28, s"ANN recall $recall regressed below the measured 0.30 floor")
    assert(ann.size == brute.size, "ANN must return the same top-k shape")
  }

  test("ANN achieves >=0.9 recall@5 when the corpus actually clusters") {
    import spark.implicits._
    // Deterministic 10-cluster corpus: fixed-seed PRNG, well-separated
    // centers (scale 5) + small noise (scale 1) in 16-d.
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian() * 5.0f.toDouble))
    val rows = (0 until 400).map { i =>
      val c = i % 10
      (i.toLong, centers(c).map(x => (x + rnd.nextGaussian()).toFloat), c)
    }
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val probes = corpus.filter(col("vec_id") < 10)
    val brute = graft.api.Similarity.cosineTopK(corpus, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = graft.api.Similarity.annTopK(corpus, probes, "vec_id", "embedding",
        "label", 5, nProbe = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ann & brute).size.toDouble / brute.size
    info(s"clustered ANN recall@5 = $recall")
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 on clustered data")
  }

  test("LSH bucketed search: recall@5 on the fixture, pinned") {
    val brute = Pipeline.queries("sim_cosine_topk")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Pipeline.queries("sim_lsh_bucketed")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (lsh & brute).size.toDouble / brute.size
    info(s"LSH recall@5 = $recall")
    // Isotropic fixture: neighbor cosines are weak, so sign-bit LSH (like
    // the IVF key, measured 0.30 on the same data) sits near the
    // information-free floor; real recall is proven on clusterable data
    // by the test below. Pinned at the measured 0.30, minus noise.
    assert(recall >= 0.28, s"LSH recall $recall regressed below the measured 0.30 floor")
  }

  test("LSH bucketed search achieves >=0.9 recall@5 when the corpus clusters") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian() * 5.0))
    val rows = (0 until 400).map { i =>
      val c = i % 10
      (i.toLong, centers(c).map(x => (x + rnd.nextGaussian()).toFloat), c)
    }
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val probes = corpus.filter(col("vec_id") < 10)
    val brute = graft.api.Similarity.cosineTopK(corpus, probes, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = graft.api.Similarity.lshTopK(corpus, probes, "vec_id", "embedding",
        5, tables = 4, bits = 8, dim = 16)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (lsh & brute).size.toDouble / brute.size
    info(s"clustered LSH recall@5 = $recall")
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 on clustered data")
  }

  test("capped-converged kNN graph achieves >=0.9 recall@5 on clustered data") {
    import spark.implicits._
    // The fixture embeddings are isotropic, so the declared keys' graph
    // recall (~0.5 capped-converged vs 0.31 single-shot) carries no
    // regime signal — ANN exists for corpora that CLUSTER. Planted
    // 10-cluster corpus (fixed seed, separation 5:1): the production
    // path (capped base + NN-Descent to fixpoint) must recover >= 0.9
    // of the exact top-5 graph.
    val rnd = new scala.util.Random(14)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian() * 5.0))
    val rows = (0 until 400).map { i =>
      val c = i % 10
      (i.toLong, centers(c).map(x => (x + rnd.nextGaussian()).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val brute = graft.api.Similarity.cosineTopK(corpus, corpus,
        "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val (graphDf, round) = graft.api.Similarity.knnGraphConvergedWithRound(
      corpus, "vec_id", "embedding", 5, tables = 8, bits = 6, dim = 16,
      cap = Some(16))
    val graph = graphDf.select("src_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (graph & brute).size.toDouble / brute.size
    info(s"clustered capped-converged kNN recall@5 = $recall (fixpoint round $round)")
    assert(recall >= 0.9,
      s"capped-converged kNN recall $recall < 0.9 on clustered data")
    // the single-shot capped base on the same data, for the margin note
    val base = graft.api.Similarity.knnGraphCapped(corpus, "vec_id",
        "embedding", 5, tables = 8, bits = 6, dim = 16, cap = 16)
      .select("src_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val baseRecall = (base & brute).size.toDouble / brute.size
    info(s"single-shot capped base recall@5 = $baseRecall")
    assert(recall >= baseRecall,
      "NN-Descent rounds must not lose recall vs the capped base")
    // a budget below the convergence round is a loud failure, never a
    // truncated graph
    intercept[IllegalStateException](graft.api.Similarity.knnGraphConvergedWithRound(
      corpus, "vec_id", "embedding", 5, tables = 8, bits = 6, dim = 16,
      maxIters = round - 1, cap = Some(16)))
  }

  test("embed LSH pairs: subset of brute-force global pairs, recall pinned") {
    val lsh = Pipeline.queries("dedup_embed_lsh")(spark, sf001)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val e = Tables.embeddings(spark, sf001)
      .withColumn("nrm", graft.functions.GraftFunctions.vec_norm(col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", graft.functions.GraftFunctions.vec_dot(col("va"), col("vb")) /
        (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // precision 1 by construction (exact cosine verify) — every LSH pair
    // must be a true pair
    assert(lsh.subsetOf(brute), s"false positives: ${lsh -- brute}")
    val recall = lsh.size.toDouble / brute.size
    info(s"embed LSH pair recall = $recall (${lsh.size} of ${brute.size})")
    // Isotropic fixture at a weak 0.3 threshold — most true pairs sit
    // near the threshold where sign-bit collision probability is lowest
    // (measured 0.33, same regime as the sim_lsh/IVF recall tests; high
    // recall on clusterable data is proven by the clustered LSH test).
    assert(recall >= 0.30, s"embed LSH recall $recall regressed below the measured 0.33 floor")
  }

  test("prefix-filtered jaccard pairs equal brute-force global all-pairs EXACTLY") {
    val got = Pipeline.queries("dedup_ngram_jaccard")(spark, sf001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force over the SAME 3-shingle sets, all pairs, no blocking
    val t = Tables.documents(spark, sf001)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, greatest(size(tk) - 2, 1)), i -> concat_ws(' ', slice(tk, i, 3)))")).as("toks"))
    val a = t.select(col("doc_id").as("da"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("db"), col("toks").as("tb"))
    val brute = a.join(b, col("da") < col("db"))
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("ni").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("ni")))
      .filter(col("jac") >= 0.7)
      .select(col("da"), col("db")).as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "expected at least one true near-dup pair at sf0.001")
    assert(got == brute,
      s"missed: ${(brute -- got).take(5)}; extra: ${(got -- brute).take(5)}")
  }

  test("dedup_span: cross-document span coverage on a hand fixture") {
    // doc1 windows: abcde bcdef cdefg defgh; doc2: xabcd abcde bcdef
    // cdefy — shared spans abcde + bcdef cover 2 positions in each;
    // doc3 shares nothing
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x a b c d e f y"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val out = graft.api.Dedup.duplicatedSpanStats(docs, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 4L, 2L, 2L), (2L, 4L, 2L, 2L), (3L, 1L, 0L, 0L)))
    // occurrence MULTIPLICITY: doc2 contains the shared span at two
    // positions (1 and 7) — both count; and a span repeated only
    // WITHIN one document (doc3) is not a cross-document duplicate
    val rep = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e z a b c d e"),
      (3L, "m m m m m m")).toDF("doc_id", "text")
    val out2 = graft.api.Dedup.duplicatedSpanStats(rep, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out2.toSeq === Seq((1L, 1L, 1L, 2L), (2L, 7L, 2L, 2L), (3L, 2L, 0L, 0L)))
  }

  test("corpus_token_budget: shares sum to 1, cumulative is monotone to 1") {
    val rows = Pipeline.queries("corpus_token_budget")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("token_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-2) // round4 per-row drift only
    val cum = rows.map(_.getAs[Double]("cum_share"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b + 1e-12 },
      "cum_share not monotone in rank order")
    assert(math.abs(cum.last - 1.0) < 1e-9, s"last cum_share ${cum.last}")
    // cum_tokens of the first (largest) stratum is its own n_tokens
    assert(rows.head.getAs[Long]("cum_tokens") === rows.head.getAs[Long]("n_tokens"))
  }

  test("tokenBudget: NULL stratum values still self-join (invariants hold)") {
    val docs = Seq(
      (1L, "en", "a b c d e f g h"),
      (2L, null.asInstanceOf[String], "x y z w v u t s r q p o n m l k"),
      (3L, "de", "k l m")).toDF("doc_id", "lang", "text")
    val out = graft.api.Sampling.tokenBudget(docs, Seq("lang"), "text")
      .orderBy(desc("n_tokens"), col("lang")).collect()
    assert(out.length === 3, "a NULL stratum vanished from the budget table")
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq === Seq(16L, 8L, 3L))
    val cum = out.map(_.getAs[Double]("cum_share"))
    assert(math.abs(cum.last - 1.0) < 1e-9)
    assert(out.head.getAs[Long]("cum_tokens") === out.head.getAs[Long]("n_tokens"))
  }

  test("removeDuplicatedSpans: survivor keeps, non-survivors excised, unions") {
    // docs 1/2 share "a b c d e": survivor is (1,1), doc 2 loses
    // positions 2..6; doc 3 shares nothing; doc 4 repeats the span
    // it shares with doc 5 — survivor (4,1), removals (4,6) and (5,1)
    val docs = Seq(
      (1L, "a b c d e x"),
      (2L, "z a b c d e"),
      (3L, "q r s t u v"),
      (4L, "m n o p q m n o p q"),
      (5L, "m n o p q")).toDF("doc_id", "text")
    val out = graft.api.Dedup.removeDuplicatedSpans(docs, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("text_clean")).toSeq ===
      Seq("a b c d e x", "z", "q r s t u v", "m n o p q", ""))
    assert(out.map(_.getAs[Long]("n_removed")).toSeq === Seq(0L, 5L, 0L, 5L, 5L))
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq === Seq(6L, 6L, 6L, 10L, 5L))
  }

  test("minhashEstimationAudit: identical docs estimate exactly 1, disjoint never pair") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val out = graft.api.Dedup.minhashEstimationAudit(docs, "doc_id", "text").collect()
    val p = out.find(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(p.isDefined, out.mkString(";"))
    assert(p.get.getAs[Long]("n_agree") === 64L)
    assert(p.get.getAs[Double]("est") === 1.0)
    assert(p.get.getAs[Double]("jac") === 1.0)
    assert(p.get.getAs[Double]("abs_err") === 0.0)
    assert(!out.exists(r => r.getAs[Long]("doc_b") == 3L))
  }

  test("sim_ivf_balance: partitions cover the corpus, load factors average 1") {
    val out = Pipeline.queries("sim_ivf_balance")(spark, sf001).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === 500L)
    assert(out.map(_.getAs[Long]("part")).distinct.length === out.length)
    val loads = out.map(_.getAs[Double]("load"))
    assert(math.abs(loads.sum / loads.length - 1.0) < 0.01, loads.toSeq.toString)
    assert(out.map(_.getAs[Double]("share")).sum > 0.999)
  }

  test("semanticDedup: cluster-scoped min-id survivor rule") {
    // part 0: v1 ≡ v2 (cos 1), v3 orthogonal; part 1: v4 identical to
    // v1 but in ANOTHER cluster — SemDeDup is cluster-scoped, so it is
    // NOT a duplicate of v1 (the paper's design: the quantizer bounds
    // the comparison set)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f), 0), // same direction as v1 -> cos 1
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "part")
    val out = graft.api.Dedup.semanticDedup(vecs, "vec_id", "embedding",
        "part", 0.9)
      .orderBy("vec_id").collect()
    assert(out.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("part"),
      r.getAs[Long]("n_dups"), r.getAs[Boolean]("kept"))).toSeq === Seq(
      (1L, 0L, 1L, true),   // min id of the duplicate pair survives
      (2L, 0L, 1L, false),  // has the smaller partner v1 -> dropped
      (3L, 0L, 0L, true),   // orthogonal: no partners
      (4L, 1L, 0L, true)))  // identical to v1 but cluster-scoped out
  }

  test("winnowFingerprintStats: detection guarantee, identity, disjointness") {
    // docs 1/3 identical; doc 2 shares the 7-token run "a b c d e f g"
    // with them (= w + k - 1, the winnowing guarantee threshold);
    // doc 4 shares no 4-gram with anyone
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y z a b c d e f g q r"),
      (3L, "a b c d e f g h i j"),
      (4L, "p q r s t u v w")).toDF("doc_id", "text")
    val out = graft.api.Dedup.winnowFingerprintStats(docs, "doc_id", "text", 4, 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_grams")).toSeq === Seq(7L, 9L, 7L, 5L))
    // identical docs: same fingerprint set, fully shared
    assert(out(0).getAs[Long]("n_fp") === out(2).getAs[Long]("n_fp"))
    assert(out(0).getAs[Long]("n_shared_fp") === out(0).getAs[Long]("n_fp"))
    assert(out(2).getAs[Long]("n_shared_fp") === out(2).getAs[Long]("n_fp"))
    // the shared >= w+k-1 run guarantees doc 2 shares a fingerprint
    assert(out(1).getAs[Long]("n_shared_fp") >= 1L)
    // disjoint doc shares nothing; density is n_fp over full windows
    assert(out(3).getAs[Long]("n_shared_fp") === 0L)
    assert(out.forall(r => r.getAs[Long]("n_fp") <= r.getAs[Long]("n_grams") - 3))
  }

  test("zipfFit: exact power law fits slope -1, intercept ln(c)") {
    // counts 6/3/2 at ranks 1/2/3 lie exactly on ln(f) = ln(6) - ln(r)
    val docs = Seq((1L, "en", "a a a a a a b b b c c")).toDF("doc_id", "lang", "text")
    val out = graft.api.TextOps.zipfFit(docs, "lang", "text", 100).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_terms") === 3L)
    assert(math.abs(out.head.getAs[Double]("slope") + 1.0) < 1e-9)
    assert(math.abs(out.head.getAs[Double]("intercept") - math.log(6.0)) < 1e-9)
  }

  test("charEntropy: known distributions") {
    val docs = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd")).toDF("doc_id", "text")
    val out = graft.api.TextOps.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // uniform over 2 chars -> 1 bit; constant -> 0; uniform over 4 -> 2
    assert(out.map(_.getAs[Long]("n_chars_split")).toSeq === Seq(4L, 4L, 4L))
    val ent = out.map(_.getAs[Double]("char_entropy"))
    assert(math.abs(ent(0) - 1.0) < 1e-9 && math.abs(ent(1)) < 1e-9 &&
      math.abs(ent(2) - 2.0) < 1e-9, ent.toSeq.toString)
    assert(out.map(_.getAs[Double]("top_char_ratio")).toSeq === Seq(0.5, 1.0, 0.25))
  }

  test("connected components: min-id labels on chains, pairs, singletons") {
    // chain 1-2-3 (needs 2 propagation rounds), pair 10-11, singleton 99
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.api.Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L), (99L, 99L, 1L)))
  }

  test("connected components: a 40-link chain converges via pointer jumping") {
    // plain propagation would need 39 rounds (> maxRounds=20); the
    // doubling that engages after round `jumpAfter` must close it
    val ids = (0L until 40L)
    val nodes = ids.toDF("id")
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("doc_a", "doc_b")
    val got = graft.api.Dedup.clusters(nodes, "id", pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == ids.map(i => (i, 0L, 40L)).toSet)
  }

  test("connected components: star-contraction finishes an exhausted round budget") {
    // a 30-link chain needs 29 plain-propagation rounds; with the budget
    // capped at 3 and pointer jumping never engaging, the large-star/
    // small-star fallback must converge instead of raising
    val ids = (0L until 30L)
    val nodes = ids.toDF("id")
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("doc_a", "doc_b")
    val got = graft.api.Dedup.clusters(nodes, "id", pairs,
        maxRounds = 3, jumpAfter = 100)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == ids.map(i => (i, 0L, 30L)).toSet)
  }

  test("star contraction: random graphs match union-find ground truth") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 20
      val edges = (0 until n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = touched.map(i => i -> find(i.toInt).toLong).toMap
      val got = graft.api.Dedup.starContract(
          edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: ${got.toSet -- want.toSet}")
    }
  }

  test("containment catches an embedded document that Jaccard misses") {
    val sp = spark
    import sp.implicits._
    val words = (1 to 33).map(i => s"w$i")
    val filler = (1 to 90).map(i => s"f$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, (words ++ filler).mkString(" "))) // doc 1 embedded at doc 2's head
      .toDF("doc_id", "text")
    val cont = graft.api.Dedup.containmentPairs(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(c => (c._1, c._2)).toSet == Set((1L, 2L)),
      s"embedded pair not found: ${cont.toSeq}")
    assert(cont.head._3 >= 0.95, s"containment should be ~1.0, got ${cont.head._3}")
    // the same pair is invisible to union-normalized Jaccard
    val jac = graft.api.Dedup.jaccardPairs(docs, "doc_id", "text", Seq(), 0.7).count()
    assert(jac == 0, "Jaccard at 0.7 must not see the embedded pair")
  }

  test("containment prefix filter is lossless vs brute force on random corpora") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 3) {
      val vocab = (1 to 60).map(i => s"v$i")
      val base = (1 to 30).map { id =>
        val n = 25 + rnd.nextInt(60)
        (id.toLong, (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val embedded = (1 to 5).map { k =>
        val src = base(rnd.nextInt(base.size))._2.split(" ")
        val tail = (0 until rnd.nextInt(40)).map(_ => vocab(rnd.nextInt(vocab.size)))
        (100L + k, (src.take(25 + rnd.nextInt(10)) ++ tail).mkString(" "))
      }
      val all = base ++ embedded
      val got = graft.api.Dedup.containmentPairs(
          all.toDF("doc_id", "text"), "doc_id", "text", 0.8)
        .as[(Long, Long, Double)].collect()
        .map(c => (c._1, c._2, math.rint(c._3 * 10000))).toSet
      // brute force on string shingle sets (no hashing, no filtering)
      def sh(t: String): Set[String] = {
        val tk = t.split(" ")
        (1 to math.max(tk.length - 2, 1)).map(i =>
          tk.slice(i - 1, i + 2).mkString(" ")).toSet
      }
      val sets = all.map { case (id, t) => id -> sh(t) }.filter(_._2.size >= 20)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        c = (sa & sb).size.toDouble / math.min(sa.size, sb.size) if c >= 0.8
      } yield (a, b, math.rint(c * 10000))).toSet
      assert(got == want,
        s"trial $trial:\n missing=${(want -- got).take(5)}\n extra=${(got -- want).take(5)}")
    }
  }

  test("containment positional filter: strict candidate reduction on long docs, lossless output") {
    // the round-6 caveat's regime: LONG documents (near-full prefixes)
    // sharing only short boilerplate phrases. Without the ppjoin
    // positional bound every phrase-sharing pair becomes a candidate;
    // the shared shingles are common (high tdf -> canonically LAST in
    // both lists), so the positional bound proves the overlap cannot
    // reach o and drops the pair before the verify join. Planted
    // embedded copies pin losslessness on the same corpus.
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (1 to 400).map(i => s"v$i")
    // 3 of 5 boilerplate phrases per doc -> ~30 common shingles per doc,
    // enough that the constant-o prefix (which drops only the o-1 = 15
    // most common) RETAINS shared boilerplate — the caveat's candidates
    val phrases = (1 to 5).map(p => (1 to 12).map(w => s"p${p}w$w"))
    val base = (1 to 20).map { id =>
      val filler = (1 to 120 + rnd.nextInt(120)).map(_ => vocab(rnd.nextInt(vocab.size)))
      val mine = rnd.shuffle(phrases).take(3).flatten
      val cut = 20 + rnd.nextInt(60)
      (id.toLong, (filler.take(cut) ++ mine ++ filler.drop(cut)).mkString(" "))
    }
    val embedded = (1 to 4).map { k =>
      val src = base(rnd.nextInt(base.size))._2.split(" ")
      (100L + k, src.take(30 + rnd.nextInt(20)).mkString(" "))
    }
    val all = base ++ embedded
    val docs = all.toDF("doc_id", "text")
    val (threshold, minTokens) = (0.8, 20)
    val o = math.ceil(threshold * minTokens - 1e-9).toInt
    val t = graft.api.Dedup.shingles(docs, "text", 3)
      .withColumn("toksh", array_distinct(
        graft.functions.Signatures.md5_prefix(col("toks"), 15)))
      .filter(size(col("toksh")) >= minTokens)
      .select(col("doc_id"), col("toksh"))
    val withPos = graft.api.Dedup
      .containmentCandidates(t, "doc_id", threshold, o, positional = true)
      .as[(Long, Long)].collect().toSet
    val noPos = graft.api.Dedup
      .containmentCandidates(t, "doc_id", threshold, o, positional = false)
      .as[(Long, Long)].collect().toSet
    assert(withPos.subsetOf(noPos), s"positional filter added pairs: ${withPos -- noPos}")
    assert(withPos.size < noPos.size,
      s"positional filter must strictly reduce candidates (got ${withPos.size} vs ${noPos.size})")
    // losslessness on the same corpus: final pairs == unfiltered brute force
    def sh(tx: String): Set[String] = {
      val tk = tx.split(" ")
      (1 to math.max(tk.length - 2, 1)).map(i =>
        tk.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val sets = all.map { case (id, tx) => id -> sh(tx) }.filter(_._2.size >= minTokens)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size) if c >= threshold
    } yield (a, b)).toSet
    assert(want.nonEmpty, "corpus must contain true containment pairs")
    assert(want.subsetOf(withPos),
      s"true pairs lost by the positional filter: ${want -- withPos}")
    val got = graft.api.Dedup.containmentPairs(docs, "doc_id", "text", threshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("jaccard positional filter: strict candidate reduction, lossless candidates") {
    // Synthetic token sets with EXACT tdf control — the regime with
    // teeth: each doc = 10 unique tokens (tdf 1, canonically first),
    // 10 pair-shared tokens (tdf 2, mid-prefix), 30 corpus-common
    // tokens (tdf ~20, beyond the prefix). A pair-sharing pair's
    // overlap is 40 of union 60 (J = 0.667 < t) — its only shared
    // PREFIX tokens sit at canonical positions 11..16, where the
    // remaining suffix (50 − 11 + 1 = 40) falls short of the
    // pair-dependent requirement α = ceil(0.7/1.7·100) = 42, so the
    // positional bound kills it pre-verify; without the bound it is a
    // (false) candidate. Planted near-copies (unique tokens shared →
    // canonically-front occurrences) pin losslessness.
    val sp = spark
    import sp.implicits._
    val common = (1L to 30L).toSeq
    val base = (1 to 20).map { d =>
      val pair = (d + 1) / 2
      val uniq = (1 to 10).map(j => 1000L + d * 100L + j)
      val shared = (1 to 10).map(j => 500L + pair * 50L + j)
      (d.toLong, uniq ++ shared ++ common)
    }
    // near-copies of doc 1: its set minus two common tokens (J = 0.96)
    val copies = Seq(101L, 102L).map(id => (id, base.head._2.dropRight(2)))
    val all = base ++ copies
    val t = all.toDF("doc_id", "toksh")
    val threshold = 0.7
    val withPos = graft.api.Dedup
      .jaccardCandidates(t, "doc_id", Seq(), threshold, positional = true)
      .as[(Long, Long)].collect().toSet
    val noPos = graft.api.Dedup
      .jaccardCandidates(t, "doc_id", Seq(), threshold, positional = false)
      .as[(Long, Long)].collect().toSet
    assert(withPos.subsetOf(noPos), s"positional filter added pairs: ${withPos -- noPos}")
    assert(withPos.size < noPos.size,
      s"positional filter must strictly reduce candidates (got ${withPos.size} vs ${noPos.size})")
    // losslessness: every true pair (brute-force jaccard over the sets)
    // survives the positional candidate stage
    val sets = all.map { case (id, tk) => id -> tk.toSet }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= threshold
    } yield (a, b)).toSet
    assert(want.nonEmpty, "corpus must contain true jaccard pairs")
    assert(want.subsetOf(withPos),
      s"true pairs lost by the positional filter: ${want -- withPos}")
    // and the false pair-sharing candidates are exactly what the bound
    // removed: no surviving candidate below threshold except via the
    // copies' groups
    assert((noPos -- withPos).nonEmpty)
  }

  test("embed cosine pairs: bounded (label, shard) blocks = deterministic same-shard sample") {
    val e = Tables.embeddings(spark, sf001)
    val full = graft.api.Dedup.embedCosinePairs(e, "vec_id", "embedding",
        "label", 0.3, maxBlock = Int.MaxValue)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val sharded = graft.api.Dedup.embedCosinePairs(e, "vec_id", "embedding",
        "label", 0.3, maxBlock = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // the same md5-mod shard the engine computes, replayed locally
    val maxLabel = e.groupBy("label").count().agg(max("count")).as[Long].head()
    val nsh = math.ceil(maxLabel / 8.0).toLong
    def shardOf(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % nsh
    }
    assert(nsh > 1, "fixture must actually shard at maxBlock=8")
    assert(sharded == full.filter { case (a, b) => shardOf(a) == shardOf(b) },
      "sharded output must be exactly the same-shard subset of the exact pairs")
    // the join must key on (label, shard), never label alone
    val plan = graft.api.Dedup.embedCosinePairs(e, "vec_id", "embedding",
      "label", 0.3, maxBlock = 8).queryExecution.executedPlan.toString
    assert(plan.contains("__shard"), "join keys must include the bounding shard")
  }

  test("stratified sample: exactly ceil(frac*n) rows per stratum, reproducible") {
    val out = Pipeline.queries("sample_stratified")(spark, sf001)
    val per = out.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val want = Tables.documents(spark, sf001).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
      .map { case (l, n) => l -> math.ceil(n * 0.2).toLong }
    assert(per == want, s"per-stratum counts $per != ceil(0.2*n) $want")
    // content-hash order => the same sample every run
    val ids1 = out.select("doc_id").as[Long].collect().toSet
    val ids2 = Pipeline.queries("sample_stratified")(spark, sf001)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("incremental minhash: DataFrame form equals the keyed-state replay") {
    // two independent implementations of the same ingest-dedup
    // semantics — the declarative two-shuffle plan and the
    // bucket-keyed stateful matcher — must agree row-for-row
    val batch = Pipeline.queries("dedup_minhash_incr")(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
    val keyed = graft.queries.Streaming.queries("stream_dedup_minhash")(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch == keyed && batch.nonEmpty)
    // firsts precede their dups in arrival (id) order; estimates pass τ
    assert(batch.forall { case (doc, first, est) => first < doc && est >= 0.7 })
  }

  test("knn graph: bucket self-join equals lshTopK probing with the whole corpus") {
    // same planes, same candidates, same rank — the self-join path must
    // reproduce the broadcast-probe path when every vector is a probe
    val e = Tables.embeddings(spark, sf001)
    val graph = graft.api.Similarity.knnGraph(e, "vec_id", "embedding",
        5, tables = 8, bits = 6)
      .as[(Long, Int, Long, Double)].collect().toSet
    val probed = graft.api.Similarity.lshTopK(e, e, "vec_id", "embedding",
        5, tables = 8, bits = 6)
      .select(col("probe_id").as("src_id"), col("rnk"), col("neighbor_id"), col("cos"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(graph == probed && graph.nonEmpty)
    // rnk is contiguous from 1 per source
    val bySrc = graph.groupBy(_._1)
    assert(bySrc.values.forall(g => g.map(_._2).toSeq.sorted == (1 to g.size)))
  }

  test("knn refine dominates the base graph and improves recall vs exact top-k") {
    val e = Tables.embeddings(spark, sf001)
    def kth(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.groupBy("src_id")
        .agg(org.apache.spark.sql.functions.min("cos").as("worst"))
        .as[(Long, Double)].collect().toMap
    val base = graft.api.Similarity.knnGraph(e, "vec_id", "embedding",
      5, tables = 8, bits = 6)
    val refined = graft.api.Similarity.knnGraphRefine(e, "vec_id", "embedding",
      5, tables = 8, bits = 6)
    val (bk, rk) = (kth(base), kth(refined))
    // top-k over a candidate SUPERSET: the per-source worst kept cosine
    // can only rise (dominance), and every base source survives
    assert(bk.keySet.subsetOf(rk.keySet))
    assert(bk.forall { case (s, w) => rk(s) >= w - 1e-12 }, "dominance violated")
    // recall vs the exact graph (brute-force, probes = whole corpus)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
    val exact = pairs(graft.api.Similarity.cosineTopK(e, e, "vec_id",
      "embedding", 5), "probe_id", "neighbor_id")
    val rBase = pairs(base, "src_id", "neighbor_id")
    val rRef = pairs(refined, "src_id", "neighbor_id")
    val recBase = (rBase & exact).size.toDouble / exact.size
    val recRef = (rRef & exact).size.toDouble / exact.size
    assert(recRef >= recBase, s"refine recall $recRef < base $recBase")
    // the fixture's embeddings are random (near-uniform cosines — the
    // LSH-hardest case), so the bar is a meaningful LIFT over base,
    // not an absolute: the NoN expansion must buy real recall
    assert(recRef >= recBase + 0.02 || recRef > 0.9,
      s"refine bought no recall: base $recBase, refined $recRef")
  }

  test("knn graph capped: linear candidate bound holds and recall stays near uncapped") {
    val e = Tables.embeddings(spark, sf001)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
    val full = pairs(graft.api.Similarity.knnGraph(e, "vec_id", "embedding",
      5, tables = 8, bits = 6), "src_id", "neighbor_id")
    val capped = pairs(graft.api.Similarity.knnGraphCapped(e, "vec_id",
      "embedding", 5, tables = 8, bits = 6, cap = 16), "src_id", "neighbor_id")
    // the cap only removes candidate SUPPLY, never sources: every source
    // keeps rows, and its edges are a subset of some bucket's membership
    assert(capped.map(_._1) == full.map(_._1), "capped graph lost sources")
    // recall vs the uncapped graph — the cap trades the Σocc² term for
    // bounded bucket work; on the fixture's ~n/2^bits occupancy it must
    // keep the large majority of edges
    val keep = (capped & full).size.toDouble / full.size
    info(s"capped-vs-uncapped edge agreement = $keep")
    assert(keep >= 0.85, s"cap=16 kept only $keep of uncapped edges")
    // recall vs exact brute force must stay within a few points of the
    // uncapped graph's
    val exact = pairs(graft.api.Similarity.cosineTopK(e, e, "vec_id",
      "embedding", 5), "probe_id", "neighbor_id")
    val recFull = (full & exact).size.toDouble / exact.size
    val recCap = (capped & exact).size.toDouble / exact.size
    info(s"recall: uncapped $recFull, capped $recCap")
    assert(recCap >= recFull - 0.05,
      s"cap=16 recall $recCap fell more than 5 points under uncapped $recFull")
  }

  test("knn converged: fixpoint dominates one refine step and lifts recall") {
    val e = Tables.embeddings(spark, sf001)
    def kth(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.groupBy("src_id")
        .agg(org.apache.spark.sql.functions.min("cos").as("worst"))
        .as[(Long, Double)].collect().toMap
    val refined = graft.api.Similarity.knnGraphRefine(e, "vec_id", "embedding",
      5, tables = 8, bits = 6)
    val conv = graft.api.Similarity.knnGraphConverged(e, "vec_id", "embedding",
      5, tables = 8, bits = 6)
    // monotone improvement transfers through every extra round: the
    // fixpoint's per-source worst kept cosine dominates one-step refine
    val (rk, ck) = (kth(refined), kth(conv))
    assert(rk.keySet.subsetOf(ck.keySet))
    assert(rk.forall { case (s, w) => ck(s) >= w - 1e-12 }, "dominance violated")
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
    val exact = pairs(graft.api.Similarity.cosineTopK(e, e, "vec_id",
      "embedding", 5), "probe_id", "neighbor_id")
    val recRef = (pairs(refined, "src_id", "neighbor_id") & exact).size.toDouble / exact.size
    val recConv = (pairs(conv, "src_id", "neighbor_id") & exact).size.toDouble / exact.size
    info(s"recall: one-step refine $recRef, converged $recConv")
    assert(recConv >= recRef, s"converged recall $recConv < one-step $recRef")
    // iterating to the fixpoint must buy real recall over ONE step on
    // the random fixture (it measures 2+ extra productive rounds)
    assert(recConv >= recRef + 0.02 || recConv > 0.9,
      s"convergence bought no recall: refine $recRef, converged $recConv")
  }

  test("capped base + convergence recovers the recall the cap gave up") {
    val e = Tables.embeddings(spark, sf001)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
    val exact = pairs(graft.api.Similarity.cosineTopK(e, e, "vec_id",
      "embedding", 5), "probe_id", "neighbor_id")
    val capped = pairs(graft.api.Similarity.knnGraphCapped(e, "vec_id",
      "embedding", 5, tables = 8, bits = 6, cap = 16), "src_id", "neighbor_id")
    val cc = pairs(graft.api.Similarity.knnGraphConverged(e, "vec_id",
      "embedding", 5, tables = 8, bits = 6, cap = Some(16)),
      "src_id", "neighbor_id")
    val uncappedBase = pairs(graft.api.Similarity.knnGraph(e, "vec_id",
      "embedding", 5, tables = 8, bits = 6), "src_id", "neighbor_id")
    def rec(s: Set[(Long, Long)]) = (s & exact).size.toDouble / exact.size
    info(s"recall: capped base ${rec(capped)}, capped+converged ${rec(cc)}, " +
      s"uncapped single-shot ${rec(uncappedBase)}")
    // the production claim: the NN-Descent rounds recover (and exceed)
    // what the cap gave up — the composition must beat BOTH the capped
    // base and the uncapped single-shot graph
    assert(rec(cc) >= rec(capped), "convergence lost recall vs its own base")
    assert(rec(cc) >= rec(uncappedBase),
      "capped+converged must beat the uncapped single-shot graph")
  }

  test("weighted sample: exact local A-ES replay, and top-k plans as TakeOrdered") {
    // the engine's md5-uniform + pow key, replayed in plain Scala —
    // pins every arithmetic step of Sampling.weightedSample
    def key(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) /
        1.152921504606846976e18
      math.floor(math.pow(u, 1.0 / w) * 1e8 + 0.5) / 1e8
    }
    val rows = (1L to 100L).map(id => (id, (id % 7) + 1))
    val df = rows.toDF("id", "w")
    val got = graft.api.Sampling.weightedSample(df, "id", col("w"), 10)
      .as[(Long, Long, Double)].collect().toSeq
    val want = rows.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, p) => (-p, id) }.take(10)
    assert(got.sortBy(r => (-r._3, r._1)) == want)
    // higher weight must never lower a doc's key (same id ⇒ same u)
    assert(key(42L, 1L) <= key(42L, 100L))
    // global top-k = per-partition heaps, never a full sort
    val plan = Pipeline.queries("sample_weighted")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(Pipeline.queries("sample_weighted")(spark, sf001).count() == 200)
  }

  test("temperature mix: sqrt damping gives tail languages a super-proportional share") {
    val docs = Tables.documents(spark, sf001)
      .withColumn("n_tok", size(split(col("text"), " ")))
    val mass = docs.groupBy("lang").agg(sum("n_tok").as("t_s"))
      .as[(String, Long)].collect().toMap
    val total = mass.values.sum
    val out = graft.api.Sampling.temperatureMix(docs, "doc_id", Seq("lang"), "n_tok", 4000L)
    val alloc = out.groupBy("lang").agg(max("alloc_tok").as("a"))
      .as[(String, Long)].collect().toMap
    val budget = alloc.values.sum.toDouble
    // every lang below the mean mass must get at least its proportional
    // share (sqrt flattens the distribution toward uniform)
    mass.filter(_._2 < total / mass.size).foreach { case (l, t) =>
      assert(alloc(l) / budget >= t.toDouble / total,
        s"$l: alloc share ${alloc(l) / budget} < proportional ${t.toDouble / total}")
    }
    // kept tokens stay within each lang's allocation except the boundary doc
    val over = out.filter(col("cum_tok") - col("n_tok") >= col("alloc_tok")).count()
    assert(over == 0)
  }

  test("Luhn card scrub: validator accepts exactly the valid-check-digit cards") {
    val out = Pipeline.queries("text_pii_luhn")(spark, sf001)
      .select("doc_id", "luhn_valid").as[(Long, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, v) =>
      assert(v == (if (id % 2 == 0) 1 else 0),
        s"doc $id: spliced card validity must follow the construction (got $v)")
    }
  }

  test("Luhn card scrub: per-candidate gating and digit-run boundary guard") {
    val out = Pipeline.queries("text_pii_luhn")(spark, sf001)
      .select("doc_id", "n_cands", "n_valid").as[(Long, Int, Int)].collect()
    out.foreach { case (id, nc, nv) =>
      // candidates = maximal digit runs of length exactly 16: the spliced
      // per-doc card, plus the known-valid alt card on every 3rd doc; the
      // spliced 17-digit tracking run must NEVER surface as a candidate
      val wantCands = if (id % 3 == 0) 2 else 1
      assert(nc == wantCands, s"doc $id: $nc candidates, want $wantCands " +
        "(17-digit tracking run leaked in, or a candidate was missed)")
      // each candidate validated independently — on an odd doc (invalid
      // first card) the alt card must still count as valid
      val wantValid = (if (id % 2 == 0) 1 else 0) + (if (id % 3 == 0) 1 else 0)
      assert(nv == wantValid, s"doc $id: $nv valid, want $wantValid " +
        "(per-candidate Luhn gating broken)")
    }
  }

  test("budget mix fills each stratum's token budget and never overshoots early") {
    val out = Pipeline.queries("corpus_mix")(spark, sf001)
      .select(col("lang"), col("n_tok"), col("cum_tok"))
      .as[(String, Int, Long)].collect()
    // kept rows all started under budget
    assert(out.forall { case (_, n, cum) => cum - n < 3000 })
    val totalByLang = Tables.documents(spark, sf001)
      .withColumn("n", size(split(col("text"), " ")))
      .groupBy("lang").agg(sum("n").as("t")).as[(String, Long)].collect().toMap
    val reached = out.groupBy(_._1).map { case (l, rows) => l -> rows.map(_._3).max }
    // each stratum either reaches the budget or ran out of documents
    reached.foreach { case (l, maxCum) =>
      assert(maxCum >= 3000L || maxCum == totalByLang(l),
        s"stratum $l stopped at $maxCum of ${totalByLang(l)} tokens")
    }
  }

  test("int8 quantization: codes bounded, error bounded by scale/2") {
    val q = graft.api.Embeddings.quantizeInt8(
      Tables.embeddings(spark, sf001), "vec_id", "embedding")
    val bad = q.filter(
      expr("exists(q, c -> abs(c) > 127)") ||
        col("max_err") > col("scale") * 0.5 + lit(1e-12))
    assert(bad.count() == 0)
    assert(q.count() == Tables.embeddings(spark, sf001).count())
  }

  test("dedup_exact is idempotent and survivors are minimal doc_ids") {
    val out = Pipeline.queries("dedup_exact")(spark, sf001)
    val n = out.count()
    assert(n > 0 && n <= Tables.documents(spark, sf001).count())
    // survivors are min-per-hash: re-running dedup over survivors changes nothing
    val hashes = out.select("h").distinct().count()
    assert(hashes == n, "one survivor per distinct content hash")
  }

  test("simhash survivors: proper nonempty subset on a near-dup corpus") {
    val survivors = Pipeline.queries("dedup_simhash")(spark, sf001)
      .as[Long].collect().toSet
    val all = Tables.documents(spark, sf001).select("doc_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.subsetOf(all))
    assert(survivors.size < all.size,
      "expected simhash to drop near-dups on a 41%-near-dup corpus")
  }

  test("piiRedact scrubs every planted email/phone and is idempotent") {
    val out = Pipeline.queries("text_pii_redact")(spark, sf001)
    val n = Tables.documents(spark, sf001).count()
    // every doc had exactly one planted email and one planted phone
    assert(out.filter(col("n_emails") === 1 && col("n_phones") === 1).count() == n,
      "each doc plants exactly one email + one phone")
    // nothing PII-shaped survives, so a second pass redacts nothing
    val again = graft.api.TextOps.piiRedact(out, "redacted")
    assert(again.filter(col("n_emails") > 0 || col("n_phones") > 0).count() == 0,
      "piiRedact must be idempotent")
    assert(out.filter(col("redacted").contains("<EMAIL>") &&
      col("redacted").contains("<PHONE>")).count() == n)
  }

  test("lmScore: probable sequences outrank improbable ones; bigram counts line up") {
    // corpus: 8 copies of a repeated phrase + 1 scrambled-unique doc —
    // the repeated bigrams are high-probability under the corpus's own
    // model, the unique doc's bigrams are all unseen-but-smoothed
    val docs = ((1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "zq xv wk jm pq rn")).toDF("doc_id", "text")
    val out = graft.api.TextOps.lmScore(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 9)
    assert(out.values.forall(_._2 < 0), "log-probs must be negative")
    assert(out(1L)._1 == 5 && out(9L)._1 == 5, "n_bigrams = n_tok - 1")
    assert(out(1L)._2 > out(9L)._2,
      s"repeated phrase must outscore scrambled uniques: ${out(1L)} vs ${out(9L)}")
    // full-corpus run drops only sub-2-token docs
    val n = Tables.documents(spark, sf001)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(Pipeline.queries("text_lm_score")(spark, sf001).count() == n)
  }

  test("corpus_shard partitions the corpus: every doc in exactly one shard") {
    val out = Pipeline.queries("corpus_shard")(spark, sf001)
    val docs = Tables.documents(spark, sf001)
    val stats = out.agg(sum("n_docs"), min("shard_id"), max("shard_id"))
      .as[(Long, Long, Long)].head()
    assert(stats._1 == docs.count(), "shard doc counts must sum to the corpus")
    assert(stats._2 >= 0 && stats._3 <= 15, "shard ids in [0, 16)")
    // content-keyed: the same text always routes to the same shard, so a
    // re-shard of a shuffled corpus yields the identical histogram
    val reshard = Pipeline.queries("corpus_shard")(spark, sf001)
    assert(reshard.collect().toSeq == out.collect().toSeq)
  }

  test("ts_fill_forward: dense hourly grid, no unfilled values, observed hours kept") {
    val out = graft.queries.EventTime.queries("ts_fill_forward")(spark, sf001)
    out.cache()
    try {
      // forward fill starts at each user's first event hour → never null
      assert(out.filter(col("value_ff").isNull).count() == 0)
      // the grid is dense: per user, rows == span hours (inclusive)
      val ev = Tables.events(spark, sf001).filter(col("user_id") < 50)
      val spans = ev.groupBy("user_id")
        .agg(((unix_timestamp(date_trunc("hour", max(col("ts")))) -
          unix_timestamp(date_trunc("hour", min(col("ts"))))) / 3600 + 1).as("hrs"))
        .agg(sum("hrs")).as[Double].head()
      assert(out.count() == spans.toLong, s"grid rows ${out.count()} != span sum $spans")
      // hours with observations carry an observed value (n_obs > 0 rows
      // must equal the hourly distinct (user, hour) count of raw events)
      val observedHours = ev.select(col("user_id"), date_trunc("hour", col("ts"))).distinct().count()
      assert(out.filter(col("n_obs") > 0).count() == observedHours)
    } finally out.unpersist()
  }

  test("ts_scd2_intervals: versions tile the timeline; as-of lookup returns each row's own type") {
    val scd = graft.queries.EventTime.queries("ts_scd2_intervals")(spark, sf001)
    scd.cache()
    try {
      val ev = Tables.events(spark, sf001).filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // tiling: per user, exactly one NULL valid_to (the current
      // version), every other interval closes at the NEXT version's
      // start, versions are 1..n consecutive
      val users = ev.select("user_id").distinct().count()
      assert(scd.filter(col("valid_to").isNull).count() == users,
        "each user must have exactly one open (current) version")
      assert(scd.filter(col("valid_to").isNotNull &&
          col("valid_to") <= col("valid_from")).count() == 0,
        "closed intervals must have positive width")
      // consecutive same-type versions would mean the change marker
      // failed: adjacent versions always differ in type
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("version"))
      assert(scd.withColumn("prev_t", lag(col("event_type"), 1).over(wv))
          .filter(col("prev_t") === col("event_type")).count() == 0,
        "adjacent versions must change type (runs were not collapsed)")
      // the SCD2 contract itself: an as-of interval lookup on any
      // event returns that event's own type (valid_from <= ts < valid_to)
      val joined = ev.as("e").join(scd.as("v"),
        col("e.user_id") === col("v.user_id") &&
          col("e.ts") >= col("v.valid_from") &&
          (col("v.valid_to").isNull || col("e.ts") < col("v.valid_to")))
      // boundary rows (an event AT a version flip instant) can match
      // the closing version too when ties in ts carry both types; the
      // fixture's (ts, event_id) order makes flips within a timestamp
      // possible, so assert on the containment direction that is
      // always true: every event finds at least one interval of its
      // own type, and n_events sums back to the event count
      val misses = joined.filter(col("e.event_type") === col("v.event_type"))
        .select("e.event_id").distinct().count()
      assert(misses == ev.count(),
        s"every event must fall inside an interval of its own type: " +
          s"$misses of ${ev.count()}")
      assert(scd.agg(sum("n_events")).as[Long].head() == ev.count(),
        "version row counts must partition the events")
    } finally scd.unpersist()
  }

  test("ts_interp_linear: bracketing interpolation, edge hold, all-null user") {
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(1704067200000L + m * 60000L)
    // user 1: obs 10.0 @ t10, 20.0 @ t50; probes at the quarter points
    // plus edge rows outside the bracket; user 2: no observation
    val rows = Seq(
      (1L, t(0), 1L, "view", 7.0),       // before first obs -> hold 10
      (2L, t(10), 1L, "purchase", 10.0), // observed
      (3L, t(20), 1L, "view", 3.0),      // 1/4 of the span -> 12.5
      (4L, t(40), 1L, "click", 3.0),     // 3/4 -> 17.5
      (5L, t(50), 1L, "purchase", 20.0), // observed
      (6L, t(60), 1L, "view", 9.0),      // after last obs -> hold 20
      (7L, t(0), 2L, "view", 5.0))       // no obs anywhere -> null
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.createOrReplaceTempView("ts_interp_fixture")
    val ev = spark.table("ts_interp_fixture")
    // replicate the key's body on the fixture (the declared key reads
    // the events table; semantics pinned here, oracle pinned by t2)
    val out = graft.queries.EventTime.interpLinear(ev)
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("v_interp")).map(_.doubleValue)).toMap
    assert(out(1L).contains(10.0) && out(2L).contains(10.0))
    assert(out(3L).contains(12.5) && out(4L).contains(17.5))
    assert(out(5L).contains(20.0) && out(6L).contains(20.0))
    assert(out(7L).isEmpty, s"user with no observation must stay null: $out")
  }

  /** The declared ts_ewma/ts_anomaly window order is (ts, event_id) —
    * replay the same per-user order from the source table. */
  private def orderedCents(): Map[Long, Seq[(Long, Long)]] =
    graft.Tables.events(spark, sf001).filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")),
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2._2, t._3)).toSeq).toMap

  test("ts_ewma: matches a scalar replay of the truncated integer fold") {
    val got = SparkEntry.queries("ts_ewma")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        r.getAs[Double]("ewma")).toMap
    orderedCents().foreach { case (u, rows) =>
      val cents = rows.map(_._2)
      // scalar reference: weights 2^0 (oldest in window) .. 2^(m-1) (current)
      rows.zipWithIndex.foreach { case ((eid, _), i) =>
        val wnd = cents.slice(math.max(0, i - 7), i + 1)
        val m = wnd.length
        val num = wnd.zipWithIndex.map { case (c, j) => c << j }.sum
        val expect = (num / ((1L << m) - 1)) / 100.0
        assert(got((u, eid)) == expect,
          s"user $u event $eid: got ${got((u, eid))} want $expect")
        if (i == 0) assert(expect == cents.head / 100.0, "first row holds its value")
      }
    }
  }

  test("ts_anomaly: integer predicate == float z-score; cold start unflagged") {
    val got = SparkEntry.queries("ts_anomaly")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("n"), r.getAs[Boolean]("is_anomaly"))).toMap
    assert(got.valuesIterator.exists(_._2), "fixture should contain at least one anomaly")
    got.valuesIterator.filter(_._1 < 8).foreach { case (n, flag) =>
      assert(!flag, s"cold-start row (n=$n) must be unflagged")
    }
    // replay: flag iff |x - mean| > 2*sigma over the same 16-row window
    orderedCents().foreach { case (u, rows) =>
      val cents = rows.map(_._2)
      rows.zipWithIndex.foreach { case ((eid, _), i) =>
        val wnd = cents.slice(math.max(0, i - 15), i + 1).map(_.toDouble)
        val n = wnd.length
        val mean = wnd.sum / n
        val varr = wnd.map(x => (x - mean) * (x - mean)).sum / n
        val z2 = if (varr == 0) Double.PositiveInfinity
          else (cents(i) - mean) * (cents(i) - mean) / varr
        val expect = n >= 8 && z2 > 4.0 + 1e-9
        // the integer predicate is exact; the float replay could only
        // disagree within 1e-9 of the boundary, which the fixture avoids
        assert(got((u, eid))._2 == expect,
          s"user $u row $i: got ${got((u, eid))._2}, z2=$z2 n=$n")
      }
    }
  }

  test("kcore onion: layers match the synchronous peel; partition-invariant") {
    import graft.api.Graphs
    // path 1-2-3-4-5 + triangle 5-6-7: under k=2 the path peels one
    // node per round (1, then 2, then 3, then 4) while the triangle
    // (and 5) hold degree 2 — the multi-round cascade a plain degree
    // threshold cannot see
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L))
    val want = Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4,
      5L -> 0, 6L -> 0, 7L -> 0)
    for (parts <- Seq(1, 7)) {
      val df = edges.toDF("s", "t").repartition(parts)
      val (onion, round) = Graphs.kcoreWithRound(df, "s", "t", k = 2,
        blockSize = 3)
      val got = onion.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"parts=$parts: got $got")
      assert(round == 4, s"the cascade's deepest layer is exactly 4: $round")
    }
    // core soundness: every layer-0 node keeps >= k neighbors in layer 0
    val (onion, _) = Graphs.kcoreWithRound(edges.toDF("s", "t"), "s", "t", k = 2)
    val layer0 = onion.filter(col("layer") === 0).collect().map(_.getLong(0)).toSet
    val sym = edges ++ edges.map(e => (e._2, e._1))
    layer0.foreach { v =>
      val n = sym.count { case (s, t) => s == v && layer0(t) }
      assert(n >= 2, s"core member $v has only $n core neighbors")
    }
    // budget edge: a cascade whose deepest layer lands exactly on
    // maxIters has converged (the post-loop boundary probe certifies
    // it); one round less is a loud failure
    val (atBudget, budgetRound) = Graphs.kcoreWithRound(edges.toDF("s", "t"),
      "s", "t", k = 2, maxIters = 4)
    assert(atBudget.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == want)
    assert(budgetRound == 4)
    intercept[IllegalStateException](Graphs.kcoreWithRound(edges.toDF("s", "t"),
      "s", "t", k = 2, maxIters = 3))
  }

  test("fixpoint loop settings stay on a private session, never the caller's") {
    import graft.api.{Fixpoint, Graphs}
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    def settings(): (String, String) = (spark.conf.get(aqe), spark.conf.get(parts))
    val before = settings()
    // read the caller's settings from inside every round and probe
    val seen = scala.collection.mutable.Buffer.empty[(String, String)]
    val (fx, in) = Fixpoint.over(spark.range(10).toDF())
    assert(in.rows == 10L)
    val res = fx.run(spark.range(4).toDF(), maxIters = 3)((s, _) => {
      seen += settings()
      s.select((col("id") + 1).as("id"))
    }, _ => Seq(count(lit(1))))((_, b, _) => {
      seen += settings()
      // the probe is evaluated by the block's own job
      assert(b.rows == 4L && b.probes.getLong(0) == 4L)
      false
    })
    assert(seen.size == 6 && seen.forall(_ == before),
      s"the caller's settings changed inside the loop: $seen (before $before)")
    assert(!res.converged && res.rounds == 3)
    assert(res.state.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L))
    // the loop's own materialization ran under the loop settings...
    assert(res.state.sparkSession.conf.get(aqe) == "false")
    assert(res.state.sparkSession.conf.get(parts) == "1")
    // ...and what a loop hands back is the caller's
    assert(fx.back(res.state).sparkSession eq spark)
    // the same through a public loop, with the caller's settings read
    // from another thread for as long as the loop runs
    val rnd = new scala.util.Random(7)
    val edges = (for (a <- 0 until 20; b <- 0 until 20 if a != b && rnd.nextInt(100) < 15)
      yield (a.toLong, b.toLong)).toDF("src", "dst")
    val nodes = spark.range(20).select(col("id").as("nid"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val loop = Future(Graphs.pagerankConvergedWithRound(nodes, "nid", edges,
      "src", "dst", blockSize = 1))(ExecutionContext.global)
    val during = scala.collection.mutable.Set.empty[(String, String)]
    while (!loop.isCompleted) { during += settings(); Thread.sleep(1) }
    val (ranks, _) = Await.result(loop, 5.minutes)
    assert(during.forall(_ == before),
      s"a concurrent reader saw the loop settings: $during (before $before)")
    assert(ranks.sparkSession eq spark)
    assert(settings() == before)
  }

  test("fixpoint: one Spark job per round, the probe inside it") {
    import graft.api.Dedup
    // a path 0-1-...-7 plus two singletons: min-label propagation moves
    // the label 0 one hop a round for 3 rounds, round 4's pointer jump
    // finishes the path and round 5 changes nothing — 5 rounds
    val pairs = (0L until 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = spark.range(10).select(col("id").as("doc_id"))
    // the caller's AQE makes a job of every exchange of the input's
    // query, and with AQE off (the loop setting) every broadcast join is
    // a job of its own; with both off only the loop's own jobs are left
    val off = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = off.map { case (k, _) => k -> spark.conf.get(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    val (cl, jobs) = try jobsDuring(Dedup.clusters(nodes, "doc_id", pairs))
      finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    // one job materializes and counts the edges, then one per round
    assert(jobs == 1 + 5, s"clusters built with $jobs jobs")
    assert(cl.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      ((0L to 7L).map(i => (i, 0L, 8L)) ++ Seq((8L, 8L, 1L), (9L, 9L, 1L))).toSet)
  }

  test("fixpoint: a block plans each in-block round once; superseded blocks are released") {
    import graft.api.Fixpoint
    val sc = spark.sparkContext
    // the round reads its state twice: a block chained as one lazy plan
    // holds 2^blockSize copies of its seed
    def loop(rounds: Int, blockSize: Int): (Seq[org.apache.spark.sql.DataFrame], Int) = {
      val before = sc.getPersistentRDDs.keySet
      val (fx, in) = Fixpoint.over(spark.range(8).toDF())
      val planned = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
      val res = fx.run(in.state, rounds, blockSize)((s, _) => {
        planned += s.union(s).distinct()
        planned.last
      })((_, b, _) => { assert(b.rows == 8L); false })
      assert(res.rounds == rounds)
      assert(res.state.collect().map(_.getLong(0)).sorted.toSeq == (0L until 8L))
      (planned.toSeq, (sc.getPersistentRDDs.keySet -- before).size)
    }
    val (planned, kept) = loop(rounds = 6, blockSize = 6)
    val leaves = planned.map(_.queryExecution.analyzed.collectLeaves().size)
    assert(leaves.sum <= 2 * 6, s"leaves planned per round: $leaves")
    // what stays stored after a loop: its input and the state it returns,
    // however many blocks ran
    assert(kept == 2, s"$kept frames left stored")
    assert(loop(rounds = 12, blockSize = 2)._2 == 2)
  }

  test("pagerank: integer fixed-point equals a local reference; partition-invariant") {
    import graft.api.Graphs
    val scale = 1000000000000L
    // random 24-node directed graph, fixed seed
    val rnd = new scala.util.Random(20260816L)
    val n = 24
    val edges = (for {
      s <- 0 until n; d <- 0 until n
      if s != d && rnd.nextInt(100) < 12
    } yield (s.toLong, d.toLong)).distinct
    val nodesDf = spark.range(n).select(col("id").as("nid"))
    val edgesDf = edges.toDF("src", "dst")
    val got = Graphs.pagerank(nodesDf, "nid", edgesDf, "src", "dst",
        iters = 8, scale = scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local reference: the same integer recurrence, scalar-evaluated
    val outd = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val r0 = scale / n
    val base = (15L * r0) / 100L
    var ranks = (0 until n).map(i => i.toLong -> r0).toMap
    for (_ <- 1 to 8) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ranks(s) / outd(s) }.sum).toMap
      ranks = (0 until n).map(i =>
        i.toLong -> (base + (85L * in.getOrElse(i.toLong, 0L)) / 100L)).toMap
    }
    assert(got == ranks, s"engine != scalar reference")
    // mass never exceeds the scale (floors + dropped dangling only lose)
    assert(got.values.sum <= scale)
    // integer arithmetic is partition-order independent
    val got2 = Graphs.pagerank(nodesDf.repartition(7), "nid",
        edgesDf.repartition(5), "src", "dst", iters = 8, scale = scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("pagerank dangling redistribution: scalar reference, mass conservation, opt-in only") {
    import graft.api.Graphs
    val scale = 1000000000000L
    // a chain-with-sinks graph: nodes 20..23 have NO out-edges, so a
    // quarter of the mass goes dangling every round without
    // redistribution
    val rnd = new scala.util.Random(20260816L)
    val n = 24
    val edges = (for {
      s <- 0 until 20; d <- 0 until n
      if s != d && rnd.nextInt(100) < 15
    } yield (s.toLong, d.toLong)).distinct
    val nodesDf = spark.range(n).select(col("id").as("nid"))
    val edgesDf = edges.toDF("src", "dst")
    val iters = 8
    val got = Graphs.pagerank(nodesDf, "nid", edgesDf, "src", "dst",
        iters = iters, scale = scale, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scalar reference: the same integer recurrence + the damped
    // uniform dangling share (85 * D) / (100 * n), every division a
    // floor
    val outd = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val r0 = scale / n
    val base = (15L * r0) / 100L
    var ranks = (0 until n).map(i => i.toLong -> r0).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ranks(s) / outd(s) }.sum).toMap
      val dsum = (0 until n).map(_.toLong)
        .filterNot(outd.contains).map(ranks).sum
      val share = (85L * dsum) / (100L * n)
      ranks = (0 until n).map(i =>
        i.toLong -> (base + (85L * in.getOrElse(i.toLong, 0L)) / 100L
          + share)).toMap
    }
    assert(got == ranks, "engine != scalar dangling reference")
    // MASS CONSERVATION (the property the default variant documents
    // away): total rank stays within the per-round floor budget of the
    // scale — each round floors once per edge-source, once per node on
    // the damping, once per node on the dangling share
    val floorBudget = iters.toLong * (edges.size + 2L * n) + 2L * n
    val total = got.values.sum
    assert(total <= scale, s"mass must never exceed scale: $total")
    assert(total >= scale - floorBudget,
      s"redistributed mass must conserve within floor loss: $total vs $scale")
    // ... while the DEFAULT drops the dangling mass (the documented
    // centrality-score stance): strictly less total, same node set
    val defTotal = Graphs.pagerank(nodesDf, "nid", edgesDf, "src", "dst",
        iters = iters, scale = scale)
      .collect().map(_.getLong(1)).sum
    assert(defTotal < total - scale / 100,
      s"the default must visibly drop dangling mass: $defTotal vs $total")
    // integer arithmetic stays partition-order independent
    val got2 = Graphs.pagerank(nodesDf.repartition(7), "nid",
        edgesDf.repartition(5), "src", "dst", iters = iters, scale = scale,
        redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("triangleCounts: exact per-node counts equal brute force; partition-invariant") {
    import graft.api.Graphs
    val rnd = new scala.util.Random(20260818L)
    val n = 20
    val edges = (for {
      s <- 0 until n; d <- 0 until n
      if s != d && rnd.nextInt(100) < 18
    } yield (s.toLong, d.toLong)).distinct
    val nodesDf = spark.range(n).select(col("id").as("nid"))
    val edgesDf = edges.toDF("src", "dst")
    val got = Graphs.triangleCounts(nodesDf, "nid", edgesDf, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over the canonical undirected edge set
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).toSet
    val tri = for {
      a <- 0L until n.toLong; b <- a + 1 to n.toLong - 1; c <- b + 1 to n.toLong - 1
      if und((a, b)) && und((b, c)) && und((a, c))
    } yield (a, b, c)
    val ref = (0L until n.toLong).map(i =>
      i -> tri.count(t => t._1 == i || t._2 == i || t._3 == i).toLong).toMap
    assert(got == ref, s"engine $got != brute force $ref")
    assert(tri.nonEmpty, "fixture must contain triangles")
    // integer counts are partition-order independent
    val got2 = Graphs.triangleCounts(nodesDf.repartition(7), "nid",
        edgesDf.repartition(5), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("pagerankConverged: Kleene least fixpoint equals the scalar bottom iteration") {
    import graft.api.Graphs
    val scale = 1000000L
    val rnd = new scala.util.Random(20260816L)
    val n = 24
    val edges = (for {
      s <- 0 until n; d <- 0 until n
      if s != d && rnd.nextInt(100) < 12
    } yield (s.toLong, d.toLong)).distinct
    val nodesDf = spark.range(n).select(col("id").as("nid"))
    val edgesDf = edges.toDF("src", "dst")
    val (ranksDf, round) = Graphs.pagerankConvergedWithRound(
      nodesDf, "nid", edgesDf, "src", "dst", scale = scale)
    val got = ranksDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scalar reference: the same bottom-seeded monotone iteration to
    // ITS fixpoint — both must land on the unique least fixpoint
    val outd = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (15L * (scale / n)) / 100L
    var ranks = (0 until n).map(i => i.toLong -> base).toMap
    var refRound = 0
    var done = false
    while (!done) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ranks(s) / outd(s) }.sum).toMap
      val next = (0 until n).map(i =>
        i.toLong -> (base + (85L * in.getOrElse(i.toLong, 0L)) / 100L)).toMap
      refRound += 1
      if (next == ranks) done = true else ranks = next
      assert(refRound <= 256, "scalar reference failed to converge")
    }
    assert(got == ranks, "engine fixpoint != scalar least fixpoint")
    // the engine reports a certified upper bound within blockSize-1
    // (= 3) of the exact first-flat round (block-batched checking;
    // monotonicity makes the block certificate exact)
    assert(round >= refRound && round <= refRound + 3,
      s"engine round bound $round outside [$refRound, ${refRound + 3}]")
    // the fixpoint verifies: applying the update once more is identity
    val in1 = edges.groupBy(_._2).view.mapValues(
      _.map { case (s, _) => ranks(s) / outd(s) }.sum).toMap
    val once = (0 until n).map(i =>
      i.toLong -> (base + (85L * in1.getOrElse(i.toLong, 0L)) / 100L)).toMap
    assert(once == ranks, "F(fixpoint) != fixpoint")
    // a budget below the first flat round is a loud failure
    val short = intercept[IllegalStateException](Graphs.pagerankConvergedWithRound(
      nodesDf, "nid", edgesDf, "src", "dst", maxIters = refRound - 1, scale = scale))
    assert(short.getMessage.contains("no integer fixpoint"), short.getMessage)
  }

  test("sssp: BFS levels equal a scalar reference; closure and round certified") {
    import graft.api.Graphs
    val rnd = new scala.util.Random(20260817L)
    val n = 40
    val edges = (for {
      s <- 0 until n; d <- 0 until n
      if s != d && rnd.nextInt(100) < 6
    } yield (s.toLong, d.toLong)).distinct
    val seeds = Seq(0L, 17L)
    val seedsDf = seeds.toDF("nid")
    val edgesDf = edges.toDF("src", "dst")
    val (distDf, round) = Graphs.ssspWithRound(
      seedsDf, "nid", edgesDf, "src", "dst", blockSize = 3)
    val got = distDf.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // scalar reference: textbook multi-source BFS
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var ref = seeds.map(_ -> 0).toMap
    var frontier = seeds
    var level = 0
    while (frontier.nonEmpty) {
      level += 1
      val next = frontier.flatMap(u => adj.getOrElse(u, Seq.empty))
        .distinct.filterNot(ref.contains)
      next.foreach(v => ref += v -> level)
      frontier = next
    }
    assert(got == ref, s"engine BFS levels != scalar reference")
    // unreached nodes emit no row, and the reached set is CLOSED:
    // no edge leaves it (otherwise the frontier was not a fixpoint)
    val reached = got.keySet
    assert(!edges.exists { case (s, d) => reached(s) && !reached(d) },
      "an edge escapes the reached set — the fixpoint is not least")
    // certified round: an upper bound within blockSize-1 of the exact
    // frontier-emptying round (= eccentricity + 1)
    assert(round >= level && round <= level + 2,
      s"round bound $round outside [$level, ${level + 2}]")
    // partition invariance: a different input layout lands bit-equal
    val got2 = Graphs.ssspWithRound(seedsDf.repartition(5), "nid",
      edgesDf.repartition(7), "src", "dst", blockSize = 3)._1
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 == got, "sssp is partitioning-dependent")
    // a budget below the frontier-emptying round is a loud failure
    intercept[IllegalStateException](Graphs.ssspWithRound(seedsDf, "nid",
      edgesDf, "src", "dst", maxIters = level - 1, blockSize = 3))
  }

  test("ssspWeighted: Bellman-Ford fixpoint equals a scalar reference; improvement after discovery") {
    import graft.api.Graphs
    val rnd = new scala.util.Random(20260818L)
    val n = 36
    // weights 1..3 — small enough that long cheap paths beat short
    // expensive ones, forcing post-discovery improvements
    val edges = (for {
      s <- 0 until n; d <- 0 until n
      if s != d && rnd.nextInt(100) < 8
    } yield (s.toLong, d.toLong, 1 + (s + d) % 3)).distinct
    val seeds = Seq(0L, 11L)
    val (distDf, round) = Graphs.ssspWeightedWithRound(
      seeds.toDF("nid"), "nid", edges.toDF("src", "dst", "w"),
      "src", "dst", "w", blockSize = 3)
    val got = distDf.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // scalar reference: textbook Bellman-Ford to fixpoint
    var ref = seeds.map(_ -> 0).toMap
    var changed = true
    var rounds = 0
    while (changed) {
      changed = false
      rounds += 1
      assert(rounds <= n + 2, "scalar Bellman-Ford failed to settle")
      edges.foreach { case (s, d, w) =>
        ref.get(s).foreach { ds =>
          if (ref.get(d).forall(_ > ds + w)) { ref += d -> (ds + w); changed = true }
        }
      }
    }
    assert(got == ref, "engine fixpoint != scalar Bellman-Ford")
    // the fixpoint verifies: no edge can relax further (least fixpoint)
    assert(!edges.exists { case (s, d, w) =>
        ref.contains(s) && ref.get(d).forall(_ > ref(s) + w) },
      "a relaxable edge remains — not a fixpoint")
    // the weighted semiring genuinely differs from BFS here: some
    // node's weighted-shortest distance must disagree with hop count
    val (bfsDf, _) = Graphs.ssspWithRound(
      seeds.toDF("nid"), "nid",
      edges.map(e => (e._1, e._2)).toDF("src", "dst"), "src", "dst")
    val bfs = bfsDf.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == bfs.keySet, "reachability must agree across semirings")
    assert(got.exists { case (id, dv) => bfs(id) != dv },
      "fixture too small: weighted distances all equal hop counts")
    // round stays within the certified band of the scalar settling
    assert(round <= rounds + 3, s"round bound $round vs scalar $rounds")
    // a budget below the emptying round is a loud failure: the certified
    // round is within blockSize - 1 of it, so round - blockSize is below
    intercept[IllegalStateException](Graphs.ssspWeightedWithRound(
      seeds.toDF("nid"), "nid", edges.toDF("src", "dst", "w"),
      "src", "dst", "w", maxIters = round - 3, blockSize = 3))
  }

  test("repetition signals: exact fractions on a hand-built doc") {
    val df = Seq((1L, "a a a b"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = graft.api.TextOps.repetition(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: 4 tokens {a,b} -> dup (4-2)/4, top token a=3/4, bigrams
    // [a a, a a, a b] -> top 2/3
    assert(out(0).getAs[Int]("n_tok") == 4)
    assert(out(0).getAs[Double]("dup_tok_frac") == 0.5)
    assert(out(0).getAs[Double]("top_tok_frac") == 0.75)
    assert(math.abs(out(0).getAs[Double]("top_bigram_frac") - 2.0 / 3) < 1e-12)
    // doc 2: all unique -> dup 0, every token/bigram appears once
    assert(out(1).getAs[Double]("dup_tok_frac") == 0.0)
    assert(out(1).getAs[Double]("top_tok_frac") == 0.25)
    assert(math.abs(out(1).getAs[Double]("top_bigram_frac") - 1.0 / 3) < 1e-12)
  }

  test("bm25: the rare term dominates, per-term scores sum to the total") {
    val out = Pipeline.queries("text_bm25")(spark, sf001)
    out.cache()
    try {
      val docs = Tables.documents(spark, sf001)
        .select(col("doc_id"), array_contains(split(col("text"), " "), "dup").as("has_dup"))
      val j = out.join(docs, "doc_id")
      // s_dup > 0 exactly for docs containing the term
      assert(j.filter(col("has_dup") =!= (col("s_dup") > 0)).count() == 0)
      // rare-term docs outscore every no-dup doc (idf dominance)
      val minWith = j.filter(col("has_dup")).agg(min("score")).as[Double].head()
      val maxWithout = j.filter(!col("has_dup")).agg(max("score")).as[Double].head()
      assert(minWith > maxWithout,
        s"rare-term min $minWith must exceed common-only max $maxWithout")
      // the total is the fixed-order sum of the parts (within rounding)
      assert(out.filter(abs(col("s_dup") + col("s_vector") + col("s_window") -
        col("score")) > 0.0002).count() == 0)
    } finally out.unpersist()
  }

  test("quality gate: mask decomposes into bits, keep == all rules pass") {
    val out = Pipeline.queries("quality_gate")(spark, sf001)
    out.cache()
    try {
      assert(out.filter(col("fail_mask") =!=
        ((lit(1) - col("r_len")) * 1 + (lit(1) - col("r_stop")) * 2 +
          (lit(1) - col("r_alpha")) * 4 + (lit(1) - col("r_rep")) * 8)).count() == 0)
      assert(out.filter((col("keep") === 1) =!= (col("fail_mask") === 0)).count() == 0)
      // the gate is non-trivial on the fixture: both outcomes occur
      assert(out.filter(col("keep") === 1).count() > 0)
      assert(out.filter(col("keep") === 0).count() > 0)
    } finally out.unpersist()
  }

  test("chunk share: fractions bounded on the fixture; dup/unique invariants exact") {
    val out = Pipeline.queries("text_chunk_share")(spark, sf001)
    assert(out.filter(col("share_frac") < 0 || col("share_frac") > 1).count() == 0)
    assert(out.filter(col("n_shared") > col("n_chunks")).count() == 0)
    // synthetic corpus: docs 1/2 byte-identical (share 100%), doc 3
    // copies only doc 1's FIRST 10-token chunk (shares 1 of 2), doc 4
    // disjoint (shares 0)
    val c1 = (1 to 10).map(i => s"a$i").mkString(" ")
    val c2 = (1 to 10).map(i => s"b$i").mkString(" ")
    val c3 = (1 to 10).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, s"$c1 $c2"), (2L, s"$c1 $c2"), (3L, s"$c1 $c3"),
      (4L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val byDoc = graft.api.TextOps.chunkShare(df, "doc_id", "text")
      .select(col("doc_id"), col("share_frac")).as[(Long, Double)].collect().toMap
    assert(byDoc(1L) == 1.0 && byDoc(2L) == 1.0,
      s"exact duplicates must share all chunks: $byDoc")
    assert(byDoc(3L) == 0.5, s"partial copy must share half: $byDoc")
    assert(byDoc(4L) == 0.0, s"disjoint doc must share nothing: $byDoc")
  }

  test("corpus interleave: unique positions, strict round-robin residues") {
    val out = Pipeline.queries("corpus_interleave")(spark, sf001)
    out.cache()
    try {
      val n = out.count()
      assert(out.select("pos").distinct().count() == n, "positions must be unique")
      // every language owns a fixed residue class mod n_langs
      val nl = out.select("lang").distinct().count()
      val residues = out.select(col("lang"), pmod(col("pos"), lit(nl)).as("r"))
        .distinct().groupBy("lang").count().as[(String, Long)].collect()
      assert(residues.forall(_._2 == 1),
        s"each lang must map to exactly one residue: ${residues.toSeq}")
      // the first n_langs positions are one doc from each language
      val head = out.orderBy("pos").limit(nl.toInt)
        .select("lang").distinct().count()
      assert(head == nl, "the first cycle must contain every language once")
    } finally out.unpersist()
  }

  test("corpus split: partitions the corpus 80/10/10-ish, reproducible") {
    val out = Pipeline.queries("corpus_split")(spark, sf001)
    val docs = Tables.documents(spark, sf001).count()
    val bySplit = out.groupBy("split").agg(sum("n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    assert(bySplit.values.sum == docs, "splits must partition the corpus")
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
    assert(out.collect().toSeq == Pipeline.queries("corpus_split")(spark, sf001).collect().toSeq)
  }

  test("BPE: deterministic training, lossless greedy encoding") {
    import graft.api.{Bpe, BpeMerge}
    val docs = Tables.documents(spark, sf001)
    val merges = Bpe.train(docs, "text", 8)
    assert(merges.size === 8)
    assert(merges.map(_.rank) === (0 until 8))
    assert(merges.forall(_.cnt > 0))
    // retraining is bit-identical (exact integer counts, fixed ties)
    assert(Bpe.train(docs, "text", 8) === merges)
    // losslessness: the BPE tokens of every corpus word concatenate
    // back to the word (merges only fuse, never drop or alter chars)
    val bad = Bpe.wordFreq(docs, "text")
      .select(col("word"),
        concat_ws("", Bpe.encodeWord(col("word"), merges)).as("back"))
      .filter(col("word") =!= col("back")).count()
    assert(bad === 0L)
    // greedy left-to-right application: (a,a) over "aaaa" -> [aa, aa],
    // over "aaa" -> [aa, a] (the overlap is NOT re-merged)
    val m = Seq(BpeMerge(0, "a", "a", 1L))
    val enc = Seq("aaaa", "aaa").toDF("word")
      .select(Bpe.encodeWord(col("word"), m).as("t"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(enc === List(List("aa", "aa"), List("aa", "a")))
    // rank order matters: (a,a) then (aa,aa) fuses "aaaa" completely
    val m2 = Seq(BpeMerge(0, "a", "a", 1L), BpeMerge(1, "aa", "aa", 1L))
    val enc2 = Seq("aaaa").toDF("word")
      .select(Bpe.encodeWord(col("word"), m2).as("t"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(enc2 === List(List("aaaa")))
  }

  test("sim_recall_audit agrees with the independent set-intersection recall") {
    val audit = Pipeline.queries("sim_recall_audit")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exact = Pipeline.queries("sim_cosine_topk")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val aprx = Pipeline.queries("sim_ivfadc_rerank")(spark, sf001)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((probe, ex) <- exact)
      assert(audit(("ivfadc_rerank", probe)) ===
        (ex & aprx.getOrElse(probe, Set.empty)).size.toLong, s"probe $probe")
  }
}
