package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines. All pairwise variants are
  * BLOCKED (LSH band buckets / user blocking keys / cluster partitions)
  * and the hash-based ones emit greedy min-id survivors via star
  * reduction — nothing here is quadratic in the corpus, which is the
  * property that survives 100 TB (see scaladocs per function).
  */
object Dedup {

  /** Exact dedup by content hash; one survivor (min id) per hash. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(idCol, "h", "n_dups")

  /** Tokenized view: whitespace tokens + distinct token set + hashed set. */
  private[api] def tokens(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("tk", split(col(textCol), " "))
      .withColumn("toks", array_distinct(col("tk")))
      .withColumn("toksh", expr("transform(toks, t -> xxhash64(t))"))

  /** Shingled view: distinct `n`-token shingles (consecutive tokens
    * joined by a space) as `toks` — Broder's original MinHash domain.
    * On a small-vocabulary corpus, unigram SETS saturate (most long docs
    * share nearly the whole vocabulary: measured 51,432 unigram-Jaccard
    * >= 0.7 "pairs" at sf0.01 vs 25 true edited-copy pairs), while
    * shingles keep word ORDER, so only genuine edited copies collide and
    * the pair-set output stays linear in the corpus. Docs shorter than
    * `n` tokens contribute their whole text as one shingle.
    */
  def shingles(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("tk", split(col(textCol), " "))
      .withColumn("toks", array_distinct(expr(
        s"transform(sequence(1, greatest(size(tk) - ${n - 1}, 1)), i -> concat_ws(' ', slice(tk, i, $n)))")))

  /** Exact `ngram`-shingle-set Jaccard pairs >= `threshold`, via PREFIX
    * FILTERING (the Bayardo/Chaudhuri all-pairs algorithm) — exact output
    * with sub-quadratic candidate generation, unlike a block self-join
    * whose pair count is quadratic in block size.
    *
    * `blockCols` may be EMPTY (global all-pairs — the recommended mode):
    * prefix filtering bounds candidates by shingle rarity, not by a
    * metadata block, and near-dup copies routinely differ in metadata
    * (measured on this corpus: 24 of 25 true edited-copy pairs cross a
    * (lang,source) block boundary, so metadata blocking would lose 96%
    * of them).
    *
    * Tokens get a rare-first total order (document frequency within the
    * block, token as tiebreak). A doc's PREFIX is its first
    * |x| - ceil(t*|x|) + 1 tokens in that order; any pair with
    * J(x,y) >= t must (a) share a prefix token under a common order and
    * (b) satisfy min(|x|,|y|) >= t*max(|x|,|y|) — both classical
    * necessary conditions, so joining prefixes on (block, token) loses no
    * pairs, and the exact-Jaccard verify makes precision 1. Candidate
    * volume is bounded by prefix-token bucket sizes (prefixes hold the
    * RAREST ~30% of each doc's tokens at t=0.7), independent of block
    * size — the property that survives 100 TB. Float guards: the
    * ceil/length thresholds subtract 1e-9 so binary rounding of t*len can
    * only ever LENGTHEN a prefix (more candidates), never drop a true
    * pair.
    *
    * Shingles are carried as their 60-bit md5 prefixes (one fused
    * `Md5PrefixHash` pass, same discipline as `decontaminate_ngram`):
    * the prefix join shuffles 8-byte keys instead of ~20-char strings
    * and verification intersects long arrays — ~2.5x faster end-to-end,
    * measured. md5 is engine-identical, so the (cosmically rare, 2^-60)
    * collisions collide identically in the DuckDB replay and the output
    * stays exactly replayable.
    *
    * The bucket join applies the PPJoin POSITIONAL filter (round 12 —
    * the same upgrade [[containmentPairs]] carries) against the
    * pair-dependent Jaccard overlap requirement
    * `α_ab = ceil(t/(1+t) · (|A|+|B|))` (J >= t ⟺ overlap >= α_ab): a
    * shared shingle at canonical position p in a doc of |d| shingles
    * leaves at most |d| − p + 1 shingles at or after it, so
    * `min(lenA − posA, lenB − posB) + 1 >= α_ab` per occurrence.
    * LOSSLESS by the same argument as containment's: the canonically
    * smallest shared shingle w sits in both prefixes (classical prefix
    * lemma), every shared shingle is canonically >= w — at position >=
    * pos(w) in both docs — so the bound at w's occurrence is >= the
    * true overlap >= α_ab and the pair survives through w's bucket.
    * The filter's teeth are the long×long pairs sharing only common
    * (canonically-late) shingles: their remaining-suffix bound falls
    * short of α_ab and they die before the distinct + verify join.
    * Float guard: α_ab subtracts 1e-9 inside ceil so rounding can only
    * WEAKEN the filter, never drop a true pair.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double,
                   ngram: Int = 3): DataFrame = {
    // Fan-out + one materialization (r17, guide §2.5/§3.3): the shingled
    // md5-prefix table feeds THREE consumers (the prefix-candidate
    // explode and both verify sides) — un-checkpointed, the whole
    // shingle derivation re-ran per consumer, single-task on a
    // single-split scan (measured 2 × 3.3 s at sf0.1).
    val t = shingles(Scale.fanout(df), textCol, ngram)
      .withColumn("toksh", array_distinct(
        graft.functions.Signatures.md5_prefix(col("toks"), 15)))
      .select(col(idCol) +: (blockCols :+ "toksh").map(col): _*)
      .localCheckpoint()
    val cand = jaccardCandidates(t, idCol, blockCols, threshold,
      positional = true)
    val ta = t.select(col(idCol).as("doc_a"), col("toksh").as("toks_a"))
    val tb = t.select(col(idCol).as("doc_b"), col("toksh").as("toks_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("ninter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jac", col("ninter").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("ninter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Candidate stage of [[jaccardPairs]]: the prefix-bucket join with
    * the length-ratio check and (when `positional`) the PPJoin
    * positional bound against the pair-dependent overlap requirement
    * `α_ab = ceil(t/(1+t) · (lenA+lenB))`. `positional = false` is kept
    * accessible so losslessness AND strict candidate reduction are
    * property-testable against each other (PipelineSpec), not just
    * claimed in prose. */
  private[graft] def jaccardCandidates(t: DataFrame, idCol: String,
                                       blockCols: Seq[String],
                                       threshold: Double,
                                       positional: Boolean): DataFrame = {
    val tok = t.select(col(idCol) +: blockCols.map(col) :+
      size(col("toksh")).as("len") :+ explode(col("toksh")).as("tok"): _*)
    val dfq = tok.groupBy((blockCols :+ "tok").map(col): _*)
      .agg(count(lit(1)).as("tdf"))
    val byRarity = W.partitionBy(col(idCol)).orderBy(col("tdf"), col("tok"))
    val prefix = tok.join(dfq, blockCols :+ "tok")
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <= col("len") - ceil(col("len") * threshold - lit(1e-9)) + 1)
    val pa = prefix.select(col(idCol).as("doc_a") +: blockCols.map(col) :+
      col("tok") :+ col("pos").as("pos_a") :+ col("len").as("len_a"): _*)
    val pb = prefix.select(col(idCol).as("doc_b") +:
      blockCols.map(c => col(c).as(s"${c}_b")) :+
      col("tok").as("tok_b") :+ col("pos").as("pos_b") :+
      col("len").as("len_b"): _*)
    val posBound =
      if (positional)
        least(col("len_a") - col("pos_a"), col("len_b") - col("pos_b")) +
          lit(1) >= ceil(lit(threshold) / (lit(1.0) + lit(threshold)) *
            (col("len_a") + col("len_b")) - lit(1e-9))
      else lit(true)
    val cond = (blockCols.map(c => col(c) === col(s"${c}_b")) :+
      (col("tok") === col("tok_b"))).reduce(_ && _) &&
      col("doc_a") < col("doc_b") &&
      least(col("len_a"), col("len_b")) >=
        greatest(col("len_a"), col("len_b")) * threshold - lit(1e-9) &&
      posBound
    pa.join(pb, cond).select("doc_a", "doc_b").distinct()
  }

  /** Exact CONTAINMENT near-dup pairs: C(A,B) = |shA ∩ shB| /
    * min(|shA|, |shB|) >= `threshold` over `ngram`-shingle sets — the
    * asymmetric cousin of [[jaccardPairs]] that catches a document
    * QUOTED OR EMBEDDED inside a much longer one (Jaccard's union
    * denominator suppresses exactly those pairs: a 30-shingle doc fully
    * contained in a 120-shingle doc has C = 1.0 but J ≈ 0.25).
    *
    * Prefix filtering needs a pair-free overlap bound; containment's
    * t·min(|A|,|B|) has none, so the operator takes a minimum-partner-
    * size floor: docs under `minTokens` shingles are EXCLUDED (the
    * documented contract), making o = ceil(t · minTokens) a sound
    * constant overlap requirement. Each doc's prefix then drops only
    * its o−1 most COMMON shingles (global (tdf, tok) canonical order).
    * Lossless by the standard prefix-filter lemma: with |A∩B| >= o, the
    * canonically-smallest shared shingle cannot sit in either doc's
    * (o−1)-sized common head, so the bucket join sees the pair.
    *
    * Scale shape: same dataflow as [[jaccardPairs]] (60-bit md5 shingle
    * keys, tdf buckets, exact verify). Corpus-wide boilerplate shingles
    * sit in most docs' excluded head so their buckets stay out of the
    * join; long docs keep near-full prefixes (the price of asymmetric
    * semantics), so the bucket join additionally applies the ppjoin
    * POSITIONAL filter against the PAIR-dependent overlap requirement
    * `o_ab = ceil(t · min(|A|,|B|))`: a shared shingle at canonical
    * position p in a doc of |d| shingles leaves at most |d| − p + 1
    * shingles at or after it, so
    * `min(lenA − posA, lenB − posB) + 1 >= o_ab` upper-bounds the
    * pair's overlap per occurrence. The pair-dependent requirement is
    * what gives the filter teeth: against the CONSTANT floor o the
    * check would be vacuous (prefix retention already guarantees
    * `len − pos + 1 >= o` on each side — measured: zero candidates
    * removed), while `o_ab` grows with the pair's shorter doc, so a
    * long×long pair sharing only common tail shingles (corpus
    * boilerplate — exactly the round-6 caveat's candidate mass) is
    * proven short of `o_ab` and dropped before the verify join.
    * LOSSLESS: for a true pair (overlap >= o_ab >= o) the
    * canonically-SMALLEST shared shingle w sits in both retained
    * prefixes (prefix lemma at o_ab; the constant-o prefix is longer,
    * so it retains w too) and every shared shingle is canonically
    * >= w — at position >= pos(w) in both docs — so the bound at w is
    * >= the true overlap >= o_ab and the pair survives through w's
    * bucket (property-tested: strict candidate reduction on a long-doc
    * corpus with identical final output).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, minTokens: Int = 20,
                       ngram: Int = 3): DataFrame = {
    val o = math.ceil(threshold * minTokens - 1e-9).toInt
    // Fan-out + one materialization (r17): three consumers of the
    // shingle table (candidates + both verify sides) re-ran the
    // single-task shingle pass 3 × 3.4 s at sf0.1 un-checkpointed.
    // The minTokens filter sits ABOVE the checkpoint: placed below, the
    // optimizer pushes it below the fan-out exchange (filters traverse
    // Repartition), and evaluating `size(toksh)` there re-runs the whole
    // md5-shingle derivation single-task on the map side — the exact
    // cost the fan-out removes (measured: 2.0 s single-task map stage).
    val t = shingles(Scale.fanout(df), textCol, ngram)
      .withColumn("toksh", array_distinct(
        graft.functions.Signatures.md5_prefix(col("toks"), 15)))
      .select(col(idCol), col("toksh"))
      .localCheckpoint()
      .filter(size(col("toksh")) >= minTokens)
    val cand = containmentCandidates(t, idCol, threshold, o, positional = true)
    val ta = t.select(col(idCol).as("doc_a"), col("toksh").as("toks_a"))
    val tb = t.select(col(idCol).as("doc_b"), col("toksh").as("toks_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("ninter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("cont", col("ninter").cast("double") /
        least(size(col("toks_a")), size(col("toks_b"))))
      .filter(col("cont") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont"))
  }

  /** Candidate stage of [[containmentPairs]]: the prefix-bucket join
    * over `t` = (idCol, toksh) with constant prefix overlap floor `o`
    * and verify threshold `threshold` (the positional bound's
    * pair-dependent requirement derives from it). `positional = false`
    * disables the ppjoin positional bound — kept accessible so the
    * losslessness AND the strict candidate reduction are
    * property-testable against each other (PipelineSpec), not just
    * claimed in prose.
    */
  private[graft] def containmentCandidates(t: DataFrame, idCol: String,
                                           threshold: Double, o: Int,
                                           positional: Boolean): DataFrame = {
    val tok = t.select(col(idCol), size(col("toksh")).as("len"),
      explode(col("toksh")).as("tok"))
    val dfq = tok.groupBy("tok").agg(count(lit(1)).as("tdf"))
    val byRarity = W.partitionBy(col(idCol)).orderBy(col("tdf"), col("tok"))
    val prefix = tok.join(dfq, Seq("tok"))
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <= col("len") - lit(o) + 1)
    val pa = prefix.select(col(idCol).as("doc_a"), col("tok"),
      col("pos").as("pos_a"), col("len").as("len_a"))
    val pb = prefix.select(col(idCol).as("doc_b"), col("tok").as("tok_b"),
      col("pos").as("pos_b"), col("len").as("len_b"))
    val posBound =
      if (positional)
        least(col("len_a") - col("pos_a"), col("len_b") - col("pos_b")) +
          lit(1) >= ceil(lit(threshold) * least(col("len_a"), col("len_b")) - lit(1e-9))
      else lit(true)
    pa.join(pb, col("tok") === col("tok_b") && col("doc_a") < col("doc_b") && posBound)
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash(64-perm) + LSH(`bands` x 64/bands rows) near-dup survivors.
    *
    * Candidates come from STAR REDUCTION: each doc pairs only with the
    * min id of its bucket — k-1 pairs per bucket instead of k^2/2
    * (near-dup clusters reach ~1000 docs on this corpus; the full bucket
    * self-join measured 273 s at sf0.1 vs ~14 s for this shape, and is
    * catastrophically skewed at cluster scale). With `bands` independent
    * buckets per doc, dominated-set recall stays ~1 (asserted >= 0.9 in
    * PipelineSpec). Verification is exact Jaccard on hashed token sets.
    */
  def minhashSurvivors(df: DataFrame, idCol: String, textCol: String,
                       bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val rows = 64 / bands
    // Fan-out + one materialization (r17): `t` feeds the signature pass
    // and both exact-Jaccard verify sides.
    val t = tokens(Scale.fanout(df), textCol)
      .filter(size(col("tk")) >= 3)
      .select(col(idCol), col("toks"), col("toksh"))
      .localCheckpoint()
    // 64-perm signature from the hashed token set in one fused codegen
    // pass (graft.functions.MinHashSig) — h_i(x) = A_i*x + B_i over the
    // xxhash64 of each token.
    val sig = t.withColumn("sig",
        graft.functions.Signatures.minhash_sig(col("toksh"), 64))
      .select(col(idCol), col("sig"))
    val banded = sig.select(col(idCol),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}), b ->
             |  struct(b as band, concat_ws(',', transform(slice(sig, b * $rows + 1, $rows), x -> cast(x as string))) as bkey))""".stripMargin)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val bmin = banded.groupBy("band", "bkey").agg(min(col(idCol)).as("doc_a"))
    val cand = banded.join(bmin, Seq("band", "bkey"))
      .filter(col(idCol) > col("doc_a"))
      .select(col("doc_a"), col(idCol).as("doc_b")).distinct()
    val ta = t.select(col(idCol).as("doc_a"), col("toksh").as("ha"), size(col("toks")).as("na"))
    val tb = t.select(col(idCol).as("doc_b"), col("toksh").as("hb"), size(col("toks")).as("nb"))
    val dominated = cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("ninter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jac", col("ninter").cast("double") /
        (col("na") + col("nb") - col("ninter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_b").as(idCol)).distinct()
    // Survivors are drawn from ALL docs, not the >=3-token subset `t`:
    // short docs get no signature (can't be dominated) but must still
    // appear in the output — filtering them out of the base would
    // silently drop them from the corpus.
    df.select(col(idCol)).join(dominated, Seq(idCol), "left_anti")
  }

  /** SimHash(64-bit) near-dup survivors: majority-vote signature over
    * token hashes, 4 x 16-bit band buckets, exact hamming <= `maxHamming`
    * verification, star-reduced like minhashSurvivors.
    */
  def simhashSurvivors(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 12): DataFrame = {
    val t = tokens(Scale.fanout(df), textCol)
    // Fan-out + one materialization (r17): `sig` feeds the band explode
    // and both hamming-verify sides; (id, sig) is 16 bytes/doc.
    val sig = t.withColumn("sig",
        graft.functions.Signatures.simhash_sig(col("toksh")))
      .select(col(idCol), col("sig"))
      .localCheckpoint()
    val banded = sig.select(col(idCol), col("sig"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b as band, shiftright(sig, b * 16) & 65535 as bkey))")).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val bmin = banded.groupBy("band", "bkey").agg(min(col(idCol)).as("doc_a"))
    val dominated = banded.join(bmin, Seq("band", "bkey"))
      .filter(col(idCol) > col("doc_a"))
      .select(col("doc_a"), col(idCol).as("doc_b")).distinct()
      .join(sig.select(col(idCol).as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col(idCol).as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_b").as(idCol)).distinct()
    t.select(idCol).join(dominated, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup PAIR SET over 3-token shingles (see [[shingles]])
    * with an engine-independent element hash:
    * the first 15 hex chars of md5(shingle) parsed as a 60-bit integer
    * (md5 is bit-identical everywhere, unlike xxhash64 — this is what
    * makes the whole pair set replayable in the DuckDB oracle and pins
    * the simhash ALGORITHM cross-engine, not just row counts). 60-bit
    * majority-vote signature, 4 x 15-bit LSH band buckets for candidate
    * generation, exact hamming <= `maxHamming` verification.
    *
    * Same bucketed dataflow as [[simhashSurvivors]] (which stays on the
    * fused-codegen xxhash64 signature — the hot path at scale); the
    * per-token bit explosion here costs 60x tokens rows through one
    * partial-aggregated shuffle, the price of cross-engine parity.
    */
  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 2): DataFrame = {
    // Pigeonhole: with 4 bands, two signatures within hamming distance d
    // are guaranteed to agree on some band only for d <= 3. A larger
    // maxHamming would silently miss true pairs, so reject it.
    require(maxHamming <= 3,
      s"4x15-bit banding is only lossless for maxHamming <= 3 (got $maxHamming)")
    // Row-local signature: md5-prefix token hashes folded into 60
    // strict-majority counters, sign bits packed — two fused codegen
    // expressions (graft.functions.{Md5PrefixHash, SimHashSigStrict}),
    // no per-bit shuffle rows (the naive shape shuffles |tokens| x 60
    // rows; this shuffles nothing). Integer-exact and order-independent,
    // so it equals the oracle's explode-and-group formulation
    // bit-for-bit. (An interpreted higher-order-function fold computing
    // the same thing measured 15.7 s at sf0.1 vs ~1 s fused.)
    // Fan-out + one materialization (r17): three consumers (band explode
    // + both verify sides) of a single-task signature pass.
    val sig = shingles(Scale.fanout(df), textCol, 3).select(col(idCol),
      graft.functions.Signatures.simhash_sig_strict(
        graft.functions.Signatures.md5_prefix(col("toks"), 15), 60).as("sig"))
      .localCheckpoint()
    val banded = sig.select(col(idCol),
        explode(expr("transform(sequence(0, 3), i -> " +
          "struct(i as band, shiftright(sig, 15 * i) & 32767 as bkey))")).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sig.select(col(idCol).as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col(idCol).as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The MinHash permutation constants shared by [[minhashPairsMd5]] and
    * its DuckDB oracle: 64 pairs (a, b) for h -> (a*h + b) mod P over the
    * Mersenne prime P = 2^31 - 1. Generated by a fixed-seed LCG at class
    * load so Spark expr and oracle SQL splice the SAME literals; with
    * h < P, a*h + b < 2^62 — exact in 64-bit on both engines (no
    * overflow wrap to diverge on).
    */
  val MinhashP: Long = 2147483647L
  val (minhashA, minhashB): (IndexedSeq[Long], IndexedSeq[Long]) = {
    var x = 88172645463325252L
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    val a = IndexedSeq.fill(64)(math.floorMod(next(), MinhashP - 1) + 1)
    val b = IndexedSeq.fill(64)(math.floorMod(next(), MinhashP))
    (a, b)
  }

  /** MinHash+LSH near-dup PAIR SET with an engine-independent token
    * hash — the oracle-replayable sibling of [[minhashSurvivors]] (which
    * keeps the fused-codegen xxhash64 signature as the scale path).
    *
    * Domain = 3-token shingles (see [[shingles]]); element hash = first
    * 32 bits of md5 mod P; signature = 64 permutation
    * minima computed ROW-LOCALLY (array fold per doc — no signature
    * shuffle); candidates from 16 bands x 4 rows (LSH threshold
    * ~(1/16)^(1/4) ~= 0.45, comfortably below the 0.7 verify bar);
    * verification = exact Jaccard on the distinct token sets. Output is
    * the deterministic "banded candidates with J >= threshold" set that
    * DuckDB replays bit-for-bit.
    */
  def minhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7): DataFrame = {
    // One fused codegen pass over md5-prefix token hashes (64 interpreted
    // array_min(transform(...)) lambdas computing the same minima
    // measured 38.7 s at sf0.1 vs ~1 s fused; the mod-p family is what
    // keeps every step exact in 64-bit for the DuckDB replay).
    val (sig, cand) = minhashMd5Candidates(df, idCol, textCol)
    val ta = sig.select(col(idCol).as("doc_a"), col("toks").as("toks_a"))
    val tb = sig.select(col(idCol).as("doc_b"), col("toks").as("toks_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("ninter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jac", col("ninter").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("ninter")))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** Shared md5-route candidate generation: per-doc (toks, sig) plus
    * the banded candidate pair set. */
  private def minhashMd5Candidates(df: DataFrame, idCol: String,
                                   textCol: String): (DataFrame, DataFrame) = {
    // Fan-out + one materialization (r17): both callers (pairs / audit)
    // consume `sig` three times (band explode + two verify sides).
    //
    // Storage-footprint tradeoff (ADVICE r17 #3, documented the way
    // simhashSurvivors documents its 16-bytes/doc checkpoint): this
    // checkpoint DELIBERATELY carries the full 3-token shingle arrays —
    // O(total corpus tokens) in executor storage — because the exact-
    // Jaccard verify consumes `toks` on BOTH join sides; a sig-only
    // checkpoint would re-run the corpus-wide shingle derivation once
    // per verify side (the 2 × ~3.3 s single-task stages r17 measured
    // and removed). localCheckpoint data is unrecoverable on executor
    // loss, so at cluster scale a lost block fails the job — acceptable
    // for this ORACLE-REPLAY sibling; the scale path is
    // minhashSurvivors' fused-codegen signature route, whose checkpoint
    // is (id, sig)-only.
    val sig = shingles(Scale.fanout(df), textCol, 3)
      .select(col(idCol), col("toks"),
        graft.functions.Signatures.minhash_sig_mod(
          graft.functions.Signatures.md5_prefix(col("toks"), 8),
          minhashA, minhashB, MinhashP).as("sig"))
      .localCheckpoint()
    val banded = sig.select(col(idCol),
        explode(expr(
          """transform(sequence(0, 15), b -> struct(b as band,
            |  concat_ws(',', transform(slice(sig, b * 4 + 1, 4),
            |                           x -> cast(x as string))) as bkey))""".stripMargin)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    (sig, cand)
  }

  /** The md5-derived (id, sig) table [[minhashIncremental]] and the
    * streaming band rows share — same constants as
    * [[minhashPairsMd5]]. */
  private def minhashSigDf(df: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    shingles(df, textCol, 3)
      .select(col(idCol),
        graft.functions.Signatures.minhash_sig_mod(
          graft.functions.Signatures.md5_prefix(col("toks"), 8),
          minhashA, minhashB, MinhashP).as("sig"))

  /** One row per (doc, band): the 16 LSH bucket keys plus the full
    * signature — the input shape of the streaming bucket-keyed matcher
    * ([[graft.streaming.StreamOps.minhashIncrCandidates]]); the bkey
    * construction is byte-identical to [[minhashMd5Candidates]]'s. */
  def minhashBandRows(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    minhashSigDf(df, idCol, textCol).select(col(idCol), col("sig"),
        explode(expr(
          """transform(sequence(0, 15), b -> struct(b as band,
            |  concat_ws(',', transform(slice(sig, b * 4 + 1, 4),
            |                           x -> cast(x as string))) as bkey))""".stripMargin)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"),
        col("sig"))

  /** INCREMENTAL (ingest-order) minhash dedup — the bounded-state
    * dedup-on-ingest shape: each LSH band bucket remembers only its
    * FIRST-arriving document (arrival order = ascending id, the
    * deterministic stand-in for wall-clock ingest), and a later
    * document is flagged against the EARLIEST qualifying bucket-first
    * whose signature-agreement estimate `n_agree/64` reaches
    * `threshold`. Unlike [[minhashPairsMd5]] (all banded pairs), the
    * compare budget is ≤ 16 candidates per document and the state is
    * one (id, signature) per occupied bucket — the shape a streaming
    * deduplicator can actually hold at 100 TB (state ∝ distinct
    * buckets, work ∝ corpus; nothing pairwise). The estimator-only
    * verify is deliberate: the first's raw shingles are NOT in state,
    * so the decision uses exactly what the state can afford — the
    * md5-derived signatures, replayed bit-for-bit by the oracle.
    * [[graft.streaming.StreamOps.minhashIncrCandidates]] is the same
    * dataflow on keyed state (cross-batch bucket carryover pinned in
    * StreamingSpec); this batch form computes the signature pipeline
    * ONCE per side (the band rows already carry the full signature, so
    * the bucket-first agg keeps the first's sig via min_by and the
    * join delivers both sigs with NO id-keyed re-join — two shuffles
    * total: the bucket agg and the candidate distinct).
    */
  def minhashIncremental(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.7): DataFrame = {
    // Fan-out + one materialization (r17): `br` feeds the bucket-first
    // aggregate AND the probe join — un-checkpointed, the signature
    // pipeline ran twice, single-task. (minhashBandRows itself stays
    // un-checkpointed: it is the streaming matcher's input shape.)
    val br = minhashBandRows(Scale.fanout(df), idCol, textCol)
      .localCheckpoint()
    val first = br.groupBy(col("band"), col("bkey"))
      .agg(min(col(idCol)).as("first_id"),
        min_by(col("sig"), col(idCol)).as("sig_f"))
    br.join(first, Seq("band", "bkey"))
      .filter(col(idCol) > col("first_id"))
      .select(col(idCol), col("first_id"), col("sig").as("sig_d"), col("sig_f"))
      .distinct()
      .withColumn("est",
        expr("size(filter(zip_with(sig_d, sig_f, (x, y) -> x = y), v -> v))")
          .cast("double") / lit(64.0))
      .filter(col("est") >= threshold)
      .groupBy(col(idCol))
      .agg(min(struct(col("first_id"), col("est"))).as("m"))
      .select(col(idCol), col("m.first_id").as("duplicate_of"),
        col("m.est").as("est"))
  }

  /** The DuckDB replay of [[minhashIncremental]]: the shared signature
    * CTE chain, per-bucket min-id firsts, estimator-only verify, and
    * the earliest-qualifying-first choice. */
  def minhashIncrementalOracleSql(threshold: Double = 0.7): String =
    s"""WITH ${minhashCtesSql},
       |sigl AS (SELECT doc_id, list(m ORDER BY i) AS sig
       |         FROM sigrow GROUP BY doc_id),
       |firstb AS (SELECT band, bkey, min(doc_id) AS first_id
       |           FROM band GROUP BY band, bkey),
       |icand AS (SELECT DISTINCT b.doc_id, f.first_id
       |          FROM band b JOIN firstb f ON b.band = f.band AND b.bkey = f.bkey
       |          WHERE b.doc_id > f.first_id),
       |e AS (SELECT c.doc_id, c.first_id,
       |        len(list_filter(range(1, 65), j -> sd.sig[j] = sf.sig[j]))::DOUBLE
       |          / 64.0 AS est
       |      FROM icand c JOIN sigl sd ON c.doc_id = sd.doc_id
       |                   JOIN sigl sf ON c.first_id = sf.doc_id),
       |r AS (SELECT doc_id, first_id AS duplicate_of, est,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY first_id) AS rn
       |      FROM e WHERE est >= ${threshold})
       |SELECT doc_id, duplicate_of, floor(est * 10000 + 0.5) / 10000 AS est
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** MinHash ESTIMATION-ERROR audit (the dedup counterpart of the ANN
    * recall audit): for every banded candidate pair, the fraction of
    * agreeing signature components (the unbiased Jaccard estimator the
    * LSH routing acts on) against the EXACT shingle Jaccard, with the
    * absolute error — turns the property-test-only "MinHash tracks
    * Jaccard" claim into a driver-visible, oracle-gated number. The
    * candidate set is the banding's own output, so the audit is
    * bounded by it — no all-pairs stage; `n_agree` is an exact
    * integer and est/jac/abs_err are single IEEE divisions from
    * integers (bit-stable cross-engine). */
  def minhashEstimationAudit(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val (sig, cand) = minhashMd5Candidates(df, idCol, textCol)
    val ta = sig.select(col(idCol).as("doc_a"), col("toks").as("toks_a"),
      col("sig").as("sig_a"))
    val tb = sig.select(col(idCol).as("doc_b"), col("toks").as("toks_b"),
      col("sig").as("sig_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("n_agree",
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"))
      .withColumn("ninter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jac", col("ninter").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("ninter")))
      .withColumn("est", col("n_agree") / lit(64.0))
      .select(col("doc_a"), col("doc_b"),
        col("n_agree").cast("long").as("n_agree"), col("jac"), col("est"),
        abs(col("est") - col("jac")).as("abs_err"))
  }

  /** The shared CTE chain of the minhash oracles: shingles → md5 token
    * hashes → per-permutation minima → band keys → candidate pairs,
    * with the engine's permutation constants spliced as literals.
    */
  private def minhashCtesSql: String = {
    val permValues = (0 until 64)
      .map(i => s"(${i}, ${minhashA(i)}, ${minhashB(i)})").mkString(", ")
    s"""tk0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |t AS (SELECT doc_id,
       |        list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
       |          i -> array_to_string(tk[i:i+2], ' '))) AS toks
       |      FROM tk0),
       |th AS (SELECT doc_id, toks,
       |         list_transform(toks, tk ->
       |           CAST(concat('0x', substr(md5(tk), 1, 8)) AS BIGINT) % ${MinhashP}) AS hs
       |       FROM t),
       |perm(i, a, b) AS (VALUES ${permValues}),
       |sigrow AS (SELECT doc_id, i,
       |             list_min(list_transform(hs, h -> (a * h + b) % ${MinhashP})) AS m
       |           FROM th CROSS JOIN perm),
       |band AS (SELECT doc_id, i // 4 AS band,
       |           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bkey
       |         FROM sigrow GROUP BY doc_id, i // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
       |                                AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** The DuckDB replay of [[minhashPairsMd5]], spliced with the same
    * permutation literals.
    */
  def minhashPairsOracleSql(threshold: Double = 0.7): String =
    s"""WITH ${minhashCtesSql},
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
       |      (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jac
       |  FROM cand c JOIN t ta ON c.doc_a = ta.doc_id JOIN t tb ON c.doc_b = tb.doc_id
       |)
       |SELECT doc_a, doc_b, floor(jac * 10000 + 0.5) / 10000 AS jac
       |FROM pairs WHERE jac >= ${threshold}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The DuckDB replay of [[minhashEstimationAudit]]: the same
    * candidate chain plus rank-ordered signature lists, agreement
    * counted by position, estimate/error arithmetic in the engine's
    * expression order.
    */
  def minhashAuditOracleSql: String =
    s"""WITH ${minhashCtesSql},
       |sigl AS (SELECT doc_id, list(m ORDER BY i) AS sig
       |         FROM sigrow GROUP BY doc_id),
       |o AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j])) AS n_agree,
       |    CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
       |      (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jac
       |  FROM cand c JOIN t ta ON c.doc_a = ta.doc_id
       |              JOIN t tb ON c.doc_b = tb.doc_id
       |              JOIN sigl sa ON c.doc_a = sa.doc_id
       |              JOIN sigl sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, CAST(n_agree AS BIGINT) AS n_agree,
       |       floor(jac * 10000 + 0.5) / 10000 AS jac,
       |       floor(n_agree::DOUBLE / 64.0 * 10000 + 0.5) / 10000 AS est,
       |       floor(abs(n_agree::DOUBLE / 64.0 - jac) * 10000 + 0.5) / 10000 AS abs_err
       |FROM o ORDER BY doc_a, doc_b""".stripMargin

  /** Near-duplicate CLUSTERS: connected components over a verified
    * near-dup pair set; every node gets `cluster_id` = min reachable id,
    * plus the component size. This is the step that turns pairwise dedup
    * output into "keep one doc per duplicate cluster" decisions.
    *
    * Algorithm: iterative min-label propagation, with POINTER JUMPING
    * engaged from round `jumpAfter` on — each node takes the min of its
    * own and its neighbors' labels, and late rounds additionally
    * compress one pointer level (label := label-of-label). LSH near-dup
    * components are quasi-cliques (diameter 2-3), so the common case
    * converges on plain propagation (one join per round) before
    * compression ever engages; a pathological long chain (progressively
    * edited copies) flips into O(log diameter) doubling instead of
    * failing — `maxRounds = 20` then covers diameters ~2^17,
    * unreachable for any real near-dup graph. Each round is ONE Spark
    * job that materializes the labels (so round N's plan doesn't replay
    * rounds 1..N-1) and counts the changed ones (the [[Fixpoint]]
    * probe).
    *
    * If the round budget is ever exhausted before convergence, the
    * remaining labels are finished by [[starContract]] (alternating
    * large-star/small-star, provably O(log n) rounds) instead of
    * raising — no input graph can make this crash.
    */
  def clusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "doc_a", bCol: String = "doc_b",
               maxRounds: Int = 20, jumpAfter: Int = 3): DataFrame = {
    // r18: propagation rounds run under the loop settings (Fixpoint —
    // AQE off, shuffle parallelism derived from the edge count that the
    // edges' one materialization takes; see
    // Graphs.pagerankConvergedWithRound's note for the measured why). The
    // loop is sized by the near-dup subgraph, so the derived partition
    // count follows the edge table.
    val (fx, edgesIn) = Fixpoint.over(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    val edges = edgesIn.state
    // Iterate ONLY over edge-touched nodes: singletons (the vast majority
    // of a mostly-unique corpus) can never change label, so they skip the
    // loop entirely and rejoin at the end — every round's join, shuffle
    // and checkpoint is sized by the near-dup subgraph, not the corpus.
    // The seed labels are computed by the first round's job.
    val labels0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    // Each round is checkpointed with a `chg` flag, counted by the same
    // job; no changed label is the fixpoint.
    val res = fx.run(labels0, maxRounds)((s, i) => {
      val labels = s.select("id", "comp")
      val prop = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min("comp").as("ncomp"))
      val stepped = labels.join(prop, labels("id") === prop("dst"), "left")
        .select(labels("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      if (i <= jumpAfter) {
        stepped.select(col("id"), col("comp"), (col("comp") < col("prev")).as("chg"))
      } else {
        // Pointer jumping: comp := min(comp, comp-of-comp). Labels are
        // always ids of edge-touched nodes, so the parent lookup is a
        // self-join on the same (small) label table.
        val par = stepped.select(col("id").as("pid"), col("comp").as("pcomp"))
        stepped.join(par, stepped("comp") === par("pid"), "left")
          .select(stepped("id"),
            least(stepped("comp"), coalesce(par("pcomp"), stepped("comp"))).as("comp"),
            (least(stepped("comp"), coalesce(par("pcomp"), stepped("comp"))) <
              col("prev")).as("chg"))
      }
    }, _ => Seq(count(when(col("chg"), 1))))((_, b, _) => b.probes.getLong(0) == 0L)
    var labels = res.state.select("id", "comp")
    if (!res.converged) {
      // Round budget exhausted (a graph whose diameter outruns even the
      // pointer-jumped rounds): finish with the guaranteed-O(log n)
      // contraction. Current labels are a valid coarsening (every label
      // is reachable from its node), so contract label-graph edges —
      // the star roots then extend back over each node's current label.
      val lifted = edges.join(labels.select(col("id"), col("comp").as("sl")),
          col("src") === col("id"))
        .join(labels.select(col("id").as("id2"), col("comp").as("dl")),
          col("dst") === col("id2"))
        .select(col("sl").as("src"), col("dl").as("dst"))
      val roots = starContract(lifted)
      labels = labels.join(roots.withColumnRenamed("id", "comp"), Seq("comp"), "left")
        .select(col("id"), coalesce(col("root"), col("comp")).as("comp"))
    }
    val all = nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val sizes = all.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "comp")
      .select(col("id").as(idCol), col("comp").as("cluster_id"), col("cluster_size"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): provably
    * converges to per-component min-rooted stars in O(log n) alternations,
    * each one groupBy-min plus one equi-join — the same shuffle shape as
    * a propagation round, but with a guarantee that does not depend on
    * graph diameter. Used by [[clusters]] as the finish-line fallback
    * when the propagation round budget runs out, so no input graph can
    * turn convergence into an exception.
    *
    * Returns (id, root) for every node appearing in `edges0`.
    */
  private[graft] def starContract(edges0: DataFrame, cap: Int = 64): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.select("src", "dst")
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = both.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      both.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val m = or.groupBy("src").agg(min(col("dst")).as("m"))
      or.join(m, "src")
        .select(col("dst").as("v"), col("m"))
        .union(m.select(col("src").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst")).distinct()
    }
    // r18: contraction alternations under the loop settings (see
    // Graphs.pagerankConvergedWithRound's note for the measured why)
    val (fx, in) = Fixpoint.over(edges0.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct())
    val e0 = in.state
    var n = in.rows
    // exact set-equality fixpoint test: equal counts (each taken by the
    // job that materializes its block) + empty diff (both sides are
    // distinct); the fallback path trades the diff's extra job for a
    // guarantee, not for speed. An empty edge set is already the
    // fixpoint: no alternation runs.
    val res =
      if (n == 0) Fixpoint.Outcome(e0, 0, converged = true, None)
      else fx.run(e0, cap)((s, _) => smallStar(largeStar(s)))((prev, b, _) => {
        val stable = b.rows == n && b.state.except(prev).isEmpty
        n = b.rows
        stable
      })
    // Large-star/small-star provably converges in O(log n) alternations, so
    // cap=64 is unreachable for any graph with < 2^64 nodes — if the loop
    // still expired, the labels below would be a star forest ONLY partially
    // contracted (a src carrying several dst roots → duplicate contradictory
    // (id, root) rows). Fail loudly instead of emitting corrupt clusters.
    require(res.converged,
      s"starContract did not reach a star-forest fixpoint in $cap alternations " +
        "— refusing to emit (possibly multi-rooted) labels")
    val e = fx.back(res.state)
    // fixpoint is a star forest: every edge is (node, component-min root);
    // roots appear only on the dst side
    val nodeLabels = e.select(col("src").as("id"), col("dst").as("root")).distinct()
    val rootLabels = e.select(col("dst").as("id")).distinct()
      .join(nodeLabels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"))
    nodeLabels.union(rootLabels)
  }

  /** GLOBAL embedding near-dup pairs via random-hyperplane LSH buckets:
    * candidates are pairs sharing any (table, bucket) of the integer-exact
    * `LshBucketSig` signature (see Similarity.lshPlanes — md5-derived
    * planes, engine-exact buckets, so the WHOLE candidate set replays in
    * DuckDB); verification is the exact cosine >= `threshold`.
    *
    * The scale-safe sibling of [[embedCosinePairs]]: no metadata blocking
    * (blocks grow with the corpus — quadratic within a block), candidate
    * volume bounded by bucket occupancy ~n/2^bits per table, and the
    * bucket key shuffles evenly. Same dataflow as the text-side
    * minhash/simhash pair keys.
    */
  def embedLshPairs(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, tables: Int = 8, bits: Int = 6,
                    dim: Int = 64): DataFrame = {
    val planes = Similarity.lshPlanes(tables, bits, dim)
    val e = Similarity.withNorm(df, vecCol)
    val bk = df.select(col(idCol),
      posexplode(graft.functions.Signatures.lsh_bucket_sig(
        col(vecCol), planes, tables, bits)).as(Seq("tbl", "bkt")))
    val cand = bk.select(col(idCol).as("vec_a"), col("tbl"), col("bkt"))
      .join(bk.select(col(idCol).as("vec_b"), col("tbl"), col("bkt")),
        Seq("tbl", "bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val ea = e.select(col(idCol).as("vec_a"), col(vecCol).as("va"), col("nrm").as("na"))
    val eb = e.select(col(idCol).as("vec_b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos",
        graft.functions.GraftFunctions.vec_dot(col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** The DuckDB replay of [[embedLshPairs]] (same spliced plane literals;
    * cosine via the list_zip formulation proven bit-parity with vec_dot).
    */
  def embedLshPairsOracleSql(threshold: Double, tables: Int = 8, bits: Int = 6,
                             dim: Int = 64): String = {
    val planes = Similarity.lshPlanes(tables, bits, dim)
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
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, floor(cos * 10000 + 0.5) / 10000 AS cos FROM (
       |  SELECT c.vec_a, c.vec_b,
       |    list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
       |      / (a.nrm * b.nrm) AS cos
       |  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
       |) WHERE cos >= ${threshold} ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Embedding near-dup pairs: exact cosine >= `threshold` within a
    * BOUNDED block — (blockCol, shard), where shard is an
    * engine-independent md5 hash of the id modulo a shard count chosen
    * so the expected block stays under `maxBlock` rows. The shard count
    * is derived IN-PLAN (max per-blockCol count / maxBlock, broadcast as
    * a one-row frame — no driver action), so per-block candidate pairs
    * are bounded by maxBlock²/2 and TOTAL candidates grow linearly with
    * the corpus — the cost curve that survives 100 TB, unlike the
    * previous label-only blocking whose blocks grew with the corpus
    * (O(n²/|labels|) pairs).
    *
    * Semantics: with the DEFAULT `maxBlock = Int.MaxValue` the shard
    * count is 1 and the output is the complete exact within-block pair
    * set — a caller using this for actual dedup loses nothing. Passing
    * a finite `maxBlock` OPTS IN to the audit contract: a deterministic
    * 1/shards sample of within-block pairs (both ends must hash to the
    * same shard) — the bounded-cost exact-cosine baseline for
    * calibrating [[embedLshPairs]] (the scale path for full-recall
    * near-dup detection). The sampled mode is opt-in precisely so the
    * weaker contract is visible at the call site. md5-derived shards
    * replay bit-for-bit in the DuckDB oracle.
    */
  def embedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double,
                       maxBlock: Int = Int.MaxValue): DataFrame = {
    val nsh = df.groupBy(col(blockCol)).agg(count(lit(1)).as("__c"))
      .agg(ceil(max(col("__c")) / lit(maxBlock.toDouble)).cast("long").as("__nsh"))
    val e = Similarity.withNorm(df, vecCol)
      .crossJoin(broadcast(nsh))
      .withColumn("__shard", pmod(
        conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
        col("__nsh")))
    val a = e.select(col(idCol).as("vec_a"), col(blockCol), col("__shard"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = e.select(col(idCol).as("vec_b"), col(blockCol).as("block_b"),
      col("__shard").as("__shard_b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    a.join(b, col(blockCol) === col("block_b") &&
        col("__shard") === col("__shard_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos",
        graft.functions.GraftFunctions.vec_dot(col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** SEMANTIC deduplication (SemDeDup, Abbas et al. 2023: "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with a trained
    * coarse quantizer, then call two vectors semantic duplicates when
    * their cosine similarity within the SAME cluster reaches
    * `threshold`; keep one representative per duplicate relation —
    * here the deterministic MIN-ID survivor (a vector is dropped iff
    * some LOWER-id vector in its cluster is >= threshold similar),
    * the same survivor rule as [[exactDedup]], replacing the paper's
    * random keeper so the result is engine-independent and
    * oracle-checkable.
    *
    * `partCol` is the trained cluster id (the caller wires the
    * integer-k-means coarse quantizer — Similarity.pqTrainCodebooks —
    * exactly as the IVF family does). Output, one row per vector:
    * `part`, `n_dups` (within-cluster >= threshold partners), `kept`.
    *
    * Scale shape: within-cluster all-pairs via [[embedCosinePairs]]'s
    * block join — the paper's own cost model: cluster count k is
    * chosen ∝ corpus/targetClusterSize, so per-cluster pairs stay
    * bounded and TOTAL work grows linearly; the survivor aggregation
    * is one id-keyed groupBy. Nothing global, no driver-side state
    * beyond the k-means training aggregates. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    partCol: String, threshold: Double): DataFrame = {
    val pairs = embedCosinePairs(df, idCol, vecCol, partCol, threshold)
    val both = pairs.select(col("vec_a").as("__id"), col("vec_b").as("other"))
      .unionByName(pairs.select(col("vec_b").as("__id"), col("vec_a").as("other")))
    val agg = both.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_dups"), min(col("other")).as("__mo"))
    df.select(col(idCol), col(partCol).cast("long").as("part"))
      .join(agg, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("part"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (col("__mo").isNull || col("__mo") > col(idCol)).as("kept"))
  }

  /** Cross-document duplicated-SPAN coverage — SUBSTRING-level exact
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": the memorization-prone unit is the
    * repeated SPAN, which document-level dedup cannot see when the
    * surrounding text differs). Every `w`-token window of every
    * document — occurrence positions, NOT distinct spans, so coverage
    * counts are exact — is keyed by its 60-bit md5 prefix (the fused
    * [[graft.functions.Signatures.md5_prefix]] pass: 8-byte shuffle
    * keys, DuckDB-replayable) and checked for presence in >= 2 DISTINCT
    * documents. Output, one row per input document: `n_spans` (window
    * positions), `n_dup_spans` (positions whose span also occurs in
    * another document), `max_span_docs` (the widest such span's
    * document count; 0 when the document shares no span).
    *
    * Scale shape: explode → (span, doc) partial-count → (span) count →
    * hash-keyed join back → per-doc sum. No all-pairs stage and no
    * per-span document LISTS are ever materialized (the head of the
    * span-frequency distribution is exactly where a collect would
    * blow up); frequency skew on stop-word spans is two COUNTS under
    * AQE, not a row explosion. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    // totals need only the WINDOW COUNT, so they come straight from the
    // token count — deriving them from the hashed span array would run
    // the tokenize + md5 pass over the whole corpus a second time
    val totals = df.select(col(idCol),
      greatest(size(split(col(textCol), " ")) - (w - 1), lit(1))
        .cast("long").as("n_spans"))
    // r17: fan out the span-hash derivation (guide §2.5 — single-split
    // scans otherwise run it in one task); totals stay on the raw scan
    // (token count only, too cheap to warrant an exchange).
    val occ = Scale.fanout(df)
      .withColumn("tk", split(col(textCol), " "))
      .withColumn("sph", graft.functions.Signatures.md5_prefix(expr(
        s"transform(sequence(1, greatest(size(tk) - ${w - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(tk, i, $w)))"), 15))
      .select(col(idCol), explode(col("sph")).as("sp"))
      .groupBy(col("sp"), col(idCol)).agg(count(lit(1)).as("occ"))
    val dupSpans = occ.groupBy(col("sp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val perDoc = occ.join(dupSpans, "sp")
      .groupBy(col(idCol)).agg(sum(col("occ")).as("n_dup_spans"),
        max(col("n_docs")).as("max_span_docs"))
    totals.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("max_span_docs"), lit(0L)).as("max_span_docs"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm): hash every `k`-token gram, slide a `w`-gram window,
    * select each window's MINIMUM hash — the selected set is the
    * document's fingerprint. Guarantee: any shared token run of
    * length >= w + k - 1 produces a shared fingerprint; expected
    * density is 2/(w+1), which is the 100 TB point — the index holds
    * a ~2/(w+1) sample of positions with a detection GUARANTEE,
    * where dedup_span must key every window. The selected-hash SET
    * equals the set of window minima, so no positions need tracking
    * for set-level stats (the rightmost-tie rule only disambiguates
    * positions, never values).
    *
    * Output per document: `n_grams`, `n_fp` (distinct fingerprints),
    * `n_shared_fp` (fingerprints also selected by >= 1 other
    * document), `density` (n_fp / full windows, round4).
    *
    * Scale shape: gram explode is linear; the window min and the
    * whole-partition count are doc-keyed windows; the sharing pass is
    * the dedup_span groupBy-join shape over 8-byte hash keys — no
    * per-fingerprint document lists, no all-pairs stage. */
  def winnowFingerprintStats(df: DataFrame, idCol: String, textCol: String,
                             k: Int, w: Int): DataFrame = {
    // r17: fan out the gram-hash derivation (guide §2.5); the fp
    // subtree's three consumers share one exchange (ReuseExchange), so
    // no materialization is needed here.
    val grams = Scale.fanout(df)
      .withColumn("tk", split(col(textCol), " "))
      .withColumn("gh", graft.functions.Signatures.md5_prefix(expr(
        s"transform(sequence(1, greatest(size(tk) - ${k - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(tk, i, $k)))"), 15))
      .select(col(idCol), posexplode(col("gh")))
      .select(col(idCol), (col("pos") + 1).as("i"), col("col").as("gh"))
    val overDoc = W.partitionBy(col(idCol))
    val winMin = W.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(W.currentRow, w - 1)
    val fp = grams
      .withColumn("m", count(lit(1)).over(overDoc))
      .withColumn("fh", min(col("gh")).over(winMin))
      .filter(col("i") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col(idCol), col("m"), col("fh")).distinct()
    val shared = fp.groupBy(col("fh"))
      .agg(countDistinct(col(idCol)).as("n_docs")).filter(col("n_docs") >= 2)
    val perDoc = fp.join(shared, "fh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared_fp"))
    fp.groupBy(col(idCol), col("m")).agg(count(lit(1)).as("n_fp"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("m").as("n_grams"), col("n_fp"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"),
        (col("n_fp").cast("double") /
          greatest(col("m") - (w - 1), lit(1))).as("density"))
  }

  /** VARIABLE-LENGTH shared-run reporting on top of winnowing — the
    * Lee et al. (2022) suffix-array result (maximal cross-document
    * duplicated substrings) WITHOUT the suffix array: winnowing
    * fingerprints ([[winnowFingerprintStats]]) anchor candidate
    * positions (the guarantee: any shared token run of length
    * >= w + k - 1 selects the SAME fingerprint at corresponding
    * positions in both documents — the windows inside the run are
    * identical, so their rightmost-tie minima align), and each anchor
    * pair extends OUTWARD along its diagonal by k-gram-hash equality
    * until the first mismatch — an anchor-local computation over the
    * two documents' bounded gram arrays, never an all-pairs scan.
    * Extension recovers the MAXIMAL run containing the anchor, so
    * filtering to run length >= w + k - 1 makes the result exact (the
    * guarantee finds every qualifying run; coincidental sub-threshold
    * fingerprint matches are filtered), hence DuckDB-replayable by the
    * independent ground-truth formulation (gram join + per-diagonal
    * gaps-and-islands).
    *
    * Output, one row per input document: `max_run` (tokens, the
    * longest run >= w+k-1 shared with ANY other document; 0 when
    * none), `n_partners` (distinct other documents sharing such a
    * run).
    *
    * Scale shape: gram explode linear; fingerprint selection doc-keyed
    * windows; the anchor join is keyed by the 8-byte fingerprint hash
    * (fan-out bounded by fingerprint sharing — the winnow density
    * 2/(w+1) sample, NOT every window); extension is two doc-keyed
    * array joins + one pass over each anchor's diagonal. Redundant
    * anchors inside one run recompute the same extension and collapse
    * in the per-doc max — extra bounded work, no correctness risk. */
  def maxSharedRunStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int): DataFrame = {
    val minRun = w + k - 1
    // r17: fan-out + one materialization — `base` (the gram-hash
    // arrays) feeds the anchor selection AND both extension joins;
    // un-checkpointed the md5 pass ran three times, single-task.
    val base = Scale.fanout(df)
      .withColumn("tk", split(col(textCol), " "))
      .withColumn("garr", graft.functions.Signatures.md5_prefix(expr(
        s"transform(sequence(1, greatest(size(tk) - ${k - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(tk, i, $k)))"), 15))
      .select(col(idCol), col("garr"))
      .localCheckpoint()
    val grams = base.select(col(idCol), posexplode(col("garr")))
      .select(col(idCol), (col("pos") + 1).as("i"), col("col").as("gh"))
    // winnow-SELECTED positions: per full window the RIGHTMOST minimum
    // gram (min over (gh, -i): min hash, then max position) — value AND
    // position, because the anchor diagonal needs where it was selected
    val winSel = W.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(W.currentRow, w - 1)
    val sel = grams
      .withColumn("m", count(lit(1)).over(W.partitionBy(col(idCol))))
      .withColumn("s", min(struct(col("gh"), (-col("i")).as("ni"))).over(winSel))
      .filter(col("i") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col(idCol), col("s.gh").as("fh"), (-col("s.ni")).as("fi"))
      .distinct()
    val anchors = sel.select(col(idCol).as("ida"), col("fh"), col("fi").as("ia"))
      .join(sel.select(col(idCol).as("idb"), col("fh"), col("fi").as("ib")), "fh")
      .filter(col("ida") < col("idb"))
      .select("ida", "ia", "idb", "ib").distinct()
    // diagonal extension over the two gram arrays: first mismatch each
    // way bounds the maximal run through the anchor. sequence() guards:
    // Spark's sequence(1, 0) DESCENDS, so empty ranges short-circuit.
    def firstMismatch(maxCol: String, ga: String, ia: String,
                      gb: String, ib: String, sign: String): String =
      s"array_min(filter(transform(" +
        s"if($maxCol >= 1, sequence(1, $maxCol), array()), j -> " +
        s"if(element_at($ga, $ia $sign j) = element_at($gb, $ib $sign j), " +
        s"cast(null as int), j)), x -> x is not null))"
    val ext = anchors
      .join(base.select(col(idCol).as("ida"), col("garr").as("ga")), "ida")
      .join(base.select(col(idCol).as("idb"), col("garr").as("gb")), "idb")
      .withColumn("maxf", least(size(col("ga")) - col("ia"),
        size(col("gb")) - col("ib")))
      .withColumn("maxb", least(col("ia") - 1, col("ib") - 1))
      .withColumn("fmm", expr(firstMismatch("maxf", "ga", "ia", "gb", "ib", "+")))
      .withColumn("bmm", expr(firstMismatch("maxb", "ga", "ia", "gb", "ib", "-")))
      .withColumn("fwd", coalesce(col("fmm") - 1, col("maxf")))
      .withColumn("bwd", coalesce(col("bmm") - 1, col("maxb")))
      // (bwd + 1 + fwd) matching grams -> + k - 1 tokens
      .withColumn("run_tokens", (col("bwd") + col("fwd") + lit(k)).cast("long"))
      .filter(col("run_tokens") >= minRun)
      .select(col("ida"), col("idb"), col("run_tokens"))
    val both = ext.select(col("ida").as("__id"), col("idb").as("partner"),
        col("run_tokens"))
      .unionByName(ext.select(col("idb").as("__id"), col("ida").as("partner"),
        col("run_tokens")))
    val perDoc = both.groupBy(col("__id"))
      .agg(max(col("run_tokens")).as("max_run"),
        countDistinct(col("partner")).as("n_partners"))
    df.select(col(idCol))
      .join(perDoc, col(idCol) === col("__id"), "left")
      .select(col(idCol), coalesce(col("max_run"), lit(0L)).as("max_run"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
  }

  /** SUBSTRING-level dedup REMOVAL (the Lee et al. 2022 cleanup step
    * that [[duplicatedSpanStats]] only diagnoses): every occurrence of
    * a `w`-token span appearing in >= 2 DISTINCT documents is excised
    * except the corpus-wide first occurrence (lexicographic min over
    * (id, start) — a deterministic survivor with no tie ambiguity),
    * and the surviving tokens are re-joined in order. Removal is the
    * UNION of non-survivor occurrence windows, so a survivor's tokens
    * can still fall to a DIFFERENT overlapping duplicated span — that
    * union semantics is what keeps the result order-independent and
    * hash-stable. Output per input document: `n_tokens`, `n_removed`,
    * `text_clean`.
    *
    * Scale shape: the occurrence table is the stats pass's explode
    * with positions kept (same fused 60-bit md5-prefix keys, 8-byte
    * shuffles); the survivor choice is a per-span `min(struct)` — no
    * per-span document lists, no all-pairs stage. Removed positions
    * explode only the duplicated-coverage subgraph (`w` rows per
    * excised occurrence), and assembly is one doc-keyed join of a
    * bounded positions array back to the token array — every shuffle
    * is keyed by span hash or document id, nothing global. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            w: Int): DataFrame = {
    // r17: fan-out + one materialization — `base` feeds the occurrence
    // explode AND the final token-assembly join.
    val base = Scale.fanout(df)
      .withColumn("tk", split(col(textCol), " "))
      .withColumn("sph", graft.functions.Signatures.md5_prefix(expr(
        s"transform(sequence(1, greatest(size(tk) - ${w - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(tk, i, $w)))"), 15))
      .select(col(idCol), col("tk"), col("sph"))
      .localCheckpoint()
    val occ = base.select(col(idCol), posexplode(col("sph")))
      .select(col(idCol), (col("pos") + 1).as("i"), col("col").as("sp"))
    val dup = occ.groupBy(col("sp"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol), col("i"))).as("keep"))
      .filter(col("n_docs") >= 2)
    val removedPos = occ.join(dup, "sp")
      .filter(!(col(idCol) === col(s"keep.$idCol") && col("i") === col("keep.i")))
      .select(col(idCol), explode(expr(s"sequence(i, i + ${w - 1})")).as("p"))
      .distinct()
      .groupBy(col(idCol)).agg(sort_array(collect_list(col("p"))).as("rem"))
    base.join(removedPos, Seq(idCol), "left")
      .withColumn("rem", coalesce(col("rem"), expr("cast(array() as array<int>)")))
      .withColumn("kept", expr(
        "filter(transform(tk, (t, j) -> if(array_contains(rem, j + 1), null, t)), " +
          "x -> x is not null)"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("text_clean"))
  }
}
