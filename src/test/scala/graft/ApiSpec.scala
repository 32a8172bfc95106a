package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.api.{Joins, Sinks, Sources}
import graft.streaming.StreamOps

/** The utility API surface: salted joins, partitioned + streaming sinks,
  * and a plan sweep over every declared query.
  */
class ApiSpec extends SparkSuite {
  import spark.implicits._

  test("saltedEquiJoin returns exactly the rows of the plain equi-join") {
    val o = Tables.orders(spark, sf001)
    val c = Tables.customer(spark, sf001)
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey").as[(Long, Long)].collect().sorted.toSeq
    val salted = Joins.saltedEquiJoin(o, c, "o_custkey", "c_custkey",
        leftUniqueCol = "o_orderkey", factor = 8)
      .select("o_orderkey", "c_custkey").as[(Long, Long)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("normalizeTs canonicalizes all three fixture ts representations identically") {
    // the driver has shipped two physical ts generations (FIXTURES.md
    // GOTCHA); this pins the adaptive dispatch so a future flip back to
    // nanos-long (or a pre-normalized TimestampType) cannot regress
    val usTs = java.sql.Timestamp.valueOf("2024-01-05 10:30:00.123456")
    val micros = usTs.getTime / 1000 * 1000000 + usTs.getNanos / 1000
    val dir = Files.createTempDirectory("normts").toString
    // epoch-nanos LongType (the legacy nanosAsLong arrival form)
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/long")
    // naive TIMESTAMP_NTZ (the r7 timestamp[us] arrival form)
    Seq((1L, java.time.LocalDateTime.parse("2024-01-05T10:30:00.123456")))
      .toDF("event_id", "ts").write.mode("overwrite").parquet(s"$dir/ntz")
    // already-canonical TimestampType
    Seq((1L, usTs)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/tz")
    val got = Seq("long", "ntz", "tz").map { f =>
      val df = Tables.normalizeTs(spark.read.parquet(s"$dir/$f"))
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$f form must canonicalize to TimestampType")
      df.select("ts").as[java.sql.Timestamp].head()
    }
    assert(got.toSet == Set(usTs), s"all three forms must yield $usTs; got $got")
  }

  /** `df` as the single parquet file `dir/events.parquet`, replacing any
    * file there, the way a fixture generation lands on disk. */
  private def writeEventsFile(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val out = Files.createTempDirectory("events_out").resolve("o")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, java.nio.file.Paths.get(Tables.path(dir, "events")),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables infers a table's footer schema once: a second read runs no Spark job") {
    val dir = Files.createTempDirectory("footer_once").toString
    Files.copy(java.nio.file.Paths.get(Tables.path(sf001, "events")),
      java.nio.file.Paths.get(Tables.path(dir, "events")))
    val (first, inferJobs) = jobsDuring(Tables.events(spark, dir))
    val (second, jobs) = jobsDuring(Tables.events(spark, dir))
    assert(inferJobs >= 1, "a fresh file's schema is inferred by a job")
    assert(jobs == 0, s"the second read of an unchanged file ran $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == Tables.events(spark, sf001).count())
  }

  test("Tables re-infers a file rewritten in place with the other ts generation") {
    val dir = Files.createTempDirectory("footer_rewrite").toString
    val at = java.time.LocalDateTime.parse("2024-01-05T10:30:00.123456")
    val want = java.sql.Timestamp.valueOf(at)
    val micros = want.getTime / 1000 * 1000000 + want.getNanos / 1000
    // naive TIMESTAMP_NTZ (the r7 timestamp[us] generation)
    writeEventsFile(Seq((1L, at, 7L, "click", 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), dir)
    val ntz = Tables.events(spark, dir).select("ts").as[java.sql.Timestamp].collect()
    // epoch-nanos long (the legacy nanosAsLong generation), same path
    writeEventsFile(Seq((1L, micros * 1000L, 7L, "click", 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), dir)
    assert(spark.read.parquet(Tables.path(dir, "events")).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val nanos = Tables.events(spark, dir)
    assert(nanos.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val again = nanos.select("ts").as[java.sql.Timestamp].collect()
    assert(ntz.toSeq == Seq(want) && again.toSeq == Seq(want),
      s"both generations must read as $want; got ${ntz.toSeq} then ${again.toSeq}")
  }

  test("bandedRangeJoin returns exactly the naive theta-join rows, without a nested loop") {
    val li = Tables.lineitem(spark, sf001).filter(col("l_orderkey") <= 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("l_quantity") - 5).as("lo"),
        (col("l_extendedprice") / col("l_quantity") + 5).as("hi"))
    val p = Tables.part(spark, sf001).select("p_partkey", "p_retailprice")
    val naive = p.join(li, col("p_retailprice") >= col("lo") && col("p_retailprice") <= col("hi"))
      .select("p_partkey", "l_orderkey", "l_linenumber")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val banded = Joins.bandedRangeJoin(p, "p_retailprice", li, "lo", "hi", 10.0)
    val got = banded.select("p_partkey", "l_orderkey", "l_linenumber")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == naive, s"banded=${got.size} rows, naive=${naive.size} rows")
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"banded range join must be an equi-join on the bucket id:\n$plan")
  }

  test("fuzzyEditJoin equals the brute-force levenshtein<=1 pair set, no nested loop") {
    val c = Tables.customer(spark, sf001).select("c_custkey", "c_name")
    // brute force locally — the operator's deletion-variant candidates
    // must be lossless against the exact quadratic answer
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = c.as[(Long, String)].collect()
    val naive = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib, lev(sa, sb))).toSet
    val fuzzy = Joins.fuzzyEditJoin(c, "c_custkey", "c_name")
    val got = fuzzy.as[(Long, Long, Int)].collect().toSet
    assert(got == naive && got.nonEmpty,
      s"fuzzy=${got.size} pairs, naive=${naive.size}")
    val plan = fuzzy.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"fuzzy join must be a variant equi-join:\n${plan.take(400)}")
  }

  test("fuzzyEditJoinCapped: subset of the full join, bounded hot-variant candidates") {
    import org.apache.spark.sql.functions.lit
    val c = Tables.customer(spark, sf001).select("c_custkey", "c_name")
    val full = Joins.fuzzyEditJoin(c, "c_custkey", "c_name")
      .as[(Long, Long, Int)].collect().toSet
    val capped = Joins.fuzzyEditJoinCapped(c, "c_custkey", "c_name",
        maxDist = 1, cap = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped.subsetOf(full) && capped.nonEmpty,
      s"capped (${capped.size}) must be a nonempty subset of full (${full.size})")
    // a cap above every bucket's occupancy recovers the full join exactly
    val uncapped = Joins.fuzzyEditJoinCapped(c, "c_custkey", "c_name",
        maxDist = 1, cap = 1 << 20)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped == full, "a non-binding cap must equal the full join")
    // planted HOT VARIANT: many ids sharing one short token — the full
    // join's candidate volume is Σocc² on that bucket, the capped
    // join's is occ × cap. Count the verified-pair upper bound: every
    // id pairs with every other in the full join (they are all within
    // distance 0/1 of each other? no — identical strings, distance 0),
    // so the capped result must keep each id's pairs to <= cap partners
    // on the hot side.
    val hot = spark.range(0, 200)
      .select(col("id").as("hid"), lit("aa").as("hs"))
    val cappedHot = Joins.fuzzyEditJoinCapped(hot, "hid", "hs",
        maxDist = 1, cap = 4)
      .as[(Long, Long, Int)].collect()
    // pairs only reach verification when the RIGHT member is one of
    // the bucket's 4 md5-representatives — at most cap distinct id_b
    val hotPartners = cappedHot.map(_._2).distinct.length
    assert(hotPartners <= 4 && cappedHot.nonEmpty,
      s"hot-bucket neighbor side must be capped at 4 ids, got $hotPartners")
    val fullHot = Joins.fuzzyEditJoin(hot, "hid", "hs")
      .as[(Long, Long, Int)].collect()
    assert(fullHot.length == 200 * 199 / 2,
      s"uncapped hot bucket is quadratic by construction: ${fullHot.length}")
    assert(cappedHot.length <= 4 * 200,
      s"capped hot bucket must be linear (occ × cap): ${cappedHot.length}")
  }

  test("attribution: credits sum to 1 per conversion, exactly one last touch") {
    val out = graft.queries.Analytic.queries("event_attribution")(spark, sf001)
    val per = out.groupBy("user_id", "conv_id")
      .agg(org.apache.spark.sql.functions.sum("credit_linear").as("csum"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("is_last_touch"), 1L)
            .otherwise(0L)).as("nlast"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max("n_touches").as("nt"))
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    assert(per.nonEmpty)
    per.foreach { case (u, cid, csum, nlast, n, nt) =>
      assert(n == nt, s"($u,$cid): group size $n != n_touches $nt")
      assert(nlast == 1L, s"($u,$cid): $nlast last touches")
      // 1/n round4-ed n times: within n/2e4 of 1
      assert(math.abs(csum - 1.0) <= nt / 2e4 + 1e-9, s"($u,$cid): csum $csum")
    }
    // every conversion id is a purchase row; every touch precedes it
    val ev = Tables.events(spark, sf001)
      .select(col("event_id"), col("event_type")).as[(Long, String)]
      .collect().toMap
    out.select("conv_id", "event_id").as[(Long, Long)].collect().foreach {
      case (cid, eid) => assert(ev(cid) == "purchase" && ev(eid) != "purchase")
    }
  }

  test("zorder prune: both dimensions prune cells, scanned truth-checked") {
    val sp = spark
    import sp.implicits._
    val plan = Sinks.zorderPlan(Tables.events(spark, sf001), col("user_id"),
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.coalesce(col("value"),
          org.apache.spark.sql.functions.lit(0.0)) * 100 +
          org.apache.spark.sql.functions.lit(0.5)), bits = 4)
    val stats = Sinks.zorderPruneStats(plan, 0L, 3L, 0L, 2000L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val cells = plan.count()
    for ((dim, (ct, cs, rt, rs)) <- stats) {
      assert(ct == cells && cs > 0 && cs < ct,
        s"$dim: scanned $cs of $ct cells — predicate must prune SOME cells")
      assert(rs <= rt && rs > 0)
    }
    // truth-check x: every row with user_id in [0,3] lives in a scanned cell
    val hit = Tables.events(spark, sf001)
      .filter(col("user_id").between(0, 3)).count()
    assert(stats("x")._4 >= hit, "scanned rows must cover all predicate rows")
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val ev = Tables.events(spark, sf001)
    Sinks.partitionedParquet(ev, dir, Seq("event_type"))
    val back = Sources.parquet(spark, dir)
    assert(back.count() == ev.count())
    val pruned = back.filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == ev.filter(col("event_type") === "click").count())
    assert(plan.contains("PartitionFilters") || !plan.contains("event_type = click"),
      "partition filter should prune, not scan-filter")
  }

  test("streaming parquet sink (AvailableNow + checkpoint) lands the windowed agg") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val agg = StreamOps.tumblingAgg(StreamOps.eventsStream(spark, sf001))
    val q = Sinks.streamToParquet(agg, out, ckpt).start()
    q.awaitTermination()
    val rows = Sources.parquet(spark, out).count()
    // append mode: only watermark-closed windows land; all but the last
    // few windows of the 30-day range are closed after full replay
    assert(rows > 800, s"expected most of the ~868 windows, got $rows")
  }

  test("bucketed tables join co-located: no exchange on either side") {
    val o = Tables.orders(spark, sf001).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sf001).select("c_custkey", "c_mktsegment")
    // a previous JVM's run leaves orphan table dirs in the warehouse that
    // a fresh catalog refuses to overwrite — clear both catalog + location
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("orders_bkt", "cust_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new org.apache.hadoop.fs.Path(wh, t), true)
    }
    Sinks.bucketedTable(o, "orders_bkt", "o_custkey", 8)
    Sinks.bucketedTable(c, "cust_bkt", "c_custkey", 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bkt")
        .join(spark.table("cust_bkt"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it returns exactly the plain-join rows
      val want = o.join(c, col("o_custkey") === col("c_custkey")).count()
      assert(j.count() == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("Sources.csv round-trips typed rows with header") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv").toString
    val rows = Seq((1L, "a,b", 1.5), (2L, "plain", -0.25), (3L, "", 0.0))
    rows.toDF("id", "s", "v").write.mode("overwrite")
      .option("header", "true").csv(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val back = Sources.csv(spark, dir, schema)
      .as[(Long, String, Double)].collect().toSet
    // CSV has no empty-vs-null distinction: "" reads back as null
    val want = rows.map { case (i, s, v) => (i, if (s.isEmpty) null else s, v) }.toSet
    assert(back == want, s"got $back")
  }

  test("Sources.json round-trips nested rows with explicit schema") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_json").toString
    val rows = Seq((1L, "x", Seq(1, 2, 3)), (2L, "y\"quoted", Seq.empty[Int]))
    rows.toDF("id", "s", "arr").write.mode("overwrite").json(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("arr", ArrayType(IntegerType))))
    val back = Sources.json(spark, dir, schema)
      .as[(Long, String, Seq[Int])].collect().toSet
    assert(back == rows.toSet, s"got $back")
  }

  test("Sources.orc round-trips typed rows including arrays") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val rows = Seq((1L, "x", Seq(1.5f, -2.0f)), (2L, null: String, Seq.empty[Float]))
    rows.toDF("id", "s", "vec").write.mode("overwrite").orc(dir)
    val back = Sources.orc(spark, dir)
      .as[(Long, String, Seq[Float])].collect().toSet
    assert(back == rows.toSet, s"got $back")
  }

  test("Sinks.compactParquet collapses a many-file directory, preserving rows") {
    val in = Files.createTempDirectory("graft_compact_in").toString
    val out = Files.createTempDirectory("graft_compact_out").toString
    Tables.events(spark, sf001).repartition(20).write.mode("overwrite").parquet(in)
    def partFiles(p: String) =
      new java.io.File(p).listFiles().count(f => f.getName.startsWith("part-"))
    assert(partFiles(in) == 20)
    val n = Sinks.compactParquet(spark, in, out) // tiny table → 1 target file
    assert(n == 1 && partFiles(out) == 1, s"n=$n files=${partFiles(out)}")
    assert(spark.read.parquet(out).count() == Tables.events(spark, sf001).count())
  }

  test("Sinks.compactPlan: ceil-by-integer-division file counts, min 1") {
    val sp = spark
    import sp.implicits._
    // byte sizes chosen around the target: 100 -> exactly 1 file at
    // target 100; 101 -> 2; tiny group -> floor 1
    val df = Seq(
      ("a", "x" * 60), ("a", "y" * 40),            // 100 bytes -> 1 file
      ("b", "x" * 60), ("b", "y" * 41),            // 101 bytes -> 2 files
      ("c", "z")                                   // 1 byte    -> 1 file
    ).toDF("pfx", "text")
    val m = Sinks.compactPlan(df, Seq("pfx"),
        org.apache.spark.sql.functions.octet_length(col("text")).cast("long"),
        targetBytes = 100L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m("a") === ((2L, 100L, 1L)))
    assert(m("b") === ((2L, 101L, 2L)))
    assert(m("c") === ((1L, 1L, 1L)))
    assert(intercept[IllegalArgumentException](
      Sinks.compactPlan(df, Seq("pfx"), col("text"), 0L))
      .getMessage.contains("positive"))
  }

  test("Sinks.zorderPlan3: exact 3-way Morton interleave, cells partition the table") {
    val sp = spark
    import sp.implicits._
    // x, y, w ∈ 0..7 with extremes present → span 8, bucket = value at
    // bits=3, so z is the plain 3-way Morton code — replay locally
    val pts = Seq((0L, 0L, 0L), (7L, 7L, 7L), (3L, 5L, 1L), (7L, 0L, 4L),
      (2L, 2L, 2L), (3L, 5L, 1L))
    val df = pts.toDF("x", "y", "w")
    def morton3(x: Long, y: Long, w: Long): Long =
      (0 until 3).map(i => (((x >> i) & 1L) << (3 * i + 2)) |
        (((y >> i) & 1L) << (3 * i + 1)) | (((w >> i) & 1L) << (3 * i))).sum
    val got = Sinks.zorderPlan3(df, col("x"), col("y"), col("w"), bits = 3)
      .select("z", "n_rows").as[(Long, Long)].collect().toMap
    val want = pts.groupBy { case (x, y, w) => morton3(x, y, w) }
      .map { case (z, g) => z -> g.size.toLong }
    assert(got == want, s"$got != $want")
    // on the real table: cells tile the input, z bounded by 2^(3*bits)
    val ev = Tables.events(spark, sf001)
    val plan = Sinks.zorderPlan3(ev, col("user_id"),
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.coalesce(col("value"),
          org.apache.spark.sql.functions.lit(0.0)) * 100 +
          org.apache.spark.sql.functions.lit(0.5)),
      org.apache.spark.sql.functions.expr("unix_micros(ts) div 3600000000"),
      bits = 3)
    val (cells, total, zmax) = plan
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_rows"),
        org.apache.spark.sql.functions.max("z"))
      .as[(Long, Long, Long)].head()
    assert(total == ev.count()); assert(zmax < 512 && cells > 1)
  }

  test("Sinks.zorderPlan: exact Morton interleave, cells partition the table") {
    val sp = spark
    import sp.implicits._
    // x, y ∈ 0..15 with both extremes present → span 16, bucket = value
    // itself at bits=4, so z is the plain Morton code — replay locally
    val pts = Seq((0L, 0L), (15L, 15L), (7L, 8L), (3L, 12L), (15L, 0L), (7L, 8L))
    val df = pts.toDF("x", "y")
    def morton(x: Long, y: Long): Long =
      (0 until 4).map(i => (((x >> i) & 1L) << (2 * i + 1)) |
        (((y >> i) & 1L) << (2 * i))).sum
    val got = Sinks.zorderPlan(df, col("x"), col("y"), bits = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val want = pts.groupBy { case (x, y) => morton(x, y) }
      .map { case (z, g) => z -> g.size.toLong }
    assert(got == want, s"$got != $want")
    // on the real table: cells tile the input exactly, z bounded by 2^(2*bits)
    val ev = Tables.events(spark, sf001)
    val plan = Sinks.zorderPlan(ev, col("user_id"),
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.coalesce(col("value"),
          org.apache.spark.sql.functions.lit(0.0)) * 100 +
          org.apache.spark.sql.functions.lit(0.5)), bits = 4)
    val (cells, total, zmax) = plan
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_rows"),
        org.apache.spark.sql.functions.max("z"))
      .as[(Long, Long, Long)].head()
    assert(total == ev.count()); assert(zmax < 256 && cells > 1)
  }

  test("Sinks.zorderWrite: one file per zfile, raw footers equal the stats table, both predicates prune files") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_zw").toString
    val ev = Tables.events(spark, sf001)
    val stats = Sinks.zorderWrite(ev, col("user_id"),
        org.apache.spark.sql.functions.floor(
          org.apache.spark.sql.functions.coalesce(col("value"),
            org.apache.spark.sql.functions.lit(0.0)) * 100 +
            org.apache.spark.sql.functions.lit(0.5)),
        bits = 4, targetRows = 64L, path = dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(stats.size > 4, s"want a multi-file layout, got ${stats.size}")
    // exactly one physical part-file per planned zfile
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("zfile=")).sortBy(_.getName)
    assert(dirs.length == stats.size)
    val files = dirs.map { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getName}: ${parts.length} part files")
      d.getName.stripPrefix("zfile=").toLong -> parts.head
    }
    // the RAW parquet footers (what a reader's file-skip consults) carry
    // exactly the min/max the returned stats table claims
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    for ((zf, f) <- files) {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
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
    // both range predicates prune FILES on the footer stats (the z-order
    // win a single-column sort can't give the second dimension)
    val xScan = stats.values.count { case (_, mnx, mxx, _, _) => !(mxx < 0L || mnx > 3L) }
    val yScan = stats.values.count { case (_, _, _, mny, mxy) => !(mxy < 0L || mny > 2000L) }
    info(s"files: ${stats.size}, x-predicate scans $xScan, y-predicate scans $yScan")
    assert(xScan < stats.size, "x predicate pruned nothing")
    assert(yScan < stats.size, "y predicate pruned nothing")
    // soundness: every row matching each predicate lives in a scanned file
    val xHit = ev.filter(col("user_id").between(0, 3)).count()
    val xCovered = stats.values.collect {
      case (n, mnx, mxx, _, _) if !(mxx < 0L || mnx > 3L) => n }.sum
    assert(xCovered >= xHit)
  }

  test("dynamic partition pruning fires on a partitioned fact x filtered dim join") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    // fact partitioned by event_type (stands in for a date-partitioned
    // 100 TB tree); dim restricts to one type via a non-partition column
    Tables.events(spark, sf001).write.mode("overwrite")
      .partitionBy("event_type").parquet(dir)
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("purchase", 1L), ("click", 2L), ("view", 3L), ("signup", 4L),
      ("error", 5L)).toDF("etype", "type_id")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("type_id") === 1) // only 'purchase'
    val fact = spark.read.parquet(dir)
    val j = fact.join(dim, fact("event_type") === dim("etype"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected a dynamic partition pruning filter in:\n$plan")
    assert(j.count() ==
      Tables.events(spark, sf001).filter(col("event_type") === "purchase").count())
  }

  test("ANN on a label-partitioned corpus prunes the scan to routed partitions") {
    // SCALE.md's claim made mechanical: when the corpus is physically
    // partitioned by the IVF label, the probe routing (broadcast
    // topParts joined on label) must reach the scan as a partition
    // pruning filter — billion-vector search reads nProbe partitions,
    // not the corpus.
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_part").toString
    Tables.embeddings(spark, sf001).write.mode("overwrite")
      .partitionBy("label").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val probes = corpus.filter(col("vec_id") < 10)
    val out = graft.api.Similarity.annTopK(corpus, probes, "vec_id", "embedding",
      "label", 5, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the label-partitioned corpus scan:\n$plan")
    // and the routed result is the same one the unpartitioned read gives
    val base = Tables.embeddings(spark, sf001)
    val want = graft.api.Similarity.annTopK(base, base.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 5, nProbe = 2)
      .select("probe_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val got = out.select("probe_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == want)
  }

  test("mergeSchema reads across parquet schema evolution (added column)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // epoch 1: (id, text); epoch 2 adds a quality column
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", 0.9), (4L, "delta", 0.2)).toDF("id", "text", "quality")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "text", "quality"),
      s"union schema expected, got ${merged.columns.toSeq}")
    // old-epoch rows surface the new column as null, not a read failure
    assert(merged.filter(col("quality").isNull).count() == 2)
    assert(merged.count() == 4)
  }

  test("dynamic partition overwrite rebuilds one partition, leaves the rest") {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_dpo").toString
      Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("doc_id", "lang")
        .write.partitionBy("lang").mode("overwrite").parquet(dir)
      // incremental rebuild touches ONLY the 'en' partition
      Seq((9L, "en")).toDF("doc_id", "lang")
        .write.partitionBy("lang").mode("overwrite").parquet(dir)
      val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
      assert(got == Set((9L, "en"), (3L, "de")),
        s"'en' replaced, 'de' untouched expected; got $got")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("no declared query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val p = fn(spark, sf001).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
