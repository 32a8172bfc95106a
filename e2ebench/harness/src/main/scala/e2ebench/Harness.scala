package e2ebench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{Det, GraftSession, SparkEntry, Tables}
import graft.api.{Similarity, Windows}
import graft.streaming.{Ev, StreamOps}

/** One benchmark run in one JVM: session set-up, one untimed warm-up
  * round, timed rounds until the run length is spent, then the outputs
  * of the last round and the run's figures are written for `run.py`.
  *
  * Arguments are `name=value` pairs: workload, data, out, seconds,
  * trace (0|1), cores, launch_ms (epoch ms at which the JVM was
  * launched), ops (`op:table+table,...`), window_slide_min,
  * window_slots, knn_k, knn_tables and knn_bits (batch_pipeline and
  * fixpoint_loops), and stream_events and batch_events (event_stream).
  */
object Harness {
  final case class Span(id: Int, op: String, name: String, startNs: Long, endNs: Long) {
    def s: Double = (endNs - startNs) / 1e9
  }

  /** Spans and Spark counters; spans are kept in memory and written at
    * the end. Counters are filled only by the traced run's listeners. */
  final class Trace {
    val spans = ArrayBuffer.empty[Span]
    private var nextId = 0
    def newId(): Int = synchronized { nextId += 1; nextId }
    def span[T](id: Int, op: String, name: String)(body: => T): (T, Span) = {
      val t0 = System.nanoTime()
      val r = body
      val sp = Span(id, op, name, t0, System.nanoTime())
      synchronized { spans += sp }
      (r, sp)
    }
  }

  /** Job, stage and task counters of the traced run (SparkListener). */
  final class Counters extends SparkListener {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var gcMs = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; jobStart(e.jobId) = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, System.nanoTime())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    def snapshot: Map[String, Double] = synchronized {
      Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
        "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
        "shuffle_read_mb" -> shuffleRead / 1048576.0,
        "shuffle_write_mb" -> shuffleWrite / 1048576.0, "spill_mb" -> spill / 1048576.0)
    }
    /** Nanoseconds of [t0, t1] covered by at least one running job. */
    def covered(t0: Long, t1: Long): Long = synchronized {
      val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (curB < 0 || a > curB) { if (curB >= 0) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB >= 0) total += curB - curA
      total
    }
  }

  /** Progress of the traced run's streaming queries (StreamingQueryListener). */
  final class StreamCounters extends StreamingQueryListener {
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
      val r = progress.toList; progress.clear(); r
    }
  }

  /** One operation of a round: time inside the call that returns the
    * DataFrame (`build`), time of the collecting action, Spark jobs run
    * (traced run only), loop rounds the operation reports (-1 if none). A
    * failed operation has no times. */
  final case class Op(name: String, buildS: Double, actionS: Double, jobs: Long = 0,
                      rounds: Int = -1, failed: Boolean = false)

  /** One round's figures: wall time, its operations, input rows, and
    * per-layer numbers that are not per operation (traced run only). */
  final case class Round(wallS: Double, ops: Seq[Op], rows: Long, layers: Map[String, Double])

  trait Runner {
    def round(r: Int): Round
    /** Writes the latest round's outputs for the checks (untimed). */
    def writeOutputs(): Unit
    /** Oracle SQL of operations that are not declared keys, by name. */
    def oracles: Map[String, String] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val launchMs = a("launch_ms").toLong

    val spark = GraftSession.builder(cores)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$out/ckpt-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietAccumulatorRace()

    val trace = new Trace
    val counters = new Counters
    val streamCounters = new StreamCounters
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(streamCounters)
    }

    val ops: Seq[(String, Seq[String])] = a.get("ops").toSeq.flatMap(_.split(",")).map { kv =>
      val Array(k, ts) = kv.split(":"); k -> ts.split("\\+").toSeq
    }
    val tableRows: Map[String, Long] = {
      val id = trace.newId()
      // event_stream has no operations and reads `events`
      (if (ops.isEmpty) Seq("events") else ops.flatMap(_._2).distinct).map { t =>
        val (n, _) = trace.span(id, "load", s"tables.load.$t") {
          if (t == "events") Tables.events(spark, data).count()
          else spark.read.parquet(Tables.path(data, t)).count()
        }
        t -> n
      }.toMap
    }

    val runner: Runner = workload match {
      case "event_stream" =>
        new StreamRunner(spark, data, out, a("stream_events").toInt, a("batch_events").toInt,
          trace, streamCounters, traced)
      case "batch_pipeline" | "fixpoint_loops" =>
        new OpRunner(spark, data, out, ops, tableRows, a("window_slide_min").toInt,
          a("window_slots").toInt, a("knn_k").toInt, a("knn_tables").toInt, a("knn_bits").toInt,
          trace, counters, traced)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Warm-up: one whole round, untimed, so JIT and first-query costs
    // stay out of the timed rounds. A full GC then lets the timed rounds
    // start from a clean heap, with the warm-up's unreferenced shuffles
    // and checkpoints handed to Spark's cleaner. Set-up ends here.
    runner.round(0)
    System.gc()
    val setupDoneMs = System.currentTimeMillis()

    val rounds = ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    var r = 1
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      rounds += runner.round(r)
      r += 1
    }
    val peakRssMb = vmHwmMb()
    runner.writeOutputs()
    val storageMbEnd = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    extra("spark.storage_mb_end") = storageMbEnd

    // Oracle SQL of the keys run, of paneTwoLevel's batch replay, of the
    // capped kNN graph the graph_kcore property check reads, and of the
    // harness's own calls that have one.
    val oracleKeys = Seq("stream_pane_twolevel", "sim_knn_graph_capped") ++ ops.map(_._1)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => oracleKeys.contains(k) } ++
      runner.oracles

    val w = new PrintWriter(new File(s"$out/harness.json"))
    w.write(Json.obj(Seq(
      "setup_s" -> Json.num((setupDoneMs - launchMs) / 1e3),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "rounds" -> Json.arr(rounds.toSeq.map { rd =>
        Json.obj(Seq("wall_s" -> Json.num(rd.wallS),
          "ops" -> Json.arr(rd.ops.map { o =>
            Json.obj(Seq("name" -> Json.str(o.name), "build_s" -> Json.num(o.buildS),
              "action_s" -> Json.num(o.actionS), "jobs" -> Json.num(o.jobs.toDouble),
              "rounds" -> Json.num(o.rounds), "failed" -> (if (o.failed) "true" else "false")))
          }),
          "rows" -> Json.num(rd.rows.toDouble),
          "layers" -> Json.obj(rd.layers.toSeq.map { case (k, v) => k -> Json.num(v) })))
      }),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "oracle_sql" -> Json.obj(oracles.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    w.close()
    if (traced) {
      val tw = new PrintWriter(new File(s"$out/trace.json"))
      tw.write(Json.arr(trace.spans.toSeq.map { sp =>
        Json.obj(Seq("id" -> Json.num(sp.id), "op" -> Json.str(sp.op), "name" -> Json.str(sp.name),
          "start_ns" -> Json.num(sp.startNs.toDouble), "end_ns" -> Json.num(sp.endNs.toDouble)))
      }))
      tw.close()
    }
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Rounds of operations: each is built (`fn(spark, dir)` for a declared
  * key, which runs its driver-side loop, or one of the calls below) and
  * then materialized in full: every row and every output column is
  * collected to the driver, as a caller gets them. */
final class OpRunner(spark: SparkSession, data: String, out: String,
                     opSpecs: Seq[(String, Seq[String])], tableRows: Map[String, Long],
                     slideMin: Int, slots: Int, knnK: Int, knnTables: Int, knnBits: Int,
                     trace: Harness.Trace, counters: Harness.Counters, traced: Boolean)
    extends Harness.Runner {
  import Harness._

  /** The large-ratio sliding window pair: `slots` slides per window. */
  private val Slide = s"$slideMin minutes"

  /** Calls into the program that are not declared keys; each returns the
    * DataFrame and the loop rounds it reports. */
  private def harnessOp(name: String): Option[() => (DataFrame, Int)] = name match {
    case "tables_scan" => Some(() => (Tables.events(spark, data), -1))
    case "knn_converged" => Some { () =>
      val (g, r) = Similarity.knnGraphConvergedWithRound(Tables.embeddings(spark, data),
        "vec_id", "embedding", knnK, tables = knnTables, bits = knnBits)
      (g.select(col("src_id"), col("rnk"), col("neighbor_id"), Det.round4(col("cos")).as("cos")), r)
    }
    case "windows_sliding" => Some(() => (Windows.sliding(Tables.events(spark, data), "ts",
      s"${slots * slideMin} minutes", Slide, Seq(col("event_type")),
      Seq(count(lit(1)).as("n_events"), sum(Det.dec2(col("value"))).cast("double").as("sum_value"))),
      -1))
    case "windows_panes" => Some(() => (Windows.slidingByPanes(Tables.events(spark, data), "ts",
      Slide, slots, Seq(col("event_type")),
      paneAggs = Seq(count(lit(1)).as("pn"), sum(Det.dec2(col("value"))).as("psum")),
      rollupAggs = Seq(sum(col("pn")).as("n_events"),
        sum(col("psum")).cast("double").as("sum_value"))), -1))
    case _ => None
  }

  /** Loop rounds of a declared key, read from its own output: graph_kcore's
    * deepest peel layer is the round `Graphs.kcoreWithRound` reports. */
  private def keyRounds(name: String, schema: StructType, rows: Array[Row]): Int = name match {
    case "graph_kcore" =>
      val i = schema.fieldIndex("layer")
      rows.map(_.getInt(i)).foldLeft(0)(math.max)
    case _ => -1
  }

  private val ops: Seq[(String, Seq[String], () => (DataFrame, Int))] = opSpecs.map {
    case (k, tables) =>
      val run = harnessOp(k).getOrElse {
        val fn = SparkEntry.queries.getOrElse(k,
          throw new IllegalArgumentException(s"no declared key or harness operation $k"))
        () => (fn(spark, data), -1)
      }
      (k, tables, run)
  }

  /** Collected result and reported rounds of each operation in the latest round. */
  private val last = scala.collection.mutable.Map.empty[String, (StructType, Array[Row], Int)]

  override def oracles: Map[String, String] = last.get("knn_converged").map { case (_, _, r) =>
    "knn_converged" -> Similarity.knnGraphConvergedOracleSql(knnK, tables = knnTables,
      bits = knnBits, rounds = math.max(1, r))
  }.toMap

  /** One write job per operation, all at once: a write is mostly
    * per-job latency. */
  def writeOutputs(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(last.toSeq) { case (k, (schema, rows, _)) =>
      Future(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/keys/$k"))
    }, scala.concurrent.duration.Duration.Inf)
  }

  def round(r: Int): Round = {
    val before = counters.snapshot
    val done = ArrayBuffer.empty[Op]
    var rows = 0L
    val t0 = System.nanoTime()
    ops.foreach { case (k, tables, run) =>
      val id = trace.newId()
      val jobs0 = counters.jobs
      // A failed operation is counted and contributes no time.
      try {
        val ((df, reported), b) = trace.span(id, k, s"$k.build")(run())
        val (result, act) = trace.span(id, k, s"$k.action")(df.collect())
        val rounds = if (reported >= 0) reported else keyRounds(k, df.schema, result)
        last(k) = (df.schema, result, rounds)
        done += Op(k, b.s, act.s, counters.jobs - jobs0, rounds)
        rows += tables.map(tableRows).sum
      } catch {
        case e: Exception =>
          System.err.println(s"e2ebench: operation $k failed: $e")
          e.printStackTrace()
          last.remove(k)
          done += Op(k, 0, 0, failed = true)
      }
    }
    val t1 = System.nanoTime()
    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (traced) {
      val after = counters.snapshot
      after.foreach { case (m, v) => layers(s"spark.$m") = v - before(m) }
      layers("spark.driver_gap_s") = ((t1 - t0) - counters.covered(t0, t1)) / 1e9
    }
    Round((t1 - t0) / 1e9, done.toSeq, rows, layers.toMap)
  }
}

/** event_stream rounds: the first `streamEvents` events of the seeded
  * arrival order replayed through a MemoryStream, `batchEvents` per
  * micro-batch, into three StreamOps operators at once.
  * Closed loop: the next micro-batch is added only after every query
  * has processed the previous one. Each round starts the queries from
  * empty state and stops them at the end. */
final class StreamRunner(spark: SparkSession, data: String, out: String, streamEvents: Int,
                         batchEvents: Int,
                         trace: Harness.Trace, counters: Harness.StreamCounters,
                         traced: Boolean) extends Harness.Runner {
  import Harness._
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  private val batches: Seq[Seq[Ev]] = {
    val evs = Tables.events(spark, data)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().map(e => e.event_id -> e).toMap
    val order = spark.read.parquet(s"$data/arrival.parquet").as[Long].collect()
    order.toSeq.take(streamEvents).map(evs).grouped(batchEvents).toSeq
  }
  val fed: Long = batches.map(_.size.toLong).sum

  /** State-store partitions of every streaming query (fixed when a query
    * first starts): one per operator keeps the per-batch RocksDB commit
    * cost of the concurrent queries within the run length. */
  private val StatePartitions = 1

  /** Waits until `q` has read the rows up to `offset` and run the batch
    * without data that follows when the watermark moved.
    * `processAllAvailable` alone can return before a trigger that raced
    * `addData` has picked the data up. Fails after a minute. */
  private def drain(q: StreamingQuery, offset: String): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    q.processAllAvailable()
    while (!q.recentProgress.exists(p =>
        p.numInputRows > 0 && p.sources.exists(_.endOffset == offset))) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"${q.name} did not read offset $offset")
      Thread.sleep(10)
      q.processAllAvailable()
    }
    q.processAllAvailable()
  }

  /** Operator name, output mode and plan over the stream. */
  private def operators(ms: MemoryStream[Ev]): Seq[(String, String, DataFrame)] = {
    val df = ms.toDF()
    val ds: Dataset[Ev] = ms.toDS()
    Seq(
      ("panes", "append", StreamOps.paneTwoLevel(df)),
      ("trigger_fmgws", "append", StreamOps.customTrigger(ds, earlyEvery = 5, streaming = true).toDF()),
      ("trigger_tws", "append", StreamOps.customTriggerTws(ds, earlyEvery = 5).toDF()))
  }

  /** Memory-sink table of the latest round -> its progress JSON. */
  private val last = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def round(r: Int): Round = {
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val ckpt = new File(s"$out/stream-ckpt/r$r")
    // One source per query: a MemoryStream drops the rows a reader
    // commits, so readers sharing one lose each other's batches.
    val sources = Seq.fill(operators(MemoryStream[Ev]).size)(MemoryStream[Ev])
    val t0 = System.nanoTime()
    val queries: Seq[(String, StreamingQuery)] = sources.zipWithIndex.map { case (ms, i) =>
      val (name, mode, plan) = operators(ms)(i)
      name -> plan.writeStream.format("memory").queryName(s"${name}_r$r").outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$name").start()
    }
    val lat = ArrayBuffer.empty[Double]
    batches.zipWithIndex.foreach { case (b, i) =>
      val id = trace.newId()
      val (_, sp) = trace.span(id, s"batch${i + 1}", "streamops.batch") {
        val offsets = sources.map(_.addData(b).json())
        queries.zip(offsets).foreach { case ((_, q), offset) => drain(q, offset) }
      }
      lat += sp.s
    }
    queries.foreach(_._2.stop())
    val t1 = System.nanoTime()

    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (traced) {
      val prog = counters.drain()
      layers("streamops.batch_ms_p50") = median(lat.toSeq) * 1e3
      layers("streamops.batch_ms_p90") = percentile(lat.toSeq, 0.9) * 1e3
      layers("streamops.batches") = prog.size.toDouble
      def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      layers("streamops.add_batch_ms") = dur("addBatch")
      layers("streamops.commit_ms") = dur("commitOffsets")
      layers("streamops.planning_ms") = dur("queryPlanning")
      layers("streamops.rows_dropped_late") =
        prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum
      val last = prog.groupBy(_.id).values.map(_.maxBy(_.batchId))
      layers("streamops.state_rows") = last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum
      layers("streamops.state_mb") =
        last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum / 1048576.0
    }
    // Keep only this round's outputs and progress, for the checks.
    last.foreach { case (name, _) => spark.catalog.dropTempView(name) }
    last.clear()
    queries.foreach { case (name, q) =>
      last(s"${name}_r$r") = "[" + q.recentProgress.map(_.json).mkString(",") + "]"
    }
    deleteTree(ckpt)
    // A micro-batch is one operation: its time runs from adding the data
    // to every query having finished it.
    val ops = lat.toSeq.zipWithIndex.map { case (l, i) => Op(s"batch${i + 1}", 0, l) }
    Round((t1 - t0) / 1e9, ops, fed * queries.size, layers.toMap)
  }

  def writeOutputs(): Unit = last.foreach { case (table, progress) =>
    val name = table.take(table.lastIndexOf("_r"))
    spark.table(table).coalesce(1).write.mode("overwrite").parquet(s"$out/stream/$name")
    val w = new PrintWriter(new File(s"$out/stream/$name.progress.json"))
    w.write(progress)
    w.close()
  }
}

/** Just enough JSON writing for the harness output. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
