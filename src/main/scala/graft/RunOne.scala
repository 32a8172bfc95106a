package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** Dev main: run declared keys and time each one end to end.
  *
  * Usage: scripts/run.sh graft.RunOne <key>... [sfDir] [times=N] [profile]
  *   [explain] [dump=<dir>]
  *
  *  - A run materializes every output column (`write.format("noop")`),
  *    so Catalyst cannot prune what a `.count()` would not read. The
  *    row count comes from an `observe` on the same job.
  *  - `times=N`: run each key N times and report the fastest (default 1).
  *  - `profile`: after the timed runs, one more run with a per-job and
  *    per-stage breakdown (job wall-clock, stage task time and counts,
  *    shuffle bytes), so optimization targets the measured cost.
  *  - `explain`: print the formatted physical plan first.
  *  - `dump=<dir>`: write each result to `<dir>/<key>` in graft.Verify's
  *    layout (an oracle replay also needs Verify's `oracle_sql.json`:
  *    `graft.Verify <sfDir> <out> <key>...` writes both).
  *
  * `sfDir` is the fixture directory (default: `SPARK_GRAFT_SF_DIR`);
  * `SPARK_GRAFT_CPUS` sets the local cores (default 32).
  */
object RunOne {
  private case class StageRec(name: String, tasks: Int, wallMs: Long,
                              taskMs: Long, shufRead: Long, shufWrite: Long)

  /** The jobs and stages that finish while it is registered. */
  private class JobLog extends SparkListener {
    private val started = mutable.Map.empty[Int, (Long, String)] // id -> (start, desc)
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    private val taskAgg = mutable.Map.empty[Int, (Long, Long, Long)] // stageId -> (taskMs, sr, sw)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started(e.jobId) = (e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      started.get(e.jobId).foreach { case (t0, d) => jobs += ((e.jobId, e.time - t0, d)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val (a, b, c) = taskAgg.getOrElse(e.stageId, (0L, 0L, 0L))
        taskAgg(e.stageId) = (a + m.executorRunTime,
          b + m.shuffleReadMetrics.totalBytesRead,
          c + m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      val (tms, sr, sw) = taskAgg.getOrElse(si.stageId, (0L, 0L, 0L))
      stages += StageRec(si.name.takeWhile(_ != '\n').take(90), si.numTasks, wall, tms, sr, sw)
    }
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(a => a == "profile" || a == "explain" ||
      a.startsWith("times=") || a.startsWith("dump="))
    val (keys, rest) = args.diff(flags).partition(SparkEntry.queries.contains)
    val (dirs, unknown) = rest.partition(new java.io.File(_).isDirectory)
    require(keys.nonEmpty && unknown.isEmpty && dirs.length <= 1,
      "usage: graft.RunOne <key>... [sfDir] [times=N] [profile] [explain] " +
        s"[dump=<dir>]; not a declared key or a directory: ${unknown.mkString(" ")}")
    val dir = dirs.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException("no sfDir: pass one or set SPARK_GRAFT_SF_DIR"))
    val times = flags.collectFirst { case a if a.startsWith("times=") =>
      a.stripPrefix("times=").toInt }.getOrElse(1)
    val dump = flags.collectFirst { case a if a.startsWith("dump=") => a.stripPrefix("dump=") }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    /** One end-to-end run of `key`: (seconds, rows). */
    def run(key: String): (Double, Long) = {
      val rows = Observation()
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, dir).observe(rows, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, rows.get("n").asInstanceOf[Long])
    }

    /** One more run of `key`, with its jobs and stages printed. */
    def profile(key: String): Unit = {
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val (sec, n) = run(key)
      Bridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(log)
      println(f"[profile] $key rows=$n timed=$sec%.2f s  jobs=${log.jobs.size}  stages=${log.stages.size}")
      println(f"[profile] sum(job wall)=${log.jobs.map(_._2).sum / 1000.0}%.2f s " +
        "(gaps to timed = driver/plan time)")
      println("-- jobs by duration --")
      log.jobs.sortBy(-_._2).take(25).foreach { case (id, ms, d) =>
        println(f"  job $id%4d ${ms / 1000.0}%7.3f s  ${d.take(80)}")
      }
      println("-- stages by wall --")
      log.stages.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"  ${s.wallMs / 1000.0}%7.3f s wall ${s.taskMs / 1000.0}%8.3f s tasks " +
          f"n=${s.tasks}%3d sr=${s.shufRead}%9d sw=${s.shufWrite}%9d  ${s.name}")
      }
      println(f"[profile] total tasks=${log.stages.map(_.tasks).sum}  " +
        f"total task-ms=${log.stages.map(_.taskMs).sum}")
    }

    keys.foreach { key =>
      if (flags.contains("explain")) SparkEntry.queries(key)(spark, dir).explain("formatted")
      val runs = Seq.fill(times)(run(key))
      println(f"[runone] $key%-24s ${runs.map(_._1).min}%7.2f s  rows=${runs.head._2}" +
        (if (times > 1) s"  (fastest of $times)" else ""))
      if (flags.contains("profile")) profile(key)
      dump.foreach { out =>
        SparkEntry.queries(key)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$key")
      }
    }
    spark.stop()
  }
}
