package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Centralized loaders for the driver-generated parquet tables
  * (TESTDATA.md / FIXTURES.md). All queries go through here so the
  * ts-representation normalization (FIXTURES.md "GOTCHA" — the physical
  * timestamp type varies by fixture generation) lives in exactly one
  * place.
  *
  * Scale note: these are plain `spark.read.parquet` scans (with the
  * memoized footer schema, [[schema]]) — at 100 TB the
  * same call reads a partitioned directory tree and Catalyst handles
  * partition pruning / predicate pushdown; nothing here assumes a single
  * file.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    spark.read.schema(schema(spark, p)).parquet(p)
  }

  /** Footer schemas by (path, modification time, length). */
  private val footers = new ConcurrentHashMap[(String, Long, Long), StructType]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per JVM
    * for each version of the path. Inference is a Spark job of its own
    * (it reads the footers), so without this memo every read of a table
    * pays one; the result is the exact inferred schema, so handing it to
    * `spark.read.schema` changes no read. The key holds the path's
    * modification time and length, so a file rewritten in place (another
    * fixture generation's `ts`, FIXTURES.md "GOTCHA") is inferred again;
    * a directory's own modification time moves when entries are added or
    * removed. A missing path is not memoized: Spark reports it.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    val p = new Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      footers.computeIfAbsent((st.getPath.toString, st.getModificationTime, st.getLen),
        _ => infer)
    } catch { case _: FileNotFoundException => infer }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events` with `ts` normalized to a micros TimestampType, whatever
    * the file's physical representation is (FIXTURES.md "GOTCHA").
    *
    * The driver has shipped two generations of the fixture: Parquet
    * TIMESTAMP(NANOS) — which Spark 4.1.2 rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` turns it into a LongType
    * of epoch-nanos — and plain `timestamp[us]` (naive), which Spark reads
    * as TIMESTAMP_NTZ. [[normalizeTs]] dispatches on the arrived type, so
    * every operator sees one canonical TimestampType `ts` regardless of
    * which generation is on disk. The nanos path is exact integer
    * division (never a double round-trip — epoch-nanos exceeds a double's
    * 53-bit mantissa); the NTZ path is a wall-clock-preserving cast under
    * the fixed UTC session zone. DuckDB reads the same file natively
    * (TIMESTAMP_NS / TIMESTAMP), so both engines agree to the microsecond.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))

  /** Normalize an events-shaped frame's `ts` to TimestampType (micros).
    * Handles all three arrival forms: epoch-nanos LongType (legacy nanos
    * fixture under nanosAsLong), TIMESTAMP_NTZ (naive `timestamp[us]`
    * fixture — cast is wall-clock-preserving under the UTC session zone),
    * and TimestampType (already canonical).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  // NOTE: an eventsRawTs loader (epoch-micros LongType ts) used to live
  // here; it silently changed units across fixture generations and had no
  // remaining callers, so it was REMOVED rather than renamed — operators
  // that want integer time arithmetic derive it inline with
  // `unix_micros(ts)` from the normalized frame (representation-free).
}

/** Cross-engine determinism helpers (SURVEY.md §5.4).
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * oracle SQL, so every emitted double must be *bit-identical* across
  * engines, not merely close. Two disciplines make that true:
  *
  *  1. Sums of money-like doubles (fixed 2-decimal values) are computed in
  *     exact DECIMAL arithmetic and cast to double only at the end — the
  *     sum is order-independent and both engines convert the same rational
  *     to the same nearest double.
  *
  *  2. Genuine double math (averages, ratios, cosines) is rounded with
  *     `floor(x*100 + 0.5)/100` instead of engine `round()`: given
  *     bit-identical inputs this is a fixed IEEE-754 op sequence with one
  *     answer, whereas `round(double, 2)` differs between Spark
  *     (BigDecimal of shortest-repr, HALF_UP) and DuckDB on .xx5-printing
  *     values.
  *
  * NON-NEGATIVE-VALUE ASSUMPTION (the streaming folds' cents idiom): the
  * stateful operators derive exact cents as Scala `math.round(value*100)`
  * and their oracles as DuckDB `round(value*100)`. Scala rounds half-UP
  * (toward +∞) while DuckDB rounds half-AWAY-FROM-ZERO — identical for
  * values >= 0, divergent on negative exact-.5-cent values (-0.005 →
  * 0 vs -1). Every money-like fixture column is non-negative, which the
  * sf0.001/0.01/0.1 hash matches confirm; an operator fed negative
  * money values must first switch both sides to one explicit rule
  * (e.g. floor(x*100 + 0.5) on both engines).
  */
object Det {
  /** Cast a 2-decimal-valued double to exact decimal for summation. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact sum of money-like doubles, emitted as double. */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast("double")

  /** Bit-stable 2-decimal rounding of a double (same idiom in oracle SQL:
    * `floor(x*100 + 0.5)/100`).
    */
  def round2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100

  /** Bit-stable 4-decimal rounding (for similarity scores). */
  def round4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000

  /** Bit-stable 8-decimal rounding — for sampling priorities in (0,1]
    * whose weight fidelity needs finer than 1e-4 granularity near 1
    * (oracle idiom: `floor(x*100000000 + 0.5)/100000000`). */
  def round8(c: Column): Column =
    floor(c * 100000000L + lit(0.5)) / 100000000L

  /** |cents| ceiling for the exact-integer ts_* formulations (ADVICE
    * r16): their quadratic terms (n*sq, sm*sm, (n*x-sm)^2 with window
    * n <= 16) are bounded by 1024*B^2, so B = 2^26 (~$671k) keeps the
    * worst case at 2^62 — inside int64 with a factor-2 margin. */
  val CentsBound: Long = 1L << 26

  /** BIGINT cents of a money-like double with a LOUD magnitude guard:
    * events.value carries no schema bound, and past [[CentsBound]] the
    * squared-cents arithmetic overflows — Spark would wrap silently
    * while DuckDB raises, a silent cross-engine divergence (ADVICE
    * r16). An out-of-range fixture now fails the job on BOTH engines
    * (the oracle twin is [[centsGuardedSql]]) instead of hashing
    * differently. */
  def centsGuarded(c: Column): Column = {
    val cents = (dec2(c) * 100).cast("long")
    when(abs(cents) > CentsBound,
      raise_error(concat(
        lit(s"cents magnitude exceeds 2^26 ($CentsBound) — the exact " +
          "integer ts_* arithmetic would overflow int64: "),
        cents.cast("string"))))
      .otherwise(cents)
  }

  /** DuckDB twin of [[centsGuarded]] for oracle SQL: `error()` raises,
    * so the same out-of-range fixture aborts the oracle run too. */
  def centsGuardedSql(valueExpr: String): String =
    s"CASE WHEN abs(CAST(CAST($valueExpr AS DECIMAL(12,2)) * 100 AS BIGINT)) > $CentsBound " +
      s"THEN CAST(error('cents magnitude exceeds 2^26 ($CentsBound)') AS BIGINT) " +
      s"ELSE CAST(CAST($valueExpr AS DECIMAL(12,2)) * 100 AS BIGINT) END"
}
