package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registry for the driver-generated test data
  * (TESTDATA.md: TPC-H-ish star schema + events/documents/embeddings).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A resolved table: the DataFrame and the `stamp` of the files it
    * was resolved from; `pinned` when [[pinForBench]] cached it. */
  private final case class Handle(stamp: Seq[(String, Long, Long)],
      df: DataFrame, pinned: Boolean = false)

  /** Each table's handle per (session, dir, table): a parquet read
    * resolved once (resolving runs a schema-inference job), or the
    * cached copy [[pinForBench]] pinned — the engine's buffer-pool
    * analogue (the reference reads shards from PostgreSQL's shared
    * buffers; at bench scale the whole working set is resident). */
  private val handles = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Handle]

  /** Table `name` under `dir`, resolved once per session: a later call
    * returns the same DataFrame, and starts no job, until one of the
    * table's files changes length or modification time. Then the old
    * handle is released first: Spark's cache matches a parquet read by
    * its path, so a pin of the old files would answer the new read. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val now = stamp(dir, name)
    handles.get((spark, dir, name)).filter(_.stamp == now).map(_.df)
      .getOrElse {
        release((spark, dir, name))
        val path = s"$dir/$name.parquet"
        val df = if (name == "events") readEvents(spark, path)
          else spark.read.parquet(path)
        handles.put((spark, dir, name), Handle(now, df))
        df
      }
  }

  /** (path, length, modification time) of each data file of table
    * `name` under `dir`. */
  private def stamp(dir: String, name: String): Seq[(String, Long, Long)] =
    parquetFiles(new java.io.File(s"$dir/$name.parquet"))
      .map(p => (p.getPath, p.length, p.lastModified))

  /** events.ts has shipped as both nanosecond parquet timestamps (older
    * testdata generations) and timestamp[us]; normalize to a microsecond
    * TimestampType at the load point so every consumer sees one schema.
    * The legacy nanosAsLong conf is only flipped on the fallback path,
    * scoped to the read, and restored afterwards. */
  private def readEvents(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val df =
      try spark.read.parquet(path)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        // nano-precision timestamps are only readable as epoch-nano longs
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try spark.read.parquet(path)
        finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", Dsl.nanosToTs(col("ts")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Drop every handle, pinned or not (required before stopping a
    * SparkSession — plans are bound to their session), and release the
    * caches [[pinForBench]] made, with the broadcasts built over them;
    * other cached data stays cached. */
  def unpin(): Unit = handles.keys.foreach(release)

  /** Drops the handle of `key`, and its cache if [[pinForBench]] made it. */
  private def release(key: (SparkSession, String, String)): Unit =
    handles.remove(key).filter(_.pinned).foreach(_.df.unpersist())

  /** The star-schema tables [[pinForBench]] pins: the bench's working
    * set, and the input [[benchConf]] is sized over. */
  val benchTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Cache + materialize the star-schema tables for benchmarking, in
    * the session configuration they are timed in: first sets every
    * entry of [[benchConf]] (sized over [[benchBytes]] and the default
    * parallelism), the one place those confs are applied, and returns
    * them. A re-pin releases the previous pin of each table first, so
    * the new pin caches the parquet read, not the old pin.
    *
    * Partitioning (revised r14): each sf0.1 parquet file holds ONE row
    * group, so Spark's split rule cannot give the scan more than one
    * real task no matter what maxPartitionBytes says — every map stage
    * over a naturally-cached table is single-threaded (r14 stage
    * profile: the "3-task" lineitem stages carry all 600k rows in one
    * task). On a real cluster the cache inherits the file layout
    * (thousands of multi-row-group splits); the single-row-group file
    * is a small-SF artifact. Restore the parallelism the data
    * supports by ROUND-ROBIN repartitioning each table at pin time to
    * [[mapParallelism]] partitions.
    * Round-robin (not hash-by-key) deliberately: a key-partitioned
    * cache would satisfy ENSURE_REQUIREMENTS and silently REMOVE the
    * exchanges the forced-shuffle bench entries exist to time.
    * Measured (r14 partition sweep, medians over interleaved passes,
    * local[32] sf0.1): bench set 2.93→1.96 s/set at parts=8 vs
    * natural; the r13-era "parts>1 loses" result was mean-based and
    * confounded with shuffle=8 + ambient load — per-query medians
    * reverse it. */
  def pinForBench(spark: SparkSession, dir: String): Map[String, String] = {
    val cores = spark.sparkContext.defaultParallelism
    val bytes = benchBytes(dir)
    val conf = benchConf(bytes, cores)
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    benchTables.zip(bytes).foreach { case (n, b) =>
      release((spark, dir, n))
      val parts = mapParallelism(b, cores)
      val base = apply(spark, dir, n)
      val df = (if (parts > 1) base.repartition(parts) else base).cache()
      df.count()
      handles.put((spark, dir, n), Handle(stamp(dir, n), df, pinned = true))
    }
    conf
  }

  /** Partitions of a pinned table of `bytes` parquet bytes:
    * clamp(bytes / 1.25 MB, 1, cores) — ~5 MB deserialized per
    * partition (parquet→row expansion ~4×), i.e. 20-40 ms map tasks:
    * big enough that per-task scheduling (~2 ms) is noise, small
    * enough to engage the cores the data can use. The r1 negative
    * (repartition(32) 2× worse) stands for CORE-COUNT-derived values:
    * 32 partitions of a 2.7 MB orders file is ~85 KB per task, pure
    * scheduling overhead. The bytes rule keeps orders at 2 and dims
    * at 1. */
  private[graft] def mapParallelism(bytes: Long, cores: Int): Int =
    math.min(cores.toLong, math.max(1L, bytes / (1250L << 10))).toInt

  /** Parquet bytes of each of [[benchTables]] under `dir`: the sum of
    * its data files ([[stamp]]; `File.length` of a directory-style
    * table is its inode size, about 4 KB). A missing table is 0 bytes. */
  private[graft] def benchBytes(dir: String): Seq[Long] =
    benchTables.map(n => stamp(dir, n).map(_._2).sum)

  /** The bench's data-sized SQL confs: a pure function of the pinned
    * tables' parquet bytes ([[benchBytes]]) and the core count. All are
    * runtime confs; [[pinForBench]] is the one place that sets them.
    *
    *  - Shuffle width is sized to the data, not the core count: ~64 MB
    *    of parquet input per partition. At sf0.1 that term is 0 — a
    *    width sweep measured shuffle=1 at 4.94 s/set vs shuffle=32
    *    at 5.47-5.88 (per-task scheduling dominates tiny shuffles); at
    *    cluster scale the same rule grows into the thousands. Clamped
    *    to 4×cores because local[] can't use more anyway.
    *  - The reduce must not be NARROWER than the map when it carries
    *    real work (the forced-shuffle joins, q18's orderkey aggregate):
    *    at shuffle=1 those stages serialize into one task. So the width
    *    is floored at the largest table's [[mapParallelism]] (r14,
    *    medians, interleaved single-JVM: bench set 2.93 → 1.84-1.96
    *    s/set, join_shuffle_fact 0.46 → 0.18-0.20, q18 0.34 → 0.19).
    *  - AQE's runtime re-planning (coalesce/skew-split) only has
    *    material when the DATA gives a shuffle many partitions; at a
    *    handful it adds per-stage re-optimization latency (5.27 vs 5.57
    *    s/set at shuffle=1), and its coalescer would fold the map
    *    floor straight back to one task. On from 8 data partitions.
    *  - Scan split: ~2 scan tasks per core when the data supports it,
    *    never above the 128 MB cluster default, floored at 16 MB so tiny
    *    SFs stay at 1 task (split overhead dominates). */
  private[graft] def benchConf(tableBytes: Seq[Long], cores: Int)
      : Map[String, String] = {
    val inputBytes = tableBytes.sum
    val dataParts = inputBytes / (64L << 20)
    val mapPar = mapParallelism((tableBytes :+ 0L).max, cores)
    val shufParts = math.max(1L,
      math.min(cores.toLong * 4, math.max(dataParts, mapPar.toLong)))
    val aqe = (dataParts >= 8).toString
    val partBytes = math.max(16L << 20,
      math.min(128L << 20, inputBytes / (cores.toLong * 2)))
    Map(
      "spark.sql.files.maxPartitionBytes" -> partBytes.toString,
      "spark.sql.shuffle.partitions" -> shufParts.toString,
      "spark.sql.adaptive.enabled" -> aqe,
      "spark.sql.adaptive.coalescePartitions.enabled" -> aqe)
  }

  /** The data files of a parquet table: `f` itself, or the files under
    * a directory-style table at any depth, without the names Spark's
    * listing hides (`.` names, and `_` names that are not `k=v`
    * partition directories); none when it is missing. */
  private[graft] def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(p => p.getName.startsWith(".") ||
        p.getName.startsWith("_") && !p.getName.contains("="))
      .sortBy(_.getName).flatMap(parquetFiles)
    else if (f.isFile) Seq(f) else Nil

  /** Register every table as a temp view (for spark.sql-based queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  * Queries without an oracle get a weaker rows-only check (sketches etc.).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** headline queries are timed by Bench */
    bench: Boolean = false)

trait QueryModule { def queries: Seq[GraftQuery] }

/** Column helpers shared by the query modules.
  *
  * Numeric-exactness discipline: the driver hash-compares our result
  * values against DuckDB's. Floating-point SUM is order-dependent, so any
  * aggregated money/quantity math is done in exact DECIMAL and only cast
  * to DOUBLE at the end — the decimal sum is bit-identical in both
  * engines, and decimal→double cast is IEEE-deterministic. Raw double
  * columns pass through untouched (also bit-identical).
  */
object Dsl {
  /** money/quantity column (2-decimal doubles in the data) → exact decimal */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** (1 - rate) as a tight decimal — keeps product precision ≤ 38 */
  def oneMinus(c: Column): Column = (lit(1.0) - c).cast(DecimalType(4, 2))
  def onePlus(c: Column): Column = (lit(1.0) + c).cast(DecimalType(4, 2))

  /** exact decimal sum surfaced as double (bit-identical across engines) */
  def dsum(c: Column): Column = sum(c).cast(DoubleType)

  /** exact average: decimal sum cast to double, divided by the count */
  def davg(c: Column): Column = sum(c).cast(DoubleType) / count(c)

  /** revenue expression: l_extendedprice * (1 - l_discount), exact */
  def revenue(ep: Column, disc: Column): Column = money(ep) * oneMinus(disc)

  // ---- fixed-point (cents) fast path ------------------------------------
  // Decimal sums with precision > 18 fall back to BigDecimal buffers in
  // the hash aggregate (~2.7× slower than primitive sums). The headline
  // bench queries instead aggregate LONG fixed-point "cents": exact for
  // 2-decimal money columns (round(x*100) recovers the true integer —
  // the double error is ≪ 0.5), codegen-friendly, and still bit-identical
  // with the oracle. Overflow bound: |Σ| < 2^63 holds through ~10^9 rows
  // of 3-factor products (1e11/row); beyond that, scale the fixed-point
  // down or return to decimal partials.

  /** money column → exact integer cents (Long).
    *
    * Implemented as `floor(x*100 + 0.5)` rather than `round(x*100)`:
    * Spark's Round on DoubleType codegens to a per-row
    * java.math.BigDecimal.setScale, which allocates on every row of
    * every money column and dominated the bench agg stages (r13
    * A/B, OPTIMIZATION_r13.md: q1 0.399→0.240 s). floor is fused double
    * arithmetic in codegen. Equivalence: the true value is an integer
    * n in cents and the double error δ ≪ 0.5, so x*100+0.5 ∈
    * (n+0.5−δ, n+0.5+δ) and floor picks n — the same integer HALF_UP
    * rounding picks — for any sign. (Only a true half-cent value
    * could diverge, which 2-decimal money data cannot produce.) */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast(LongType)
  def oneMinusCents(c: Column): Column = floor((lit(1.0) - c) * 100 + 0.5).cast(LongType)
  def onePlusCents(c: Column): Column = floor((lit(1.0) + c) * 100 + 0.5).cast(LongType)

  /** Σ money as double (exact long sum, one double division). */
  def moneySum(c: Column): Column = sum(cents(c)).cast(DoubleType) / 100
  def moneyAvg(c: Column): Column =
    sum(cents(c)).cast(DoubleType) / 100 / count(c)

  /** Σ ep·(1−disc) as double (1e-4 fixed-point internally). */
  def revSum(ep: Column, disc: Column): Column =
    sum(cents(ep) * oneMinusCents(disc)).cast(DoubleType) / 10000
  /** Σ ep·(1−disc)·(1+tax) as double (1e-6 fixed-point internally). */
  def chargeSum(ep: Column, disc: Column, tax: Column): Column =
    sum(cents(ep) * oneMinusCents(disc) * onePlusCents(tax))
      .cast(DoubleType) / 1000000

  def ts(s: String): Column =
    lit(java.sql.Timestamp.valueOf(if (s.length == 10) s + " 00:00:00" else s))

  /** events.ts arrives as epoch-nanos Long (see Tables.apply) — convert
    * to a microsecond timestamp for date_trunc/window arithmetic.
    * NB: long `/` in Spark SQL returns DOUBLE, and epoch-nanos exceed
    * 2^53, so naive division rounds the last microsecond — divide in
    * DECIMAL (exact) and truncate instead. */
  def nanosToTs(c: Column): Column =
    timestamp_micros((c.cast(DecimalType(25, 0)) / 1000).cast(LongType))
}
