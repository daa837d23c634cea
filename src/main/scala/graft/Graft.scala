package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The library's front door — what a user of the reference switches to.
  *
  * One import, one session builder, and every subsystem reachable from
  * here (each is its own object so nothing loads until touched):
  *
  * {{{
  * import graft.Graft
  * val spark = Graft.session()                  // tuned local session
  *
  * // data model (≙ create_distributed_table / create_reference_table)
  * Graft.catalog.createDistributedTable(spark, df, "fact", "key")
  * Graft.catalog.createReferenceTable(spark, dims, "dim")
  * Graft.catalog.shardSizes(spark, "fact")      // ≙ citus_shards
  *
  * // DML (≙ MERGE / multi-shard UPDATE / DELETE)
  * Graft.dml.mergeIntoTable(spark, "fact", changes, "key",
  *   Graft.dml.MergeClauses(matchedUpdate = Map("v" -> col("s.v"))))
  *
  * // pipelines
  * Graft.dedup.minhashCandidates(docs, "id", "text")
  * Graft.similarity.bruteForceTopK(vecs, "id", "emb", query, 10)
  * Graft.asof.asofBackward(clicks, buys, Seq("uid"), "ts", "ts", Seq("ts"))
  * Graft.skew.saltedEquiJoin(big, dim, "key", salt = 16)
  * Graft.topK(df, Seq(col("grp")), Seq(col("score").desc), k = 3)
  * }}}
  *
  * SQL users: `session()` installs [[plans.GraftExtensions]], so
  * `simhash64`, `cosine_sim`, `jaccard_sim` are SQL functions, reference
  * tables auto-broadcast, and the approximation GUC analogues
  * (`spark.graft.countDistinctErrorRate`,
  * `spark.graft.limitApproxRowFetchCount`) are live. PG-dialect SQL
  * (`::` casts, DISTINCT ON, `~` operators) runs via [[Graft.pgSql]].
  */
object Graft {

  /** The engine's session: [[plans.GraftExtensions]] installed, AQE on
    * (Spark's default), UTC, and the static settings the sf0.1 bench
    * measured as wins: kryo for broadcast/cache serde, a 64 MB
    * broadcast threshold that keeps every dim table on the hash side,
    * raw in-memory columns (the cache is already compact), a
    * codegen cache sized for a mixed query stream, and broadcast
    * blocks below G1's humongous size (see [[builder]]).
    * Settings that depend on the data size (shuffle width, split size,
    * AQE at small sizes) are runtime confs that [[Tables.pinForBench]]
    * sets when it pins the bench's working set.
    *
    * `getOrCreate` hands back a session that already exists in the JVM
    * and drops this builder's extensions and static settings when it
    * does. So a session not built here (a plain
    * `SparkSession.builder().getOrCreate()` that ran first) would come
    * back without the router, the SQL functions or the codegen cache
    * size. Such a session is refused with an `IllegalStateException`
    * naming what is missing; it is not rebuilt. */
  def session(master: String = "local[*]", appName: String = "graft")
      : SparkSession = {
    val spark = builder(master, appName).getOrCreate()
    val missing = Seq(
      "GraftExtensions (no simhash64 function)" -> !spark.sessionState
        .functionRegistry.functionExists(FunctionIdentifier("simhash64")),
      s"$CodegenCacheKey=$CodegenCacheEntries in the SparkContext's conf" ->
        !spark.sparkContext.getConf.getOption(CodegenCacheKey)
          .contains(CodegenCacheEntries.toString))
      .collect { case (what, true) => what }
    if (missing.nonEmpty)
      throw new IllegalStateException("Graft.session: the session in " +
        "this JVM was not built by Graft.builder; missing " +
        missing.mkString(" and ") + ". Stop it, or build the first " +
        "session through Graft.builder.")
    spark
  }

  /** Spark's JVM-wide cache of compiled generated classes, which Spark
    * sizes once, at the first codegen of the JVM. One round of the 12
    * bench queries generates 196–212 classes (sf0.001 and sf0.1
    * alike). At Spark's default of 100 entries an interleaved stream
    * evicts what the next query needs and recompiles 159–190 of them
    * every warm round; at 1000 a warm round compiles none and takes
    * half the wall time, with headroom for AQE re-plans and other
    * statements (OPTIMIZATION_codegen.md). */
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  private val CodegenCacheEntries = 1000

  /** The builder [[session]] finishes; the one place a session is
    * configured (the test session adds only its own warehouse dir and
    * shuffle width). */
  private[graft] def builder(master: String, appName: String)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toLong)
      // TorrentBroadcast.blockifyObject allocates one block-sized buffer
      // per broadcast, task binaries included. At Spark's 4 MB, under a
      // 3 GB heap (2 MB G1 regions: an object of 1 MB or more is
      // humongous), each is a humongous allocation, and those triggered
      // most young GCs of a router read stream.
      .config("spark.broadcast.blockSize", "512k")
      .withExtensions(new plans.GraftExtensions)

  val catalog: graft.catalog.DistributionCatalog.type =
    graft.catalog.DistributionCatalog
  val ingest: graft.sources.Ingest.type = graft.sources.Ingest
  val dml: graft.sources.Dml.type = graft.sources.Dml
  val dedup: graft.operators.Dedup.type = graft.operators.Dedup
  val similarity: graft.operators.Similarity.type = graft.operators.Similarity
  val asof: graft.operators.AsOfJoin.type = graft.operators.AsOfJoin
  val skew: graft.operators.SkewJoin.type = graft.operators.SkewJoin
  val streaming: graft.streaming.StreamingOps.type =
    graft.streaming.StreamingOps
  val multimodal: graft.multimodal.Multimodal.type =
    graft.multimodal.Multimodal

  /** Exact top-k per group on the custom whole-operator plan. */
  def topK(df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[org.apache.spark.sql.Column],
      orderCols: Seq[org.apache.spark.sql.Column], k: Int)
      : org.apache.spark.sql.DataFrame =
    plans.TopKPerGroup(df, groupCols, orderCols, k)

  val rangeJoin: graft.operators.RangeJoin.type = graft.operators.RangeJoin

  /** Run PG-dialect SQL (:: casts, DISTINCT ON, ~ operators, ARRAY ops). */
  def pgSql(spark: SparkSession, pg: String): org.apache.spark.sql.DataFrame =
    sql.PgDialect.sql(spark, pg)

  /** Distributed-EXPLAIN report: one row per strategy-relevant physical
    * node (scans + pushdown, shuffles, broadcast vs shuffle joins,
    * aggregates) — the EXPLAIN surface of `multi_explain.c` as data. */
  def explainReport(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    plans.PlanChecks.explainReport(df)

  val rebalancer: graft.catalog.Rebalancer.type = graft.catalog.Rebalancer

  /** `citus_stat_statements` analogue — install on a session, read the
    * per-statement stats view, reset. */
  val stats: graft.plans.QueryStats.type = graft.plans.QueryStats

  /** PG-dialect SQL with `$1..$N` positional parameters bound through
    * Spark's parameterized sql (PREPARE/EXECUTE analogue). */
  def pgSqlParams(spark: SparkSession, pg: String, args: Any*)
      : org.apache.spark.sql.DataFrame =
    sql.PgDialect.sqlParams(spark, pg, args: _*)

  /** EXPLAIN ANALYZE: run the plan and report measured per-node
    * metrics (`worker_save_query_explain_analyze` analogue). */
  def explainAnalyze(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    plans.PlanChecks.explainAnalyze(df)
}
