package graft.catalog

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTablePartition, ExternalCatalogUtils}
import org.apache.spark.sql.functions.broadcast

import scala.collection.concurrent.TrieMap

/** The engine's data-model API — the Spark-native analogue of the
  * reference's distributed-table catalog:
  *
  *   - `pg_dist_partition` (logicalrelid, partmethod, partkey,
  *     colocationid, repmodel — citus
  *     `src/include/distributed/pg_dist_partition.h:22-59`) becomes
  *     [[DistributionSpec]] rows in this catalog;
  *   - `create_distributed_table(rel, dist_col, shard_count,
  *     colocate_with)` (`commands/create_distributed_table.c:201`)
  *     becomes [[createDistributedTable]]: a bucketed Parquet table —
  *     bucket ≙ shard, bucket count ≙ `citus.shard_count` (default 32,
  *     `shared_library_init.c:2518`);
  *   - colocation groups (`colocation_utils.c:598`) become "same bucket
  *     count + same key type": Spark's EnsureRequirements then plans
  *     joins between colocated tables WITHOUT a shuffle exchange — the
  *     LOCAL_PARTITION_JOIN rule (`multi_join_order.h:35`) for free;
  *   - `create_reference_table` becomes a broadcast-hinted table: every
  *     join against it is a BroadcastHashJoin on every "shard" — the
  *     REFERENCE_JOIN rule (`multi_join_order.h:33`).
  *
  * At 100 TB: bucketed layout means the recurring fact-to-fact joins
  * (orders ⋈ lineitem on orderkey) never re-shuffle — the dominant cost
  * of repartition joins disappears for every colocated query, exactly
  * the reason citus colocates shards. Bucket counts should be sized so
  * a bucket's largest table slice fits an executor's memory
  * (e.g. 100 TB / 32768 buckets ≈ 3 GB).
  */
object DistributionCatalog {

  /** `pg_dist_partition.partmethod` and the `citus_tables` type. */
  sealed abstract class PartMethod(val code: String, val kind: String)
  case object Hash extends PartMethod("h", "distributed")
  case object Reference extends PartMethod("n", "reference")
  case object RangeDist extends PartMethod("r", "range-distributed")
  case object AppendDist extends PartMethod("a", "append-distributed")

  final case class DistributionSpec(
      table: String,
      method: PartMethod,
      distColumn: Option[String],
      bucketCount: Int,
      colocationId: Int) {
    /** A hash table with buckets (bucket ≙ shard); time-partitioned
      * tables are hash tables with 0 buckets. */
    def bucketed: Boolean = method == Hash && bucketCount > 0
  }

  /** One table's catalog state: its `pg_dist_partition` row, its
    * `pg_dist_shard` intervals (range/append tables), its stored
    * `pg_dist_placement` (shards never moved are absent: they sit at
    * the default) and its isolated tenants (keys with a `__tenant`
    * partition, [[isolateTenant]]). Every create, and every commit under
    * a new spec, replaces it whole. */
  private final case class Entry(spec: DistributionSpec,
      intervals: Seq[ShardInterval] = Nil,
      placements: Map[Int, Int] = Map.empty,
      tenants: Set[Any] = Set.empty) {
    /** The live shard ids: a range/append table's interval ids, else
      * its buckets. */
    def shards: Seq[Int] = spec.method match {
      case RangeDist | AppendDist => intervals.map(_.shard)
      case _ => 0 until spec.bucketCount
    }
  }

  private val entries = TrieMap.empty[String, Entry]

  private def entry(name: String): Entry = entries.getOrElse(name,
    throw new IllegalArgumentException(s"not a cataloged table: $name"))

  private val nextColocation = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Default bucket count ≙ citus.shard_count default of 32. */
  val DefaultBuckets = 32

  /** Write `df` as a hash-distributed (bucketed, sorted) Parquet table.
    * `colocateWith` joins an existing colocation group (bucket counts
    * must match — same rule citus enforces); otherwise a new group is
    * created. */
  def createDistributedTable(spark: SparkSession, df: DataFrame,
      name: String, distColumn: String,
      buckets: Int = DefaultBuckets,
      colocateWith: Option[String] = None): DistributionSpec =
    create(spark, df, DistributionSpec(name, Hash, Some(distColumn), buckets,
      colocationFor(colocateWith, buckets)))

  /** The colocation group of a table with `buckets` buckets: that of
    * hash table `other` (bucket counts must match), or a new one. */
  private def colocationFor(colocateWith: Option[String],
      buckets: Int): Int = colocateWith match {
    case Some(other) =>
      val o = entry(other).spec
      require(o.method == Hash && o.bucketCount == buckets,
        s"cannot colocate: $other has ${o.bucketCount} buckets, want $buckets")
      o.colocationId
    case None => nextColocation.getAndIncrement()
  }

  /** zstd ≙ the reference columnar store's default compression
    * (columnar/README.md:93-101). The options a table is created with
    * are recorded in its catalog entry, and every later rewrite writes
    * with them. */
  private val Zstd = Map("compression" -> "zstd")

  /** A new catalog table: `df`, grouped by bucket ([[byBucket]]), is
    * written in `spec`'s layout straight to the table's warehouse path
    * (there is no earlier version to protect), and `spec` is recorded
    * as a fresh entry. */
  private def create(spark: SparkSession, df: DataFrame,
      spec: DistributionSpec,
      options: Map[String, String] = Zstd): DistributionSpec = {
    writeTable(byBucket(df, spec), spec.table, Some(spec), options,
      warehousePath(spark, spec.table))
    entries.put(spec.table, Entry(spec))
    spec
  }

  /** `df`'s rows grouped by the bucket they take in `layout`, for a
    * write into a hash-bucketed layout from outside it: hash-partitioned
    * on the distribution column into `p` partitions, `p` the largest
    * divisor of the bucket count that is at most the default
    * parallelism. Spark's bucket id is `pmod(murmur3(c), b)` and `p`
    * divides `b`, so each bucket lands whole in one partition: the
    * bucketed write leaves one file per bucket, whatever the input's
    * partitioning, and runs as `p` parallel tasks. A layout without
    * buckets passes `df` through. A rewrite of a table's own rows under
    * its own spec (MERGE, isolating a tenant, a columnar rewrite) does
    * without it: each bucket file is read whole by one task, so its
    * rows stay together already. */
  private[graft] def byBucket(df: DataFrame,
      layout: DistributionSpec): DataFrame = layout match {
    case DistributionSpec(_, Hash, Some(c), b, _) if b > 0 =>
      import org.apache.spark.sql.functions.col
      val cores = df.sparkSession.sparkContext.defaultParallelism
      df.repartition((1 to math.min(b, cores)).filter(b % _ == 0).max, col(c))
    case _ => df
  }

  /** The partition column of a table with isolated tenants, and its
    * value outside them: not null, which Spark would file under its
    * default partition name. */
  private val TenantCol = "__tenant"
  private val NoTenant = "-"

  /** The `__tenant` value of distribution-column value `key` in entry
    * `e`: `key` as a string if it is an isolated tenant, else [[NoTenant]]. */
  private def tenantOf(e: Entry, key: Column): Column = {
    import org.apache.spark.sql.functions.when
    when(key.isin(e.tenants.toSeq: _*), key.cast("string")).otherwise(NoTenant)
  }

  /** `df` with the `__tenant` column that table `name` (entry `e`) is
    * stored with, if it has isolated tenants. */
  private[graft] def withTenant(df: DataFrame, name: String): DataFrame =
    withTenant(df, entry(name))

  private def withTenant(df: DataFrame, e: Entry): DataFrame =
    if (e.tenants.isEmpty) df
    else df.withColumn(TenantCol, tenantOf(e, df(e.spec.distColumn.get)))

  /** The one table writer. The layout comes from `layout`:
    *   - hash with buckets: bucketed and sorted on the distribution
    *     column (bucket ≙ shard), and partitioned by `__tenant` if `df`
    *     has that column ([[withTenant]]);
    *   - range or append: partitioned by `__shard` (directory ≙ shard);
    *   - hash with 0 buckets on a `__…` column (time-partitioned):
    *     partitioned by that column;
    *   - otherwise (reference, not distributed): plain.
    * The write creates (or replaces) catalog table `name` at `path`. */
  private def writeTable(df: DataFrame, name: String,
      layout: Option[DistributionSpec], options: Map[String, String],
      path: String): Unit = {
    val w = df.write.mode("overwrite")
      .options(options + ("path" -> path)).format("parquet")
    (layout match {
      case Some(DistributionSpec(_, Hash, Some(c), b, _)) if b > 0 =>
        val bucketed = w.bucketBy(b, c).sortBy(c)
        if (df.columns.contains(TenantCol)) bucketed.partitionBy(TenantCol)
        else bucketed
      case Some(DistributionSpec(_, RangeDist | AppendDist, _, _, _)) =>
        w.partitionBy("__shard")
      case Some(DistributionSpec(_, Hash, Some(c), 0, _))
          if c.startsWith("__") => w.partitionBy(c)
      case _ => w
    }).saveAsTable(name)
  }

  /** Replace catalog table `name`'s contents with `df` as a snapshot
    * commit — the Delta/Iceberg commit protocol, and the order citus's
    * `alter_distributed_table` keeps (build the new table, then swap):
    *   1. [[staged]]: write `df` once, in `layout`'s layout and with the
    *      table's write options overridden by `options`;
    *   2. swap: the table takes the staging entry's whole definition
    *      (schema, bucket spec, partition columns, options, location)
    *      and its partitions, and `layout` becomes its
    *      [[DistributionSpec]] (None: it leaves the distribution
    *      catalog);
    *   3. delete everything else under the table's warehouse path: the
    *      previous version and whatever an interrupted commit left.
    * If anything fails before step 2, the old version stays readable
    * and routable under its old spec. `df` may read the table itself:
    * the write never touches the files it reads. Under an unchanged
    * spec the table keeps its entry: intervals, placements and isolated
    * tenants, whose `__tenant` partitions the write derives again
    * ([[withTenant]]). A new spec starts a fresh entry at the default
    * placement, as citus's `alter_distributed_table` places the shards
    * it creates, and with no isolated tenant. */
  private[graft] def commitVersion(spark: SparkSession, name: String,
      layout: Option[DistributionSpec], df: DataFrame,
      options: Map[String, String] = Map.empty): Unit =
    commit(spark, name, layout.map(s =>
      entries.get(name).filter(_.spec == s).getOrElse(Entry(s))), df, options)

  /** [[commitVersion]] to entry `to` (None: out of the catalog). */
  private def commit(spark: SparkSession, name: String, to: Option[Entry],
      df: DataFrame, options: Map[String, String] = Map.empty): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    val next = staged(spark, name, to.map(_.spec),
        to.fold(df)(withTenant(df, _)),
        meta.storage.properties ++ options) { staging =>
      val stagedMeta = catalog.getTableMetadata(staging)
      // the old partitions go before the partition columns change
      catalog.dropPartitions(ident, catalog.listPartitions(ident).map(_.spec),
        ignoreIfNotExists = false, purge = false, retainData = true)
      catalog.alterTable(stagedMeta.copy(identifier = meta.identifier,
        stats = None))
      catalog.createPartitions(ident, catalog.listPartitions(staging),
        ignoreIfExists = false)
    }
    entries.updateWith(name)(_ => to)
    spark.catalog.refreshTable(name)
    // every version lives under the warehouse path: keep only `next`
    Option(next.getParentFile.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getCanonicalFile == next.getCanonicalFile)
      .foreach(FileUtils.deleteQuietly)
  }

  /** A partition commit, the way citus's shard split, append load and
    * `alter_old_partitions_set_access_method` change `pg_dist_shard` in
    * one step: `rows` (None: no rows), cast to the table's schema as an
    * INSERT would, are [[staged]] in its layout with its write options
    * overridden by `options`; the swap drops partitions `replaced` of
    * table `name` from the catalog and adds the staged ones at their
    * `_v…` locations; then the replaced partitions' directories go, and
    * a `_v…` directory left with no partition (unless it is the table's
    * location). The other partitions keep their files, a failure before
    * the swap changes nothing, and `rows` may read the table itself. */
  private def commitPartitions(spark: SparkSession, name: String,
      replaced: Seq[Map[String, String]], rows: Option[DataFrame],
      options: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    val oldDirs = replaced.map(p =>
      new java.io.File(catalog.getPartition(ident, p).location))
    def swap(added: Seq[CatalogTablePartition]): Unit = {
      catalog.dropPartitions(ident, replaced, ignoreIfNotExists = false,
        purge = false, retainData = true)
      catalog.createPartitions(ident, added, ignoreIfExists = false)
    }
    rows match {
      case Some(df) => staged(spark, name, Some(entry(name).spec),
          df.select(meta.schema.map(f => col(f.name).cast(f.dataType)): _*),
          meta.storage.properties ++ options)(
        staging => swap(catalog.listPartitions(staging)))
      case None => swap(Nil)
    }
    spark.catalog.refreshTable(name)
    oldDirs.foreach(FileUtils.deleteQuietly)
    oldDirs.map(_.getParentFile).distinct.filter(d =>
      d.getName.startsWith("_v") && d != new java.io.File(meta.location) &&
        !Option(d.list()).exists(_.exists(_.contains("="))))
      .foreach(FileUtils.deleteQuietly)
  }

  /** The staging step of every commit: `df` is written once, in
    * `layout`'s layout and with `options`, through a staging catalog
    * entry to a fresh `_v<uuid>` directory under table `name`'s
    * warehouse path, which Spark's file listing skips; `swap` then makes
    * the staged contents the table's. The (external) staging entry goes
    * either way, the directory too if anything failed — once the failed
    * write's tasks have ended (for at most a minute): Spark kills them
    * after the write has thrown, and until then they can still write.
    * Returns it. */
  private def staged(spark: SparkSession, name: String,
      layout: Option[DistributionSpec], df: DataFrame,
      options: Map[String, String])(
      swap: TableIdentifier => Unit): java.io.File = {
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = TableIdentifier(s"${name}__v$token")
    val next = new java.io.File(warehousePath(spark, name), s"_v$token")
    val sc = spark.sparkContext
    var committed = false
    sc.addJobTag(staging.table)
    try {
      writeTable(df, staging.table, layout, options, next.getPath)
      swap(staging)
      committed = true
    } finally {
      sc.removeJobTag(staging.table)
      spark.sessionState.catalog.dropTable(staging, ignoreIfNotExists = true,
        purge = false)
      if (!committed) {
        val t = sc.statusTracker
        val deadline = System.nanoTime() + 60000000000L
        while (System.nanoTime() < deadline && t.getJobIdsForTag(staging.table)
            .flatMap(t.getJobInfo).flatMap(_.stageIds).flatMap(t.getStageInfo)
            .exists(_.numActiveTasks > 0)) Thread.sleep(10)
        FileUtils.deleteQuietly(next)
      }
    }
    next
  }

  /** The data files of catalog table `name`, each with the catalog
    * spec of its partition (empty for an unpartitioned table): every
    * file under its catalog location (a partitioned table's: its
    * partitions'), except those Spark's own file listing hides
    * ([[graft.Tables.parquetFiles]]: Hadoop's `.crc` checksums,
    * `_SUCCESS`, a `_v…` directory no commit swapped in). */
  private def dataFiles(spark: SparkSession,
      name: String): Seq[(Map[String, String], java.io.File)] = {
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    (if (meta.partitionColumnNames.isEmpty)
      Seq(Map.empty[String, String] -> meta.location)
      else catalog.listPartitions(ident).map(p => p.spec -> p.location))
      .flatMap { case (p, d) =>
        graft.Tables.parquetFiles(new java.io.File(d)).map(p -> _) }
  }

  /** Reference table: stored once, broadcast to every join site. */
  def createReferenceTable(spark: SparkSession, df: DataFrame,
      name: String): DistributionSpec =
    create(spark, df, DistributionSpec(name, Reference, None, 1, 0),
      options = Map.empty)

  /** Read a catalog table; reference tables come back broadcast-hinted
    * so every join applies the REFERENCE_JOIN strategy. The physical
    * layout columns are not user schema: a range/append table's
    * `__shard` and an isolated tenant's `__tenant` ([[isolateTenant]])
    * are dropped. */
  def table(spark: SparkSession, name: String): DataFrame = {
    val df = spark.table(name)
    entries.get(name) match {
      case Some(e) if e.spec.method == Reference => broadcast(df)
      case Some(e) if e.spec.method == RangeDist ||
        e.spec.method == AppendDist => df.drop("__shard")
      case Some(e) if e.tenants.nonEmpty => df.drop(TenantCol)
      case _ => df
    }
  }

  /** True when two tables are in the same colocation group — a join on
    * their distribution columns needs no exchange. Both must be
    * bucketed: time-partitioned tables are hash tables with 0 buckets,
    * all in group 0, and their layouts share nothing. */
  def colocated(a: String, b: String): Boolean =
    (spec(a), spec(b)) match {
      case (Some(x), Some(y)) =>
        x.bucketed && y.bucketed && x.colocationId == y.colocationId
      case _ => false
    }

  def spec(name: String): Option[DistributionSpec] = entries.get(name).map(_.spec)

  /** The `pg_dist_partition` view of this catalog. */
  def listTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.values.map(_.spec).toSeq
      .map(s => (s.table, s.method.code, s.distColumn.getOrElse(""),
        s.bucketCount, s.colocationId))
      .toDF("logicalrelid", "partmethod", "partkey", "bucketcount",
        "colocationid")
  }

  /** The `citus_tables` user-facing view (`sql/udfs/citus_tables/` —
    * table, citus_table_type, distribution column, colocation id,
    * table size, shard count): [[listTables]] enriched with physical
    * size ≙ `citus_total_relation_size`. Sizes come from the file
    * system, not a scan. */
  def citusTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.values.map(_.spec).toSeq.sortBy(_.table).map(s =>
      (s.table, s.method.kind, s.distColumn.getOrElse(""), s.colocationId,
        totalRelationSize(spark, s.table), s.bucketCount)
    ).toDF("table_name", "citus_table_type", "distribution_column",
      "colocation_id", "table_size", "shard_count")
  }

  /** `citus_total_relation_size(rel)`: physical bytes of a cataloged
    * table (every shard and partition). */
  def totalRelationSize(spark: SparkSession, name: String): Long =
    dataFiles(spark, name).map(_._2.length()).sum

  /** `update_distributed_table_colocation(rel, colocate_with)`
    * (`sql/udfs/update_distributed_table_colocation/` — metadata-only
    * colocation change; citus requires identical distribution column
    * type + shard count): join another table's colocation group, or
    * pass None to break away into a fresh group. No data moves —
    * with matching bucket counts the physical layout is already
    * compatible, which is exactly the citus precondition. */
  def updateDistributedTableColocation(spark: SparkSession, name: String,
      colocateWith: Option[String]): DistributionSpec = {
    val e = entry(name)
    require(e.spec.method == Hash, s"$name is not hash-distributed")
    val spec = e.spec.copy(colocationId = colocationFor(colocateWith,
      e.spec.bucketCount))
    entries.put(name, e.copy(spec = spec))
    spec
  }

  /** Time-partitioned table (the reference's `create_time_partitions`
    * UDF family, `sql/udfs/create_time_partitions/` — range-partition
    * management) ≙ date-partitioned Parquet directories: partition
    * pruning on the truncated column replaces shard-interval pruning. */
  def createTimePartitionedTable(spark: SparkSession, df: DataFrame,
      name: String, tsColumn: String, granularity: String): DistributionSpec = {
    import org.apache.spark.sql.functions.{col, date_trunc}
    val partCol = s"__${granularity}_part"
    create(spark, df.withColumn(partCol,
        date_trunc(granularity, col(tsColumn)).cast("date")),
      DistributionSpec(name, Hash, Some(partCol), 0, 0))
  }

  /** The `time_partitions` view (`sql/udfs/time_partitions/` —
    * partition name, from/to range, access method): one row per
    * partition of a time-partitioned table with its value, row count
    * and bytes. Row counts come from one grouped metadata-cheap scan
    * over the partition column only. Rows with a null timestamp show
    * under Spark's default partition name, as their directory does. */
  def timePartitions(spark: SparkSession, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val partCol = timePartitionValues(spark, name)._1
    val counts = spark.table(name).groupBy(coalesce(col(partCol)
        .cast("string"), lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))
      .agg(count(lit(1)).as("n_rows"))
    val bytes = dataFiles(spark, name).groupMapReduce(_._1(partCol))(
      _._2.length())(_ + _)
    import spark.implicits._
    counts.collect()
      .map(r => (name, r.getString(0), r.getLong(1),
        bytes.getOrElse(r.getString(0), 0L)))
      .sortBy(_._2).toSeq
      .toDF("table_name", "partition_value", "n_rows", "size_bytes")
  }

  /** `get_missing_time_partition_ranges(table, interval, to, from)`:
    * the month starts in [from, to] that have NO partition yet — the
    * planning input `create_time_partitions` consumes. */
  def getMissingTimePartitionRanges(spark: SparkSession, name: String,
      from: java.sql.Date, to: java.sql.Date): Seq[String] = {
    val existing = timePartitionValues(spark, name)._2.toSet
    Iterator.iterate(from.toLocalDate.withDayOfMonth(1))(_.plusMonths(1))
      .takeWhile(!_.isAfter(to.toLocalDate)).map(_.toString)
      .filterNot(existing).toSeq
  }

  /** `alter_old_partitions_set_access_method(table, older_than,
    * 'columnar')` (`sql/udfs/alter_old_partitions_set_access_method/`
    * — the citus time-series pattern: recent partitions stay row/fast
    * storage, old partitions compress to columnar): rewrite ONLY the
    * partitions older than the cutoff under the given codec, as one
    * [[commitPartitions]]. Cost ∝ the old partitions, never the table. */
  def compressOldTimePartitions(spark: SparkSession, name: String,
      olderThan: java.sql.Date, codec: String = "zstd"): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val (partCol, values) = timePartitionValues(spark, name)
    val old = values.filter(_ < olderThan.toString)
    if (old.nonEmpty)
      commitPartitions(spark, name, old.map(v => Map(partCol -> v)),
        Some(spark.table(name).filter(col(partCol) < olderThan)),
        Map("compression" -> codec))
    old
  }

  /** `drop_old_time_partitions(table, older_than)` (`sql/udfs/
    * drop_old_time_partitions/` — retention maintenance for
    * time-partitioned tables): drop every partition strictly older
    * than the cutoff, files included, as one [[commitPartitions]] of
    * no rows — catalog and file operations only, no Spark job, the
    * same reason the citus UDF is cheap. Returns the dropped values. */
  def dropOldTimePartitions(spark: SparkSession, name: String,
      olderThan: java.sql.Date): Seq[String] = {
    val (partCol, values) = timePartitionValues(spark, name)
    val old = values.filter(_ < olderThan.toString)
    commitPartitions(spark, name, old.map(v => Map(partCol -> v)), None)
    old
  }

  /** The partition column of time-partitioned table `name` and its
    * partitions' values, sorted, from the catalog: no Spark job. ISO
    * dates order as strings; the null partition's `_` name sorts last. */
  private def timePartitionValues(spark: SparkSession,
      name: String): (String, Seq[String]) = {
    val partCol = entry(name).spec.distColumn.filter(_.startsWith("__"))
      .getOrElse(throw new IllegalArgumentException(
        s"$name is not time-partitioned"))
    partCol -> spark.sessionState.catalog
      .listPartitions(TableIdentifier(name)).map(_.spec(partCol)).sorted
  }

  /** The FIXTURES.md layout in one call — the exact distribution the
    * reference's regression schema declares (multi_create_table.sql:
    * lineitem+orders hash-distributed on the order key and COLOCATED;
    * customer/part/nation/region/supplier reference tables). */
  def setupTpchLayout(spark: SparkSession, loadTable: String => DataFrame,
      buckets: Int = DefaultBuckets): Unit = {
    createDistributedTable(spark, loadTable("lineitem"), "g_lineitem",
      "l_orderkey", buckets)
    createDistributedTable(spark, loadTable("orders"),
      "g_orders", "o_orderkey", buckets, colocateWith = Some("g_lineitem"))
    Seq("customer", "part", "nation", "region", "supplier").foreach(n =>
      createReferenceTable(spark, loadTable(n), s"g_$n"))
  }

  /** `alter_distributed_table(rel, distribution_column, shard_count,
    * colocate_with)` (`commands/alter_table.c:219` — builds the table
    * with the new distribution, then swaps it in): rewrite the bucketed
    * layout with a new distribution column and/or bucket count, as one
    * [[commitVersion]]. The whole table, isolated tenants included, is
    * re-bucketed in one shuffle-write stage — the Spark analogue of
    * citus's shard-move data copy; under the new spec no tenant is
    * isolated. A failed rewrite (a bad column, a colocation the bucket
    * count refuses) leaves the table as it was. */
  def alterDistributedTable(spark: SparkSession, name: String,
      distColumn: Option[String] = None, buckets: Option[Int] = None,
      colocateWith: Option[String] = None): DistributionSpec = {
    val old = entry(name).spec
    require(old.method == Hash, s"$name is not hash-distributed")
    val newBuckets = buckets.getOrElse(old.bucketCount)
    val spec = DistributionSpec(name, Hash, distColumn.orElse(old.distColumn),
      newBuckets, colocationFor(colocateWith, newBuckets))
    commitVersion(spark, name, Some(spec), byBucket(table(spark, name), spec))
    spec
  }

  /** `undistribute_table(rel)` (`commands/alter_table.c:180`): convert a
    * distributed table back to a plain (non-bucketed) local table and
    * drop it from the distribution catalog, as one [[commitVersion]];
    * isolated tenants fold back into the plain table. */
  def undistributeTable(spark: SparkSession, name: String): Unit = {
    require(spec(name).nonEmpty, s"not a distributed table: $name")
    commitVersion(spark, name, None, table(spark, name))
  }

  /** The `citus_shards` size view (`sql/udfs/citus_shards/` — shard
    * name, size, placement): per-bucket bytes and row counts of a
    * hash-distributed table. Bucket file sizes come from the
    * filesystem (shard ≙ bucket files `*_NNNNN.*`), row counts from
    * one grouped scan. The skew this surfaces is the decision input
    * for [[alterDistributedTable]] (re-bucket) or a salted join —
    * the rebalancer's diagnosis step. Each isolated tenant shows as one
    * more [[shard]], with its partition's bytes and rows, which its
    * bucket does not count — the way citus_shards lists an isolated
    * tenant's dedicated shard. */
  def shardSizes(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val e = entry(name)
    val bytes = bytesByShard(spark, name)
    // bucket id comes from the file name (file-splits ≠ buckets: tiny
    // files pack many-per-partition, so spark_partition_id won't do)
    val rows = spark.table(name)
      .groupBy(tenantOf(e, col(e.spec.distColumn.get)),
        regexp_extract(input_file_name(), BucketFile.regex, 1).cast("int"))
      // one group per shard: a tenant's rows share one key, so one bucket
      .count().collect()
      .map(r => shard(name, r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    (e.shards.map(name -> _) ++ bytes.keys.filter(_._1 != name).toSeq.sorted)
      .map(s => (s._1, s._2, bytes.getOrElse(s, 0L), rows.getOrElse(s, 0L)))
      .toDF("table_name", "shard", "size_bytes", "n_rows")
  }

  private val BucketFile = "_(\\d{5})[_.]".r

  /** A shard of hash-bucketed table `name` as [[shardSizes]] lists it:
    * (`name`, its bucket), or (`name/__tenant=<key>`, -1) for the rows
    * of `__tenant` value `tenant`, an isolated tenant. */
  private def shard(name: String, tenant: String, bucket: Int) =
    if (tenant == NoTenant) name -> bucket
    else s"$name/$TenantCol=$tenant" -> -1

  /** Bytes per [[shard]] of hash-bucketed table `name`, from the file
    * listing alone: no Spark job. */
  private def bytesByShard(spark: SparkSession,
      name: String): Map[(String, Int), Long] = {
    require(entry(name).spec.bucketed, s"$name is not hash-bucketed")
    dataFiles(spark, name).flatMap { case (p, f) =>
      BucketFile.findFirstMatchIn(f.getName).map(m => shard(name,
        p.getOrElse(TenantCol, NoTenant), m.group(1).toInt) -> f.length())
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Bytes per bucket of hash-bucketed table `name` (0 for an empty
    * bucket; an isolated tenant's files are its own shard), from the
    * file listing alone: no Spark job. */
  private[catalog] def shardBytes(spark: SparkSession,
      name: String): Map[Int, Long] = {
    val bytes = bytesByShard(spark, name)
    entry(name).shards.map(b => b -> bytes.getOrElse(name -> b, 0L)).toMap
  }

  /** `isolate_tenant_to_new_shard(table, tenant_id, 'CASCADE')`
    * (`operations/isolate_shards.c:48-57` — split the shard holding a
    * hot tenant so that tenant gets a shard of its own, inside the same
    * table): one [[commitVersion]] under the unchanged spec (bucket
    * count and colocation group too, as citus's CASCADE keeps
    * colocation) that also partitions the table by `__tenant`
    * ([[withTenant]]), giving the hot key's rows a partition of their
    * own. Every read still sees every row; [[tenantShard]] reads that
    * partition alone, so the tenant's scan cost is proportional to ITS
    * data, not its bucket's — the point of the citus UDF, and the skew
    * remedy at 100 TB when one tenant is 1000× the median
    * ([[shardSizes]] diagnoses, isolateTenant cures). Later writes under
    * the same spec keep the partition; a new spec folds it back. A
    * tenant is isolated once. */
  def isolateTenant(spark: SparkSession, name: String,
      tenantValue: Any): DistributionSpec = {
    val e = entry(name)
    require(e.spec.bucketed,
      s"$name is not hash-bucketed (tenant isolation needs a bucketed " +
        "layout; time-partitioned and reference tables have none)")
    require(!e.tenants.contains(tenantValue),
      s"tenant $tenantValue of $name is isolated")
    require(String.valueOf(tenantValue) != NoTenant,
      s"$NoTenant is the partition of the rows outside any tenant")
    commit(spark, name, Some(e.copy(tenants = e.tenants + tenantValue)),
      spark.table(name))
    e.spec
  }

  private val tenantReads = TrieMap.empty[(String, String), Long]

  /** The `citus_stat_tenants` view (`src/backend/distributed/utils/
    * citus_stat_tenants.c` — per-tenant query counts for spotting hot
    * tenants): routed single-tenant reads are counted per (table,
    * tenant); the hot tenants this surfaces are [[isolateTenant]]'s
    * input, closing the diagnose→cure loop the citus feature exists
    * for. */
  def statTenants(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tenantReads.toSeq
      .map { case ((tbl, tv), n) => (tbl, tv, n) }
      .sortBy { case (tbl, tv, n) => (-n, tbl, tv) }
      .toDF("table_name", "tenant", "read_count")
  }

  /** `citus_stat_tenants_reset()`. */
  def resetTenantStats(): Unit = tenantReads.clear()

  /** Route a single-tenant read: the table with a distribution-column
    * point filter — the router path the reference plans
    * (`fast_path_router_planner.c`) — and, if the table has isolated
    * tenants, a filter on the key's `__tenant` partition, so an isolated
    * tenant's read lists its own partition only. On a session with
    * [[graft.plans.GraftExtensions]] the key filter routes the scan to
    * the key's one bucket file, read by one task
    * ([[graft.plans.RouteToShard]]); without them Spark's bucket pruning
    * still reads one bucket, but schedules a task per bucket. */
  def tenantShard(spark: SparkSession, name: String,
      tenantValue: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    tenantReads.updateWith((name, tenantValue.toString)) {
      case Some(n) => Some(n + 1); case None => Some(1L)
    }
    val e = entry(name)
    require(e.spec.method == Hash && e.spec.distColumn.nonEmpty,
      s"$name has no distribution column to route on")
    val rows = spark.table(name)
      .filter(col(e.spec.distColumn.get) === lit(tenantValue))
    if (e.tenants.isEmpty) rows
    else rows.filter(col(TenantCol) === tenantOf(e, lit(tenantValue)))
      .drop(TenantCol)
  }

  private val matviews =
    TrieMap.empty[String, SparkSession => DataFrame]

  /** Materialized view over distributed tables (`sql/materialized_view
    * .sql`, `columnar_matview.sql` — the reference supports matviews on
    * coordinator over distributed reads): the defining query runs once
    * and lands as a stored table; readers scan the materialization, not
    * the plan. Distribute the result by passing `distColumn` (≙ a
    * matview you then create_distributed_table on, a pattern the
    * reference's tests exercise). */
  def createMaterializedView(spark: SparkSession, name: String,
      definition: SparkSession => DataFrame,
      distColumn: Option[String] = None,
      buckets: Int = DefaultBuckets): Unit = {
    matviews.put(name, definition)
    materialize(spark, name, definition, distColumn, buckets)
  }

  /** `REFRESH MATERIALIZED VIEW` — recompute the stored result from the
    * current state of its inputs; the new result replaces the old as
    * one [[commitVersion]], so a definition that fails leaves the last
    * result in place. */
  def refreshMaterializedView(spark: SparkSession, name: String): Unit = {
    val defn = matviews.getOrElse(name,
      throw new IllegalArgumentException(s"no such materialized view: $name"))
    val spec = this.spec(name)
    materialize(spark, name, defn,
      spec.filter(_.method == Hash).flatMap(_.distColumn),
      spec.map(_.bucketCount).filter(_ > 0).getOrElse(DefaultBuckets))
  }

  /** Store `definition`'s result as table `name`: created if new, else
    * committed over the previous result (which the definition may
    * read). A distributed view keeps its colocation group across
    * refreshes. */
  private def materialize(spark: SparkSession, name: String,
      definition: SparkSession => DataFrame, distColumn: Option[String],
      buckets: Int): Unit = {
    val layout = distColumn.map { c =>
      val s = DistributionSpec(name, Hash, Some(c), buckets, 0)
      spec(name).filter(_.copy(colocationId = 0) == s)
        .getOrElse(s.copy(colocationId = nextColocation.getAndIncrement()))
    }
    val result = definition(spark)
    val df = layout.fold(result)(byBucket(result, _))
    if (!spark.catalog.tableExists(name)) {
      writeTable(df, name, layout, Zstd, warehousePath(spark, name))
      layout.fold(entries.remove(name))(s => entries.put(name, Entry(s)))
    } else commitVersion(spark, name, layout, df)
  }

  // ---- shard placements (pg_dist_placement) ---------------------------

  /** Current shard→node placement ≙ `pg_dist_placement`. A shard never
    * moved has citus's create-time default: round-robin across the node
    * set. */
  def placements(table: String, nodeCount: Int,
      shards: Set[Int]): Map[Int, Int] = {
    val stored = entries.get(table).fold(Map.empty[Int, Int])(_.placements)
    shards.map(s => s -> stored.getOrElse(s, s % nodeCount)).toMap
  }

  private[catalog] def setPlacements(table: String, p: Map[Int, Int]): Unit =
    entries.updateWith(table)(_.map(_.copy(placements = p)))

  /** The `pg_dist_placement` view (shardid, nodeid) for one table. */
  def shardPlacements(spark: SparkSession, table: String,
      nodeCount: Int): DataFrame = {
    import spark.implicits._
    placements(table, nodeCount, entry(table).shards.toSet)
      .toSeq.sorted.map { case (sh, n) => (table, sh, n) }
      .toDF("logicalrelid", "shardid", "nodeid")
  }

  // ---- range / append distribution (DISTRIBUTE_BY_RANGE 'r',
  // DISTRIBUTE_BY_APPEND 'a') -------------------------------------------

  /** One shard's interval ≙ a `pg_dist_shard` row (shardid,
    * shardminvalue, shardmaxvalue —
    * `src/include/distributed/pg_dist_shard.h:22-33`). min/max are the
    * ACTUAL observed bounds of the shard's rows, the way citus records
    * them for append tables and uses them for pruning. */
  final case class ShardInterval(shard: Int, min: Any, max: Any)

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    // numbers compare across widths (stored bounds are often Long while
    // the caller passes Int literals)
    case (x: Number, y: Number) =>
      BigDecimal(x.toString).compare(BigDecimal(y.toString))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Range-distributed table (`DISTRIBUTE_BY_RANGE 'r'`,
    * `pg_dist_partition.h:56`): rows land in the shard whose interval
    * covers their distribution-column value. Split points define N+1
    * shards; shard i takes `splitPoints(i-1) <= v < splitPoints(i)`.
    * Physically a `__shard`-partitioned Parquet directory tree — the
    * directory IS the shard, so [[rangeScan]]'s interval pruning turns
    * into Spark partition pruning (only overlapping directories are
    * listed/read; at 100 TB an interval query touches only its shards'
    * files, exactly citus's `PruneShards` on `shardminvalue/maxvalue`).
    * Shard assignment is [[rangeShardOf]]: one write-stage shuffle. */
  def createRangeDistributedTable(spark: SparkSession, df: DataFrame,
      name: String, distColumn: String,
      splitPoints: Seq[Any]): DistributionSpec =
    recordIntervals(spark, create(spark,
      df.withColumn("__shard", rangeShardOf(distColumn, splitPoints)),
      DistributionSpec(name, RangeDist, Some(distColumn),
        splitPoints.size + 1, 0)))

  /** The index of the range among `points` holding column `c` (a null
    * compares as no point: 0): a branch-free sum of comparisons,
    * codegen'd, no UDF. */
  private def rangeShardOf(c: String, points: Seq[Any]): Column = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(points.nonEmpty, "need at least one split point")
    points.map(p => when(col(c) >= lit(p), 1).otherwise(0)).reduce(_ + _)
  }

  /** Append-distributed table (`DISTRIBUTE_BY_APPEND 'a'`,
    * `pg_dist_partition.h:54`; loader
    * `worker/worker_data_fetch_protocol.c:76`): every ingested batch
    * becomes a brand-new shard with recorded min/max — the legacy
    * citus bulk-append model (`master_create_empty_shard` +
    * `worker_append_table_to_shard`). Batches may overlap in key
    * space; pruning still works off each shard's observed bounds. */
  def createAppendTable(spark: SparkSession, firstBatch: DataFrame,
      name: String, distColumn: String): DistributionSpec = {
    import org.apache.spark.sql.functions.lit
    recordIntervals(spark, create(spark,
      firstBatch.withColumn("__shard", lit(0)),
      DistributionSpec(name, AppendDist, Some(distColumn), 1, 0)))
  }

  /** Append one more batch as a new shard (shard id = previous max + 1),
    * as one [[commitPartitions]] that replaces no partition. */
  def appendShard(spark: SparkSession, name: String,
      batch: DataFrame): DistributionSpec = {
    import org.apache.spark.sql.functions.lit
    val e = entry(name)
    require(e.spec.method == AppendDist, s"$name is not append-distributed")
    commitPartitions(spark, name, Nil,
      Some(batch.withColumn("__shard", lit(e.shards.max + 1))))
    recordIntervals(spark, e.spec)
  }

  /** The `pg_dist_shard` view: one row per shard with its interval. */
  def rangeShards(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    rangeEntry(name).intervals
      .map(i => (name, i.shard, String.valueOf(i.min), String.valueOf(i.max)))
      .toDF("logicalrelid", "shardid", "shardminvalue", "shardmaxvalue")
  }

  /** Interval-pruned read: shards whose [min,max] overlaps [lo,hi] are
    * scanned, the rest are never listed (`PruneShards`,
    * `planner/shard_pruning.c:1-67` → Spark partition pruning on
    * `__shard`), with the exact range kept as a residual predicate.
    * Pass `lo`/`hi` = None for a half-open interval. */
  def rangeScan(spark: SparkSession, name: String,
      lo: Option[Any], hi: Option[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val e = rangeEntry(name)
    val keep = e.intervals.filter(i =>
        lo.forall(l => cmp(i.max, l) >= 0) &&
        hi.forall(h => cmp(i.min, h) <= 0))
      .map(_.shard)
    val dc = col(e.spec.distColumn.get)
    val residual = (lo.map(l => dc >= lit(l)) ++ hi.map(h => dc <= lit(h)))
      .reduceOption(_ && _).getOrElse(lit(true))
    spark.table(name)
      .filter(col("__shard").isin(keep: _*))
      .filter(residual)
      .drop("__shard")
  }

  /** `citus_split_shard_by_split_points(shard, points, ...)`
    * (`operations/shard_split.c` — split one shard at given points;
    * the new shards get FRESH ids and the old shard is retired): only
    * the target shard's rows are rewritten, as one [[commitPartitions]]
    * — the sub-shards land as new partition directories and the old
    * directory is dropped, the other shards' files are untouched. That
    * locality is the point of the citus UDF (split a hot/oversized
    * shard without touching the rest of the table) and it holds here at
    * any scale: cost is proportional to the SPLIT shard, not the table. */
  def splitShard(spark: SparkSession, name: String, shard: Int,
      points: Seq[Any]): DistributionSpec = {
    import org.apache.spark.sql.functions.col
    val e = rangeEntry(name)
    require(e.shards.contains(shard), s"no such shard: $shard")
    val subShard = rangeShardOf(e.spec.distColumn.get, points) +
      (e.shards.max + 1)
    commitPartitions(spark, name, Seq(Map("__shard" -> shard.toString)),
      Some(spark.table(name).filter(col("__shard") === shard)
        .withColumn("__shard", subShard)))
    recordIntervals(spark, e.spec)
  }

  /** The entry of range/append table `name`. */
  private def rangeEntry(name: String): Entry = {
    val e = entry(name)
    require(e.spec.method == RangeDist || e.spec.method == AppendDist,
      s"$name is not range/append-distributed")
    e
  }

  /** Record per-shard observed min/max (one small grouped scan — N
    * shards rows to the driver, never data rows) as the intervals of
    * range/append table `layout.table`, whose shard count becomes the
    * number of intervals. Placements of retired shards go. */
  private def recordIntervals(spark: SparkSession,
      layout: DistributionSpec): DistributionSpec = {
    import org.apache.spark.sql.functions.{col, max, min}
    val ivs = spark.table(layout.table)
      .groupBy(col("__shard"))
      .agg(min(layout.distColumn.get), max(layout.distColumn.get))
      .collect()
      .map(r => ShardInterval(
        r.get(0).toString.toInt, r.get(1), r.get(2)))
      .sortBy(_.shard).toSeq
    val spec = layout.copy(bucketCount = ivs.size)
    val live = ivs.map(_.shard).toSet
    entries.updateWith(spec.table)(_.map(e => e.copy(spec = spec,
      intervals = ivs, placements = e.placements.filter(p => live(p._1)))))
    spec
  }

  /** `alter_columnar_table_set(rel, chunk_group_row_limit,
    * stripe_row_limit, compression, compression_level)`
    * (`src/backend/columnar/README.md:100-114`; columnar.h:75-81):
    * the reference's columnar knobs map 1:1 onto Parquet's physical
    * layout — stripe ≙ row group (`parquet.block.size`, a bytes
    * budget), chunk group ≙ page (`parquet.page.row.count.limit`,
    * a row budget), compression ≙ the Parquet codec
    * (none|snappy|zstd|lz4 — zstd is both defaults). The table's
    * contents are committed once more ([[commitVersion]]) with these
    * write options changed and the others kept, in the same layout
    * (bucketed stays bucketed, partitioned stays partitioned); later
    * rewrites and MERGEs keep the options, which live in the catalog
    * entry. Isolated tenants keep their partitions. Chunk skipping ≙
    * row-group/page min-max statistics, which Parquet writes
    * unconditionally. */
  def setColumnarOptions(spark: SparkSession, name: String,
      compression: Option[String] = None,
      stripeBytes: Option[Long] = None,
      chunkRows: Option[Int] = None): Unit =
    commitVersion(spark, name, Some(entry(name).spec), spark.table(name),
      compression.map("compression" -> _).toMap ++
        stripeBytes.map("parquet.block.size" -> _.toString) ++
        chunkRows.map("parquet.page.row.count.limit" -> _.toString))

  /** `citus_update_table_statistics(rel)` (`sql/udfs/
    * citus_update_table_statistics/` — refresh shard size/stat
    * metadata) ≙ ANALYZE: compute table + column stats so the
    * cost-based planner (broadcast decisions, join reorder under
    * `spark.sql.cbo.enabled`) sees real row counts instead of file
    * sizes. Returns the recorded row count. */
  def analyzeTable(spark: SparkSession, name: String): Long = {
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name))
      .stats.flatMap(_.rowCount).map(_.toLong)
      .getOrElse(spark.table(name).count())
  }

  def reset(): Unit =
    { entries.clear(); matviews.clear(); tenantReads.clear() }

  private def warehousePath(spark: SparkSession, name: String): String =
    new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      name).getAbsolutePath
}
