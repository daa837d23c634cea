package graft.catalog

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTablePartition, ExternalCatalogUtils}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}

import scala.collection.concurrent.TrieMap

/** The engine's data-model API — the Spark-native analogue of the
  * reference's distributed-table catalog:
  *
  *   - `pg_dist_partition` (logicalrelid, partmethod, partkey,
  *     colocationid, repmodel — citus
  *     `src/include/distributed/pg_dist_partition.h:22-59`) lives in the
  *     table's own Spark catalog entry, as citus keeps it in a catalog
  *     table beside the table ([[specOf]]): the bucket spec and partition
  *     columns Spark records, and `graft.*` properties for the rest.
  *     `pg_dist_shard` is a range/append table's `__shard` partitions,
  *     bounds in their parameters. `DROP TABLE` drops all of it;
  *   - `create_distributed_table(rel, dist_col, shard_count,
  *     colocate_with)` (`commands/create_distributed_table.c:201`)
  *     becomes [[createDistributedTable]]: a bucketed Parquet table —
  *     bucket ≙ shard, bucket count ≙ `citus.shard_count` (default 32,
  *     `shared_library_init.c:2518`);
  *   - colocation groups (`colocation_utils.c:598`) become "same bucket
  *     count + same key type": Spark's EnsureRequirements then plans
  *     joins between colocated tables WITHOUT a shuffle exchange — the
  *     LOCAL_PARTITION_JOIN rule (`multi_join_order.h:35`) for free;
  *   - `create_reference_table` becomes a table whose every scan
  *     [[graft.plans.BroadcastReferenceTables]] broadcast-hints — the
  *     REFERENCE_JOIN rule (`multi_join_order.h:33`).
  *
  * At 100 TB the recurring fact-to-fact joins never re-shuffle, the
  * reason citus colocates shards; size buckets so a bucket's largest
  * table slice fits an executor's memory (100 TB / 32768 ≈ 3 GB).
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

    /** True when a join on both distribution columns needs no exchange.
      * Time-partitioned tables all have group 0 and share no layout. */
    def colocatedWith(o: DistributionSpec): Boolean =
      bucketed && o.bucketed && colocationId == o.colocationId
  }

  /** A distributed table's `graft.*` catalog properties: its method, its
    * distribution column where the layout does not give it (range and
    * append tables), its colocation group and its moved placements
    * (`shard:node,…`); and a range/append shard's partition parameters:
    * its bounds, as Spark casts them to strings. */
  private val MethodKey = "graft.method"
  private val DistColumnKey = "graft.distcolumn"
  private val ColocationKey = "graft.colocation"
  private val PlacementsKey = "graft.placements"
  private val MinKey = "graft.min"
  private val MaxKey = "graft.max"

  /** The distribution catalog table `t` records, if any. A range or
    * append table's shard count is `shards`, called for those only. */
  private[graft] def specOf(t: CatalogTable)(
      shards: => Int): Option[DistributionSpec] =
    t.properties.get(MethodKey).map { code =>
      val name = t.identifier.table
      Seq(Hash, Reference, RangeDist, AppendDist).find(_.code == code).get match {
        case Hash => t.bucketSpec.fold(DistributionSpec(name, Hash,
            t.partitionColumnNames.headOption, 0, 0))(b =>
          DistributionSpec(name, Hash, b.bucketColumnNames.headOption,
            b.numBuckets, t.properties.get(ColocationKey).fold(0)(_.toInt)))
        case Reference => DistributionSpec(name, Reference, None, 1, 0)
        case m => DistributionSpec(name, m, t.properties.get(DistColumnKey),
          shards, 0)
      }
    }

  /** `props` with the `graft.*` keys that record `spec` (None: none). */
  private def recording(props: Map[String, String],
      spec: Option[DistributionSpec]): Map[String, String] =
    props.filterNot(_._1.startsWith("graft.")) ++ spec.toSeq.flatMap(s =>
      Seq(MethodKey -> s.method.code) ++ (s.method match {
        case Hash if s.bucketed => Seq(ColocationKey -> s.colocationId.toString)
        case RangeDist | AppendDist => Seq(DistColumnKey -> s.distColumn.get)
        case _ => Nil
      }))

  /** A metadata-only change: table `name`'s properties become `f` of
    * them, and the session plans it from the new ones. */
  private def alterProperties(spark: SparkSession, name: String)(
      f: Map[String, String] => Map[String, String]): Unit = {
    val catalog = spark.sessionState.catalog
    val t = catalog.getTableMetadata(TableIdentifier(name))
    catalog.alterTable(t.copy(properties = f(t.properties)))
    spark.catalog.refreshTable(name)
  }

  /** Catalog table `t` with the distribution it records, if any. */
  private def withSpec(spark: SparkSession,
      t: CatalogTable): Option[(CatalogTable, DistributionSpec)] = specOf(t)(
    spark.sessionState.catalog.listPartitions(t.identifier).size).map(t -> _)

  /** Table `name`'s entry and distribution, if it exists and has one. */
  private def cataloged(spark: SparkSession,
      name: String): Option[(CatalogTable, DistributionSpec)] = {
    val catalog = spark.sessionState.catalog
    Some(TableIdentifier(name)).filter(catalog.tableExists)
      .flatMap(i => withSpec(spark, catalog.getTableMetadata(i)))
  }

  private def distribution(spark: SparkSession,
      name: String): (CatalogTable, DistributionSpec) =
    cataloged(spark, name).getOrElse(throw new IllegalArgumentException(
      s"not a cataloged table: $name"))

  /** Every table of the current database that records a distribution. */
  private def distributed(
      spark: SparkSession): Seq[(CatalogTable, DistributionSpec)] = {
    val catalog = spark.sessionState.catalog
    catalog.getTablesByName(catalog.listTables(catalog.getCurrentDatabase,
      "*", includeLocalTempViews = false)).flatMap(withSpec(spark, _))
  }

  /** Default bucket count ≙ citus.shard_count default of 32. */
  val DefaultBuckets = 32

  /** Write `df` as a hash-distributed (bucketed, sorted) Parquet table,
    * in `colocateWith`'s colocation group (bucket counts must match, as
    * citus requires) or a new one. */
  def createDistributedTable(spark: SparkSession, df: DataFrame,
      name: String, distColumn: String,
      buckets: Int = DefaultBuckets,
      colocateWith: Option[String] = None): DistributionSpec =
    create(spark, df, DistributionSpec(name, Hash, Some(distColumn), buckets,
      colocationFor(spark, colocateWith, buckets)))

  /** The colocation group of a table with `buckets` buckets: hash table
    * `other`'s (bucket counts must match), or one above the largest. */
  private def colocationFor(spark: SparkSession,
      colocateWith: Option[String], buckets: Int): Int = colocateWith match {
    case Some(other) =>
      val o = distribution(spark, other)._2
      require(o.method == Hash && o.bucketCount == buckets,
        s"cannot colocate: $other has ${o.bucketCount} buckets, want $buckets")
      o.colocationId
    case None => (distributed(spark).map(_._2.colocationId) :+ 0).max + 1
  }

  /** zstd ≙ the reference columnar store's default compression
    * (columnar/README.md:93-101); later rewrites keep a table's options. */
  private val Zstd = Map("compression" -> "zstd")

  /** A new catalog table: `df` ([[byBucket]]) written in `spec`'s layout
    * straight to its warehouse path; then its entry records `spec`, and
    * its shards their bounds. */
  private def create(spark: SparkSession, df: DataFrame,
      spec: DistributionSpec,
      options: Map[String, String] = Zstd): DistributionSpec = {
    writeTable(byBucket(df, spec), spec.table, Some(spec), options,
      warehousePath(spark, spec.table))
    val ident = TableIdentifier(spec.table)
    spark.sessionState.catalog.alterPartitions(ident,
      partitions(spark, ident, Some(spec)))
    alterProperties(spark, spec.table)(recording(_, Some(spec)))
    distribution(spark, spec.table)._2
  }

  /** `df` hash-partitioned on `layout`'s distribution column into `p`
    * partitions, `p` the largest divisor of the bucket count at most the
    * default parallelism: as Spark's bucket id is `pmod(murmur3(c), b)`,
    * each bucket lands whole in one of `p` write tasks, one file per
    * bucket. A rewrite of a table's own rows needs no regrouping. */
  private[graft] def byBucket(df: DataFrame,
      layout: DistributionSpec): DataFrame = layout match {
    case DistributionSpec(_, Hash, Some(c), b, _) if b > 0 =>
      import org.apache.spark.sql.functions.col
      val cores = df.sparkSession.sparkContext.defaultParallelism
      df.repartition((1 to math.min(b, cores)).filter(b % _ == 0).max, col(c))
    case _ => df
  }

  /** The partition column of a table with isolated tenants, and its
    * value outside them (not null: Spark's default partition). An
    * isolated tenant is a `__tenant` partition, empty if it has no rows. */
  private val TenantCol = "__tenant"
  private val NoTenant = "-"

  /** The isolated tenants among partitions `parts`, or table `t`'s. */
  private def tenants(parts: Seq[CatalogTablePartition]): Seq[String] =
    parts.flatMap(_.spec.get(TenantCol)).filter(_ != NoTenant)
  private def tenants(spark: SparkSession, t: CatalogTable): Seq[String] =
    tenants(spark.sessionState.catalog.listPartitions(t.identifier))

  /** The `__tenant` value of distribution-column value `key` among
    * isolated tenants `ts`: `key` as a string if it is one of them, else
    * [[NoTenant]]. */
  private def tenantOf(ts: Seq[String], key: Column): Column = {
    val k = key.cast("string")
    org.apache.spark.sql.functions.when(k.isin(ts: _*), k).otherwise(NoTenant)
  }

  /** `df` with the `__tenant` column that table `name` is stored with,
    * if it has isolated tenants. */
  private[graft] def withTenant(df: DataFrame, name: String): DataFrame = {
    val (t, s) = distribution(df.sparkSession, name)
    withTenant(df, tenants(df.sparkSession, t), s)
  }

  private def withTenant(df: DataFrame, ts: Seq[String],
      layout: DistributionSpec): DataFrame =
    if (ts.isEmpty) df
    else df.withColumn(TenantCol, tenantOf(ts, df(layout.distColumn.get)))

  /** The one table writer: creates (or replaces) catalog table `name`
    * at `path` in `layout`'s layout — a hash table's buckets, sorted on
    * the distribution column, in `__tenant` partitions if `df` has that
    * column ([[withTenant]]); a range/append table's `__shard`
    * partitions; a time-partitioned table's `__…` column's partitions;
    * otherwise (reference, not distributed) plain. */
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
    *   1. [[staged]]: write `df` once in `layout`'s layout, the table's
    *      write options overridden by `options`;
    *   2. swap: one `alterTable` gives the table the staging entry's
    *      definition (schema, bucket spec, partition columns, options,
    *      location) and properties that record `layout` (None: none);
    *      its partitions follow;
    *   3. delete the rest of the table's warehouse path: the previous
    *      version and whatever an interrupted commit left.
    * A failure before step 2 leaves the old version readable and
    * routable; `df` may read the table itself. Under an unchanged spec
    * the table keeps its placements and its isolated tenants (their
    * `__tenant` partitions derived again, [[withTenant]]), which
    * `isolate` joins; a tenant with no rows gets an empty partition. A
    * new spec starts at the default placement with no isolated tenant,
    * as citus's `alter_distributed_table` places the shards it creates. */
  private[graft] def commitVersion(spark: SparkSession, name: String,
      layout: Option[DistributionSpec], df: DataFrame,
      options: Map[String, String] = Map.empty,
      isolate: Option[String] = None): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    val parts = catalog.listPartitions(ident)
    val kept = layout.filter(specOf(meta)(parts.size).contains)
    val ts = kept.fold(Seq.empty[String])(_ => tenants(parts)) ++ isolate
    val next = staged(spark, name, layout,
        layout.fold(df)(withTenant(df, ts, _)),
        meta.storage.properties ++ options) { staging =>
      val stagedMeta = catalog.getTableMetadata(staging)
      val added = partitions(spark, staging, layout)
      // an empty partition's directory goes under the new location
      val empty = ts.diff(tenants(added)).map(t => CatalogTablePartition(
        Map(TenantCol -> t), stagedMeta.storage.copy(locationUri = None)))
      // the old partitions go before the partition columns change
      catalog.dropPartitions(ident, parts.map(_.spec),
        ignoreIfNotExists = false, purge = false, retainData = true)
      catalog.alterTable(stagedMeta.copy(identifier = meta.identifier,
        stats = None, properties = kept.fold(recording(meta.properties,
          layout))(_ => meta.properties)))
      catalog.createPartitions(ident, added ++ empty, ignoreIfExists = false)
    }
    spark.catalog.refreshTable(name)
    // every version lives under the warehouse path: keep only `next`
    Option(next.getParentFile.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getCanonicalFile == next.getCanonicalFile)
      .foreach(FileUtils.deleteQuietly)
  }

  /** A partition commit, the way citus's shard split, append load and
    * `alter_old_partitions_set_access_method` change `pg_dist_shard` in
    * one step: `rows` (None: none), cast to the table's schema, are
    * [[staged]]; the swap replaces partitions `replaced` of table `name`
    * with the staged ones (with their bounds); then the replaced
    * directories go, and a `_v…` directory left with no partition. A
    * failure before the swap changes nothing; `rows` may read the table. */
  private def commitPartitions(spark: SparkSession, name: String,
      replaced: Seq[Map[String, String]], rows: Option[DataFrame],
      options: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    val layout = specOf(meta)(0)
    val oldDirs = replaced.map(p =>
      new java.io.File(catalog.getPartition(ident, p).location))
    def swap(added: Seq[CatalogTablePartition]): Unit = {
      catalog.dropPartitions(ident, replaced, ignoreIfNotExists = false,
        purge = false, retainData = true)
      catalog.createPartitions(ident, added, ignoreIfExists = false)
    }
    rows match {
      case Some(df) => staged(spark, name, layout,
          df.select(meta.schema.map(f => col(f.name).cast(f.dataType)): _*),
          meta.storage.properties ++ options)(
        staging => swap(partitions(spark, staging, layout)))
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
    * warehouse path, which Spark's listing skips; `swap` makes it the
    * table's. The staging entry goes either way, the directory too on a
    * failure, once the failed write's tasks have ended (at most a
    * minute). Returns it. */
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

  /** The partitions of catalog table `ident`, which holds only rows
    * just written ([[create]], [[staged]]); under a range or append
    * `layout`, each with its rows' min and max in its parameters, from
    * one grouped scan of them. */
  private def partitions(spark: SparkSession, ident: TableIdentifier,
      layout: Option[DistributionSpec]): Seq[CatalogTablePartition] = {
    val parts = spark.sessionState.catalog.listPartitions(ident)
    layout match {
      case Some(DistributionSpec(_, RangeDist | AppendDist, Some(c), _, _)) =>
        import org.apache.spark.sql.functions.{col, max, min}
        val bounds = spark.table(ident.unquotedString)
          .groupBy(col("__shard").cast("string"))
          .agg(min(c).cast("string"), max(c).cast("string")).collect()
          .map(r => r.getString(0) -> Map(MinKey -> r.getString(1),
            MaxKey -> r.getString(2)).filter(_._2 != null)).toMap
        parts.map(p => p.copy(parameters =
          p.parameters ++ bounds.getOrElse(p.spec("__shard"), Map.empty)))
      case _ => parts
    }
  }

  /** The data files under catalog table `t`'s location (or its
    * partitions'), each with its partition's spec, except those Spark's
    * listing hides ([[graft.Tables.parquetFiles]]: `.crc` checksums,
    * `_SUCCESS`, a `_v…` directory no commit swapped in). */
  private def dataFiles(spark: SparkSession,
      t: CatalogTable): Seq[(Map[String, String], java.io.File)] =
    (if (t.partitionColumnNames.isEmpty)
      Seq(Map.empty[String, String] -> t.location)
      else spark.sessionState.catalog.listPartitions(t.identifier)
        .map(p => p.spec -> p.location))
      .flatMap { case (p, d) =>
        graft.Tables.parquetFiles(new java.io.File(d)).map(p -> _) }

  /** Reference table: stored once, broadcast to every join site. */
  def createReferenceTable(spark: SparkSession, df: DataFrame,
      name: String): DistributionSpec =
    create(spark, df, DistributionSpec(name, Reference, None, 1, 0),
      options = Map.empty)

  /** Read a catalog table. The physical layout columns are not user
    * schema: a range/append table's `__shard` and an isolated tenant's
    * `__tenant` ([[isolateTenant]]) are dropped. */
  def table(spark: SparkSession, name: String): DataFrame = {
    val df = spark.table(name)
    cataloged(spark, name).fold(df)(c => df.drop(c._1.partitionColumnNames
      .filter(Set("__shard", TenantCol)): _*))
  }

  /** True when two tables are in the same colocation group
    * ([[DistributionSpec.colocatedWith]]). */
  def colocated(spark: SparkSession, a: String, b: String): Boolean =
    spec(spark, a).exists(x => spec(spark, b).exists(x.colocatedWith))

  /** The distribution table `name` records, if any. */
  def spec(spark: SparkSession, name: String): Option[DistributionSpec] =
    cataloged(spark, name).map(_._2)

  /** The `pg_dist_partition` view of this catalog. */
  def listTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    distributed(spark).map(_._2)
      .map(s => (s.table, s.method.code, s.distColumn.getOrElse(""),
        s.bucketCount, s.colocationId))
      .toDF("logicalrelid", "partmethod", "partkey", "bucketcount",
        "colocationid")
  }

  /** The `citus_tables` view (`sql/udfs/citus_tables/`): [[listTables]]
    * with the type and the size ≙ `citus_total_relation_size`, from the
    * file system, not a scan. */
  def citusTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    distributed(spark).sortBy(_._2.table).map { case (t, s) =>
      (s.table, s.method.kind, s.distColumn.getOrElse(""), s.colocationId,
        dataFiles(spark, t).map(_._2.length()).sum, s.bucketCount)
    }.toDF("table_name", "citus_table_type", "distribution_column",
      "colocation_id", "table_size", "shard_count")
  }

  /** `citus_total_relation_size(rel)`: physical bytes of a cataloged
    * table (every shard and partition). */
  def totalRelationSize(spark: SparkSession, name: String): Long =
    dataFiles(spark, spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(name))).map(_._2.length()).sum

  /** `update_distributed_table_colocation(rel, colocate_with)`
    * (`sql/udfs/update_distributed_table_colocation/`): join another
    * table's colocation group (bucket counts must match, as citus's
    * shard counts must), or None: a fresh group. No data moves. */
  def updateDistributedTableColocation(spark: SparkSession, name: String,
      colocateWith: Option[String]): DistributionSpec = {
    val old = distribution(spark, name)._2
    require(old.bucketed, s"$name is not hash-distributed")
    val spec = old.copy(colocationId = colocationFor(spark, colocateWith,
      old.bucketCount))
    alterProperties(spark, name)(
      _ + (ColocationKey -> spec.colocationId.toString))
    spec
  }

  /** Time-partitioned table (`sql/udfs/create_time_partitions/`) ≙
    * date-partitioned Parquet directories: partition pruning on the
    * truncated column replaces shard-interval pruning. */
  def createTimePartitionedTable(spark: SparkSession, df: DataFrame,
      name: String, tsColumn: String, granularity: String): DistributionSpec = {
    import org.apache.spark.sql.functions.{col, date_trunc}
    val partCol = s"__${granularity}_part"
    create(spark, df.withColumn(partCol,
        date_trunc(granularity, col(tsColumn)).cast("date")),
      DistributionSpec(name, Hash, Some(partCol), 0, 0))
  }

  /** The `time_partitions` view (`sql/udfs/time_partitions/`): one row
    * per partition with its value, row count (one grouped scan of the
    * partition column) and bytes. Rows with a null timestamp show under
    * Spark's default partition name, as their directory does. */
  def timePartitions(spark: SparkSession, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val partCol = timePartitionValues(spark, name)._1
    val counts = spark.table(name).groupBy(coalesce(col(partCol)
        .cast("string"), lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))
      .agg(count(lit(1)).as("n_rows"))
    val bytes = dataFiles(spark, distribution(spark, name)._1)
      .groupMapReduce(_._1(partCol))(_._2.length())(_ + _)
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
    * 'columnar')` (`sql/udfs/alter_old_partitions_set_access_method/`):
    * rewrite ONLY the partitions older than the cutoff under `codec`, as
    * one [[commitPartitions]]. Cost ∝ the old partitions. */
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
    * drop_old_time_partitions/`): drop every partition older than the
    * cutoff, files included, as one [[commitPartitions]] of no rows: no
    * Spark job. Returns the dropped values. */
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
    val partCol = distribution(spark, name)._2.distColumn.filter(_
      .startsWith("__")).getOrElse(throw new IllegalArgumentException(
        s"$name is not time-partitioned"))
    partCol -> spark.sessionState.catalog
      .listPartitions(TableIdentifier(name)).map(_.spec(partCol)).sorted
  }

  /** The FIXTURES.md layout (multi_create_table.sql): lineitem+orders
    * hash-distributed on the order key and COLOCATED;
    * customer/part/nation/region/supplier reference tables. */
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
    * with the new distribution, then swaps it in): re-bucket the whole
    * table, isolated tenants folded back, in one shuffle-write stage, as
    * one [[commitVersion]]. A failed rewrite (a bad column, a refused
    * colocation) leaves the table as it was. */
  def alterDistributedTable(spark: SparkSession, name: String,
      distColumn: Option[String] = None, buckets: Option[Int] = None,
      colocateWith: Option[String] = None): DistributionSpec = {
    val old = distribution(spark, name)._2
    require(old.method == Hash, s"$name is not hash-distributed")
    val newBuckets = buckets.getOrElse(old.bucketCount)
    val spec = DistributionSpec(name, Hash, distColumn.orElse(old.distColumn),
      newBuckets, colocationFor(spark, colocateWith, newBuckets))
    commitVersion(spark, name, Some(spec), byBucket(table(spark, name), spec))
    spec
  }

  /** `undistribute_table(rel)` (`commands/alter_table.c:180`): back to
    * a plain table with no distribution, tenants folded back in, as one
    * [[commitVersion]]. */
  def undistributeTable(spark: SparkSession, name: String): Unit = {
    require(spec(spark, name).nonEmpty, s"not a distributed table: $name")
    commitVersion(spark, name, None, table(spark, name))
  }

  /** The `citus_shards` size view (`sql/udfs/citus_shards/` — shard
    * name, size, placement): per-bucket bytes and row counts of a
    * hash-distributed table: bytes from the file listing (shard ≙
    * bucket files `*_NNNNN.*`), rows from one grouped scan — the skew
    * diagnosis behind [[alterDistributedTable]] or a salted join. Each
    * isolated tenant is one more [[shard]], its rows not counted in its
    * bucket, as citus_shards lists a tenant's dedicated shard. */
  def shardSizes(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val (t, s) = distribution(spark, name)
    val bytes = bytesByShard(spark, t, s)
    // bucket id comes from the file name (file-splits ≠ buckets: tiny
    // files pack many-per-partition, so spark_partition_id won't do)
    val rows = spark.table(name)
      .groupBy(tenantOf(tenants(spark, t), col(s.distColumn.get)),
        regexp_extract(input_file_name(), BucketFile.regex, 1).cast("int"))
      // one group per shard: a tenant's rows share one key, so one bucket
      .count().collect()
      .map(r => shard(name, r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    ((0 until s.bucketCount).map(name -> _) ++
      bytes.keys.filter(_._1 != name).toSeq.sorted)
      .map(s => (s._1, s._2, bytes.getOrElse(s, 0L), rows.getOrElse(s, 0L)))
      .toDF("table_name", "shard", "size_bytes", "n_rows")
  }

  private val BucketFile = "_(\\d{5})[_.]".r

  /** A shard of table `name` as [[shardSizes]] lists it: (`name`, its
    * bucket), or (`name/__tenant=<key>`, -1) for an isolated tenant. */
  private def shard(name: String, tenant: String, bucket: Int) =
    if (tenant == NoTenant) name -> bucket
    else s"$name/$TenantCol=$tenant" -> -1

  /** Bytes per [[shard]] of hash-bucketed table `t` (spec `s`), from
    * the file listing alone: no Spark job. */
  private def bytesByShard(spark: SparkSession, t: CatalogTable,
      s: DistributionSpec): Map[(String, Int), Long] = {
    require(s.bucketed, s"${s.table} is not hash-bucketed")
    dataFiles(spark, t).flatMap { case (p, f) =>
      BucketFile.findFirstMatchIn(f.getName).map(m => shard(s.table,
        p.getOrElse(TenantCol, NoTenant), m.group(1).toInt) -> f.length())
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Bytes per bucket of hash-bucketed table `name` (0 for an empty
    * bucket; an isolated tenant's files are its own shard), from the
    * file listing alone: no Spark job. */
  private[catalog] def shardBytes(spark: SparkSession,
      name: String): Map[Int, Long] = {
    val (t, s) = distribution(spark, name)
    val bytes = bytesByShard(spark, t, s)
    (0 until s.bucketCount).map(b => b -> bytes.getOrElse(name -> b, 0L)).toMap
  }

  /** `isolate_tenant_to_new_shard(table, tenant_id, 'CASCADE')`
    * (`operations/isolate_shards.c:48-57` — give a hot tenant a shard of
    * its own inside the same table): one [[commitVersion]] under the
    * unchanged spec (colocation kept, as citus's CASCADE keeps it) that
    * partitions the table by `__tenant` ([[withTenant]]). Every read
    * still sees every row; [[tenantShard]] reads the tenant's partition
    * alone, at a cost proportional to ITS data ([[shardSizes]]
    * diagnoses, isolateTenant cures). Later writes under the same spec
    * keep the partition; a new spec folds it back. */
  def isolateTenant(spark: SparkSession, name: String,
      tenantValue: Any): DistributionSpec = {
    val (t, s) = distribution(spark, name)
    val tenant = String.valueOf(tenantValue)
    require(s.bucketed,
      s"$name is not hash-bucketed (tenant isolation needs a bucketed " +
        "layout; time-partitioned and reference tables have none)")
    require(!tenants(spark, t).contains(tenant),
      s"tenant $tenantValue of $name is isolated")
    require(tenant != NoTenant,
      s"$NoTenant is the partition of the rows outside any tenant")
    commitVersion(spark, name, Some(s), spark.table(name),
      isolate = Some(tenant))
    s
  }

  private val tenantReads = TrieMap.empty[(String, String), Long]

  /** The `citus_stat_tenants` view (`src/backend/distributed/utils/
    * citus_stat_tenants.c`): routed single-tenant reads per (table,
    * tenant), the hot tenants [[isolateTenant]] takes as input. */
  def statTenants(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tenantReads.toSeq
      .map { case ((tbl, tv), n) => (tbl, tv, n) }
      .sortBy { case (tbl, tv, n) => (-n, tbl, tv) }
      .toDF("table_name", "tenant", "read_count")
  }

  /** `citus_stat_tenants_reset()`. */
  def resetTenantStats(): Unit = tenantReads.clear()

  /** Route a single-tenant read (`fast_path_router_planner.c`): the
    * table with a distribution-column point filter, which
    * [[graft.plans.RouteToShard]] routes to the key's one bucket file,
    * and, on a table with isolated tenants, a filter on the key's
    * `__tenant` partition, so an isolated tenant lists its own only. */
  def tenantShard(spark: SparkSession, name: String,
      tenantValue: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    tenantReads.updateWith((name, tenantValue.toString)) {
      case Some(n) => Some(n + 1); case None => Some(1L)
    }
    val (t, s) = distribution(spark, name)
    require(s.method == Hash && s.distColumn.nonEmpty,
      s"$name has no distribution column to route on")
    val rows = spark.table(name)
      .filter(col(s.distColumn.get) === lit(tenantValue))
    if (!t.partitionColumnNames.contains(TenantCol)) rows
    else rows.filter(col(TenantCol) ===
      tenantOf(tenants(spark, t), lit(tenantValue))).drop(TenantCol)
  }

  private val matviews =
    TrieMap.empty[String, SparkSession => DataFrame]

  /** Materialized view over distributed tables (`sql/materialized_view
    * .sql`, `columnar_matview.sql`): the defining query's result is
    * stored as a table, distributed on `distColumn` if given (≙ a
    * matview you then create_distributed_table on). */
  def createMaterializedView(spark: SparkSession, name: String,
      definition: SparkSession => DataFrame,
      distColumn: Option[String] = None,
      buckets: Int = DefaultBuckets): Unit = {
    matviews.put(name, definition)
    materialize(spark, name, definition, distColumn, buckets)
  }

  /** `REFRESH MATERIALIZED VIEW`: the recomputed result replaces the old
    * as one [[commitVersion]], so a failing definition keeps the last. */
  def refreshMaterializedView(spark: SparkSession, name: String): Unit = {
    val defn = matviews.getOrElse(name,
      throw new IllegalArgumentException(s"no such materialized view: $name"))
    val spec = this.spec(spark, name)
    materialize(spark, name, defn,
      spec.filter(_.method == Hash).flatMap(_.distColumn),
      spec.map(_.bucketCount).filter(_ > 0).getOrElse(DefaultBuckets))
  }

  /** Store `definition`'s result as table `name`: created, or committed
    * over the previous result (which it may read) in the same
    * colocation group. */
  private def materialize(spark: SparkSession, name: String,
      definition: SparkSession => DataFrame, distColumn: Option[String],
      buckets: Int): Unit = {
    val layout = distColumn.map { c =>
      val s = DistributionSpec(name, Hash, Some(c), buckets, 0)
      spec(spark, name).filter(_.copy(colocationId = 0) == s)
        .getOrElse(s.copy(colocationId = colocationFor(spark, None, buckets)))
    }
    val df = definition(spark)
    if (spark.catalog.tableExists(name))
      commitVersion(spark, name, layout, layout.fold(df)(byBucket(df, _)))
    else layout.fold(writeTable(df, name, None, Zstd,
      warehousePath(spark, name)))(create(spark, df, _))
  }

  // ---- shard placements (pg_dist_placement) ---------------------------

  /** Current shard→node placement ≙ `pg_dist_placement`; a shard never
    * moved sits at citus's create-time default, round-robin. */
  def placements(spark: SparkSession, table: String, nodeCount: Int,
      shards: Set[Int]): Map[Int, Int] = {
    val stored = cataloged(spark, table).flatMap(_._1.properties
      .get(PlacementsKey)).toSeq.flatMap("(\\d+):(\\d+)".r.findAllMatchIn(_))
      .map(m => m.group(1).toInt -> m.group(2).toInt).toMap
    shards.map(s => s -> stored.getOrElse(s, s % nodeCount)).toMap
  }

  private[catalog] def setPlacements(spark: SparkSession, table: String,
      p: Map[Int, Int]): Unit =
    alterProperties(spark, table)(_ + (PlacementsKey ->
      p.toSeq.sorted.map { case (s, n) => s"$s:$n" }.mkString(",")))

  /** The `pg_dist_placement` view (shardid, nodeid) of one table's live
    * shards: buckets, or partitions (a retired shard's id is not reused). */
  def shardPlacements(spark: SparkSession, table: String,
      nodeCount: Int): DataFrame = {
    import spark.implicits._
    val s = distribution(spark, table)._2
    val shards = if (s.method == RangeDist || s.method == AppendDist)
      rangeTable(spark, table)._2.map(_.shard) else 0 until s.bucketCount
    placements(spark, table, nodeCount, shards.toSet)
      .toSeq.sorted.map { case (sh, n) => (table, sh, n) }
      .toDF("logicalrelid", "shardid", "nodeid")
  }

  // ---- range / append distribution (DISTRIBUTE_BY_RANGE 'r',
  // DISTRIBUTE_BY_APPEND 'a') -------------------------------------------

  /** One shard's interval ≙ a `pg_dist_shard` row (`pg_dist_shard.h:
    * 22-33`): the observed bounds of its rows, as citus records them
    * for append tables and prunes with them. */
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
    * shards; shard i takes `splitPoints(i-1) <= v < splitPoints(i)`
    * ([[rangeShardOf]]). The directory of a `__shard` partition IS the
    * shard, so [[rangeScan]]'s interval pruning is Spark partition
    * pruning, as citus's `PruneShards` on `shardminvalue/maxvalue`. */
  def createRangeDistributedTable(spark: SparkSession, df: DataFrame,
      name: String, distColumn: String,
      splitPoints: Seq[Any]): DistributionSpec =
    create(spark, df.withColumn("__shard", rangeShardOf(distColumn,
      splitPoints)), DistributionSpec(name, RangeDist, Some(distColumn),
      splitPoints.size + 1, 0))

  /** The index of the range among `points` holding column `c` (a null
    * compares as no point: 0): a branch-free sum of comparisons,
    * codegen'd, no UDF. */
  private def rangeShardOf(c: String, points: Seq[Any]): Column = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(points.nonEmpty, "need at least one split point")
    points.map(p => when(col(c) >= lit(p), 1).otherwise(0)).reduce(_ + _)
  }

  /** Append-distributed table (`DISTRIBUTE_BY_APPEND 'a'`,
    * `pg_dist_partition.h:54`; `worker_append_table_to_shard`): every
    * batch becomes a new shard with its observed min/max, which pruning
    * uses; batches may overlap in key space. */
  def createAppendTable(spark: SparkSession, firstBatch: DataFrame,
      name: String, distColumn: String): DistributionSpec = {
    import org.apache.spark.sql.functions.lit
    create(spark, firstBatch.withColumn("__shard", lit(0)),
      DistributionSpec(name, AppendDist, Some(distColumn), 1, 0))
  }

  /** Append one more batch as a new shard (shard id = previous max + 1),
    * as one [[commitPartitions]] that replaces no partition. */
  def appendShard(spark: SparkSession, name: String,
      batch: DataFrame): DistributionSpec = {
    import org.apache.spark.sql.functions.lit
    val (s, ivs) = rangeTable(spark, name)
    require(s.method == AppendDist, s"$name is not append-distributed")
    commitPartitions(spark, name, Nil,
      Some(batch.withColumn("__shard", lit(ivs.map(_.shard).max + 1))))
    distribution(spark, name)._2
  }

  /** The `pg_dist_shard` view: one row per shard with its interval. */
  def rangeShards(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    rangeTable(spark, name)._2
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
    val (s, ivs) = rangeTable(spark, name)
    val keep = ivs.filter(i =>
        lo.forall(l => cmp(i.max, l) >= 0) &&
        hi.forall(h => cmp(i.min, h) <= 0))
      .map(_.shard)
    val dc = col(s.distColumn.get)
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
    * the target shard's rows are rewritten and scanned for bounds, as
    * one [[commitPartitions]]; the other shards' files are untouched,
    * so the cost is proportional to the SPLIT shard, not the table. */
  def splitShard(spark: SparkSession, name: String, shard: Int,
      points: Seq[Any]): DistributionSpec = {
    import org.apache.spark.sql.functions.col
    val (s, ivs) = rangeTable(spark, name)
    require(ivs.exists(_.shard == shard), s"no such shard: $shard")
    val subShard = rangeShardOf(s.distColumn.get, points) +
      (ivs.map(_.shard).max + 1)
    commitPartitions(spark, name, Seq(Map("__shard" -> shard.toString)),
      Some(spark.table(name).filter(col("__shard") === shard)
        .withColumn("__shard", subShard)))
    distribution(spark, name)._2
  }

  /** The spec of range/append table `name` and its shards' intervals,
    * their bounds cast back to the distribution column's type. */
  private def rangeTable(spark: SparkSession,
      name: String): (DistributionSpec, Seq[ShardInterval]) = {
    val (t, s) = distribution(spark, name)
    require(s.method == RangeDist || s.method == AppendDist,
      s"$name is not range/append-distributed")
    val dt = t.schema(s.distColumn.get).dataType
    def bound(v: Option[String]): Any = v.map(b => CatalystTypeConverters
      .convertToScala(Cast(Literal(b), dt,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(), dt)).orNull
    s -> spark.sessionState.catalog.listPartitions(t.identifier)
      .map(p => ShardInterval(p.spec("__shard").toInt,
        bound(p.parameters.get(MinKey)), bound(p.parameters.get(MaxKey))))
      .sortBy(_.shard)
  }

  /** `alter_columnar_table_set(rel, chunk_group_row_limit,
    * stripe_row_limit, compression, compression_level)`
    * (`src/backend/columnar/README.md:100-114`; columnar.h:75-81):
    * the reference's columnar knobs map 1:1 onto Parquet's physical
    * layout — stripe ≙ row group (`parquet.block.size`, a bytes
    * budget), chunk group ≙ page (`parquet.page.row.count.limit`,
    * a row budget), compression ≙ the Parquet codec
    * (none|snappy|zstd|lz4 — zstd is both defaults). The table is
    * committed once more ([[commitVersion]]) in its layout with these
    * write options changed; later rewrites keep them, as they live in
    * the catalog entry. Chunk skipping ≙ Parquet's row-group/page
    * min-max statistics. */
  def setColumnarOptions(spark: SparkSession, name: String,
      compression: Option[String] = None,
      stripeBytes: Option[Long] = None,
      chunkRows: Option[Int] = None): Unit =
    commitVersion(spark, name, Some(distribution(spark, name)._2),
      spark.table(name),
      compression.map("compression" -> _).toMap ++
        stripeBytes.map("parquet.block.size" -> _.toString) ++
        chunkRows.map("parquet.page.row.count.limit" -> _.toString))

  /** `citus_update_table_statistics(rel)` ≙ ANALYZE: the cost-based
    * planner (broadcast decisions, join reorder under
    * `spark.sql.cbo.enabled`) then sees row counts, not file sizes.
    * Returns the recorded row count. */
  def analyzeTable(spark: SparkSession, name: String): Long = {
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name))
      .stats.flatMap(_.rowCount).map(_.toLong)
      .getOrElse(spark.table(name).count())
  }

  /** Clears the JVM-wide state that is not catalog metadata: the
    * materialized-view definitions and the tenant read counters. */
  def reset(): Unit = { matviews.clear(); tenantReads.clear() }

  private def warehousePath(spark: SparkSession, name: String): String =
    new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      name).getAbsolutePath
}
