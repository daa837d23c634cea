package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
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

  sealed trait PartMethod
  case object Hash extends PartMethod      // DISTRIBUTE_BY_HASH 'h'
  case object Reference extends PartMethod // DISTRIBUTE_BY_NONE 'n'
  case object RangeDist extends PartMethod // DISTRIBUTE_BY_RANGE 'r'
  case object AppendDist extends PartMethod // DISTRIBUTE_BY_APPEND 'a'

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
    * the default) and its isolated tenants (tenant value → table).
    * Every create, and every commit under a new spec, replaces it
    * whole. */
  private final case class Entry(spec: DistributionSpec,
      intervals: Seq[ShardInterval] = Nil,
      placements: Map[Int, Int] = Map.empty,
      tenants: Map[String, String] = Map.empty) {
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

  /** A new catalog table: `df` is written in `spec`'s layout straight to
    * the table's warehouse path (there is no earlier version to
    * protect), and `spec` is recorded as a fresh entry. */
  private def create(spark: SparkSession, df: DataFrame,
      spec: DistributionSpec,
      options: Map[String, String] = Zstd): DistributionSpec = {
    writeTable(df, spec.table, Some(spec), options,
      Some(warehousePath(spark, spec.table)))
    entries.put(spec.table, Entry(spec))
    spec
  }

  /** The one table writer. The layout comes from `layout`:
    *   - hash with buckets: bucketed and sorted on the distribution
    *     column (bucket ≙ shard);
    *   - range or append: partitioned by `__shard` (directory ≙ shard);
    *   - hash with 0 buckets on a `__…` column (time-partitioned):
    *     partitioned by that column;
    *   - otherwise (reference, not distributed): plain.
    * With a `path` the write creates (or replaces) catalog table `name`
    * there; without one it appends to `name` at its catalog location,
    * and Spark takes the options from the catalog entry. */
  private def writeTable(df: DataFrame, name: String,
      layout: Option[DistributionSpec], options: Map[String, String],
      path: Option[String]): Unit = {
    val w = df.write.mode(if (path.isEmpty) "append" else "overwrite")
      .options(options ++ path.map("path" -> _)).format("parquet")
    (layout match {
      case Some(DistributionSpec(_, Hash, Some(c), b, _)) if b > 0 =>
        w.bucketBy(b, c).sortBy(c)
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
    *   1. write `df` once, in `layout`'s layout and with the table's
    *      write options (its catalog entry's, overridden by `options`),
    *      to a fresh `_v<uuid>` directory under the table's warehouse
    *      path, through a staging catalog entry; Spark's file listing
    *      skips `_` names, so a reader of the old location never sees
    *      the new files;
    *   2. swap: the table takes the staging entry's whole definition
    *      (schema, bucket spec, partition columns, options, location)
    *      and its partitions, and `layout` becomes its
    *      [[DistributionSpec]] (None: it leaves the distribution
    *      catalog);
    *   3. delete everything else under the table's warehouse path: the
    *      previous version and whatever an interrupted commit left.
    *      Files outside the warehouse path are never deleted.
    * If anything fails before step 2, the old version stays readable
    * and routable under its old spec, and the staging entry and
    * directory are removed. `df` may read the table itself: the write
    * never touches the files it reads. Under an unchanged spec the
    * table keeps its entry: intervals, placements and isolated tenant
    * parts, which are the caller's. A new spec starts a fresh entry at
    * the default placement, as citus's `alter_distributed_table` places
    * the shards it creates; a caller that changes the spec re-absorbs
    * the tenant parts ([[commitAbsorbing]]). */
  private[graft] def commitVersion(spark: SparkSession, name: String,
      layout: Option[DistributionSpec], df: DataFrame,
      options: Map[String, String] = Map.empty): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val meta = catalog.getTableMetadata(ident)
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = TableIdentifier(s"${name}__v$token")
    val dir = new java.io.File(warehousePath(spark, name))
    val next = new java.io.File(dir, s"_v$token")
    var committed = false
    try {
      writeTable(df, staging.table, layout,
        meta.storage.properties ++ options, Some(next.getPath))
      val staged = catalog.getTableMetadata(staging)
      // the old partitions go before the partition columns change
      catalog.dropPartitions(ident, catalog.listPartitions(ident).map(_.spec),
        ignoreIfNotExists = false, purge = false, retainData = true)
      catalog.alterTable(staged.copy(identifier = meta.identifier,
        stats = None))
      catalog.createPartitions(ident, catalog.listPartitions(staging),
        ignoreIfExists = false)
      committed = true
    } finally {
      // the staging entry is external: dropping it keeps its files
      catalog.dropTable(staging, ignoreIfNotExists = true, purge = false)
      if (!committed) deleteTree(next)
    }
    entries.updateWith(name)(old =>
      layout.map(s => old.filter(_.spec == s).getOrElse(Entry(s))))
    spark.catalog.refreshTable(name)
    // every version lives under the warehouse path: keep only `next`
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getCanonicalFile == next.getCanonicalFile)
      .foreach(deleteTree)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** The directory a catalog table's files live in: after a
    * [[commitVersion]] that is a `_v…` directory under the warehouse
    * path, not the warehouse path itself. */
  private def tableDir(spark: SparkSession, name: String): java.io.File =
    new java.io.File(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name)).location)

  /** The data files of catalog table `name`: every file under its
    * catalog location except those Spark's own file listing hides —
    * `.` names (Hadoop's `.crc` checksums) and `_` names without a `=`
    * (`_SUCCESS`, a `_v…` directory no commit swapped in). */
  private def dataFiles(spark: SparkSession,
      name: String): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filterNot(f => f.getName.startsWith(".") ||
          f.getName.startsWith("_") && !f.getName.contains("="))
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(tableDir(spark, name))
  }

  /** `ALTER TABLE … DROP PARTITION`, files included. A datasource
    * table's drop keeps the files, so they are deleted here, at the
    * partition's catalog location: wherever the table's last commit
    * put it. */
  private def dropPartition(spark: SparkSession, name: String,
      column: String, value: String): Unit = {
    val dir = spark.sessionState.catalog
      .getPartition(TableIdentifier(name), Map(column -> value)).location
    spark.sql(s"ALTER TABLE $name DROP PARTITION ($column='$value')")
    deleteTree(new java.io.File(dir))
  }

  /** True when [[isolateTenant]] moved some of `name`'s keys into
    * tables of their own. */
  def hasIsolatedTenants(name: String): Boolean =
    entries.get(name).exists(_.tenants.nonEmpty)

  /** Reference table: stored once, broadcast to every join site. */
  def createReferenceTable(spark: SparkSession, df: DataFrame,
      name: String): DistributionSpec =
    create(spark, df, DistributionSpec(name, Reference, None, 1, 0),
      options = Map.empty)

  /** Read a catalog table; reference tables come back broadcast-hinted
    * so every join applies the REFERENCE_JOIN strategy. A table with
    * isolated tenants ([[isolateTenant]]) reads as base ∪ tenant parts,
    * so whole-table analytics see every row. A distribution-column
    * equality on the result is pushed into both parts, and on a session
    * with [[graft.plans.GraftExtensions]] each part's scan is routed to
    * the one bucket file that can hold the key
    * ([[graft.plans.RouteToShard]]). */
  def table(spark: SparkSession, name: String): DataFrame = {
    val e = entries.get(name)
    val df = e.toSeq.flatMap(_.tenants.values)
      .foldLeft(spark.table(name))((acc, t) => acc.unionByName(spark.table(t)))
    e.map(_.spec.method) match {
      case Some(Reference) => broadcast(df)
      // the shard id is physical layout, not user schema
      case Some(RangeDist | AppendDist) => df.drop("__shard")
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
      .map(s => (s.table,
        s.method match { case Hash => "h"; case Reference => "n"
          case RangeDist => "r"; case AppendDist => "a" },
        s.distColumn.getOrElse(""), s.bucketCount, s.colocationId))
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
    entries.values.map(_.spec).toSeq.sortBy(_.table).map { s =>
      val kind = s.method match {
        case Hash => "distributed"
        case Reference => "reference"
        case RangeDist => "range-distributed"
        case AppendDist => "append-distributed"
      }
      val bytes = totalRelationSize(spark, s.table)
      (s.table, kind, s.distColumn.getOrElse(""), s.colocationId,
        bytes, s.bucketCount)
    }.toDF("table_name", "citus_table_type", "distribution_column",
      "colocation_id", "table_size", "shard_count")
  }

  /** `citus_total_relation_size(rel)`: physical bytes of a cataloged
    * table (all shards + isolated tenant parts). */
  def totalRelationSize(spark: SparkSession, name: String): Long =
    (name +: entries.get(name).toSeq.flatMap(_.tenants.values))
      .flatMap(dataFiles(spark, _)).map(_.length()).sum

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
    * over the partition column only. */
  def timePartitions(spark: SparkSession, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val partCol = timePartColumn(name)
    val counts = spark.table(name).groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"))
    val bytes = dataFiles(spark, name).groupMapReduce(
      _.getParentFile.getName.split("=", 2).last)(_.length())(_ + _)
    import spark.implicits._
    counts.collect()
      .map(r => (name, r.get(0).toString, r.getLong(1),
        bytes.getOrElse(r.get(0).toString, 0L)))
      .sortBy(_._2).toSeq
      .toDF("table_name", "partition_value", "n_rows", "size_bytes")
  }

  /** The partition column of time-partitioned table `name`. */
  private def timePartColumn(name: String): String =
    entry(name).spec.distColumn.filter(_.startsWith("__")).getOrElse(
      throw new IllegalArgumentException(s"$name is not time-partitioned"))

  /** `get_missing_time_partition_ranges(table, interval, to, from)`:
    * the month starts in [from, to] that have NO partition yet — the
    * planning input `create_time_partitions` consumes. */
  def getMissingTimePartitionRanges(spark: SparkSession, name: String,
      from: java.sql.Date, to: java.sql.Date): Seq[String] = {
    val existing = timePartitions(spark, name)
      .collect().map(_.getString(1)).toSet
    val cal = java.util.Calendar.getInstance(
      java.util.TimeZone.getTimeZone("UTC"))
    cal.setTime(from)
    cal.set(java.util.Calendar.DAY_OF_MONTH, 1)
    val out = Seq.newBuilder[String]
    while (!cal.getTime.after(to)) {
      val v = f"${cal.get(java.util.Calendar.YEAR)}%04d-" +
        f"${cal.get(java.util.Calendar.MONTH) + 1}%02d-01"
      if (!existing.contains(v)) out += v
      cal.add(java.util.Calendar.MONTH, 1)
    }
    out.result()
  }

  /** `alter_old_partitions_set_access_method(table, older_than,
    * 'columnar')` (`sql/udfs/alter_old_partitions_set_access_method/`
    * — the citus time-series pattern: recent partitions stay row/fast
    * storage, old partitions compress to columnar): rewrite ONLY the
    * partitions older than the cutoff under the given codec (dynamic
    * partition overwrite — untouched partitions keep their files).
    * Cost ∝ the old partitions being compressed, never the table. */
  def compressOldTimePartitions(spark: SparkSession, name: String,
      olderThan: java.sql.Date, codec: String = "zstd"): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val partCol = timePartColumn(name)
    val old = spark.table(name).select(col(partCol)).distinct()
      .filter(col(partCol) < olderThan)
      .collect().map(_.get(0).toString).sorted.toSeq
    if (old.nonEmpty) {
      // path write (not insertInto): the parquet writer honors the codec
      // option, and dynamic overwrite touches only the partitions present
      // in the rows, in the table's catalog location
      spark.table(name).filter(col(partCol) < olderThan)
        .localCheckpoint(eager = true)
        .write.mode("overwrite").partitionBy(partCol)
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", codec)
        .parquet(tableDir(spark, name).getPath)
      spark.catalog.refreshTable(name)
    }
    old
  }

  /** `drop_old_time_partitions(table, older_than)` (`sql/udfs/
    * drop_old_time_partitions/` — retention maintenance for
    * time-partitioned tables): drop every partition strictly older
    * than the cutoff, files included. Partition pruning makes the
    * enumeration free; the drop is a metadata + file operation, no
    * data rewrite — the same reason the citus UDF is cheap. Returns
    * the dropped partition values. */
  def dropOldTimePartitions(spark: SparkSession, name: String,
      olderThan: java.sql.Date): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val partCol = timePartColumn(name)
    val old = spark.table(name).select(col(partCol)).distinct()
      .filter(col(partCol) < olderThan)
      .collect().map(_.get(0).toString).sorted.toSeq
    old.foreach(dropPartition(spark, name, partCol, _))
    spark.catalog.refreshTable(name)
    old
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
    * [[commitVersion]]. The whole table, isolated tenant parts
    * included, is re-bucketed in one shuffle-write stage — the Spark
    * analogue of citus's shard-move data copy — and the tenant parts
    * go once the new version is in. A failed rewrite (a bad column, a
    * colocation the bucket count refuses) leaves the table as it was. */
  def alterDistributedTable(spark: SparkSession, name: String,
      distColumn: Option[String] = None, buckets: Option[Int] = None,
      colocateWith: Option[String] = None): DistributionSpec = {
    val old = entry(name).spec
    require(old.method == Hash, s"$name is not hash-distributed")
    val newBuckets = buckets.getOrElse(old.bucketCount)
    val spec = DistributionSpec(name, Hash, distColumn.orElse(old.distColumn),
      newBuckets, colocationFor(colocateWith, newBuckets))
    commitAbsorbing(spark, name, Some(spec), table(spark, name))
    spec
  }

  /** `undistribute_table(rel)` (`commands/alter_table.c:180`): convert a
    * distributed table back to a plain (non-bucketed) local table and
    * drop it from the distribution catalog, as one [[commitVersion]];
    * isolated tenant parts fold back into the plain table. */
  def undistributeTable(spark: SparkSession, name: String): Unit = {
    require(spec(name).nonEmpty, s"not a distributed table: $name")
    commitAbsorbing(spark, name, None, table(spark, name))
  }

  /** [[commitVersion]] for a rewrite whose `df` replaces the isolated
    * tenant parts too: their tables go once the commit is in. */
  private def commitAbsorbing(spark: SparkSession, name: String,
      layout: Option[DistributionSpec], df: DataFrame,
      options: Map[String, String] = Map.empty): Unit = {
    val parts = entries.get(name).toSeq.flatMap(_.tenants.values)
    commitVersion(spark, name, layout, df, options)
    entries.updateWith(name)(_.map(_.copy(tenants = Map.empty)))
    parts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The `citus_shards` size view (`sql/udfs/citus_shards/` — shard
    * name, size, placement): per-bucket bytes and row counts of a
    * hash-distributed table. Bucket file sizes come from the
    * filesystem (shard ≙ bucket files `*_NNNNN.*`), row counts from
    * one grouped scan. The skew this surfaces is the decision input
    * for [[alterDistributedTable]] (re-bucket) or a salted join —
    * the rebalancer's diagnosis step. */
  def shardSizes(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val bytes = shardBytes(spark, name)
    // bucket id comes from the file name (file-splits ≠ buckets: tiny
    // files pack many-per-partition, so spark_partition_id won't do)
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
    val rows = spark.table(name)
      .groupBy(regexp_extract(input_file_name(), BucketFile.regex, 1)
        .cast("int").as("bucket"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val base = bytes.toSeq.sorted.map { case (b, n) =>
      (name, b, n, rows.getOrElse(b, 0L))
    }
    // isolated tenants show as their own "shards" (shard = -1), the way
    // citus_shards lists an isolated tenant's dedicated shard
    val tenantRows = entry(name).tenants.values
      .toSeq.sorted.map(t => (t, -1, dataFiles(spark, t).map(_.length()).sum,
        spark.table(t).count()))
    (base ++ tenantRows)
      .toDF("table_name", "shard", "size_bytes", "n_rows")
  }

  private val BucketFile = "_(\\d{5})[_.]".r

  /** Bytes per bucket of hash-bucketed table `name` (0 for an empty
    * bucket), from the file listing alone: no Spark job. */
  private[catalog] def shardBytes(spark: SparkSession,
      name: String): Map[Int, Long] = {
    val e = entry(name)
    require(e.spec.bucketed, s"$name is not hash-bucketed")
    val bytes = dataFiles(spark, name)
      .flatMap(f => BucketFile.findFirstMatchIn(f.getName)
        .map(m => m.group(1).toInt -> f.length()))
      .groupMapReduce(_._1)(_._2)(_ + _)
    e.shards.map(b => b -> bytes.getOrElse(b, 0L)).toMap
  }

  /** `isolate_tenant_to_new_shard(table, tenant_id, 'CASCADE')`
    * (`operations/isolate_shards.c:48-57` — split the shard holding a
    * hot tenant so that tenant gets a shard of its own): the hot key's
    * rows move to a new dedicated single-bucket table, then the
    * remainder replaces the table's contents as one [[commitVersion]]
    * under its unchanged spec — bucket count and colocation group
    * included (citus's CASCADE isolation keeps colocation too). If that
    * commit fails, the new tenant table is dropped again and the table
    * is as it was. [[table]] transparently unions the parts, so
    * whole-table analytics are unchanged; [[tenantShard]] routes a
    * single-tenant query straight to the dedicated files — the
    * isolated tenant's scan cost becomes proportional to ITS data, not
    * its former bucket's, which is the entire point of the citus UDF.
    * At 100 TB this is the skew remedy for the multi-tenant case where
    * one tenant is 1000× the median: [[shardSizes]] diagnoses,
    * isolateTenant cures.
    * READ CONTRACT after isolation: whole-table reads must go through
    * [[table]] (a raw `spark.table(name)` sees only the remainder);
    * [[shardSizes]] lists tenant parts as their own shards; the
    * rewrites of the whole table (alter, undistribute, columnar options)
    * re-absorb them. A tenant is isolated once: its rows are no longer
    * in the table to move again. */
  def isolateTenant(spark: SparkSession, name: String,
      tenantValue: Any): DistributionSpec = {
    import org.apache.spark.sql.functions.{col, lit}
    val e = entry(name)
    val s = e.spec
    require(s.bucketed,
      s"$name is not hash-bucketed (tenant isolation needs a bucketed " +
        "layout; time-partitioned and reference tables have none)")
    val distCol = s.distColumn.get
    require(!e.tenants.contains(tenantValue.toString),
      s"tenant $tenantValue of $name is isolated")
    val tenantTable =
      s"${name}__tenant_${tenantValue.toString.replaceAll("\\W", "_")}"
    val data = spark.table(name)
    val tenantPath = warehousePath(spark, tenantTable)
    writeTable(data.filter(col(distCol) === lit(tenantValue)), tenantTable,
      Some(DistributionSpec(tenantTable, Hash, Some(distCol), 1, 0)),
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
        .storage.properties, Some(tenantPath))
    try commitVersion(spark, name, Some(s), data.filter(
      col(distCol) =!= lit(tenantValue) || col(distCol).isNull))
    catch { case e: Throwable =>
      spark.sql(s"DROP TABLE IF EXISTS $tenantTable")
      deleteTree(new java.io.File(tenantPath))
      throw e
    }
    entries.updateWith(name)(_.map(e =>
      e.copy(tenants = e.tenants + (tenantValue.toString -> tenantTable))))
    s
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

  /** Route a single-tenant read: the dedicated table if the tenant is
    * isolated (scan = just its files), else the base table with a
    * distribution-column point filter — the router path the reference
    * plans for non-isolated tenants (`fast_path_router_planner.c`). On
    * a session with [[graft.plans.GraftExtensions]] that filter routes
    * the scan to the key's one bucket file, read by one task
    * ([[graft.plans.RouteToShard]]); without them Spark's bucket pruning
    * still reads one bucket, but schedules a task per bucket. */
  def tenantShard(spark: SparkSession, name: String,
      tenantValue: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    tenantReads.updateWith((name, tenantValue.toString)) {
      case Some(n) => Some(n + 1); case None => Some(1L)
    }
    val e = entry(name)
    e.tenants.get(tenantValue.toString) match {
      case Some(t) => spark.table(t)
      case None =>
        val s = e.spec
        require(s.method == Hash && s.distColumn.nonEmpty,
          s"$name has no distribution column to route on")
        spark.table(name).filter(col(s.distColumn.get) === lit(tenantValue))
    }
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
    if (!spark.catalog.tableExists(name)) {
      writeTable(definition(spark), name, layout, Zstd,
        Some(warehousePath(spark, name)))
      layout.fold(entries.remove(name))(s => entries.put(name, Entry(s)))
    } else commitAbsorbing(spark, name, layout, definition(spark))
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
    * Shard assignment is a branch-free sum of comparisons — codegen'd,
    * no UDF, one write-stage shuffle. */
  def createRangeDistributedTable(spark: SparkSession, df: DataFrame,
      name: String, distColumn: String,
      splitPoints: Seq[Any]): DistributionSpec = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(splitPoints.nonEmpty, "need at least one split point")
    val shardExpr = splitPoints
      .map(p => when(col(distColumn) >= lit(p), 1).otherwise(0))
      .reduce(_ + _)
    recordIntervals(spark, create(spark, df.withColumn("__shard",
        coalesce(shardExpr, lit(0))),
      DistributionSpec(name, RangeDist, Some(distColumn),
        splitPoints.size + 1, 0)))
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

  /** Append one more batch as a new shard (shard id = previous max + 1). */
  def appendShard(spark: SparkSession, name: String,
      batch: DataFrame): DistributionSpec = {
    import org.apache.spark.sql.functions.lit
    val e = entry(name)
    require(e.spec.method == AppendDist, s"$name is not append-distributed")
    val next = e.shards.max + 1
    writeTable(batch.withColumn("__shard", lit(next)), name, Some(e.spec),
      Map.empty, path = None)
    spark.catalog.refreshTable(name)
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
    * the target shard's rows are rewritten — the sub-shards land as
    * new partition directories and the old directory is dropped, the
    * other shards' files are untouched. That locality is the point of
    * the citus UDF (split a hot/oversized shard without touching the
    * rest of the table) and it holds here at any scale: cost is
    * proportional to the SPLIT shard, not the table. */
  def splitShard(spark: SparkSession, name: String, shard: Int,
      points: Seq[Any]): DistributionSpec = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val e = rangeEntry(name)
    require(points.nonEmpty, "need at least one split point")
    require(e.shards.contains(shard), s"no such shard: $shard")
    val distCol = e.spec.distColumn.get
    val base = e.shards.max + 1
    val subExpr = points
      .map(p => when(col(distCol) >= lit(p), 1).otherwise(0))
      .reduce(_ + _) + base
    // rewrite ONLY the split shard's rows under their new shard ids
    // (materialized first: the write appends to the table being read)
    writeTable(spark.table(name).filter(col("__shard") === shard)
        .drop("__shard").localCheckpoint(eager = true)
        .withColumn("__shard", subExpr), name, Some(e.spec), Map.empty,
      path = None)
    // retire the old shard: drop its partition (files included)
    dropPartition(spark, name, "__shard", shard.toString)
    spark.catalog.refreshTable(name)
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
    * entry. Isolated tenant parts fold back in. Chunk skipping ≙
    * row-group/page min-max statistics, which Parquet writes
    * unconditionally. */
  def setColumnarOptions(spark: SparkSession, name: String,
      compression: Option[String] = None,
      stripeBytes: Option[Long] = None,
      chunkRows: Option[Int] = None): Unit = {
    val s = entry(name).spec
    // range/append shards live in the __shard column, which table()
    // strips as non-user schema: read the raw catalog table to keep it
    val sharded = s.method == RangeDist || s.method == AppendDist
    commitAbsorbing(spark, name, Some(s),
      if (sharded) spark.table(name) else table(spark, name),
      compression.map("compression" -> _).toMap ++
        stripeBytes.map("parquet.block.size" -> _.toString) ++
        chunkRows.map("parquet.page.row.count.limit" -> _.toString))
  }

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
