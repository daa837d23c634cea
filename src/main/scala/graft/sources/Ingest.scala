package graft.sources

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bulk ingest + INSERT INTO ... SELECT — the analytics-relevant subset
  * of the reference's data-movement surface:
  *
  *   - COPY (citus `commands/multi_copy.c`: coordinator hashes each row's
  *     distribution column and streams it to the owning shard) becomes
  *     one shuffle that groups the rows by bucket, then a bucketed write
  *     of one file per bucket from parallel tasks — the entire 3k-LoC
  *     async-libpq machinery is the shuffle service;
  *   - INSERT..SELECT (citus `planner/insert_select_planner.c:219`:
  *     pushdown when colocated, else repartition through intermediate
  *     results) becomes `insertInto` after the same grouping by the
  *     target's buckets — the "repartition" path for any source.
  *
  * At 100 TB: ingest parallelism = input splits; the only shuffle is the
  * hash to bucket files, which is also what makes every later colocated
  * join shuffle-free. That trade (one shuffle at write time, zero at
  * read time) is the reference's whole data-model bet, kept here.
  */
object Ingest {

  /** COPY-style bulk load of a file source into a new distributed table. */
  def bulkLoad(spark: SparkSession, path: String, format: String,
      table: String, distColumn: String,
      buckets: Int = DistributionCatalog.DefaultBuckets,
      colocateWith: Option[String] = None,
      options: Map[String, String] = Map.empty)
      : DistributionCatalog.DistributionSpec = {
    val df = spark.read.format(format).options(options).load(path)
    DistributionCatalog.createDistributedTable(
      spark, df, table, distColumn, buckets, colocateWith)
  }

  /** `COPY (query) TO 'path' WITH (FORMAT ...)` — the export direction
    * of the reference's COPY (`multi_copy.c` serves both): one
    * distributed write stage, every partition writes its slice, no
    * driver funnel. */
  def copyTo(df: DataFrame, path: String, format: String = "csv",
      options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    format match {
      case "csv" => w.option("header", "true").csv(path)
      case "parquet" => w.parquet(path)
      case "json" => w.json(path)
      case other =>
        throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** INSERT INTO target SELECT — append `rows`, in the table's column
    * order as a PG INSERT matches them, into an existing distributed
    * table, preserving its bucket layout: the rows are
    * grouped by bucket first, so the append adds at most one file per
    * bucket, and an isolated tenant's rows land in its partition. */
  def insertSelect(spark: SparkSession, rows: DataFrame,
      target: String): Unit = {
    val spec = DistributionCatalog.spec(spark, target).getOrElse(
      throw new IllegalArgumentException(s"not a catalog table: $target"))
    require(spec.method == DistributionCatalog.Hash,
      s"$target is a reference table; use createReferenceTable to replace it")
    DistributionCatalog.byBucket(DistributionCatalog.withTenant(rows, target),
        spec)
      .write.mode(SaveMode.Append).insertInto(target)
  }
}
