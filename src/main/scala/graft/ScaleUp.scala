package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 synthesis for the SCALING.md sweep: self-union sf0.1 ten times
  * with disjoint key offsets, preserving every non-key distribution
  * (dates, prices, flags), so selectivities and join fan-outs match
  * the smaller scale factors and the sweep measures DATA VOLUME, not
  * a changed workload. Usage:
  *
  *   runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 [factor]
  *
  * Key spaces are offset per replica i by i×OFF per key family
  * (order/part/supp/cust), keeping lineitem↔orders↔part↔supplier↔
  * customer referential integrity inside each replica. Dimension
  * tables (nation, region) and the non-TPCH tables copy through
  * unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.session(appName = "graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")

    def tbl(n: String): DataFrame =
      spark.read.parquet(s"$in/$n.parquet")

    // Disjoint, round offsets comfortably above each key's max.
    def offsetFor(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.get(0) match {
        case n: java.lang.Number => n.longValue
        case other => sys.error(s"non-numeric key $key: $other")
      }
      var off = 1L
      while (off <= mx) off *= 10
      off
    }
    val ordOff = offsetFor(tbl("orders"), "o_orderkey")
    val custOff = offsetFor(tbl("customer"), "c_custkey")
    val suppOff = offsetFor(tbl("supplier"), "s_suppkey")
    val partOff = offsetFor(tbl("part"), "p_partkey")

    /** Union `factor` replicas with the listed key columns offset by
      * replica index × their family offset. */
    def scaled(df: DataFrame, offs: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        offs.foldLeft(df) { case (d, (c, off)) =>
          // cast back so the scaled tables keep the source schema
          val t = df.schema(c).dataType
          d.withColumn(c, (col(c) + lit(i * off)).cast(t))
        }
      }.reduce(_ unionAll _)

    def write(df: DataFrame, n: String): Unit = {
      // single file per table, matching the testdata layout the bench
      // auto-sizes from (file bytes -> shuffle partitions) — but with
      // 16 MB row groups so the file stays SPLITTABLE: one default
      // 128 MB row group would force every scan of the 113 MB sf1
      // lineitem into a single task regardless of maxPartitionBytes
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (16L << 20).toString)
        .parquet(s"$out/__tmp_$n")
      // driver-style flat file name: move part file to <n>.parquet
      val dir = new java.io.File(s"$out/__tmp_$n")
      val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$out/$n.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir.listFiles().foreach(_.delete()); dir.delete()
    }

    write(scaled(tbl("lineitem"), Map(
      "l_orderkey" -> ordOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff)), "lineitem")
    write(scaled(tbl("orders"), Map(
      "o_orderkey" -> ordOff, "o_custkey" -> custOff)), "orders")
    write(scaled(tbl("customer"), Map("c_custkey" -> custOff)), "customer")
    write(scaled(tbl("supplier"), Map("s_suppkey" -> suppOff)), "supplier")
    write(scaled(tbl("part"), Map("p_partkey" -> partOff)), "part")
    // extension tables scale on their own keys (texts/embeddings/event
    // payloads repeat — near-dup pipelines see 10× corpus with the
    // same similarity structure per replica)
    write(scaled(tbl("documents"),
      Map("doc_id" -> offsetFor(tbl("documents"), "doc_id"))), "documents")
    write(scaled(tbl("embeddings"),
      Map("vec_id" -> offsetFor(tbl("embeddings"), "vec_id"))),
      "embeddings")
    write(scaled(tbl("events"), Map(
      "event_id" -> offsetFor(tbl("events"), "event_id"),
      "user_id" -> offsetFor(tbl("events"), "user_id"))), "events")
    Seq("nation", "region").foreach(n => write(tbl(n), n))
    println(s"scaleup done: $out at ${factor}x of $in")
    spark.stop()
  }
}
