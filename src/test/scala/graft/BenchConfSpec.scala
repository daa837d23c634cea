package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's data-sized conf rule (Tables.benchConf), the pinned
  * cache's partition rule it shares (Tables.mapParallelism), and
  * Tables.pinForBench, the one place that applies both. */
class BenchConfSpec extends AnyFunSuite {
  private val shuffle = "spark.sql.shuffle.partitions"
  private val aqe = "spark.sql.adaptive.enabled"

  test("sf0.001-sized inputs: one shuffle partition, AQE off") {
    // region, nation, customer, supplier, part, orders, lineitem
    val conf = Tables.benchConf(
      Seq(1885L, 2738L, 6946L, 3450L, 7649L, 36647L, 117248L), cores = 4)
    assert(conf(shuffle) === "1")
    assert(conf(aqe) === "false")
    assert(conf("spark.sql.adaptive.coalescePartitions.enabled") === "false")
    assert(conf("spark.sql.files.maxPartitionBytes") === (16L << 20).toString)
  }

  test("an sf0.1-sized lineitem on 4 cores: map parallelism 4, and the " +
      "shuffle width floors at it") {
    val lineitem = 10818932L
    assert(Tables.mapParallelism(lineitem, 4) === 4)
    assert(Tables.mapParallelism(2723766L, 4) === 2) // orders
    assert(Tables.mapParallelism(22446L, 4) === 1)   // supplier
    assert(Tables.mapParallelism(lineitem, 32) === 8)
    val conf = Tables.benchConf(
      Seq(1885L, 2738L, 315768L, 22446L, 179850L, 2723766L, lineitem), 4)
    assert(conf(shuffle) === "4")
    assert(conf(aqe) === "false")
  }

  test("data-sized width and AQE take over at scale") {
    val conf = Tables.benchConf(Seq(1L << 30), cores = 4) // 1 GB
    assert(conf(shuffle) === "16") // 16 data partitions, clamp 4×cores
    assert(conf(aqe) === "true")
    assert(conf("spark.sql.files.maxPartitionBytes") ===
      (128L << 20).toString)
  }

  test("sizing covers only the pinned tables, and a directory-style " +
      "table by the sum of its part files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benchconf").toFile
    def sized(f: java.io.File, bytes: Long): Unit = {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
    }
    try {
      val li = new java.io.File(dir, "lineitem.parquet")
      li.mkdir()
      sized(new java.io.File(li, "part-00000.parquet"), 3L << 20)
      sized(new java.io.File(li, "part-00001.parquet"), 3L << 20)
      sized(new java.io.File(li, "_SUCCESS"), 0L)
      sized(new java.io.File(dir, "orders.parquet"), 1L << 20)
      // not pinned by the bench: must not size anything
      sized(new java.io.File(dir, "events.parquet"), 200L << 20)
      val bytes = Tables.benchBytes(dir.getPath)
      assert(bytes.sum === (7L << 20))
      assert(bytes.max === (6L << 20), "lineitem is its part files, not 4 KB")
      assert(Tables.benchConf(bytes, 4)(shuffle) === "4")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("pinForBench sizes the session and keeps every bench answer") {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    def answers(): Map[String, Map[org.apache.spark.sql.Row, Int]] =
      SparkEntry.benchQueries.map(n => n ->
        SparkEntry.queries(n)(spark, sf).collect().toSeq
          .groupMapReduce(identity)(_ => 1)(_ + _)).toMap
    val want = Tables.benchConf(Tables.benchBytes(sf), 4)
    val saved = want.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val unpinned = answers()
      assert(Tables.pinForBench(spark, sf) === want)
      assert(want.keys.map(k => k -> spark.conf.get(k)).toMap === want)
      val pinned = answers()
      SparkEntry.benchQueries.foreach { n =>
        assert(pinned(n) === unpinned(n), s"$n: pinned answer differs")
      }
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(
        spark.conf.set(k, _)) }
      Tables.unpin()
    }
  }
}
