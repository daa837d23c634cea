package graft

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Results do not depend on session config: each oracle query returns
  * the same rows at sf0.001 with the suites' default (AQE on), on the
  * static path Bench runs (AQE off, 4 shuffle partitions, where an
  * ORDER BY above a small aggregate finishes in one task), and with AQE
  * off and 1 shuffle partition; and over the working set
  * `Tables.pinForBench` pins, run twice, so the second run reads the
  * broadcasts of pinned data the first one built. Rows compare as a
  * multiset, as the oracle check compares them. */
class ConfigInvarianceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val configs: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map.empty,
    "AQE off, 4 partitions" -> Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4"),
    "AQE off, 1 partition" -> Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1"))

  /** A row's values as text; binary as hex, so equal bytes read equal. */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => render(k) + "->" + render(x) }.sorted
      .mkString("{", ",", "}")
    case o => o.toString
  }

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, TestSpark.sf).collect()
      .map(render).sorted.toSeq

  /** Each query's rows under the default configuration. */
  private val defaults = scala.collection.mutable.Map.empty[String, Seq[String]]

  private val names = SparkEntry.oracleSql.keys.toSeq.sorted

  names.foreach { name =>
    test(s"$name: the same rows under ${configs.map(_._1).mkString("; ")}") {
      val results = configs.map { case (label, conf) =>
        label -> TestSpark.withConf(conf)(rows(name))
      }
      val (_, want) = results.head
      defaults(name) = want
      results.tail.foreach { case (label, got) =>
        assert(got === want, s"$name: $label differs from the default")
      }
    }
  }

  /** The session confs pinning sets, as they were before it. */
  private var unpinnedConf: Option[Map[String, Option[String]]] = None

  /** Pins the working set once, for every pinned test that follows. */
  private def pin(): Unit = if (unpinnedConf.isEmpty) {
    val keys = Tables.benchConf(Tables.benchBytes(TestSpark.sf),
      spark.sparkContext.defaultParallelism).keys
    unpinnedConf = Some(keys.map(k => k -> spark.conf.getOption(k)).toMap)
    Tables.pinForBench(spark, TestSpark.sf)
  }

  override def afterAll(): Unit =
    try unpinnedConf.foreach { saved =>
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      Tables.unpin()
    } finally super.afterAll()

  names.foreach { name =>
    test(s"$name: pinned, run twice, the same rows as the default") {
      val want = defaults.getOrElseUpdate(name, rows(name))
      pin()
      assert(rows(name) === want, s"$name: the first pinned run differs")
      assert(rows(name) === want, s"$name: the second pinned run differs")
    }
  }
}
