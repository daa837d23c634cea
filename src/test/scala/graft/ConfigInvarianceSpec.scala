package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Results do not depend on session config: each oracle query returns
  * the same rows at sf0.001 with the suites' default (AQE on), on the
  * static path Bench runs (AQE off, 4 shuffle partitions, where an
  * ORDER BY above a small aggregate finishes in one task), and with AQE
  * off and 1 shuffle partition. Rows compare as a multiset, as the
  * oracle check compares them. */
class ConfigInvarianceSpec extends AnyFunSuite {
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

  SparkEntry.oracleSql.keys.toSeq.sorted.foreach { name =>
    test(s"$name: the same rows under ${configs.map(_._1).mkString("; ")}") {
      val results = configs.map { case (label, conf) =>
        label -> TestSpark.withConf(conf) {
          SparkEntry.queries(name)(spark, TestSpark.sf).collect()
            .map(render).sorted.toSeq
        }
      }
      val (_, want) = results.head
      results.tail.foreach { case (label, got) =>
        assert(got === want, s"$name: $label differs from the default")
      }
    }
  }
}
