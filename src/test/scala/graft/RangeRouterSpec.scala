package graft

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Range pruning as a property (citus `PruneShards`): over range tables
  * with random split points on long, date and string distribution
  * columns, a SQL predicate on the column returns the rows it returns on
  * the unpartitioned source, and a conjunction of `=`, `<`, `<=`, `>`,
  * `>=`, `BETWEEN` or `NOT` reads exactly the shards whose interval
  * overlaps it. Disjunctions and null tests only have to stay correct. */
class RangeRouterSpec extends AnyFunSuite {
  import RangeRouterSpec._

  private lazy val spark = TestSpark.spark

  private val types = Seq(
    KeyType("long", LongType, Gen.choose(-50L, 150L), _.toString),
    KeyType("date", DateType, Gen.choose(0, 200).map(d => java.sql.Date
      .valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(d))),
      v => s"DATE '$v'"),
    KeyType("string", StringType,
      Gen.listOfN(2, Gen.oneOf('a' to 'e')).map(_.mkString), v => s"'$v'"))

  private def preds(t: KeyType): Gen[Pred] = for {
    a <- t.values
    b <- t.values
    kind <- Gen.choose(0, 10)
  } yield {
    val (lo, hi) = if (cmp(a, b) <= 0) (a, b) else (b, a)
    val (la, ll, lh) = (t.literal(a), t.literal(lo), t.literal(hi))
    def keeps(from: Bound, to: Bound) = Some((from, to))
    kind match {
      case 0 => Pred(s"k = $la", keeps(Some(a -> true), Some(a -> true)))
      case 1 => Pred(s"k < $la", keeps(None, Some(a -> false)))
      case 2 => Pred(s"k <= $la", keeps(None, Some(a -> true)))
      case 3 => Pred(s"k > $la", keeps(Some(a -> false), None))
      case 4 => Pred(s"k >= $la", keeps(Some(a -> true), None))
      case 5 => Pred(s"k BETWEEN $ll AND $lh",
        keeps(Some(lo -> true), Some(hi -> true)))
      case 6 => Pred(s"$la > k AND i >= 0", keeps(None, Some(a -> false)))
      case 7 => Pred(s"NOT (k < $la)", keeps(Some(a -> true), None))
      case 8 => Pred(s"k < $ll OR k > $lh", None)
      case 9 => Pred("k IS NULL", None)
      case _ => Pred(s"k IS NULL OR k = $la", None)
    }
  }

  /** The table's rows: a key (one in ten null) and the row's index. */
  private def rows(t: KeyType): Gen[Seq[Row]] =
    Gen.listOfN(300, Gen.frequency(1 -> Gen.const(null), 9 -> t.values))
      .map(_.zipWithIndex.map { case (k, i) => Row(k, i) })

  private def splitPoints(t: KeyType): Gen[Seq[Any]] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, t.values))
      .map(_.distinct.sortWith(cmp(_, _) < 0))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The shards a read of `df` lists, by their `__shard` directory. */
  private def shardsRead(df: DataFrame): Set[Int] =
    df.inputFiles.map(f => "/__shard=(\\d+)/".r.findFirstMatchIn(f).get
      .group(1).toInt).toSet

  private def within(x: Any, from: Bound, to: Bound): Boolean =
    from.forall { case (v, in) => cmp(x, v) > 0 || in && cmp(x, v) == 0 } &&
      to.forall { case (v, in) => cmp(x, v) < 0 || in && cmp(x, v) == 0 }

  types.foreach { t =>
    test(s"range pruning on a ${t.name} column: SQL equals the source and " +
        "reads only the overlapping shards") {
      (1 to 3).foreach { round =>
        val seed = 1900L + round * 31 + t.name.hashCode
        val data = sample(rows(t), seed)
        val points = sample(splitPoints(t), seed + 1)
        val name = s"rr_${t.name}_$round"
        val source = spark.createDataFrame(
          spark.sparkContext.parallelize(data, 2),
          StructType(Seq(StructField("k", t.dataType),
            StructField("i", IntegerType, nullable = false))))
        source.createOrReplaceTempView(s"src_$name")
        DistributionCatalog.createRangeDistributedTable(spark, source, name,
          "k", points)
        // each shard's interval, from the rows and split points alone
        val intervals = data.map(_.get(0)).filter(_ != null)
          .groupBy(k => points.count(p => cmp(k, p) >= 0))
          .map { case (s, ks) =>
            s -> (ks.reduce((x, y) => if (cmp(x, y) <= 0) x else y),
              ks.reduce((x, y) => if (cmp(x, y) >= 0) x else y))
          }
        assert(spark.table(name).columns.toSeq === Seq("k", "i"))
        (0 until 12).foreach { n =>
          val p = sample(preds(t), seed * 100 + n)
          val clue = s"$name split at $points: ${p.sql}"
          val df = spark.sql(s"SELECT * FROM $name WHERE ${p.sql}")
          assert(sorted(df) === sorted(spark.sql(
            s"SELECT * FROM src_$name WHERE ${p.sql}")), clue)
          p.interval.foreach { case (from, to) =>
            // [lo, hi] meets a non-empty interval if its top is above
            // the interval's start and its bottom below the end
            val overlapping = intervals.collect { case (s, (lo, hi))
              if within(hi, from, None) && within(lo, None, to) => s
            }.toSet
            assert(shardsRead(df) === overlapping, clue)
          }
        }
      }
    }
  }
}

object RangeRouterSpec {
  /** A distribution-column type: its values and their SQL literal. */
  private final case class KeyType(name: String, dataType: DataType,
      values: Gen[Any], literal: Any => String)

  /** A bound of an interval: its value and whether it is included. */
  private type Bound = Option[(Any, Boolean)]

  /** A predicate on `k`, with the interval of `k` it keeps if it is a
    * conjunction of bounds (None: it need not prune). */
  private final case class Pred(sql: String, interval: Option[(Bound, Bound)])

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)
}
