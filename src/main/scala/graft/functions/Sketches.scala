package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import scala.collection.mutable

/** Custom distributed aggregates mirroring the reference's sketch
  * extensions — `topn_add_agg`/`topn_union_agg` and
  * `tdigest`/`tdigest_percentile` (citus
  * `src/include/distributed/multi_logical_optimizer.h:44-51,88-97`,
  * `planner/tdigest_extension.c`) — as Spark `Aggregator`s: the
  * reduce/merge/finish contract IS the reference's worker-partial /
  * coordinator-combine split (`worker_partial_agg`/`coord_combine_agg`,
  * `multi_logical_optimizer.c:3375-3446`), executed by Spark as partial
  * aggregation before the shuffle and final merge after it.
  */
object Sketches {

  case class TopItem(item: String, cnt: Long)

  /** Space-saving heavy hitters: the one counter map of every topn
    * aggregate. With `capacity` ≥ true distinct count the counts are
    * EXACT (the oracle-checked configuration); under pressure they
    * degrade to the classic ±(n/capacity) guarantee. An item adds 1 —
    * when the map is full, by evicting the min counter, whose count the
    * item inherits; null items are skipped. A merge sums and keeps the
    * `capacity` largest counters. */
  abstract class SpaceSaving[IN, OUT](capacity: Int)
      extends Aggregator[IN, mutable.Map[String, Long], OUT] {
    override def zero: mutable.Map[String, Long] = mutable.Map.empty

    protected def add(buf: mutable.Map[String, Long], item: String):
        mutable.Map[String, Long] = {
      if (item == null) return buf
      if (buf.contains(item) || buf.size < capacity)
        buf.update(item, buf.getOrElse(item, 0L) + 1L)
      else {
        val (minK, minV) = buf.minBy { case (kk, vv) => (vv, kk) }
        buf.remove(minK)
        buf.update(item, minV + 1L)
      }
      buf
    }

    protected def sum(a: mutable.Map[String, Long],
        b: collection.Map[String, Long]): mutable.Map[String, Long] = {
      b.foreach { case (kk, vv) => a.update(kk, a.getOrElse(kk, 0L) + vv) }
      if (a.size > capacity)
        mutable.Map(a.toSeq.sortBy { case (kk, vv) => (-vv, kk) }
          .take(capacity): _*)
      else a
    }

    override def merge(a: mutable.Map[String, Long],
        b: mutable.Map[String, Long]): mutable.Map[String, Long] = sum(a, b)
    override def bufferEncoder: Encoder[mutable.Map[String, Long]] =
      Encoders.kryo[mutable.Map[String, Long]]
  }

  /** The top `k` items of a [[SpaceSaving]] counter. */
  class TopNAgg(k: Int, capacity: Int)
      extends SpaceSaving[String, Seq[TopItem]](capacity) {
    override def reduce(buf: mutable.Map[String, Long], item: String):
        mutable.Map[String, Long] = add(buf, item)
    override def finish(buf: mutable.Map[String, Long]): Seq[TopItem] =
      buf.toSeq.sortBy { case (kk, vv) => (-vv, kk) }
        .take(k).map { case (kk, vv) => TopItem(kk, vv) }
    override def outputEncoder: Encoder[Seq[TopItem]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopItem]]()
  }

  /** Centroid of a merging t-digest. */
  case class Centroid(mean: Double, weight: Long)
  case class TDigestBuf(centroids: Seq[Centroid], compression: Int)

  /** Merge adjacent centroids under the classic 4δq(1−q) cluster-size
    * cap (shared by every digest aggregate below). */
  def digestCompress(cs: Seq[Centroid], compression: Int): Seq[Centroid] = {
    if (cs.isEmpty) return cs
    val sorted = cs.sortBy(c => (c.mean, c.weight))
    val total = sorted.map(_.weight).sum.toDouble
    val out = mutable.ArrayBuffer[Centroid]()
    var cur = sorted.head
    var seen = 0.0
    sorted.tail.foreach { c =>
      val q = (seen + cur.weight / 2.0) / total
      val cap = math.max(1.0, 4.0 * total * q * (1 - q) / compression)
      if (cur.weight + c.weight <= cap) {
        val w = cur.weight + c.weight
        cur = Centroid((cur.mean * cur.weight + c.mean * c.weight) / w, w)
      } else {
        seen += cur.weight
        out += cur
        cur = c
      }
    }
    out += cur
    out.toVector
  }

  /** Quantile estimate from a centroid set (linear interpolation
    * between adjacent centroid midpoints — the tdigest extension's
    * estimator shape). */
  def digestQuantile(cs: Seq[Centroid], q: Double): Double = {
    if (cs.isEmpty) return Double.NaN
    val sorted = cs.sortBy(_.mean)
    val total = sorted.map(_.weight).sum.toDouble
    val target = q * total
    var cum = 0.0
    for (i <- sorted.indices) {
      val c = sorted(i)
      val mid = cum + c.weight / 2.0
      if (target <= mid) {
        if (i == 0) return c.mean
        val prev = sorted(i - 1)
        val prevMid = cum - prev.weight / 2.0
        val frac = (target - prevMid) / (mid - prevMid)
        return prev.mean + frac * (c.mean - prev.mean)
      }
      cum += c.weight
    }
    sorted.last.mean
  }

  /** Inverse: the CDF estimate at `v` (tdigest_percentile_of). */
  def digestCdf(cs: Seq[Centroid], v: Double): Double = {
    if (cs.isEmpty) return Double.NaN
    val sorted = cs.sortBy(_.mean)
    val total = sorted.map(_.weight).sum.toDouble
    if (v < sorted.head.mean) return 0.0
    if (v >= sorted.last.mean) return 1.0
    var cum = 0.0
    for (i <- sorted.indices) {
      val c = sorted(i)
      val mid = cum + c.weight / 2.0
      if (v < c.mean) {
        val prev = sorted(i - 1)
        val prevMid = cum - prev.weight / 2.0
        val frac = (v - prev.mean) / (c.mean - prev.mean)
        return (prevMid + frac * (mid - prevMid)) / total
      }
      cum += c.weight
    }
    1.0
  }

  private val DefaultCompression = 100

  /** `tdigest(value, compression)` — the digest-building aggregate,
    * digest carried as a sorted centroid array (the SQL-visible twin
    * of [[TDigestAgg]]; reference `planner/tdigest_extension.c`). */
  case class TDigestIn(x: Double, c: Int)
  class TDigestBuildAgg
      extends Aggregator[TDigestIn, TDigestBuf, Seq[Centroid]] {
    override def zero: TDigestBuf = TDigestBuf(Vector.empty, 0)
    override def reduce(b: TDigestBuf, in: TDigestIn): TDigestBuf = {
      val comp = if (b.compression > 0) b.compression
        else math.max(1, in.c)
      val cs = b.centroids :+ Centroid(in.x, 1L)
      if (cs.size > 8 * comp)
        TDigestBuf(digestCompress(cs, comp), comp)
      else TDigestBuf(cs, comp)
    }
    override def merge(a: TDigestBuf, b: TDigestBuf): TDigestBuf = {
      val comp = math.max(math.max(a.compression, b.compression), 1)
      TDigestBuf(digestCompress(a.centroids ++ b.centroids, comp), comp)
    }
    override def finish(b: TDigestBuf): Seq[Centroid] =
      digestCompress(b.centroids,
        if (b.compression > 0) b.compression else DefaultCompression)
        .sortBy(_.mean)
    override def bufferEncoder: Encoder[TDigestBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TDigestBuf]()
    override def outputEncoder: Encoder[Seq[Centroid]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Centroid]]()
  }

  /** `tdigest(digest)` — re-aggregation of stored digests (the
    * rollup-table pattern: per-group digests merged later). */
  class TDigestMergeAgg
      extends Aggregator[Seq[Centroid], TDigestBuf, Seq[Centroid]] {
    override def zero: TDigestBuf = TDigestBuf(Vector.empty, DefaultCompression)
    override def reduce(b: TDigestBuf, d: Seq[Centroid]): TDigestBuf =
      TDigestBuf(digestCompress(b.centroids ++ d, b.compression),
        b.compression)
    override def merge(a: TDigestBuf, b: TDigestBuf): TDigestBuf =
      TDigestBuf(digestCompress(a.centroids ++ b.centroids, a.compression),
        a.compression)
    override def finish(b: TDigestBuf): Seq[Centroid] =
      digestCompress(b.centroids, b.compression).sortBy(_.mean)
    override def bufferEncoder: Encoder[TDigestBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TDigestBuf]()
    override def outputEncoder: Encoder[Seq[Centroid]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Centroid]]()
  }

  /** topn entry as the reference's `topn()` SRF exposes it. */
  case class TopEntry(item: String, frequency: Long)

  /** `topn_add_agg(text)` — counter-map building aggregate
    * ([[SpaceSaving]]; the topn extension's `topn.number_of_counters`
    * default is 1000). */
  class TopNAddAgg(capacity: Int = 1000)
      extends SpaceSaving[String, Map[String, Long]](capacity) {
    override def reduce(buf: mutable.Map[String, Long], item: String):
        mutable.Map[String, Long] = add(buf, item)
    override def finish(buf: mutable.Map[String, Long]): Map[String, Long] =
      buf.toMap
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
  }

  /** `topn_union_agg(topn)` — merge stored counter maps. */
  class TopNUnionAgg(capacity: Int = 1000)
      extends SpaceSaving[Map[String, Long], Map[String, Long]](capacity) {
    override def reduce(buf: mutable.Map[String, Long],
        m: Map[String, Long]): mutable.Map[String, Long] =
      if (m == null) buf else sum(buf, m)
    override def finish(buf: mutable.Map[String, Long]): Map[String, Long] =
      buf.toMap
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
  }

  /** Merging t-digest (Dunning) — scale-function k₁ bound approximated
    * by the classic 4δq(1−q) cluster-size cap. Semantic (not binary)
    * parity with the reference's tdigest extension. */
  class TDigestAgg(compression: Int, quantiles: Seq[Double])
      extends Aggregator[Double, TDigestBuf, Seq[Double]] {

    override def zero: TDigestBuf = TDigestBuf(Vector.empty, compression)

    override def reduce(b: TDigestBuf, x: Double): TDigestBuf = {
      val cs = b.centroids :+ Centroid(x, 1L)
      if (cs.size > 8 * compression)
        TDigestBuf(digestCompress(cs, compression), b.compression)
      else TDigestBuf(cs, b.compression)
    }

    override def merge(a: TDigestBuf, b: TDigestBuf): TDigestBuf =
      TDigestBuf(digestCompress(a.centroids ++ b.centroids, compression),
        compression)

    override def finish(b: TDigestBuf): Seq[Double] = {
      val cs = digestCompress(b.centroids, compression)
      quantiles.map(digestQuantile(cs, _))
    }

    override def bufferEncoder: Encoder[TDigestBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TDigestBuf]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Generic custom-combine demo (AGGREGATE_CUSTOM_COMBINE analogue —
    * any aggregate with a combine function distributes): exact weighted
    * mean over (weight, value-in-cents) longs. */
  case class WSum(sumWX: Long, sumW: Long)
  class WeightedAvgAgg extends Aggregator[(Long, Long), WSum, Double] {
    override def zero: WSum = WSum(0L, 0L)
    override def reduce(b: WSum, in: (Long, Long)): WSum =
      WSum(b.sumWX + in._1 * in._2, b.sumW + in._1)
    override def merge(a: WSum, b: WSum): WSum =
      WSum(a.sumWX + b.sumWX, a.sumW + b.sumW)
    /** exact long sums → one double division (deterministic, and the
      * oracle can reproduce it exactly). Cents → units. */
    override def finish(r: WSum): Double =
      if (r.sumW == 0) Double.NaN
      else (r.sumWX.toDouble / r.sumW) / 100.0
    override def bufferEncoder: Encoder[WSum] = Encoders.product[WSum]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
