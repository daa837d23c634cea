package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant specs for the randomized dedup/similarity operators —
  * recall against exact ground truth, which the SQL oracle can't
  * express. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Exact shingle-jaccard ground truth for doc pairs. */
  private def trueJaccard(limit: Int) = {
    val docs = Tables(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < limit)
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast(DoubleType) /
          size(array_union(col("a_sh"), col("b_sh")))).as("j"))
  }

  test("minhash LSH recalls every pair with shingle-jaccard >= 0.8") {
    val truth = trueJaccard(120).filter(col("j") >= 0.8)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(
      Tables(spark, TestSpark.sf, "documents").filter(col("doc_id") < 120),
      "doc_id", "text")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cands
    assert(missed.isEmpty,
      s"LSH missed ${missed.size} of ${truth.size} true near-dup pairs")
  }

  test("minhash candidate set is far smaller than the full pair space") {
    val n = 120L
    val cands = Dedup.minhashCandidates(
      Tables(spark, TestSpark.sf, "documents").filter(col("doc_id") < 120),
      "doc_id", "text").count()
    assert(cands < n * (n - 1) / 2 / 4,
      "LSH banding should prune most of the O(n^2) pair space")
  }

  test("docs too short to shingle never become minhash candidates " +
      "(no all-NULL-signature clique)") {
    import spark.implicits._
    // Two 1-token docs have ZERO 2-shingles each. Their signatures
    // would be all-NULL, and concat_ws skips NULLs — without the
    // empty-shingle filter they'd share every band hash and pair up.
    val df = Seq(
      (1L, "x"), (2L, "y"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "doc_id", "text",
      shingleSize = 2, k = 32, bands = 16)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.contains((1L, 2L)),
      "degenerate short docs must not pair with each other")
    assert(cands.forall { case (a, b) => a >= 3L && b >= 3L },
      s"short docs leaked into the candidate set: $cands")
    assert(cands.contains((3L, 4L)),
      "real near-dup pair must still surface")
  }

  test("simhash of identical token streams is identical; hamming 0") {
    import spark.implicits._
    val df = Seq("a b c d e f", "a b c d e f", "totally different words here")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sigs = df.select(col("id"),
      Dedup.simhash64(split(col("text"), " ")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    assert(Integer.bitCount((sigs(0L) ^ sigs(2L)).toInt) +
      Integer.bitCount(((sigs(0L) ^ sigs(2L)) >>> 32).toInt) > 0)
  }

  test("brute-force cosine top-k: neighbors sorted, self excluded, k rows") {
    val top = Similarity.bruteForceTopK(
      Tables(spark, TestSpark.sf, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10).collect()
    assert(top.length === 10)
    assert(!top.map(_.getLong(0)).contains(0L))
    val scores = top.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("sign-LSH buckets partition the corpus (bucket counts sum to n)") {
    val e = Tables(spark, TestSpark.sf, "embeddings")
    val total = e.count()
    val sum = e.select(Similarity.signLshBucket(col("embedding"), 12)
        .as("b"))
      .groupBy("b").count().agg(org.apache.spark.sql.functions.sum("count"))
      .collect()(0).getLong(0)
    assert(sum === total)
  }

  test("connected components: long chain needs multiple propagation " +
      "rounds and still converges to one cluster") {
    import spark.implicits._
    // 0-1-2-...-19 chain (diameter 19) plus a disjoint triangle and a
    // singleton edge-pair: exercises the iterative fixpoint, not just
    // the 1-round star case the dedup corpus produces.
    val chain = (0L until 19L).map(i => (i, i + 1))
    val triangle = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairEdge = Seq((200L, 201L))
    val edges = (chain ++ triangle ++ pairEdge).toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 19L).foreach(i => assert(got(i) === 0L, s"chain node $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(got(i) === 100L))
    Seq(200L, 201L).foreach(i => assert(got(i) === 200L))
    assert(got.size === 25)
  }

  test("connected components: a 60-hop chain converges to one cluster") {
    import spark.implicits._
    // 60 hops: O(log n) star rounds, well inside the default maxIter
    val edges = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 60L).foreach(i => assert(got(i) === 0L, s"chain node $i"))
    assert(got.size === 61)
  }

  test("connected components vs union-find ground truth, 6 random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 6).foreach { k =>
      val n = 20 + rnd.nextInt(60)
      val edges = (1 to n * 2).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
      // driver-side union-find ground truth (min label per component)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      val minLabel = truth.groupBy(_._2).flatMap { case (_, m) =>
        val lbl = m.keys.min; m.keys.map(_ -> lbl)
      }
      val got = Dedup.connectedComponents(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      minLabel.foreach { case (id, lbl) =>
        assert(got(id) === lbl,
          s"instance $k node $id: got ${got(id)}, want $lbl")
      }
      assert(got.size === minLabel.size, s"instance $k size")
    }
  }

  test("simhash banding recalls 100% of signature pairs at the hamming " +
      "bound (pigeonhole: maxHamming+1 bands)") {
    import spark.implicits._
    // base signatures spread over the 64-bit space, plus for each a
    // perturbed twin at every distance 1..maxHamming (bit positions
    // chosen adversarially: consecutive runs, band-straddling, spread)
    val maxHamming = 6
    val rnd = new scala.util.Random(42)
    val bases = (0 until 40).map(i => (i, rnd.nextLong()))
    val rows = collection.mutable.Buffer[(Long, Long)]()
    var nextId = 1000L
    val expected = collection.mutable.Buffer[(Long, Long, Int)]()
    bases.foreach { case (i, sig) =>
      val baseId = i.toLong
      rows += ((baseId, sig))
      (1 to maxHamming).foreach { d =>
        // three adversarial flip patterns per distance
        val patterns = Seq(
          (0 until d).map(k => (i + k) % 64),            // consecutive
          (0 until d).map(k => (k * 63 / math.max(d - 1, 1)) % 64), // spread
          (0 until d).map(k => (8 + i + k * 9) % 64))    // straddling
        patterns.foreach { bits =>
          val flipped = bits.distinct.foldLeft(sig)((s, b) => s ^ (1L << b))
          if (java.lang.Long.bitCount(sig ^ flipped) == d) {
            rows += ((nextId, flipped))
            expected += ((math.min(baseId, nextId),
              math.max(baseId, nextId), d))
            nextId += 1
          }
        }
      }
    }
    val sigs = rows.toSeq.toDF("doc", "sig")
    val got = Dedup.simhashCandidatesFromSigs(sigs, maxHamming)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val missing = expected.filterNot(e => got.contains((e._1, e._2)))
    assert(missing.isEmpty,
      s"${missing.size}/${expected.size} pairs at hamming<=6 missed: " +
        missing.take(5).mkString(", "))
    // and the hamming filter keeps the bound tight: no candidate pair
    // beyond maxHamming survives
    val sigMap = rows.toMap
    got.foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(sigMap(a) ^ sigMap(b)) <= maxHamming)
    }
  }

  test("exact-substring stats: shared 8-token windows counted once per " +
      "doc, unique docs absent, repeats within one doc not double-counted") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // one 8-token window
    val docs = Seq(
      (1L, s"alpha $run omega"),          // shares `run` with 2 and 3
      (2L, s"$run $run"),                 // contains it twice — counts once
      (3L, s"start middle $run"),
      (4L, "an entirely different sentence with eight unique tokens here"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringStats(docs, "doc_id", "text", 8)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // doc2's "run run" also creates windows straddling the repeat, shared
    // only between its two copies — same doc, so they never count.
    assert(out.map(_._1) === Seq(1L, 2L, 3L))
    val m = out.toMap
    assert(m(1L) === 1L && m(3L) === 1L,
      "docs 1 and 3 share exactly the one 8-token window")
    assert(m(2L) === 1L, "doc 2 must count its duplicated window once")
  }
}
