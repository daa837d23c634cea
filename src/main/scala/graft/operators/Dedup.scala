package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection operators (MinHash+LSH, SimHash) for
  * training-data pipelines.
  *
  * Scale design (100 TB): both algorithms are one narrow map over the
  * corpus (signature computation, codegen'd higher-order functions — no
  * UDFs) followed by ONE shuffle on the band/bucket key. Candidate pairs
  * are only generated within a bucket (self-join on the bucket key, which
  * Spark executes as a co-partitioned shuffle join), never via a global
  * cross join. Bucket skew is bounded because signatures are uniform
  * hashes; a hot bucket can additionally be salted by doc-count windows.
  */
object Dedup {

  /** Default 64-bit hash: native codegen'd xxhash64 — the fast
    * production path. */
  val xxHash: Column => Column = c => xxhash64(c)

  /** Portable 60-bit hash (md5 hex prefix → bigint): identical result
    * in any engine with md5 (DuckDB, PG, Spark), so pipelines built on
    * it are exactly cross-checkable. 15 hex chars keeps the value
    * < 2^60, safely inside a signed 64-bit long in every engine.
    * ~3-4× slower than xxhash64 per call (md5 + string slice + base
    * conversion) — use for oracle/verification runs, keep [[xxHash]]
    * for production. */
  val portableHash: Column => Column =
    c => conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Word shingles of size n as one array column (distinct). A doc
    * with fewer than n tokens yields an EMPTY array (never a reversed
    * `sequence` artifact or NULL slices). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val idx = sequence(lit(0), size(toks) - n)
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(
        transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** MinHash signature: k permutations simulated as
    * min over shingles of ((a_j * h + b_j) mod p), h = hashFn(shingle).
    * Returns array<long> of length k.
    *
    * The hashed-shingle array is BOUND ONCE as a lambda variable
    * (wrapped in a 1-element array and re-entered via `transform`):
    * higher-order functions are codegen-fallback, so Spark's
    * subexpression elimination never sees them — inlining `hashes`
    * into each of the k permutations would recompute the full hash
    * pass k times per row (measured 9.9 s → 1.3 s on the md5 oracle
    * path at sf0.1). The permutation coefficients are the same
    * (2654435761 + 40503·j) % p / (2246822519 + 604171·j) % p
    * formulas, computed as column arithmetic over j — bit-identical
    * to the Scala-side constants. */
  def minhashSignature(shingleCol: Column, k: Int,
      hashFn: Column => Column = xxHash): Column = {
    // Domain kept < 2^30 so a*h+b stays well under 2^63 (ANSI-safe).
    val p = 1000000007L
    val hashes = transform(shingleCol, sh => pmod(hashFn(sh), lit(p)))
    element_at(
      transform(array(hashes), hs =>
        transform(sequence(lit(0), lit(k - 1)), j => {
          val a = (lit(2654435761L) + lit(40503L) * j) % p
          val b = (lit(2246822519L) + lit(604171L) * j) % p
          array_min(transform(hs, h => pmod(h * a + b, lit(p))))
        })), 1)
  }

  /** LSH banding: split a k-long signature into bands of `rows` hashes;
    * docs sharing any full band become candidates. Returns the exploded
    * (bandId, bandHash) — the shuffle key. The signature binds ONCE as
    * a lambda variable: referenced directly inside the per-band lambda
    * it would be re-evaluated once per band (and the signature is the
    * expensive k-permutation expression when composed inline). */
  def lshBands(sig: Column, bands: Int, rows: Int,
      hashFn: Column => Column = xxHash): Column =
    element_at(
      transform(array(sig), s =>
        transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band_id"),
            hashFn(concat_ws("_",
              slice(s, b * rows + 1, lit(rows)).cast(ArrayType(StringType))))
              .as("band_hash")))), 1)

  /** Exact-substring duplication signal (the idea of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", at
    * token-window granularity): a doc is flagged when any exact window
    * of `n` consecutive tokens also appears in another doc. Output:
    * (idCol, n_shared_grams) for flagged docs only.
    *
    * Scale shape: distinct (doc, gram) → per-gram doc count → join the
    * count back → per-doc count of shared grams. Linear in corpus size
    * with two key shuffles; deliberately NO doc-pair output, so a
    * boilerplate gram appearing in k docs costs k rows, never k². At
    * 100 TB the gram key is high-cardinality and uniform — the natural
    * hash-shuffle balance; memory per task is one gram row, not a
    * per-gram doc list. */
  def exactSubstringStats(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val grams = docs
      .select(col(idCol), toks.as("__ts"))
      .filter(size(col("__ts")) >= n) // sequence() would reverse on len<n
      .select(col(idCol), explode(array_distinct(
        transform(sequence(lit(1), size(col("__ts")) - (n - 1)),
          i => array_join(slice(col("__ts"), i, lit(n)), " ")))).as("gram"))
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("__n_docs"))
    grams.join(freq.filter(col("__n_docs") > 1), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Candidate near-dup pairs via MinHash LSH. Output: (a_id, b_id,
    * n_shared_bands).
    *
    * Docs too short to produce any shingle (≤ shingleSize-1 tokens)
    * are dropped BEFORE banding: their signature would be all-NULL and
    * `concat_ws` skips NULLs, which would collapse every degenerate doc
    * into one shared band hash — a spurious all-pairs clique. Dropping
    * them matches the SQL-engine semantics where a NULL band hash never
    * joins. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      hashFn: Column => Column = xxHash): DataFrame = {
    val rows = k / bands
    val sigs = docs.select(
      col(idCol).as("doc"),
      shingles(col(textCol), shingleSize).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(
        col("doc"),
        explode(lshBands(
          minhashSignature(col("__sh"), k, hashFn),
          bands, rows, hashFn)).as("band"))
      .select(col("doc"), col("band.band_id"), col("band.band_hash"))
    val a = sigs.toDF("a_id", "band_id", "band_hash")
    val b = sigs.toDF("b_id", "band_id", "band_hash")
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** SimHash (64-bit): per-token xxhash64, bit-position vote weighted ±1,
    * sign of each vote is the signature bit. Delegates to the native
    * single-pass Catalyst expression (graft.functions.SimHash64Expr). */
  def simhash64(tokensCol: Column): Column =
    graft.functions.SimHash64Expr.simhash64(tokensCol)

  /** Composed-builtin reference implementation of simhash64 (64
    * aggregate folds, one per bit) — kept as the differential-testing
    * oracle for the native expression. The token-hash array binds
    * ONCE (same 1-element-array lambda trick as minhashSignature) so
    * the 64 per-bit folds share one hash pass instead of re-hashing
    * every token 64 times. */
  def simhash64Composed(tokensCol: Column,
      hashFn: Column => Column = xxHash): Column = {
    val hashes = transform(tokensCol, t => hashFn(t))
    element_at(
      transform(array(hashes), hs => {
        // For each bit, sum(+1 if set else -1) > 0 → bit set.
        val bits = (0 until 64).map { i =>
          val vote = aggregate(hs, lit(0L),
            (acc, h) => acc +
              when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L)
                .otherwise(-1L))
          when(vote > 0,
            lit(1L).cast(LongType) * lit(1L << i).cast(LongType))
            .otherwise(lit(0L))
        }
        bits.reduce(_ + _)
      }), 1)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over near-dup pair edges → dedup clusters
    * (every doc labeled with the smallest doc id reachable through dup
    * edges; keeping one doc per cluster is then a groupBy(cluster)).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"), O(log n) rounds
    * even on adversarial long chains. Each round is two grouped passes:
    *
    *   large-star(u): m = min(N(u) ∪ {u}); re-point every neighbor
    *     v > u at m.  small-star(u): same m; re-point every v ≤ u.
    *
    * Both steps strictly shrink the potential function (sum of edge
    * spans), halving component height per round. Convergence = edge
    * set unchanged over a full round (checked exactly with EXCEPT; a
    * count+hash signature does the same at scale with one job). All
    * state lives in DataFrames: nothing is collected to the driver
    * except the convergence check, the "coordinator sees only the
    * combine scalar" discipline the reference enforces.
    *
    * Input: two long columns (a, b). Output: (id, cluster_id). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20)
      : DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.union(e.select(col("v"), col("u"))).toDF("u", "v")
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val joined = sym.join(m, "u")
      val pointed =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          // small-star also KEEPS each node's own link to its min —
          // without it a converged star dissolves (the center has no
          // smaller neighbor to regenerate the spokes from)
          .union(m.select(col("u"), col("m").as("v")))
      canon(pointed)
    }
    val vertices = {
      val e0 = edges.toDF("u", "v")
      e0.select(col("u").as("id")).union(e0.select(col("v").as("id")))
        .distinct().localCheckpoint(true)
    }
    // localCheckpoint (not cache) each round: the round's plan
    // references e several times, so an uncut lineage grows
    // exponentially with iterations
    var e = canon(edges.toDF("u", "v")).localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = star(star(e, large = true), large = false)
        .localCheckpoint(true)
      converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      e = next
      iter += 1
    }
    // Partial convergence = one component under several labels =
    // silently kept duplicates downstream. Fail loudly instead.
    require(converged, s"connectedComponents did not converge " +
      s"in $maxIter rounds — raise maxIter")
    // converged stars: every node's label = min(self, final neighbors)
    val sym = e.union(e.select(col("v"), col("u"))).toDF("id", "nbr")
    val labels = vertices.join(sym, Seq("id"), "left")
      .groupBy(col("id"))
      .agg(least(col("id"), coalesce(min(col("nbr")), col("id")))
        .as("cluster_id"))
    vertices.unpersist()
    labels
  }

  /** SimHash near-dup candidates: block on `maxHamming + 1` contiguous
    * sub-bands of the 64-bit signature — by pigeonhole, two signatures
    * within hamming distance `maxHamming` differ in at most
    * `maxHamming` bands, so at least one full band agrees and the
    * banded self-join recalls EVERY pair at the bound (DedupSpec pins
    * 100% recall) — then exact hamming filter for precision. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6,
      hashFn: Option[Column => Column] = None): DataFrame = {
    // Default (None): the single-pass native codegen expression. A
    // portable hashFn swaps in the composed-builtin signature so the
    // whole pipeline is engine-independent.
    val sig = hashFn match {
      case None     => simhash64(split(col(textCol), " "))
      case Some(fn) => simhash64Composed(split(col(textCol), " "), fn)
    }
    simhashCandidatesFromSigs(
      docs.select(col(idCol).as("doc"), sig.as("sig")),
      maxHamming)
  }

  /** Banded self-join over precomputed `(doc, sig)` signature rows —
    * the blocking core of [[simhashCandidates]], exposed so recall can
    * be pinned on signatures with known pairwise hamming distances. */
  def simhashCandidatesFromSigs(sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 32,
      s"maxHamming out of range: $maxHamming")
    val bands = maxHamming + 1
    val banded = sigs.toDF("doc", "sig").select(col("doc"), col("sig"),
      explode(array((0 until bands).map { i =>
        val lo = i * 64 / bands
        val width = (i + 1) * 64 / bands - lo
        struct(lit(i).as("band_id"),
          shiftright(col("sig"), lo).bitwiseAND(lit((1L << width) - 1))
            .as("band_val"))
      }: _*)).as("band"))
      .select(col("doc"), col("sig"),
        col("band.band_id"), col("band.band_val"))
    val a = banded.toDF("a_id", "a_sig", "band_id", "band_val")
    val b = banded.toDF("b_id", "b_sig", "band_id", "band_val")
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming64(col("a_sig"), col("b_sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
