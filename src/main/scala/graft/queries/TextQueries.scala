package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication operators for LLM training-data
  * pipelines (BASELINE.json north star; beyond the reference's surface).
  * All operators are pure DataFrame transforms — shuffle-based, no
  * driver-side loops — so they scale by partition count: at 100 TB the
  * same plans run with the documents table hash-partitioned by doc_id
  * and the pairwise stages blocked by dedup key (never a global cross
  * join).
  */
object TextQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private val tokens: Column = split(col("text"), " ")

  /** Token counting: whitespace tokens + BPE-ish word/punct segmentation
    * via regex (both engines' regex split drop nothing here). */
  private val tokenStats = GraftQuery(
    "text_token_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(tokens).as("n_tokens"),
          size(array_distinct(tokens)).as("n_distinct_tokens"),
          length(col("text")).as("n_chars_measured"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_distinct_tokens")).as("total_distinct"),
          sum(col("n_chars_measured")).as("total_chars"),
          sum(when(col("n_chars_measured") === col("n_chars"), 1L)
            .otherwise(0L)).as("n_chars_consistent"))
        .orderBy(col("lang")),
    Some("""SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_distinct,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
        AS n_chars_consistent
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Quality scoring: length, type-token ratio, stopword ratio, mean
    * token length — integer counts ratioed in double (deterministic). */
  private val qualityScore = GraftQuery(
    "text_quality_score",
    (s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      t(s, dir, "documents")
        .select(col("doc_id"), tokens.as("w"), length(col("text")).as("len"))
        .select(
          col("doc_id"), col("len"),
          size(col("w")).as("n_tok"),
          size(array_distinct(col("w"))).as("n_uniq"),
          size(filter(col("w"), w => w.isin(stop.map(lit(_)): _*)))
            .as("n_stop"))
        .select(
          col("doc_id"),
          col("len"),
          (col("n_uniq").cast(DoubleType) / col("n_tok")).as("type_token_ratio"),
          (col("n_stop").cast(DoubleType) / col("n_tok")).as("stopword_ratio"),
          ((col("len") - col("n_tok") + 1).cast(DoubleType) / col("n_tok"))
            .as("mean_token_len"),
          (col("len") >= 100 && col("len") <= 20000).as("len_ok"))
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, length(text) AS len,
      CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        / len(string_split(text,' ')) AS type_token_ratio,
      CAST(len(list_filter(string_split(text,' '),
        w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
        / len(string_split(text,' ')) AS stopword_ratio,
      CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
        / len(string_split(text,' ')) AS mean_token_len,
      length(text) BETWEEN 100 AND 20000 AS len_ok
      FROM documents WHERE doc_id < 100 ORDER BY doc_id"""))

  /** Language-ID by stopword-list scoring with a deterministic argmax
    * (n-gram heuristic family; the synthetic corpus is English-vocab so
    * this pins the mechanism, not accuracy). */
  private val langId = GraftQuery(
    "text_lang_id",
    (s, dir) => {
      def score(words: Seq[String]): Column =
        size(filter(tokens, w => w.isin(words.map(lit(_)): _*)))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          score(Seq("the", "a", "of", "value", "table")).as("s_en"),
          score(Seq("der", "die", "das", "und")).as("s_de"),
          score(Seq("el", "la", "de", "los")).as("s_es"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
            .when(col("s_de") >= col("s_es"), "de")
            .otherwise("es"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    Some("""WITH scored AS (
        SELECT lang,
          len(list_filter(string_split(text,' '),
            w -> w IN ('the','a','of','value','table'))) AS s_en,
          len(list_filter(string_split(text,' '),
            w -> w IN ('der','die','das','und'))) AS s_de,
          len(list_filter(string_split(text,' '),
            w -> w IN ('el','la','de','los'))) AS s_es
        FROM documents)
      SELECT lang,
        CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS predicted,
        COUNT(*) AS n
      FROM scored GROUP BY 1, 2 ORDER BY lang, predicted"""))

  /** Document fingerprinting: md5 content hash of whitespace-normalized
    * text + a locality-carrying prefix key. */
  private val fingerprint = GraftQuery(
    "text_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_hash"),
          substring(col("text"), 1, 20).as("prefix_key"))
        .filter(col("doc_id") < 50)
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
      substring(text, 1, 20) AS prefix_key
      FROM documents WHERE doc_id < 50 ORDER BY doc_id"""))

  /** Exact dedup: hash-groupBy on a normalization key, keep min doc_id
    * per group (the 100 TB path: one shuffle on the key, no pairwise). */
  private val dedupExact = GraftQuery(
    "dedup_exact",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(substring(col("text"), 1, 20).as("dedup_key"))
        .agg(
          count(lit(1)).as("n_members"),
          min(col("doc_id")).as("keep_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .filter(col("n_members") > 1)
        .orderBy(col("dedup_key")),
    Some("""SELECT substring(text, 1, 20) AS dedup_key,
      COUNT(*) AS n_members, MIN(doc_id) AS keep_doc_id,
      MAX(doc_id) AS max_doc_id
      FROM documents GROUP BY 1 HAVING COUNT(*) > 1
      ORDER BY dedup_key"""))

  /** Quality-weighted (importance) sampling — the training-data
    * curation step that keeps each doc with probability proportional to
    * its quality score: keep iff portable-uniform(doc_id) < score.
    * Deterministic (md5-derived uniform, the sample_hash_mod idiom:
    * 15 hex chars = 60 bits, /2^60 → exact double in [0,1)), map-only —
    * no shuffle at any scale, reruns reproduce the same sample. */
  private val qualitySample = GraftQuery(
    "sample_quality_weighted",
    (s, dir) => {
      val score = least(lit(1.0), col("n_chars").cast(DoubleType) / 400.0)
      val uniform = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast(LongType).cast(DoubleType) / lit(1152921504606846976.0)
      t(s, dir, "documents")
        .filter(uniform < score)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          score.as("keep_p"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, n_chars,
        least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS keep_p
      FROM documents
      WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
              / 1152921504606846976.0
            < least(1.0, CAST(n_chars AS DOUBLE) / 400.0)
      ORDER BY doc_id"""))

  /** Exact-substring duplication (Lee et al. 2022 at 8-token-window
    * granularity): docs sharing any exact 8-token window with another
    * doc, with how many such windows each shares. Linear two-shuffle
    * pipeline, no doc-pair blowup (operators/Dedup.exactSubstringStats). */
  private val exactSubstring = GraftQuery(
    "dedup_exact_substring",
    (s, dir) =>
      Dedup.exactSubstringStats(t(s, dir, "documents"),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS ts
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts)-8+2)) AS i) r
        WHERE len(ts) >= 8),
      shared AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1)
      SELECT doc_id, count(*) AS n_shared_grams
      FROM grams JOIN shared USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** N-gram Jaccard near-dup detection, blocked by (lang, length band)
    * so the pairwise stage is per-block, not a global cross join —
    * the blocking key is what survives a 100 TB corpus. */
  private val ngramJaccard = GraftQuery(
    "dedup_ngram_jaccard",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"), col("lang"),
          array_distinct(tokens).as("toks"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("toks").as("a_toks"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("toks").as("b_toks"))
      a.join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          // native single-pass expression; bit-identical to the
          // intersect/union composition (ExtensionSpec differential)
          graft.functions.JaccardSimExpr.jaccardSim(
            col("a_toks"), col("b_toks")).as("jaccard"))
        .filter(col("jaccard") > 0.85)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text,' ')) AS t
        FROM documents WHERE doc_id < 150)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
          / len(list_distinct(list_concat(a.t, b.t))) AS jaccard
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
          / len(list_distinct(list_concat(a.t, b.t))) > 0.85
      ORDER BY a_id, b_id"""))

  /** Full MinHash-LSH near-dup pipeline with an EXACT oracle: minhash
    * over a PORTABLE hash (md5 prefix — identical in both engines,
    * unlike xxhash64 which DuckDB lacks; the xxhash64-based
    * `dedup_minhash_lsh` stays the fast production path), band into
    * buckets, self-join candidates, then verify exact jaccard on the
    * candidates only. At 100 TB the candidate join is one shuffle on
    * the band key and the quadratic verify touches only colliding
    * pairs — this query IS the scale shape, checked end-to-end. The
    * 8-hash/4-band config catches 100% of jaccard≥0.85 pairs on this
    * corpus (DedupSpec pins recall for the production path). */
  private val minhashExact = {
    val P = 2147483647L
    val seeds = Seq((1000003L, 12345L), (1000033L, 54321L),
      (1000211L, 11111L), (1000231L, 22222L), (1000249L, 33333L),
      (1000253L, 44444L), (1000273L, 55555L), (1000289L, 66666L))
    GraftQuery(
      "dedup_minhash_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 150)
        val h = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"),
            (conv(substring(md5(col("tok")), 1, 15), 16, 10)
              .cast(LongType) % P).as("hp"))
        val mh = h.groupBy("doc_id").agg(
          min((lit(seeds.head._1) * col("hp") + lit(seeds.head._2)) % P)
            .as("m0"),
          seeds.tail.zipWithIndex.map { case ((a, b), i) =>
            min((lit(a) * col("hp") + lit(b)) % P).as(s"m${i + 1}")
          }: _*)
        val bands = (0 until 4).map { bn =>
          mh.select(col("doc_id"), lit(bn).as("band"),
            concat_ws(":", col(s"m${2 * bn}"), col(s"m${2 * bn + 1}"))
              .as("key"))
        }.reduce(_ unionAll _)
        val cands = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        val tsets = docs.select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("t"))
        cands
          .join(tsets.select(col("doc_id").as("a_id"), col("t").as("a_t")),
            "a_id")
          .join(tsets.select(col("doc_id").as("b_id"), col("t").as("b_t")),
            "b_id")
          .select(col("a_id"), col("b_id"),
            graft.functions.JaccardSimExpr.jaccardSim(
              col("a_t"), col("b_t")).as("jaccard"))
          .filter(col("jaccard") > 0.85)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH sh AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS s
          FROM documents WHERE doc_id < 150),
        h AS (SELECT doc_id,
          (('0x'||substr(md5(s),1,15))::BIGINT % 2147483647) AS hp FROM sh),
        mh AS (SELECT doc_id,
          MIN((1000003*hp+12345) % 2147483647) AS m0,
          MIN((1000033*hp+54321) % 2147483647) AS m1,
          MIN((1000211*hp+11111) % 2147483647) AS m2,
          MIN((1000231*hp+22222) % 2147483647) AS m3,
          MIN((1000249*hp+33333) % 2147483647) AS m4,
          MIN((1000253*hp+44444) % 2147483647) AS m5,
          MIN((1000273*hp+55555) % 2147483647) AS m6,
          MIN((1000289*hp+66666) % 2147483647) AS m7
          FROM h GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, m0::VARCHAR||':'||m1::VARCHAR AS key FROM mh
          UNION ALL SELECT doc_id, 1, m2::VARCHAR||':'||m3::VARCHAR FROM mh
          UNION ALL SELECT doc_id, 2, m4::VARCHAR||':'||m5::VARCHAR FROM mh
          UNION ALL SELECT doc_id, 3, m6::VARCHAR||':'||m7::VARCHAR FROM mh),
        cands AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        tsets AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
          FROM documents WHERE doc_id < 150)
        SELECT a_id, b_id,
          CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.t, tb.t))) AS jaccard
        FROM cands, tsets ta, tsets tb
        WHERE ta.doc_id = a_id AND tb.doc_id = b_id
          AND CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.t, tb.t))) > 0.85
        ORDER BY a_id, b_id"""))
  }

  /** SimHash near-dup with an EXACT oracle: 32-bit simhash over a
    * PORTABLE per-token hash (md5 prefix, as in `dedup_minhash_exact`;
    * the native codegen'd `SimHash64Expr` behind `dedup_simhash` stays
    * the production path). Bit votes are one groupBy(doc, bit) — a
    * single shuffle that scales with corpus × 32 — and the pair stage
    * here is an all-pairs check on a 150-doc slice so the ORACLE covers
    * the exact hamming filter; at corpus scale the production path
    * blocks by signature band instead of pairing globally. */
  private val simhashExact = GraftQuery(
    "dedup_simhash_exact",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 150)
      val h = docs
        .select(col("doc_id"), explode(tokens).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10)
            .cast(LongType).as("hv"))
      val bits = h
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .groupBy(col("doc_id"), col("b"))
        .agg(sum(when(expr("(hv >> b) & 1") === 1, 1L).otherwise(-1L))
          .as("vote"))
      val sig = bits.groupBy(col("doc_id"))
        .agg(sum(when(col("vote") > 0,
          expr("CAST(1 AS BIGINT) << b")).otherwise(0L)).as("sig"))
      val a = sig.select(col("doc_id").as("a_id"), col("sig").as("a_sig"))
      val b = sig.select(col("doc_id").as("b_id"), col("sig").as("b_sig"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast(LongType)
            .as("hamming"))
        .filter(col("hamming") <= 2)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 150),
      h AS (SELECT doc_id,
        ('0x'||substr(md5(tok),1,15))::BIGINT AS hv FROM toks),
      bits AS (
        SELECT doc_id, b.b,
          SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM h CROSS JOIN (SELECT unnest(range(32)) AS b) b
        GROUP BY doc_id, b.b),
      sig AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b
            ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 2
      ORDER BY a_id, b_id"""))

  /** Text normalization for training corpora: URL/email templating,
    * whitespace collapse, case folding. The corpus is synthetic, so the
    * URL/email is appended deterministically first — the point is the
    * transform chain, which both engines' RE2-compatible regexes agree
    * on. Pure map stage: no shuffle at any corpus size. */
  private val normalize = GraftQuery(
    "text_normalize",
    (s, dir) => {
      val aug = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast(StringType),
        lit("@example.com  or  https://example.com/d/"),
        col("doc_id").cast(StringType))
      val norm = lower(trim(regexp_replace(regexp_replace(regexp_replace(
        aug,
        "https?://\\S+", "<url>"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
        "\\s+", " ")))
      t(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"),
          (length(aug) - length(norm)).cast(LongType).as("chars_removed"))
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    },
    Some("""WITH aug AS (
        SELECT doc_id,
          text || ' Contact user' || CAST(doc_id AS VARCHAR)
            || '@example.com  or  https://example.com/d/'
            || CAST(doc_id AS VARCHAR) AS a
        FROM documents WHERE doc_id < 100)
      SELECT doc_id,
        lower(trim(regexp_replace(regexp_replace(regexp_replace(a,
          'https?://\S+', '<url>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
          '\s+', ' ', 'g'))) AS norm_text,
        length(a) - length(lower(trim(regexp_replace(regexp_replace(
          regexp_replace(a,
          'https?://\S+', '<url>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
          '\s+', ' ', 'g')))) AS chars_removed
      FROM aug ORDER BY doc_id"""))

  /** PII masking: digit runs (phone/account-number-shaped) replaced by a
    * sentinel — the redaction pass a training pipeline runs before any
    * other text op. Deterministic synthetic PII appended per row. */
  private val piiMask = GraftQuery(
    "text_pii_mask",
    (s, dir) => {
      val aug = concat(substring(col("text"), 1, 40),
        lit(" call 555-"), (col("doc_id") + 1000L).cast(StringType),
        lit(" acct "), (col("doc_id") * 7919L + 100000L).cast(StringType))
      val masked = regexp_replace(aug, "\\d{3,}", "<num>")
      t(s, dir, "documents")
        .select(col("doc_id"), masked.as("masked"),
          (length(aug) - length(regexp_replace(aug, "\\d", "")))
            .cast(LongType).as("n_digits_before"),
          (length(masked) - length(regexp_replace(masked, "\\d", "")))
            .cast(LongType).as("n_digits_after"))
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    },
    Some("""WITH aug AS (
        SELECT doc_id,
          substring(text, 1, 40) || ' call 555-'
            || CAST(doc_id + 1000 AS VARCHAR)
            || ' acct ' || CAST(doc_id * 7919 + 100000 AS VARCHAR) AS a
        FROM documents WHERE doc_id < 100)
      SELECT doc_id,
        regexp_replace(a, '\d{3,}', '<num>', 'g') AS masked,
        length(a) - length(regexp_replace(a, '\d', '', 'g'))
          AS n_digits_before,
        length(regexp_replace(a, '\d{3,}', '<num>', 'g'))
          - length(regexp_replace(regexp_replace(a, '\d{3,}', '<num>', 'g'),
              '\d', '', 'g')) AS n_digits_after
      FROM aug ORDER BY doc_id"""))

  /** End-to-end training-data pipeline funnel: normalize → quality gate
    * (length + type-token ratio) → exact near-dup removal (min doc_id
    * per normalized-prefix key) → language gate (stopword score), with
    * per-stage doc/token accounting — the report a corpus-curation run
    * produces. Scale shape: the gates are pure map stages fused into one
    * codegen span over the scan; dedup is ONE shuffle on the dedup key
    * with `min_by` partial aggregation (no window, no pairwise); the
    * stage totals are partial+final count/sum aggregates. At 100 TB this
    * is a single pass over the corpus plus one key shuffle of the
    * quality survivors. */
  private val pipelineFunnel = GraftQuery(
    "text_pipeline_funnel",
    (s, dir) => {
      val base = t(s, dir, "documents").select(
        col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"),
        length(col("text")).as("len"),
        size(tokens).as("n_tok"),
        (size(array_distinct(tokens)).cast(DoubleType) / size(tokens))
          .as("ttr"),
        size(filter(tokens, w =>
          w.isin(Seq("the", "a", "of", "value", "table").map(lit(_)): _*)))
          .as("s_en"))
      val quality = base.filter(
        col("len").between(100, 20000) && col("ttr") >= 0.25)
      val deduped = quality
        .groupBy(substring(col("norm"), 1, 30).as("dedup_key"))
        .agg(min(col("doc_id")).as("keep_id"),
          min_by(col("n_tok"), col("doc_id")).as("n_tok"),
          min_by(col("s_en"), col("doc_id")).as("s_en"))
      val langKept = deduped.filter(col("s_en") >= 5)
      def stage(no: Int, name: String, df: DataFrame,
          tok: Column): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(tok), lit(0L)).cast(LongType).as("total_tokens"))
          .select(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
            col("n_docs"), col("total_tokens"))
      stage(1, "raw", base, col("n_tok"))
        .unionAll(stage(2, "quality", quality, col("n_tok")))
        .unionAll(stage(3, "dedup", deduped, col("n_tok")))
        .unionAll(stage(4, "lang", langKept, col("n_tok")))
        .orderBy(col("stage_no"))
    },
    Some("""WITH base AS (
        SELECT doc_id,
          lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
          length(text) AS len,
          len(string_split(text, ' ')) AS n_tok,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) AS ttr,
          len(list_filter(string_split(text, ' '),
            w -> w IN ('the','a','of','value','table'))) AS s_en
        FROM documents),
      quality AS (
        SELECT * FROM base WHERE len BETWEEN 100 AND 20000 AND ttr >= 0.25),
      deduped AS (
        SELECT substring(norm, 1, 30) AS dedup_key,
          MIN(doc_id) AS keep_id,
          min_by(n_tok, doc_id) AS n_tok,
          min_by(s_en, doc_id) AS s_en
        FROM quality GROUP BY 1),
      lang AS (SELECT * FROM deduped WHERE s_en >= 5)
      SELECT CAST(1 AS BIGINT) AS stage_no, 'raw' AS stage,
        COUNT(*) AS n_docs,
        CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS total_tokens FROM base
      UNION ALL SELECT 2, 'quality', COUNT(*),
        CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM quality
      UNION ALL SELECT 3, 'dedup', COUNT(*),
        CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM deduped
      UNION ALL SELECT 4, 'lang', COUNT(*),
        CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM lang
      ORDER BY stage_no"""))

  /** Near-dup CLUSTERING: pairwise jaccard edges → connected components
    * (operators/Dedup.connectedComponents, large-star/small-star —
    * O(log n) rounds of grouped passes) →
    * every doc labeled with its cluster representative; `is_kept` marks
    * the one doc per cluster a dedup pass would retain. The oracle
    * recomputes the transitive closure with a recursive CTE — an
    * independent algorithm, so the fixpoint itself is cross-checked. */
  private val clusterComponents = GraftQuery(
    "dedup_cluster_components",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"), col("lang"), array_distinct(tokens).as("toks"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("toks").as("a_toks"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("toks").as("b_toks"))
      val edges = a
        .join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
        .filter(graft.functions.JaccardSimExpr.jaccardSim(
          col("a_toks"), col("b_toks")) > 0.85)
        .select(col("a_id"), col("b_id"))
      graft.operators.Dedup.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_kept"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text,' ')) AS t
        FROM documents WHERE doc_id < 150),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / len(list_distinct(list_concat(a.t, b.t))) > 0.85),
      edges AS (SELECT a_id AS s, b_id AS d FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id)
      SELECT id AS doc_id, MIN(r) AS cluster_id,
        id = MIN(r) AS is_kept
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Overlapping token-window chunking (context-window prep): 64-token
    * chunks on a 48-token stride. One narrow map + explode — chunk rows
    * never leave their partition until a downstream op shuffles them,
    * and payload per row shrinks to the chunk, so the op is
    * embarrassingly parallel at any scale. */
  private val chunkWindows = GraftQuery(
    "text_chunk_windows",
    (s, dir) => {
      val C = 64
      val S = 48
      t(s, dir, "documents")
        .filter(col("doc_id") < 60)
        .select(col("doc_id"), tokens.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            floor((greatest(size(col("toks")) - C, lit(0)) + (S - 1))
              .cast(DoubleType) / S).cast(IntegerType)))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("toks"), col("chunk_idx") * S + 1, lit(C)))
            .as("n_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), col("chunk_idx") * S + 1, lit(C))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 60),
      c AS (SELECT doc_id, t,
        unnest(range(0, 1 + (greatest(len(t) - 64, 0) + 47) // 48)) AS i
        FROM d)
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        CAST(len(list_slice(t, i*48 + 1, i*48 + 64)) AS INT) AS n_tokens,
        md5(array_to_string(list_slice(t, i*48 + 1, i*48 + 64), ' '))
          AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** pg_trgm-style trigram similarity (`similarity(a,b)` = jaccard over
    * character 3-gram sets) — the PG extension Citus users lean on for
    * fuzzy text matching. Runs on the native codegen'd JaccardSimExpr
    * over char-trigram arrays; same-lang blocking keeps the pair space
    * quadratic only within a block, the same scale shape as the other
    * dedup pipelines. */
  private val trigramSim = GraftQuery(
    "text_trigram_similarity",
    (s, dir) => {
      def trigrams(c: Column): Column = array_distinct(transform(
        sequence(lit(1), greatest(length(c) - 2, lit(1))),
        i => c.substr(i, lit(3))))
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 40)
        .select(col("doc_id"), col("lang"), trigrams(col("text")).as("tg"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("tg").as("a_tg"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("tg").as("b_tg"))
      a.join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          graft.functions.JaccardSimExpr.jaccardSim(col("a_tg"), col("b_tg"))
            .as("tri_sim"))
        .filter(col("tri_sim") >= 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id, lang,
          list_distinct(list_transform(
            range(1, greatest(length(text) - 2, 1) + 1),
            i -> substring(text, CAST(i AS INT), 3))) AS tg
        FROM documents WHERE doc_id < 40)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tg, b.tg))) AS tri_sim
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tg, b.tg))) >= 0.5
      ORDER BY a_id, b_id"""))

  /** Full-text search: AND-of-terms match + term-frequency rank — the
    * semantics of `to_tsvector(text) @@ to_tsquery('query & join')`
    * ranked by ts_rank's TF core. The reference distributes GIN
    * fulltext indexes over shards (create_single_shard_table.sql:416);
    * on Spark the inverted-index role is played by the columnar scan +
    * predicate pushdown, and the match is one narrow map — no shuffle
    * until the top-k merge, which TakeOrderedAndProject bounds. */
  private val ftsRank = GraftQuery(
    "text_fts_rank",
    (s, dir) => {
      def tf(term: String): Column =
        size(filter(tokens, x => x === term))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          tf("query").as("tf_query"), tf("join").as("tf_join"))
        .filter(col("tf_query") > 0 && col("tf_join") > 0)
        .select(col("doc_id"), col("lang"), col("tf_query"), col("tf_join"),
          (col("tf_query") + col("tf_join")).as("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(25)
    },
    Some("""SELECT doc_id, lang,
        CAST(len(list_filter(string_split(text, ' '), x -> x = 'query'))
          AS INT) AS tf_query,
        CAST(len(list_filter(string_split(text, ' '), x -> x = 'join'))
          AS INT) AS tf_join,
        CAST(len(list_filter(string_split(text, ' '), x -> x = 'query'))
          + len(list_filter(string_split(text, ' '), x -> x = 'join'))
          AS INT) AS rank
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x = 'query')) > 0
        AND len(list_filter(string_split(text, ' '), x -> x = 'join')) > 0
      ORDER BY rank DESC, doc_id LIMIT 25"""))

  /** Repetition signals (Gopher/C4-style quality rules): fraction of
    * tokens taken by the most frequent token and by the most frequent
    * bigram; highly repetitive docs get flagged. Two doc_id-keyed
    * grouped passes — the shuffle key is the document id, so the work
    * distributes per-doc at any corpus size. */
  private val repetitionStats = GraftQuery(
    "text_repetition_stats",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), tokens.as("toks"))
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_tok"), sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_distinct"))
      val bi = docs
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), greatest(size(col("toks")) - 1, lit(1))),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi"),
          sum(col("c")).as("n_bi"))
      uni.join(bi, "doc_id")
        .select(col("doc_id"), col("n_tok"), col("n_distinct"),
          (col("top_tok").cast(DoubleType) / col("n_tok")).as("top_tok_frac"),
          (col("top_bi").cast(DoubleType) / col("n_bi")).as("top_bigram_frac"))
        .withColumn("flagged",
          col("top_tok_frac") > 0.1 || col("top_bigram_frac") > 0.05)
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 100),
      uni AS (
        SELECT doc_id, MAX(c) AS top_tok, CAST(SUM(c) AS BIGINT) AS n_tok,
          COUNT(*) AS n_distinct
        FROM (SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(toks) AS g FROM d)
              GROUP BY doc_id, g) GROUP BY doc_id),
      bi AS (
        SELECT doc_id, MAX(c) AS top_bi, CAST(SUM(c) AS BIGINT) AS n_bi
        FROM (SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                      unnest(list_transform(
                        range(1, greatest(len(toks) - 1, 1) + 1),
                        i -> toks[i] || ' ' || toks[i + 1])) AS g
                    FROM d)
              GROUP BY doc_id, g) GROUP BY doc_id)
      SELECT uni.doc_id, n_tok, n_distinct,
        CAST(top_tok AS DOUBLE) / n_tok AS top_tok_frac,
        CAST(top_bi AS DOUBLE) / n_bi AS top_bigram_frac,
        (CAST(top_tok AS DOUBLE) / n_tok > 0.1 OR
         CAST(top_bi AS DOUBLE) / n_bi > 0.05) AS flagged
      FROM uni JOIN bi ON uni.doc_id = bi.doc_id
      ORDER BY uni.doc_id"""))

  /** Sequence packing (context-window prep): concatenate the token
    * stream in deterministic doc order and split at a fixed token
    * budget — the GPT-style pretraining pack where documents may
    * straddle a boundary. Implemented as ONE window cumsum keyed by
    * the pack partition (`lang` here ≙ the per-worker pack shard at
    * cluster scale): each doc learns its sequence id and offset from
    * the running total; no driver state, no sequential loop. At
    * 100 TB the partition key is the shard id, so packing stays
    * embarrassingly parallel with exactly one shuffle (the window
    * key), and the budget arithmetic is identical. */
  private val packSequences = GraftQuery(
    "text_pack_sequences",
    (s, dir) => {
      val B = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"), size(tokens).as("n_tokens"))
        .withColumn("cum_after",
          sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          floor((col("cum_after") - col("n_tokens")) / B).cast(IntegerType)
            .as("seq_id"),
          ((col("cum_after") - col("n_tokens")) % B).cast(IntegerType)
            .as("seq_offset"),
          // does this doc straddle into the next sequence?
          (floor((col("cum_after") - 1) / B) >
            floor((col("cum_after") - col("n_tokens")) / B))
            .as("straddles"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          SUM(CAST(len(string_split(text, ' ')) AS INT))
            OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_after
        FROM documents WHERE doc_id < 200)
      SELECT doc_id, lang, n_tokens,
        CAST(floor((cum_after - n_tokens) / 512) AS INT) AS seq_id,
        CAST((cum_after - n_tokens) % 512 AS INT) AS seq_offset,
        floor((cum_after - 1) / 512) >
          floor((cum_after - n_tokens) / 512) AS straddles
      FROM d ORDER BY doc_id"""))

  /** Mixture sampling to a per-source token budget (training-corpus
    * data mixing: each source/domain contributes a capped token
    * share). Deterministic shuffle = md5(doc_id) ordering; one window
    * cumsum per source admits docs while the running token total fits
    * the budget, then per-source accounting sums the admitted share.
    * At 100 TB: one shuffle on the source key, map-side token counts,
    * and the budget check is a per-row comparison against the running
    * sum — the standard scalable mixture-weights pass (budgets per
    * source arrive as a broadcast map). */
  private val mixtureSample = GraftQuery(
    "text_mixture_sample",
    (s, dir) => {
      val B = 3000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(tokens).cast(LongType).as("n_tokens"),
          md5(col("doc_id").cast(StringType)).as("h"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") <= B)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_taken"),
          sum(col("n_tokens")).as("tokens_taken"),
          min(col("h")).as("first_pick"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (
        SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      c AS (
        SELECT source, n_tokens, h,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_taken,
        CAST(SUM(n_tokens) AS BIGINT) AS tokens_taken,
        MIN(h) AS first_pick
      FROM c WHERE cum <= 3000 GROUP BY source ORDER BY source"""))

  /** Benchmark decontamination (the GPT-3/Lee-et-al. pipeline step:
    * drop training docs that share any long n-gram with an eval set):
    * benchmark docs (stand-in: doc_id ≥ 400) contribute their distinct
    * 8-gram keys; training docs that contain ANY of them are flagged
    * via one semi-join on the gram hash. Linear in corpus size — the
    * gram explode is map-side, the semi-join is one key shuffle
    * against the (much smaller) benchmark gram set, no pairwise doc
    * comparison anywhere. At 100 TB the benchmark grams broadcast. */
  private val decontaminate = GraftQuery(
    "text_decontaminate",
    (s, dir) => {
      val G = 8
      def grams(src: DataFrame): DataFrame = src
        .select(col("doc_id"), tokens.as("toks"))
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), greatest(size(col("toks")) - (G - 1), lit(1))),
            i => md5(concat_ws(" ", slice(col("toks"), i, lit(G)))))).as("g"))
      val docs = t(s, dir, "documents")
      val trainGrams = grams(docs.filter(col("doc_id") < 400))
      val benchGrams = grams(docs.filter(col("doc_id") >= 400))
        .select(col("g")).distinct()
      val contaminated = trainGrams.join(benchGrams, Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") < 400)
        .join(contaminated.withColumn("contaminated", lit(true)),
          Seq("doc_id"), "left")
        .groupBy(coalesce(col("contaminated"), lit(false))
          .as("contaminated"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("contaminated"))
    },
    Some("""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE doc_id < 400),
        be AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE doc_id >= 400),
        trg AS (SELECT doc_id,
            md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS g
          FROM tr, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)),
        beg AS (SELECT DISTINCT
            md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS g
          FROM be, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS u(i)),
        bad AS (SELECT DISTINCT doc_id FROM trg
          WHERE g IN (SELECT g FROM beg))
      SELECT (d.doc_id IN (SELECT doc_id FROM bad)) AS contaminated,
        COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents d WHERE d.doc_id < 400
      GROUP BY 1 ORDER BY 1"""))

  /** Full BM25 ranking (extends `text_fts_rank`'s TF-only score with
    * the real IDF + length normalization; k1=1.2, b=0.75). Corpus
    * stats (N, df per term, avg doc length) are one tiny aggregate
    * broadcast to every scorer — at 100 TB that is a 1-row broadcast
    * against a map-only scoring pass, then a top-k merge; nothing
    * accumulates centrally. Scores round to 6 decimals so the oracle
    * compare is insensitive to libm ULP differences. */
  private val bm25Rank = GraftQuery(
    "text_bm25_rank",
    (s, dir) => {
      def tf(term: String): Column =
        size(filter(tokens, x => x === term)).cast(DoubleType)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), size(tokens).cast(DoubleType).as("dl"),
          tf("query").as("tf_q"), tf("join").as("tf_j"))
      val stats = docs.agg(
        count(lit(1)).cast(DoubleType).as("n_docs"),
        avg(col("dl")).as("avgdl"),
        sum(when(col("tf_q") > 0, 1).otherwise(0)).cast(DoubleType)
          .as("df_q"),
        sum(when(col("tf_j") > 0, 1).otherwise(0)).cast(DoubleType)
          .as("df_j"))
      def part(tfc: Column, dfc: Column): Column = {
        val idf = log(
          (col("n_docs") - dfc + 0.5) / (dfc + 0.5) + lit(1.0))
        val k1 = lit(1.2); val b = lit(0.75)
        idf * (tfc * (k1 + 1.0)) /
          (tfc + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl")))
      }
      docs.crossJoin(broadcast(stats))
        .filter(col("tf_q") > 0 || col("tf_j") > 0)
        .select(col("doc_id"),
          col("tf_q").cast(IntegerType).as("tf_query"),
          col("tf_j").cast(IntegerType).as("tf_join"),
          round(part(col("tf_q"), col("df_q")) +
            part(col("tf_j"), col("df_j")), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(25)
    },
    Some("""WITH d AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
          CAST(len(list_filter(string_split(text, ' '), x -> x = 'query'))
            AS DOUBLE) AS tf_q,
          CAST(len(list_filter(string_split(text, ' '), x -> x = 'join'))
            AS DOUBLE) AS tf_j
        FROM documents),
      s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
          CAST(SUM(CASE WHEN tf_q > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_q,
          CAST(SUM(CASE WHEN tf_j > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_j
        FROM d)
      SELECT doc_id,
        CAST(tf_q AS INT) AS tf_query,
        CAST(tf_j AS INT) AS tf_join,
        round(
          ln((n_docs - df_q + 0.5) / (df_q + 0.5) + 1.0)
            * (tf_q * (1.2 + 1.0))
            / (tf_q + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) +
          ln((n_docs - df_j + 0.5) / (df_j + 0.5) + 1.0)
            * (tf_j * (1.2 + 1.0))
            / (tf_j + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
      FROM d, s
      WHERE tf_q > 0 OR tf_j > 0
      ORDER BY bm25 DESC, doc_id LIMIT 25"""))

  override val queries: Seq[GraftQuery] = Seq(
    tokenStats, qualityScore, langId, fingerprint, dedupExact,
    exactSubstring, qualitySample, ngramJaccard,
    normalize, piiMask, minhashExact, simhashExact, pipelineFunnel,
    clusterComponents, chunkWindows, trigramSim, ftsRank, repetitionStats,
    packSequences, bm25Rank, decontaminate, mixtureSample)
}
