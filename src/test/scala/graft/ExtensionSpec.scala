package graft

import graft.operators.Dedup
import graft.sql.PgDialect
import graft.sources.Ingest
import graft.catalog.DistributionCatalog
import graft.plans.PlanChecks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expression (differential vs composed), PG dialect rewrites,
  * ingest round-trip, and the reference-table auto-broadcast rule. */
class ExtensionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native simhash64 equals the composed-builtin implementation") {
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val both = docs.select(col("doc_id"),
      Dedup.simhash64(col("toks")).as("native"),
      Dedup.simhash64Composed(col("toks")).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() === 0)
    assert(both.count() > 0)
  }

  test("native cosine_sim is bit-identical to the composed HOF folds") {
    import graft.operators.Similarity
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
    val a = vecs.select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = vecs.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    val pairs = a.join(b, col("a_id") < col("b_id")).limit(500)
      .select(
        Similarity.cosine(col("a_v"), col("b_v")).as("native"),
        Similarity.cosineComposed(col("a_v"), col("b_v")).as("composed"))
    // exact equality: same fold order, same double ops
    assert(pairs.filter(col("native") =!= col("composed")).count() === 0)
    assert(pairs.count() === 500)
  }

  test("native jaccard_sim equals the composed intersect/union form") {
    import graft.functions.JaccardSimExpr
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("t"))
    val a = docs.select(col("doc_id").as("a_id"), col("t").as("a_t"))
    val b = docs.select(col("doc_id").as("b_id"), col("t").as("b_t"))
    val pairs = a.join(b, col("a_id") < col("b_id")).limit(400)
      .select(
        JaccardSimExpr.jaccardSim(col("a_t"), col("b_t")).as("native"),
        (size(array_intersect(col("a_t"), col("b_t"))).cast("double") /
          size(array_union(col("a_t"), col("b_t")))).as("composed"))
    assert(pairs.filter(col("native") =!= col("composed")).count() === 0)
    assert(pairs.count() === 400)
  }

  test("pg :: casts rewrite to CAST..AS with type mapping") {
    assert(PgDialect.rewriteCasts("SELECT '5'::int8, x::float8 FROM t")
      === "SELECT CAST('5' AS BIGINT), CAST(x AS DOUBLE) FROM t")
    assert(PgDialect.rewriteCasts("SELECT (a+b)::numeric(12,2) FROM t")
      === "SELECT CAST((a+b) AS numeric(12,2)) FROM t")
  }

  test("generate_series: a trailing keyword is a clause, not an alias; " +
      "only explicit AS may claim a keyword") {
    val s1 = PgDialect.rewriteFnNames(
      "SELECT * FROM generate_series(1,3) ORDER BY 1")
    assert(s1.contains("AS generate_series") &&
      s1.toUpperCase.endsWith("ORDER BY 1"), s1)
    val s2 = PgDialect.rewriteFnNames(
      "SELECT g FROM generate_series(1,3) g WHERE g > 1")
    assert(s2.contains("AS g) g WHERE g > 1"), s2)
    val s3 = PgDialect.rewriteFnNames(
      "SELECT i FROM generate_series(1,3) AS i LIMIT 2")
    assert(s3.contains("AS i) i LIMIT 2"), s3)
    // end-to-end through the full translator
    Tables.registerAll(spark, TestSpark.sf)
    assert(PgDialect.sql(spark,
      "SELECT * FROM generate_series(1,3) ORDER BY 1 LIMIT 2")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("fn-name rewrites never mutate string literals") {
    val s1 = PgDialect.rewriteFnNames(
      "SELECT 'public.users' AS lit, x FROM public.users")
    assert(s1.contains("'public.users'"), s1)
    assert(s1.endsWith("FROM users"), s1)
    val s2 = PgDialect.rewriteFnNames(
      "SELECT 'use strpos(a) here' FROM t WHERE strpos(x, 'y') > 0")
    assert(s2.contains("'use strpos(a) here'") &&
      s2.contains("instr(x, 'y')"), s2)
    val s3 = PgDialect.rewriteFnNames(
      "SELECT 'locked FOR UPDATE' FROM t FOR UPDATE")
    assert(s3.contains("'locked FOR UPDATE'") && s3.trim.endsWith("FROM t"),
      s3)
    val s4 = PgDialect.rewriteFnNames(
      "SELECT 'unnest(a)' FROM t WHERE unnest(b) IS NOT NULL")
    assert(s4.contains("'unnest(a)'") && s4.contains("explode(b)"), s4)
  }

  test("round-3 dialect rewrites: chained casts, quoted identifiers, " +
      "ordered array_agg with DESC keys, quantified array comparisons, " +
      "PG default column names in subqueries") {
    import org.apache.spark.sql.Row
    // chained :: casts peel left-to-right
    assert(PgDialect.rewriteCasts("SELECT (x/100)::int::bool::text::bool")
      === "SELECT CAST(CAST(CAST(CAST((x/100) AS int) AS BOOLEAN) " +
        "AS STRING) AS BOOLEAN)")
    // PG double-quoted identifiers become backticks; literals survive
    assert(PgDialect.rewriteQuotedIdents(
      """SELECT "t"."a", 'keep "this"' FROM "t"""")
      === "SELECT `t`.`a`, 'keep \"this\"' FROM `t`")
    Tables.registerAll(spark, TestSpark.sf)
    // ordered array_agg with a DESC key sorts via generated comparator
    val desc = PgDialect.sql(spark,
      """SELECT array_agg(n_name ORDER BY n_nationkey DESC) AS names
         FROM nation WHERE n_nationkey < 3""").collect()(0)
      .getSeq[String](0)
    val asc = PgDialect.sql(spark,
      """SELECT array_agg(n_name ORDER BY n_nationkey) AS names
         FROM nation WHERE n_nationkey < 3""").collect()(0)
      .getSeq[String](0)
    assert(desc === asc.reverse && asc.length === 3)
    // quantified comparisons over array literals
    assert(PgDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_nationkey = " +
        "ANY(ARRAY[1, 2, 3])").collect()(0).getLong(0) === 3L)
    assert(PgDialect.sql(spark,
      "SELECT count(*) AS n FROM nation WHERE n_nationkey = " +
        "ALL(ARRAY[2])").collect()(0).getLong(0) === 1L)
    // PG default output names: a subquery's bare sum(x) is column
    // `sum` to the enclosing query
    val viaDefault = PgDialect.sql(spark,
      """SELECT max(sum) AS m FROM (
           SELECT n_regionkey, sum(n_nationkey) FROM nation
           GROUP BY n_regionkey) s""").collect()(0)
    assert(viaDefault.getLong(0) > 0)
    // rank-family frames drop even when the window is ordered
    val ranked = PgDialect.sql(spark,
      """SELECT n_nationkey, percent_rank() OVER (ORDER BY n_nationkey
           RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS pr FROM nation WHERE n_nationkey < 4""")
    assert(ranked.count() === 4)
    // window inheritance: w1 builds on w
    val inh = PgDialect.sql(spark,
      """SELECT n_regionkey, rank() OVER w1 AS r FROM nation
         WINDOW w AS (PARTITION BY n_regionkey),
                w1 AS (w ORDER BY n_nationkey)""")
    assert(inh.count() === 25)
  }

  test("round-3 dialect rewrites v2: nested-join double-ON grouping, " +
      "partial column-alias padding, TVFs in JOIN position, " +
      "quantified subqueries, scalar default names") {
    Tables.registerAll(spark, TestSpark.sf)
    // PG's right-grouped join tree (double ON) gets explicit parens
    val j = PgDialect.rewriteFnNames("SELECT count(*) FROM a FULL JOIN " +
      "b ref1 INNER JOIN c ref2 on ref1.id = ref2.id ON true")
    assert(j.contains(
      "FULL JOIN (b ref1 INNER JOIN ref2 ON") === false, j) // sanity
    assert(j.contains("FULL JOIN (b ref1 INNER JOIN c ref2 " +
      "ON ref1.id = ref2.id) ON true"), j)
    // quantified subqueries: = ANY ≡ IN, <> ALL ≡ NOT IN
    assert(PgDialect.rewriteFnNames(
      "SELECT * FROM t WHERE x = ANY(SELECT y FROM u)")
      .contains("IN (SELECT y FROM u)"))
    assert(PgDialect.rewriteFnNames(
      "SELECT * FROM t WHERE x <> ALL (SELECT y FROM u)")
      .contains("NOT IN (SELECT y FROM u)"))
    // unaliased random() select item carries PG's default column name
    assert(PgDialect.rewriteFnNames("SELECT *, random() FROM t")
      .contains("random() AS random FROM"))
    // TVFs in JOIN position
    val tv = PgDialect.rewriteFnNames(
      "SELECT * FROM t JOIN random() AS r(id) ON t.i > r.id")
    assert(tv.contains("JOIN (SELECT random() AS id) r"), tv)
    val gs = PgDialect.rewriteFnNames(
      "SELECT * FROM t JOIN generate_series(1,10) AS g(i) ON t.i = g.i")
    assert(gs.contains("(SELECT explode(sequence(1,10)) AS i) g"), gs)
    // PG internal comparison fns
    assert(PgDialect.rewriteFnNames("SELECT 1 FROM t WHERE int4eq(a, 5)")
      .contains("((a) = (5))"))
    // scalar calls get PG's fn-name default column name in subqueries
    val abs = PgDialect.sql(spark,
      "SELECT * FROM (SELECT n_nationkey, abs(n_nationkey - 3) " +
        "FROM nation WHERE n_nationkey < 5) a ORDER BY abs, n_nationkey")
    assert(abs.columns.toSeq === Seq("n_nationkey", "abs"))
    assert(abs.collect().map(_.getInt(0)).toSeq === Seq(3, 2, 4, 1, 0))
    // partial column-alias lists pad to full arity via schema probe
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .createOrReplaceTempView("pad_l")
    Seq((1, 9L), (3, 8L)).toDF("id", "w")
      .createOrReplaceTempView("pad_r")
    val padded = PgDialect.sql(spark,
      "SELECT c1, w FROM (pad_l JOIN pad_r USING (id)) AS t(c1) " +
        "ORDER BY c1")
    assert(padded.columns.toSeq === Seq("c1", "w"))
    assert(padded.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      === Seq((1, 9L)))
  }

  test("round-3 dialect rewrites v3: DISTINCT-prefixed identifiers, " +
      "typed/string limits, CTE alias padding, HAVING aggregate " +
      "hoist, jsonb aggregates") {
    Tables.registerAll(spark, TestSpark.sf)
    import spark.implicits._
    // an identifier STARTING with `distinct` is not the keyword
    Seq((1, 10), (1, 20), (2, 30)).toDF("user_id", "v")
      .createOrReplaceTempView("distinct_users")
    val du = PgDialect.sql(spark,
      "SELECT distinct_users.user_id, count(1) AS ct FROM " +
        "(SELECT user_id, v FROM distinct_users) AS distinct_users " +
        "GROUP BY distinct_users.user_id ORDER BY 1")
    assert(du.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      === Seq((1, 2L), (2, 1L)))
    // PG's coerced limits: string and ::typed literals
    assert(PgDialect.sql(spark,
      "SELECT n_nationkey FROM nation ORDER BY 1 LIMIT '3'")
      .count() === 3)
    assert(PgDialect.sql(spark,
      "SELECT n_nationkey FROM nation ORDER BY 1 " +
        "LIMIT 3::bigint OFFSET 1::smallint")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    // CTE column-alias lists naming a prefix of the body's columns
    // pad to full arity — syntactically and via `*` schema probe
    val cte = PgDialect.sql(spark,
      "WITH c (x, y) AS (SELECT n_nationkey, n_regionkey, n_name " +
        "FROM nation) SELECT x, n_name FROM c WHERE x < 2 ORDER BY x")
    assert(cte.columns.toSeq === Seq("x", "n_name"))
    assert(cte.count() === 2)
    val cteStar = PgDialect.sql(spark,
      "WITH c (x) AS (SELECT * FROM region) " +
        "SELECT x, r_name FROM c ORDER BY x LIMIT 2")
    assert(cteStar.columns.toSeq === Seq("x", "r_name"))
    // HAVING + ORDER BY aggregates over columns absent from the
    // select list resolve via the hoist retry (PG behavior)
    val hv = PgDialect.sql(spark,
      "SELECT n_regionkey, count(1) AS ct FROM nation " +
        "GROUP BY n_regionkey HAVING sum(n_nationkey) > 50 " +
        "ORDER BY sum(n_nationkey) DESC, 1 LIMIT 3")
    assert(hv.columns.toSeq === Seq("n_regionkey", "ct"))
    assert(hv.count() > 0)
    // jsonb aggregates ride the json carriers; DISTINCT object-agg
    // emits PG-format text with duplicate keys preserved, sorted
    Seq((2, "b"), (1, "a"), (1, "a"), (1, "c")).toDF("k", "v")
      .createOrReplaceTempView("jt")
    assert(PgDialect.sql(spark,
      "SELECT jsonb_agg(k ORDER BY k) AS a FROM jt")
      .collect()(0).getSeq[Int](0) === Seq(1, 1, 1, 2))
    assert(PgDialect.sql(spark,
      "SELECT json_object_agg(DISTINCT k, v) AS o FROM jt")
      .collect()(0).getString(0)
      === """{ "1" : "a", "1" : "c", "2" : "b" }""")
  }

  test("sketch-extension SQL surface: tdigest build/merge + " +
      "percentile(_of), topn add/union/expand, hll spellings") {
    Tables.registerAll(spark, TestSpark.sf)
    import spark.implicits._
    (1 to 1000).map(_.toDouble).toDF("v").createOrReplaceTempView("tsv")
    // build-form percentile: median of 1..1000 within digest error
    val med = PgDialect.sql(spark,
      "SELECT tdigest_percentile(v, 100, 0.5) AS p FROM tsv")
      .collect()(0).getDouble(0)
    assert(math.abs(med - 500.0) < 15.0, s"median estimate $med")
    // rollup pattern: store digests per group, merge + query later
    PgDialect.sql(spark,
      "SELECT CAST(v AS INT) % 4 AS g, tdigest(v, 100) AS tdigest " +
        "FROM tsv GROUP BY 1").createOrReplaceTempView("tsv_rollup")
    val med2 = PgDialect.sql(spark,
      "SELECT tdigest_percentile(tdigest, 0.5) AS p FROM tsv_rollup")
      .collect()(0).getDouble(0)
    assert(math.abs(med2 - 500.0) < 25.0, s"merged median $med2")
    val arr = PgDialect.sql(spark,
      "SELECT tdigest_percentile(v, 100, ARRAY[0.1, 0.9]) AS p FROM tsv")
      .collect()(0).getSeq[Double](0)
    assert(arr.length === 2 && arr(0) < arr(1))
    val cdf = PgDialect.sql(spark,
      "SELECT tdigest_percentile_of(v, 100, 250.0) AS f FROM tsv")
      .collect()(0).getDouble(0)
    assert(math.abs(cdf - 0.25) < 0.05, s"cdf estimate $cdf")
    // topn: exact counts above capacity pressure; PG's composite
    // expansion syntax (topn(agg, k)).* yields (item, frequency)
    Seq("a", "a", "a", "b", "b", "c").toDF("s")
      .createOrReplaceTempView("topn_src")
    val top = PgDialect.sql(spark,
      "SELECT (topn(topn_add_agg(s), 2)).* FROM topn_src")
    assert(top.columns.toSeq === Seq("item", "frequency"))
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 3L), ("b", 2L)))
    // union over stored maps
    PgDialect.sql(spark,
      "SELECT length(s) AS g, topn_add_agg(s) AS m FROM topn_src " +
        "GROUP BY 1").createOrReplaceTempView("topn_rollup")
    val top2 = PgDialect.sql(spark,
      "SELECT (topn(topn_union_agg(m), 1)).* FROM topn_rollup")
      .collect()(0)
    assert((top2.getString(0), top2.getLong(1)) === ("a", 3L))
    // hll extension spellings ride Spark's native Datasketches HLL
    val hll = PgDialect.sql(spark,
      "SELECT hll_cardinality(hll_union_agg(agg)) AS n FROM (" +
        "SELECT hll_add_agg(hll_hash_integer(n_nationkey)) AS agg " +
        "FROM nation GROUP BY n_regionkey) a")
      .collect()(0).getLong(0)
    assert(math.abs(hll - 25L) <= 1L, s"hll estimate $hll")
  }

  test("PgSession: CREATE FUNCTION / CREATE AGGREGATE surface — " +
      "strict and non-strict transition fns, initcond, finalfunc, " +
      "FILTER/DISTINCT/ORDER BY call forms (aggregate_support.sql " +
      "semantics)") {
    import spark.implicits._
    val sess = new graft.sql.PgSession(spark)
    // aggregate_support.sql:11-48 — sum2 doubles the sum via finalfunc;
    // the strict twin skips NULLs and seeds state from the first value
    Seq(
      """create function sum2_sfunc_strict(state int, x int)
         returns int immutable strict language plpgsql as $$
         begin return state + x;
         end; $$""",
      """create function sum2_finalfunc_strict(state int)
         returns int immutable strict language plpgsql as $$
         begin return state * 2;
         end; $$""",
      """create function sum2_sfunc(state int, x int)
         returns int immutable language plpgsql as $$
         begin return state + x;
         end; $$""",
      """create function sum2_finalfunc(state int)
         returns int immutable language plpgsql as $$
         begin return state * 2;
         end; $$""",
      """create aggregate sum2 (int) (
           sfunc = sum2_sfunc, stype = int,
           finalfunc = sum2_finalfunc, combinefunc = sum2_sfunc,
           initcond = '0')""",
      """create aggregate sum2_strict (int) (
           sfunc = sum2_sfunc_strict, stype = int,
           finalfunc = sum2_finalfunc_strict,
           combinefunc = sum2_sfunc_strict)""",
      // polymorphic first/last (aggregate_support.sql:330-350)
      """CREATE OR REPLACE FUNCTION first_agg(anyelement, anyelement)
         RETURNS anyelement AS $$
           SELECT CASE WHEN $1 IS NULL THEN $2 ELSE $1 END;
         $$ LANGUAGE SQL STABLE""",
      """CREATE AGGREGATE first (sfunc = first_agg,
           basetype = anyelement, stype = anyelement,
           combinefunc = first_agg)""")
      .foreach(s => assert(sess.execute(s).isEmpty))
    assert(sess.userAggregateNames.toSet ===
      Set("sum2", "sum2_strict", "first"))
    // aggdata rows for keys 1 and 2 (aggregate_support.sql:112):
    // key 1 carries a NULL val
    Seq((1, 1, Some(2), 11.2), (2, 1, None, 2.1), (3, 2, Some(2), 3.22),
      (4, 2, Some(3), 4.23), (5, 2, Some(5), 5.25))
      .toDF("id", "key", "val", "valf")
      .createOrReplaceTempView("aggdata_ua")
    val r = sess.execute(
      "select key, sum2(val), sum2_strict(val) " +
        "from aggdata_ua group by key order by key").get.collect()
    // PG: non-strict sum2 hits NULL state on key 1 → NULL; strict
    // twin skips the NULL row → 2*2=4. Key 2: both 2*(2+3+5)=20.
    assert(r.map(x => (x.getInt(0),
      Option(x.get(1)), Option(x.get(2)))).toSeq ===
      Seq((1, None, Some(4)), (2, Some(20), Some(20))))
    // FILTER: only vals with valf < 5 fold in. Key 1's sole surviving
    // row has val NULL — the non-strict transition poisons the state
    // (0 + NULL = NULL), exactly PG's result.
    val f = sess.execute(
      "select key, sum2(val) filter (where valf < 5) " +
        "from aggdata_ua group by key order by key").get.collect()
    assert(f.map(x => (x.getInt(0), Option(x.get(1)))).toSeq ===
      Seq((1, None), (2, Some(10))))
    // DISTINCT + ORDER BY forms execute; first(val ORDER BY id)
    val fo = sess.execute(
      "select key, first(val ORDER BY id), sum2(distinct val) " +
        "from aggdata_ua group by key order by key").get.collect()
    assert(fo.map(x => (x.getInt(0), Option(x.get(1)))).toSeq ===
      Seq((1, Some(2)), (2, Some(2))))
    // binstragg (aggregate_support.sql:301-320): 3-arg CASE-chain
    // transition over two text columns, no initcond, non-strict
    Seq(
      """create function binstragg_sfunc(s text, e1 text, e2 text)
         returns text immutable language plpgsql as $$
         begin case when coalesce(e1,'') > coalesce(s,'') and coalesce(e1,'') > coalesce(e2,'') then return e1;
                    when coalesce(e2,'') > coalesce(s,'') and coalesce(e2,'') > coalesce(e1,'') then return e2;
                    else return s;
               end case;
         end; $$""",
      """create aggregate binstragg(text, text)(
           sfunc=binstragg_sfunc, combinefunc=binstragg_combinefunc,
           stype=text)""")
      .foreach(s => assert(sess.execute(s).isEmpty))
    Seq((1, "aaaa", "bbbb"), (2, "cccc", "dddd"), (3, "zzzz", "yyyy"))
      .toDF("id", "col1", "col2").createOrReplaceTempView("txttbl_ua")
    assert(sess.execute("select binstragg(col1, col2) from txttbl_ua")
      .get.collect()(0).getString(0) === "zzzz")
    // DROP removes the surface
    sess.execute("DROP AGGREGATE sum2 (int)")
    assert(!sess.userAggregateNames.contains("sum2"))
  }

  test("PgSession: PREPARE/EXECUTE with $N parameters, DEALLOCATE") {
    Tables.registerAll(spark, TestSpark.sf)
    val sess = new graft.sql.PgSession(spark)
    assert(sess.execute(
      "PREPARE nation_by_region(int) AS " +
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = $1").isEmpty)
    val n = sess.execute("EXECUTE nation_by_region(1)")
      .get.collect()(0).getLong(0)
    assert(n === 5L)
    // parameters substitute per-execution; casts still rewrite
    assert(sess.execute(
      "PREPARE typed(text) AS SELECT $1::int + 1 AS v").isEmpty)
    assert(sess.execute("EXECUTE typed('41')")
      .get.collect()(0).getInt(0) === 42)
    sess.execute("DEALLOCATE nation_by_region")
    intercept[IllegalArgumentException] {
      sess.execute("EXECUTE nation_by_region(1)")
    }
    // non-session statements pass through the dialect
    assert(sess.execute("SELECT 1 AS one").get.collect()(0).getInt(0) === 1)
  }

  test("pg regex operators rewrite to RLIKE") {
    assert(PgDialect.rewriteRegexOps("SELECT * FROM t WHERE x ~ '^ab.*c$'")
      === "SELECT * FROM t WHERE x RLIKE '^ab.*c$'")
    assert(PgDialect.rewriteRegexOps("WHERE x !~ 'a' AND y ~* 'B'")
      === "WHERE NOT (x RLIKE 'a') AND y RLIKE '(?i)B'")
    Tables.registerAll(spark, TestSpark.sf)
    val n = PgDialect.sql(spark,
      "SELECT count(*) AS n FROM part WHERE p_name ~ 'widget$'")
      .collect()(0).getLong(0)
    val exact = Tables(spark, TestSpark.sf, "part")
      .filter(col("p_name").endsWith("widget")).count()
    assert(n === exact && n > 0)
  }

  test("DISTINCT ON rewrites to a row_number filter and runs") {
    Tables.registerAll(spark, TestSpark.sf)
    val df = PgDialect.sql(spark,
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey::int8
        FROM orders ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""")
    val n = df.count()
    val custs = Tables(spark, TestSpark.sf, "orders")
      .select("o_custkey").distinct().count()
    assert(n === custs)
  }

  test("PG json operators rewrite: -> / ->> / #> / #>> fold into one " +
      "get_json_object path") {
    assert(PgDialect.rewriteJsonOps("SELECT props ->> 'k' FROM e")
      === "SELECT get_json_object(props, '$.k') FROM e")
    assert(PgDialect.rewriteJsonOps("SELECT j -> 'a' ->> 'b' FROM e")
      === "SELECT get_json_object(j, '$.a.b') FROM e")
    assert(PgDialect.rewriteJsonOps("SELECT j -> 0 ->> 'x' FROM e")
      === "SELECT get_json_object(j, '$[0].x') FROM e")
    assert(PgDialect.rewriteJsonOps("SELECT j #>> '{a,2,b}' FROM e")
      === "SELECT get_json_object(j, '$.a[2].b') FROM e")
    // lambda arrows survive (operator needs a key/index on the right)
    assert(PgDialect.rewriteJsonOps("SELECT forall(a, x -> y(x)) FROM e")
      === "SELECT forall(a, x -> y(x)) FROM e")
    // ILIKE case-folds; NOT ILIKE keeps the negation
    assert(PgDialect.rewriteILike("WHERE c_name ILIKE '%Smith%'")
      === "WHERE lower(c_name) LIKE lower('%Smith%')")
    assert(PgDialect.rewriteILike("WHERE a NOT ILIKE 'x%' AND b LIKE 'y'")
      === "WHERE NOT lower(a) LIKE lower('x%') AND b LIKE 'y'")
    // end-to-end through translate incl. the paren cast
    val df = PgDialect.sql(spark,
      """SELECT (j ->> 'a')::int8 AS a, j -> 'n' ->> 'b' AS b
         FROM (SELECT '{"a": 7, "n": {"b": "x"}}' AS j)""")
    val r = df.collect()(0)
    assert(r.getLong(0) === 7L && r.getString(1) === "x")
  }

  test("prepared-statement parameters: $N binds as a real parameter " +
      "(multi_prepare_sql flavor)") {
    Tables.registerAll(spark, TestSpark.sf)
    val df = PgDialect.sqlParams(spark,
      """SELECT count(*) AS n FROM orders
         WHERE o_custkey = $1 AND o_orderstatus <> $2""", 7L, "X")
    val n = df.collect()(0).getLong(0)
    val exact = Tables(spark, TestSpark.sf, "orders")
      .filter(col("o_custkey") === 7L && col("o_orderstatus") =!= "X")
      .count()
    assert(n === exact)
    // binding, not splicing: a quote in the value cannot break the query
    val safe = PgDialect.sqlParams(spark,
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = $1",
      "O' OR '1'='1")
    assert(safe.collect()(0).getLong(0) === 0L)
  }

  test("COPY TO exports a query result; round-trips through the " +
      "written files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-copyto")
      .toString
    val src = Tables(spark, TestSpark.sf, "nation")
    Ingest.copyTo(src, s"$dir/nation_csv", "csv")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/nation_csv")
    assert(back.count() === src.count())
    assert(back.columns.sorted.toSeq === src.columns.sorted.toSeq)
  }

  test("explain analyze reports measured per-node metrics " +
      "(worker_save_query_explain_analyze)") {
    val df = Tables(spark, TestSpark.sf, "lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).count()
    val report = PlanChecks.explainAnalyze(df).collect()
    assert(report.nonEmpty)
    val scans = report.filter(_.getString(1).contains("FileSourceScan"))
    assert(scans.nonEmpty && scans.forall(_.getLong(2) > 0),
      "scan must report measured rows out")
    assert(report.exists(r => r.getString(1).contains("HashAggregate") &&
      r.getLong(2) > 0), "aggregate must report measured rows out")
  }

  test("dialect v3 rewrites: named windows, MATERIALIZED, limits, " +
      "generate_series, epoch, unordered rank") {
    assert(PgDialect.rewriteNamedWindows(
      "SELECT rank() OVER w FROM t WINDOW w AS (PARTITION BY a ORDER BY b)")
      .trim === "SELECT rank() OVER (PARTITION BY a ORDER BY b) FROM t")
    assert(PgDialect.rewriteFnNames("WITH c AS MATERIALIZED (SELECT 1) " +
      "SELECT * FROM c").contains("AS (SELECT 1)"))
    assert(PgDialect.rewritePgLimits("SELECT 1 LIMIT ALL").trim
      === "SELECT 1")
    assert(PgDialect.rewritePgLimits("SELECT 1 OFFSET 2 LIMIT 3")
      === "SELECT 1 LIMIT 3 OFFSET 2")
    assert(PgDialect.rewriteFnNames("FROM generate_series(1,5) s")
      .contains("explode(sequence(1,5)) AS s"))
    assert(PgDialect.rewriteFnNames("SELECT strpos(a, 'x')")
      === "SELECT instr(a, 'x')")
    assert(PgDialect.rewriteFnNames(
      "SELECT rank() OVER (PARTITION BY k)")
      === "SELECT rank() OVER (PARTITION BY k ORDER BY k)")
    // rewritten PG epoch matches Spark's native second-level epoch
    val ep = PgDialect.sql(spark,
      "SELECT extract(epoch from timestamp '2024-01-02 03:04:05') AS e")
      .collect()(0).getDouble(0)
    assert(ep === 1704164645.0)
    // DISTINCT ON with GROUP BY underneath and a LIMIT tail
    Tables.registerAll(spark, TestSpark.sf)
    val don = PgDialect.sql(spark,
      """SELECT DISTINCT ON (o_orderstatus) o_orderstatus, count(*)
         FROM orders GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, count(*) DESC LIMIT 2""").collect()
    assert(don.length === 2 &&
      don.map(_.getString(0)).distinct.length === 2)
  }

  test("PG array operators rewrite: @> / <@ / && and ARRAY literals") {
    assert(PgDialect.rewriteArrayOps("WHERE tags @> ARRAY['a','b']")
      === "WHERE forall(array('a','b'), __x -> array_contains(tags, __x))")
    // operators INSIDE string literals must survive verbatim
    assert(PgDialect.rewriteArrayOps("WHERE c ~ 'x && y' AND a && b")
      === "WHERE c ~ 'x && y' AND arrays_overlap(a, b)")
    assert(PgDialect.rewriteArrayOps("SELECT 'p @> q' AS s")
      === "SELECT 'p @> q' AS s")
    assert(PgDialect.rewriteArrayOps("WHERE a <@ b AND c && d")
      === "WHERE forall(a, __x -> array_contains(b, __x)) " +
        "AND arrays_overlap(c, d)")
    val rows = PgDialect.sql(spark,
      """SELECT id FROM VALUES (1, ARRAY['a','b','c']), (2, ARRAY['x']),
          (3, ARRAY['b']) AS t(id, tags)
        WHERE tags @> ARRAY['a','b'] OR tags && ARRAY['x','y']
        ORDER BY id""").collect().map(_.getInt(0)).toSeq
    assert(rows === Seq(1, 2))
    val contained = PgDialect.sql(spark,
      """SELECT id FROM VALUES (1, ARRAY['a','b']), (2, ARRAY['a','z'])
          AS t(id, tags)
        WHERE tags <@ ARRAY['a','b','c'] ORDER BY id""")
      .collect().map(_.getInt(0)).toSeq
    assert(contained === Seq(1))
  }

  test("bulk load -> distributed table -> insertSelect append") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest")
    // stage some CSV input (COPY-style source)
    Tables(spark, TestSpark.sf, "customer")
      .write.mode("overwrite").option("header", "true")
      .csv(s"$tmp/customer_csv")
    Ingest.bulkLoad(spark, s"$tmp/customer_csv", "csv",
      "ing_customer", "c_custkey", buckets = 4,
      options = Map("header" -> "true", "inferSchema" -> "true"))
    val n0 = spark.table("ing_customer").count()
    assert(n0 === Tables(spark, TestSpark.sf, "customer").count())
    // INSERT ... SELECT doubles the rows, layout preserved
    Ingest.insertSelect(spark,
      spark.table("ing_customer").withColumn("c_custkey",
        col("c_custkey") + 1000000), "ing_customer")
    assert(spark.table("ing_customer").count() === n0 * 2)
    val spec = DistributionCatalog.spec(spark, "ing_customer").get
    assert(spec.bucketCount === 4 &&
      spec.distColumn.contains("c_custkey"))
  }

  test("reference tables auto-broadcast via the optimizer rule") {
    // the threshold is a runtime conf: turn auto-broadcast off on the
    // shared session for this test and restore it afterwards
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedThreshold = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      DistributionCatalog.createDistributedTable(spark,
        Tables(spark, TestSpark.sf, "orders"), "ext_orders", "o_orderkey",
        buckets = 4)
      DistributionCatalog.createReferenceTable(spark,
        Tables(spark, TestSpark.sf, "nation"), "ext_nation")
      // no explicit broadcast() and threshold is -1: only the rule can
      // make this a BroadcastHashJoin
      val j = spark.table("ext_orders")
        .join(spark.table("ext_nation"),
          col("o_custkey") % 25 === col("n_nationkey"))
      assert(PlanChecks.hasBroadcastHashJoin(j))
      // SQL function registration
      val sig = spark.sql(
        "SELECT simhash64(array('a','b','c')) AS s").collect()(0).getLong(0)
      assert(sig !== 0L)

      // LIMIT approximation rule: with the GUC-analogue conf set, each
      // partition feeds at most N rows into the aggregate.
      import graft.plans.ApproximateLimit
      val grouped = Tables(spark, TestSpark.sf, "lineitem")
        .groupBy(col("l_partkey")).count().limit(5)
      def aggInputLimited(plan: org.apache.spark.sql.DataFrame): Boolean =
        plan.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if a.child.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.LocalLimit] => a
        }.nonEmpty
      assert(!aggInputLimited(grouped)) // off by default
      spark.conf.set(ApproximateLimit.ConfKey, "100")
      try {
        val approx = Tables(spark, TestSpark.sf, "lineitem")
          .groupBy(col("l_partkey")).count().limit(5)
        assert(aggInputLimited(approx))
        assert(approx.collect().length === 5)
      } finally spark.conf.set(ApproximateLimit.ConfKey, "0")

      // count(DISTINCT) error-rate rule: conf >0 replans the exact
      // distinct count as a HyperLogLog++ sketch.
      import graft.plans.ApproxCountDistinct
      def hllPlanned(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if a.aggregateExpressions.exists(_.exists {
                case _: org.apache.spark.sql.catalyst.expressions.aggregate
                  .HyperLogLogPlusPlus => true
                case _ => false
              }) => a
        }.nonEmpty
      val li = Tables(spark, TestSpark.sf, "lineitem")
      val exactDf = li.agg(countDistinct(col("l_partkey")).as("n"))
      assert(!hllPlanned(exactDf)) // off by default
      val exact = exactDf.collect()(0).getLong(0)
      spark.conf.set(ApproxCountDistinct.ConfKey, "0.02")
      try {
        val approxDf = li.agg(countDistinct(col("l_partkey")).as("n"))
        assert(hllPlanned(approxDf))
        val est = approxDf.collect()(0).getLong(0)
        assert(math.abs(est - exact).toDouble / exact < 0.05,
          s"HLL estimate $est vs exact $exact")
      } finally spark.conf.set(ApproxCountDistinct.ConfKey, "0")

      // PgSession maps the citus GUC onto the rule's conf: SETting
      // citus.count_distinct_error_rate flips the same plan to HLL
      locally {
        val psess = new graft.sql.PgSession(spark)
        psess.execute("SET citus.count_distinct_error_rate = 0.02")
        try assert(hllPlanned(
          li.agg(countDistinct(col("l_partkey")).as("n"))))
        finally psess.execute("RESET citus.count_distinct_error_rate")
        assert(!hllPlanned(
          li.agg(countDistinct(col("l_partkey")).as("n"))))
      }

      // range-join rewrite rule: a bare containment join (no equi
      // predicate, broadcast off) planned as a nested loop/cartesian
      // becomes a binned hash join with identical results.
      import graft.plans.RangeJoinRewrite
      def planNames(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        df.write.format("noop").mode("overwrite").save()
        def all(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] =
          Seq(p) ++ p.children.flatMap(all) ++ (p match {
            case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => all(a.executedPlan)
            case _ => Nil
          })
        all(df.queryExecution.executedPlan).map(_.getClass.getSimpleName)
      }
      val pts = Tables(spark, TestSpark.sf, "orders")
        .select(col("o_orderkey"), col("o_orderdate").as("ts"))
      val iv = pts.select(date_trunc("month", col("ts")).as("ws")).distinct()
        .select(col("ws"), (col("ws") + expr("INTERVAL 10 DAYS")).as("we"))
      def contained = pts.join(iv,
        col("ts") >= col("ws") && col("ts") < col("we"))
      val offNames = planNames(contained)
      assert(offNames.exists(n => n.contains("NestedLoop") ||
        n.contains("Cartesian")), s"expected a loop join when off: $offNames")
      val offRows = contained.count()
      spark.conf.set(RangeJoinRewrite.ConfKey, "86400")
      try {
        val onNames = planNames(contained)
        assert(!onNames.exists(n => n.contains("NestedLoop") ||
          n.contains("Cartesian")), s"rewrite must remove the loop: $onNames")
        assert(onNames.exists(n => n.contains("HashJoin") ||
          n.contains("SortMergeJoin")), s"expected an equi join: $onNames")
        assert(contained.count() === offRows, "rewrite must not change rows")
        // flipped orientation: interval side on the left, point on the
        // right — the rule must detect and rewrite this too
        val flipped = iv.join(pts,
          col("ts") >= col("ws") && col("ts") < col("we"))
        val flipNames = planNames(flipped)
        assert(!flipNames.exists(n => n.contains("NestedLoop") ||
          n.contains("Cartesian")), s"flipped rewrite missing: $flipNames")
        assert(flipped.count() === offRows)
      } finally spark.conf.set(RangeJoinRewrite.ConfKey, "0")

      // repartition-join guard (citus.enable_repartition_joins OFF):
      // non-colocated distributed⋈distributed raises; the colocated
      // dist-key join and reference joins still pass.
      import graft.plans.RepartitionJoinGuard
      DistributionCatalog.createDistributedTable(spark,
        Tables(spark, TestSpark.sf, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "ext_lineitem", "o_orderkey", buckets = 4,
        colocateWith = Some("ext_orders"))
      spark.conf.set(RepartitionJoinGuard.ConfKey, "false")
      try {
        assert(spark.table("ext_orders")
          .join(spark.table("ext_lineitem"), "o_orderkey")
          .count() > 0, "colocated dist-key join must pass the guard")
        assert(spark.table("ext_orders")
          .join(spark.table("ext_nation"),
            col("o_custkey") % 25 === col("n_nationkey"))
          .count() > 0, "reference join must pass the guard")
        val bad = spark.table("ext_orders")
          .join(spark.table("ext_lineitem")
              .withColumnRenamed("o_orderkey", "lk"),
            col("o_custkey") === col("lk"))
        val ex = intercept[Throwable] { bad.count() }
        def allMsgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e =>
            Option(e.getMessage).toSeq ++ allMsgs(e.getCause))
        assert(allMsgs(ex).exists(_.contains("requires repartitioning")),
          s"unexpected failure: $ex")
        // a dist-key equality hidden inside an OR disjunct does NOT
        // guarantee colocated execution — the guard must still raise
        val lo = spark.table("ext_orders")
        val li = spark.table("ext_lineitem")
        val orJoin = lo.join(li,
          lo("o_orderkey") === li("o_orderkey") ||
            lo("o_custkey") === li("l_partkey"))
        val ex2 = intercept[Throwable] { orJoin.count() }
        assert(allMsgs(ex2).exists(_.contains("requires repartitioning")),
          s"OR-disjunct join must not pass the guard: $ex2")
      } finally spark.conf.set(RepartitionJoinGuard.ConfKey, "true")
    } finally spark.conf.set(thresholdKey, savedThreshold)
  }

  test("function-scan macro expansion: JOIN f(args) alias ON ... " +
      "inlines registered SQL/plpgsql bodies with PG column naming") {
    import graft.sql.TableFunctions
    TableFunctions.clear()
    try {
      spark.range(1, 21).selectExpr("CAST(id AS INT) AS id",
        "CAST(id * id AS INT) AS data")
        .createOrReplaceTempView("fn_t1")
      // scalar SQL function, positional params: alias names the column
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION add(integer, integer) RETURNS integer " +
          "AS 'SELECT $1 + $2;' LANGUAGE SQL"))
      val r1 = PgDialect.sql(spark,
        "SELECT * FROM fn_t1 JOIN add(3,5) sum ON (id = sum)")
        .collect()
      assert(r1.length === 1 && r1.head.getInt(0) === 8)
      // plpgsql RETURN expr with a named parameter
      assert(TableFunctions.registerFromCreate(
        "CREATE OR REPLACE FUNCTION increment(i integer) RETURNS " +
          "integer AS $$ BEGIN RETURN i + 1; END; $$ LANGUAGE plpgsql"))
      val r2 = PgDialect.sql(spark,
        "SELECT * FROM fn_t1 JOIN increment(2) val ON (id = val)")
        .collect()
      assert(r2.length === 1 && r2.head.getInt(0) === 3)
      // RETURNS TABLE: declared column names bind in the ON clause
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION dup(int) RETURNS TABLE(f1 int, f2 text) AS " +
          "$$ SELECT $1, CAST($1 AS text) || ' is text' $$ LANGUAGE SQL"))
      val r3 = PgDialect.sql(spark,
        "SELECT f.* FROM fn_t1 t JOIN dup(16) f ON (f1 = id)").collect()
      assert(r3.length === 1 && r3.head.getString(1) === "16 is text")
      // SETOF with OUT param name + DEFAULT argument
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION next_k(IN first_value INTEGER, IN k INTEGER " +
          "DEFAULT 3, OUT result INTEGER) RETURNS SETOF INTEGER AS $$ " +
          "BEGIN RETURN QUERY SELECT x FROM " +
          "generate_series(first_value, first_value+k-1) f(x); END; " +
          "$$ LANGUAGE plpgsql"))
      val r4 = PgDialect.sql(spark,
        "SELECT * FROM fn_t1 JOIN next_k(3,2) nk ON (id = nk.result) " +
          "ORDER BY id").collect()
      assert(r4.map(_.getInt(0)).toSeq === Seq(3, 4))
      val r5 = PgDialect.sql(spark, // DEFAULT k=3
        "SELECT * FROM fn_t1 JOIN next_k(7) nk ON (id = nk.result) " +
          "ORDER BY id").collect()
      assert(r5.map(_.getInt(0)).toSeq === Seq(7, 8, 9))
      // built-in scalar as a function scan
      val r6 = PgDialect.sql(spark,
        "SELECT * FROM fn_t1 JOIN abs(10) AS ten ON (id = ten)")
        .collect()
      assert(r6.length === 1 && r6.head.getInt(0) === 10)
    } finally TableFunctions.clear()
  }

  test("correlated scalar subquery with an outer-only GROUP BY drops " +
      "the constant grouping — semantics preserved incl. the " +
      "empty-input case (0 groups ≡ NULL in comparison position)") {
    import spark.implicits._
    Seq((1, 5), (1, 9), (2, 3), (3, 7)).toDF("user_id", "value_2")
      .createOrReplaceTempView("gbo_users")
    Seq((1, 4), (1, 8), (2, 10)).toDF("user_id", "value_2")
      .createOrReplaceTempView("gbo_events")
    // user 1: max=8 → 9>8 qualifies; user 2: 3>10 no; user 3: no
    // events → grouped-empty ≡ NULL → no
    val got = PgDialect.sql(spark,
      "SELECT user_id FROM gbo_users WHERE value_2 > " +
        "(SELECT max(value_2) FROM gbo_events WHERE " +
        "gbo_users.user_id = gbo_events.user_id " +
        "GROUP BY gbo_users.user_id) ORDER BY user_id")
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(1))
    // expression form: GROUP BY (outer.col * 2)
    val got2 = PgDialect.sql(spark,
      "SELECT user_id FROM gbo_users WHERE value_2 > " +
        "(SELECT max(value_2) FROM gbo_events WHERE " +
        "gbo_users.user_id = gbo_events.user_id " +
        "GROUP BY (gbo_users.user_id * 2)) ORDER BY user_id")
      .collect().map(_.getInt(0)).toSeq
    assert(got2 === Seq(1))
  }

  test("ROWS FROM zips SRF outputs by generation order (not value " +
      "order); a WITH ORDINALITY site skips without blocking later " +
      "expansions") {
    import graft.sql.TableFunctions
    TableFunctions.clear()
    try {
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION desc_ser(a integer, b integer) RETURNS SETOF " +
          "integer AS $$ SELECT * FROM generate_series(a, b, -1) g(x) " +
          "$$ LANGUAGE SQL"))
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION asc_ser(a integer, b integer) RETURNS SETOF " +
          "integer AS $$ SELECT * FROM generate_series(a, b) g(x) " +
          "$$ LANGUAGE SQL"))
      // PG zips ROWS FROM positionally: the descending series must
      // keep its own output order, pairing (5,1),(4,2),(3,3),(2,4),(1,5)
      val r = PgDialect.sql(spark,
        "SELECT a, b FROM ROWS FROM (desc_ser(5,1), asc_ser(1,5)) " +
          "AS f(a, b) ORDER BY b").collect()
      assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq ===
        Seq((5, 1), (4, 2), (3, 3), (2, 4), (1, 5)))
      // A WITH ORDINALITY call site is not expressible via this
      // rewrite — it must be SKIPPED, and any other registered
      // function scan in the same statement must still expand.
      assert(TableFunctions.registerFromCreate(
        "CREATE FUNCTION add2(integer, integer) RETURNS integer AS " +
          "'SELECT $1 + $2;' LANGUAGE SQL"))
      val expanded = TableFunctions.expand(
        "SELECT * FROM asc_ser(1,3) WITH ORDINALITY AS g(x, ord) " +
          "JOIN add2(1,2) s ON (x = s)")
      assert(expanded.contains("WITH ORDINALITY"),
        s"ordinality site must be left as-is: $expanded")
      assert(!"""(?is).*JOIN\s+add2\s*\(.*""".r.matches(expanded),
        s"add2 site must still expand: $expanded")
    } finally TableFunctions.clear()
  }
}
