package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PG surface extras exercised by the reference's regression corpus
  * beyond the core inventory: string_agg, median, percent_rank /
  * cume_dist, and the common PG string helpers (ilike, initcap,
  * split_part, left/right, repeat, starts_with).
  */
object PgExtraQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** PG string_agg (ordered) ≙ sorted collect_list joined. */
  private val stringAgg = GraftQuery(
    "agg_string_agg",
    (s, dir) =>
      t(s, dir, "supplier")
        .filter(col("s_suppkey") <= 30)
        .groupBy(col("s_nationkey"))
        .agg(
          array_join(array_sort(collect_list(col("s_name"))), ";")
            .as("suppliers"),
          count(lit(1)).as("n"))
        .orderBy(col("s_nationkey")),
    Some("""SELECT s_nationkey,
      string_agg(s_name, ';' ORDER BY s_name) AS suppliers, COUNT(*) AS n
      FROM supplier WHERE s_suppkey <= 30
      GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** median (percentile_cont 0.5) over integer-valued quantities —
    * interpolation on ints is exact in double. */
  private val medianAgg = GraftQuery(
    "agg_median",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          median(col("l_quantity")).as("med_qty"),
          median(col("l_linenumber")).as("med_line"))
        .orderBy(col("l_linestatus")),
    Some("""SELECT l_linestatus,
      median(l_quantity) AS med_qty,
      median(CAST(l_linenumber AS DOUBLE)) AS med_line
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** percent_rank / cume_dist (rank arithmetic — deterministic). */
  private val pctRank = GraftQuery(
    "window_percent_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_mktsegment"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment,
      PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd
      FROM customer WHERE c_custkey <= 300
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey"""))

  /** PG string helper battery. */
  private val pgStrings = GraftQuery(
    "scalar_pg_string_extras",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 200)
        .select(
          col("p_partkey"),
          col("p_name").ilike("%PART%").as("ilike_part"),
          initcap(lower(col("p_type"))).as("type_title"),
          split_part(col("p_brand"), lit("#"), lit(2)).as("brand_num"),
          substring(col("p_name"), 1, 4).as("left4"),
          col("p_name").startsWith("part").as("starts_part"),
          repeat(lit("*"), col("p_size") % 5).as("stars"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      p_name ILIKE '%PART%' AS ilike_part,
      -- DuckDB 1.0 lacks initcap; single-word types so title-case by hand
      upper(substring(p_type, 1, 1)) || lower(substring(p_type, 2))
        AS type_title,
      split_part(p_brand, '#', 2) AS brand_num,
      substring(p_name, 1, 4) AS left4,
      starts_with(p_name, 'part') AS starts_part,
      repeat('*', p_size % 5) AS stars,
      concat_ws('/', p_brand, p_type) AS brand_type
      FROM part WHERE p_partkey <= 200 ORDER BY p_partkey"""))

  /** corr / covar_samp from exact decimal moments (same discipline as
    * agg_stddev_variance: both engines derive identical doubles from
    * bit-identical exact sums; rounded to absorb FMA divergence). */
  private val corrCovar = GraftQuery(
    "agg_corr_covar",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val x = col("l_quantity").cast(DecimalType(12, 2))
      val y = col("l_extendedprice").cast(DecimalType(12, 2))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(y).cast(DoubleType).as("sy"),
          sum(x * y).cast(DoubleType).as("sxy"),
          sum(x * x).cast(DoubleType).as("sxx"),
          sum(y * y).cast(DoubleType).as("syy"))
        .select(
          col("l_returnflag"), col("n"),
          round((col("sxy") * col("n") - col("sx") * col("sy")) /
            (col("n") * (col("n") - lit(1))), 4).as("covar_samp"),
          round((col("sxy") * col("n") - col("sx") * col("sy")) /
            (sqrt(col("sxx") * col("n") - col("sx") * col("sx")) *
             sqrt(col("syy") * col("n") - col("sy") * col("sy"))), 8)
            .as("corr"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        round((sxy * n - sx * sy) / (n * (n - 1)), 4) AS covar_samp,
        round((sxy * n - sx * sy) /
          (sqrt(sxx * n - sx * sx) * sqrt(syy * n - sy * sy)), 8) AS corr
      FROM m ORDER BY l_returnflag"""))

  /** Ordered aggregates keyed by a DIFFERENT column —
    * `string_agg(x ORDER BY y DESC)` / `array_agg(x ORDER BY y DESC)`.
    * The reference ERRORS on any ORDER BY inside an aggregate
    * (`DeferErrorIfUnsupportedArrayAggregate`,
    * multi_logical_optimizer.c:312) because per-shard partials can't be
    * order-merged; Spark can, via collect_list of (key, value) structs
    * sorted after the merge — the sort happens once per group on the
    * final side, so the partial/merge stages stay order-free exactly
    * like citus's, and we EXCEED the reference. DESC via negated key;
    * value ASC tie-break matches the oracle's ORDER BY list. */
  private val orderedAgg = GraftQuery(
    "agg_ordered_by_other",
    (s, dir) => {
      val kv = struct((-col("s_acctbal")).as("k"), col("s_name").as("v"))
      t(s, dir, "supplier")
        .filter(col("s_suppkey") <= 30)
        .groupBy(col("s_nationkey"))
        .agg(
          array_join(transform(array_sort(collect_list(kv)),
            x => x.getField("v")), ";").as("by_balance"),
          // array_agg(ORDER BY) itself, surfaced as its first element
          // (raw array columns don't round-trip the driver's hash gate)
          transform(array_sort(collect_list(kv)), x => x.getField("v"))
            .getItem(0).as("top_by_balance"),
          count(lit(1)).as("n"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey,
      string_agg(s_name, ';' ORDER BY s_acctbal DESC, s_name)
        AS by_balance,
      (list(s_name ORDER BY s_acctbal DESC, s_name))[1]
        AS top_by_balance,
      COUNT(*) AS n
      FROM supplier WHERE s_suppkey <= 30
      GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** The PG dialect front end driven end-to-end as a query: `::` casts,
    * DISTINCT ON, and a `~` regex-match operator in ONE statement,
    * translated (sql/PgDialect) and executed by Spark. DuckDB happens
    * to support DISTINCT ON natively, so the oracle runs the genuine
    * form with its own regexp function — an independent execution of
    * the same PG semantics. */
  private val dialectRoundtrip = GraftQuery(
    "pg_dialect_roundtrip",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT DISTINCT ON (c_nationkey) c_nationkey,
            c_custkey::int8 AS custkey, c_acctbal
          FROM customer WHERE c_name ~ 'er'
          ORDER BY c_nationkey, c_acctbal DESC, c_custkey""")
        .orderBy(col("c_nationkey"))
    },
    Some("""SELECT DISTINCT ON (c_nationkey) c_nationkey,
        CAST(c_custkey AS BIGINT) AS custkey, c_acctbal
      FROM customer WHERE regexp_matches(c_name, 'er')
      ORDER BY c_nationkey, c_acctbal DESC, c_custkey"""))

  /** PG json operators (`->>`, `#>>`) through the dialect front end —
    * the jsonb accessor surface of the reference corpus
    * (multi_jsonb_agg.sql uses jsonb as data). DuckDB runs its genuine
    * json_extract_string on the same strings. */
  private val jsonOps = GraftQuery(
    "pg_json_ops",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT event_type,
             COUNT(*) AS n,
             SUM((props ->> 'k')::int8) AS sum_k,
             MAX((props #>> '{k}')::int8) AS max_k
           FROM events
           WHERE (props ->> 'k')::int8 > 50
           GROUP BY event_type ORDER BY event_type""")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
      GROUP BY event_type ORDER BY event_type"""))

  /** PG `CREATE FUNCTION` + `CREATE AGGREGATE` through PgSession
    * ([[graft.sql.UserAggregates]]) — the reference's user-defined-
    * aggregate distribution surface (`AGGREGATE_CUSTOM_COMBINE` /
    * `ROW_GATHER`, multi_logical_optimizer.c:2165-2192,1652-1708;
    * corpus aggregate_support.sql). The session defines sum2 (initcond
    * fold + finalfunc ×2) and a strict first-value aggregate (NULL
    * initcond seeds state from the first input, ORDER BY inside the
    * call), then runs them with and without FILTER; DuckDB computes
    * the closed forms. */
  private val createAggregate = GraftQuery(
    "pg_create_aggregate",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      val sess = new graft.sql.PgSession(s)
      Seq(
        """create function s2_sfunc(state bigint, x bigint)
           returns bigint immutable language plpgsql as $$
           begin return state + x; end; $$""",
        """create function s2_final(state bigint)
           returns bigint immutable language plpgsql as $$
           begin return state * 2; end; $$""",
        """create function fv_sfunc(state int, x int)
           returns int immutable strict language plpgsql as $$
           begin return state; end; $$""",
        """create aggregate sum2 (bigint) (sfunc = s2_sfunc,
             stype = bigint, finalfunc = s2_final,
             combinefunc = s2_sfunc, initcond = '0')""",
        """create aggregate firstv (int) (sfunc = fv_sfunc,
             stype = int, combinefunc = fv_sfunc)""")
        .foreach(sess.execute)
      sess.execute(
        """SELECT l_returnflag,
             sum2(l_quantity::bigint) AS doubled_qty,
             sum2(l_quantity::bigint)
               filter (where l_discount > 0.05) AS doubled_qty_hi,
             firstv(l_suppkey::int
               ORDER BY l_orderkey, l_linenumber) AS first_supp
           FROM lineitem GROUP BY 1 ORDER BY 1""").get
    },
    Some("""SELECT l_returnflag,
        CAST(2 * SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
          AS doubled_qty,
        CAST(2 * SUM(CAST(l_quantity AS BIGINT))
          FILTER (WHERE l_discount > 0.05) AS BIGINT) AS doubled_qty_hi,
        CAST(FIRST(CAST(l_suppkey AS INT)
          ORDER BY l_orderkey, l_linenumber) AS INT) AS first_supp
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** string_agg(DISTINCT x ORDER BY x) — PG's distinct ordered
    * aggregate ≙ sorted collect_set joined (dedup before format,
    * order-free partials). */
  private val stringAggDistinct = GraftQuery(
    "agg_string_agg_distinct",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .groupBy(col("o_custkey"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ";")
            .as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_distinct"))
        .orderBy(col("o_custkey")),
    Some("""SELECT o_custkey,
        string_agg(DISTINCT o_orderpriority, ';' ORDER BY o_orderpriority)
          AS priorities,
        COUNT(DISTINCT o_orderpriority) AS n_distinct
      FROM orders WHERE o_custkey < 200
      GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Equi-width histogram (PG `width_bucket` family): data-driven
    * [min,max) from one tiny aggregate broadcast, then a map-side
    * bucket assignment + one grouped count — the two-pass histogram
    * every OLAP engine ships. Bucket math in integer-exact arithmetic
    * (cents) so the oracle matches bit-for-bit. */
  private val histogram = GraftQuery(
    "agg_histogram",
    (s, dir) => {
      val B = 10
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_totalprice") * 100).cast("long").as("cents"))
      val bounds = o.agg(min(col("cents")).as("lo"),
        (max(col("cents")) + 1).as("hi"))
      o.crossJoin(broadcast(bounds))
        .select(least(lit(B - 1),
          floor((col("cents") - col("lo")) * B /
            (col("hi") - col("lo")))).cast("int").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
    Some("""WITH c AS (SELECT o_orderkey,
          CAST(o_totalprice * 100 AS BIGINT) AS cents FROM orders),
        b AS (SELECT MIN(cents) AS lo, MAX(cents) + 1 AS hi FROM c)
      SELECT CAST(least(9, floor((cents - lo) * 10 / (hi - lo))) AS INT)
          AS bucket,
        COUNT(*) AS n
      FROM c, b GROUP BY 1 ORDER BY 1"""))

  /** A statement from the reference's OWN regression corpus
    * (multi_orderby_limit_pushdown.sql), verbatim, inside the
    * hash-checked oracle gate. Its input is [[BehavioralFixture]], a
    * seeded in-repo reconstruction with the reference's `users_table`
    * schema: Spark runs the statement through the dialect and DuckDB
    * reads the same rendered rows — both engines, same query, same
    * rows. Wrapped in a column-aliasing derived table because the two
    * engines name unaliased computed columns differently. */
  private val refVerbatim = GraftQuery(
    "ref_verbatim_orderby_limit",
    (s, dir) => {
      s.sql(BehavioralFixture.sql.users)
        .createOrReplaceTempView("ref_users_table")
      graft.sql.PgDialect.sql(s,
        """SELECT * FROM (SELECT user_id, sum(value_1) + sum(value_2)
           FROM ref_users_table GROUP BY user_id
           ORDER BY 2 DESC LIMIT 1) AS v(user_id, total)""")
    },
    Some(s"""SELECT user_id, CAST(total AS BIGINT) AS total FROM (
        SELECT user_id, sum(value_1) + sum(value_2) AS total
        FROM (${BehavioralFixture.sql.users}) AS ref_users_table
        GROUP BY user_id ORDER BY 2 DESC LIMIT 1)"""))

  /** Both [[BehavioralFixture]] tables as the temp views the
    * window/subquery corpus names; the oracle's matching CTEs. */
  private def behavioralViews(s: SparkSession): Unit = {
    s.sql(BehavioralFixture.sql.users).createOrReplaceTempView("users_table")
    s.sql(BehavioralFixture.sql.events)
      .createOrReplaceTempView("events_table")
  }
  private def behavioralCtes: String =
    s"""WITH users_table AS (${BehavioralFixture.sql.users}),
        events_table AS (${BehavioralFixture.sql.events})"""

  /** A second reference-verbatim gate statement, this one stacking
    * DISTINCT ON + a named WINDOW + a join + a LIMIT tail
    * (window_functions.sql) over both [[BehavioralFixture]] tables —
    * DuckDB runs its native DISTINCT ON/WINDOW syntax, Spark runs the
    * dialect's two-level rewrite with the window inlined, both over
    * the same rendered rows. */
  private val refVerbatimWin = GraftQuery(
    "ref_verbatim_window_distinct_on",
    (s, dir) => {
      behavioralViews(s)
      graft.sql.PgDialect.sql(s,
        """SELECT DISTINCT ON (events_table.user_id, rnk)
             events_table.user_id, rank() OVER my_win AS rnk
           FROM events_table, users_table
           WHERE users_table.user_id = events_table.user_id
           WINDOW my_win AS (PARTITION BY events_table.user_id,
             users_table.value_1 ORDER BY events_table.time DESC)
           ORDER BY rnk DESC, 1 DESC LIMIT 10""")
    },
    Some(s"""$behavioralCtes
      SELECT DISTINCT ON (events_table.user_id, rnk)
        events_table.user_id, rank() OVER my_win AS rnk
      FROM events_table, users_table
      WHERE users_table.user_id = events_table.user_id
      WINDOW my_win AS (PARTITION BY events_table.user_id,
        users_table.value_1 ORDER BY events_table.time DESC)
      ORDER BY rnk DESC, 1 DESC LIMIT 10"""))

  /** Third reference-verbatim gate statement: quantified comparisons
    * over subqueries (`> ALL` with GROUP BY, correlated `< ANY`) in
    * the shape of multi_subquery_in_where_reference_clause.sql, over
    * both [[BehavioralFixture]] tables —
    * DuckDB runs PG's native ANY/ALL syntax, Spark runs the dialect's
    * NULL-faithful EXISTS rewrites. (max, not avg, as the inner
    * aggregate: order-free, so both engines agree bit-exactly.) */
  private val refVerbatimQuant = GraftQuery(
    "ref_verbatim_quantified_all",
    (s, dir) => {
      behavioralViews(s)
      graft.sql.PgDialect.sql(s,
        """SELECT user_id, count(*) AS cnt
           FROM users_table
           WHERE value_2 >= ALL (SELECT max(value_3) FROM events_table
                                WHERE event_type > 4
                                GROUP BY event_type)
             AND value_1 < ANY (SELECT value_2 FROM events_table
                                WHERE events_table.user_id =
                                  users_table.user_id)
           GROUP BY user_id
           ORDER BY cnt DESC, user_id LIMIT 10""")
    },
    Some(s"""$behavioralCtes
      SELECT user_id, count(*) AS cnt
      FROM users_table
      WHERE value_2 >= ALL (SELECT max(value_3) FROM events_table
                           WHERE event_type > 4 GROUP BY event_type)
        AND value_1 < ANY (SELECT value_2 FROM events_table
                           WHERE events_table.user_id =
                             users_table.user_id)
      GROUP BY user_id
      ORDER BY cnt DESC, user_id LIMIT 10"""))

  /** SQL/JSON `JSON_TABLE` document shredding (PG17; reference corpus
    * pg17_json.sql, planned there like a recurring-tuples function
    * scan — `multi_logical_planner.c` treats it as reference-table-
    * like). Here it compiles to a pure
    * `inline(flatten(transform(...)))` expression chain — depth-1
    * lateral correlation, whole-stage codegen, no UDFs — so the
    * shredding runs wherever the scan runs at any scale. The oracle
    * is the hand-computed PG-semantics shred of the fixed document
    * (nested films repeat the favorite's ordinality and kind; PG's
    * own golden shape). */
  private val jsonTableShred = GraftQuery(
    "json_table_shred",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT jt.* FROM
             (SELECT '{ "favorites" : [
                { "kind" : "comedy", "films" : [
                    { "title" : "Bananas", "director" : "Woody Allen"},
                    { "title" : "The Dinner Game", "director" : "Francis Veber" } ] },
                { "kind" : "horror", "films" : [
                    { "title" : "Psycho", "director" : "Alfred Hitchcock" } ] },
                { "kind" : "drama", "films" : [] }
               ] }' AS js) my_films,
             JSON_TABLE ( js, '$.favorites[*]' COLUMNS (
               ord FOR ORDINALITY,
               kind text PATH '$.kind',
               NESTED PATH '$.films[*]' COLUMNS (
                 title text PATH '$.title',
                 director text PATH '$.director'))) AS jt
           ORDER BY 1, 3""")
    },
    Some("""SELECT * FROM (VALUES
        (1, 'comedy', 'Bananas', 'Woody Allen'),
        (1, 'comedy', 'The Dinner Game', 'Francis Veber'),
        (2, 'horror', 'Psycho', 'Alfred Hitchcock'),
        (3, 'drama', NULL, NULL))
        AS t(ord, kind, title, director) ORDER BY 1, 3"""))

  /** JSON_EXISTS as a scan predicate over the events table's props
    * column — the path-hit test pushes into the row filter (one
    * map-side pass, no shuffle beyond the aggregation). */
  private val jsonExistsFilter = GraftQuery(
    "json_exists_filter",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT event_type, count(*) AS n
           FROM events
           WHERE JSON_EXISTS(props, '$.k')
           GROUP BY event_type ORDER BY event_type""")
    },
    Some("""SELECT event_type, COUNT(*) AS n FROM events
      WHERE json_extract(props, '$.k') IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  /** PG range types through the dialect: a constant `int4range`/
    * `daterange` containing a column element compiles to plain bound
    * comparisons (reference: src/test/regress/sql/sqlancer_failures
    * .sql:236 int4range algebra, pg15.sql:631 daterange columns), so
    * the predicate reaches the parquet scan — range semantics with
    * zero runtime carrier cost. DuckDB runs the equivalent explicit
    * comparisons. */
  private val rangeContains = GraftQuery(
    "pg_range_contains",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT l_linestatus, count(*) AS n,
             sum(l_quantity)::int8 AS qty
           FROM lineitem
           WHERE int4range(2, 5) @> l_linenumber
             AND l_shipdate <@ daterange('1996-01-01', '1997-01-01')
           GROUP BY l_linestatus ORDER BY l_linestatus""")
    },
    Some("""SELECT l_linestatus, COUNT(*) AS n,
        CAST(SUM(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_linenumber >= 2 AND l_linenumber < 5
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** Runtime range OVERLAP over column-built ranges: `int4range(a,b)
    * && int4range(c,d)` compiles to `greatest(a,c) < least(b,d)` —
    * whole-stage codegen, no struct carrier, NULL bounds = infinite
    * (greatest/least skip NULLs, exactly PG's infinite-bound
    * semantics). */
  private val rangeOverlap = GraftQuery(
    "pg_range_overlap",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT o_orderpriority, count(*) AS n
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE int4range(l_linenumber, l_linenumber + 3)
                 && int4range(o_custkey % 5 + 2, o_custkey % 5 + 5)
           GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE GREATEST(l_linenumber, o_custkey % 5 + 2)
            < LEAST(l_linenumber + 3, o_custkey % 5 + 5)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** PG14 jsonb subscripting (pg14.sql's test_jsonb_subscript):
    * member reads render the member's canonical jsonb text, writes
    * follow PG's object/array/NULL-source semantics with the
    * (length, byte-order) canonical key sort. The oracle is the
    * hand-computed PG render of the fixed document, like the
    * json_table_shred golden. */
  private val jsonbSubscript = GraftQuery(
    "jsonb_subscript_ops",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT js['key'] AS member,
                  __jsonb_set(js, 'a', '[1, 2, 3]') AS with_a,
                  __jsonb_set(CAST(NULL AS STRING), '0', '1') AS arr,
                  js['nope'] AS absent
           FROM (SELECT '{"key": "value"}' AS js)""")
    },
    Some("""SELECT '"value"' AS member,
        '{"a": [1, 2, 3], "key": "value"}' AS with_a,
        '[1]' AS arr, CAST(NULL AS VARCHAR) AS absent"""))

  /** PG16 SQL/JSON standard aggregates (pg16.sql's agg_test battery)
    * over the nation dimension — JSON_ARRAYAGG renders `[a, b]`,
    * JSON_OBJECTAGG PG's json spacing `{ "k" : v, ... }`; both are
    * pure collect_list chains (two-phase distributable, no UDAF).
    * DuckDB builds the same text with ordered string_agg. */
  private val pg16JsonAggs = GraftQuery(
    "pg16_json_aggs",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT n_regionkey,
                  JSON_ARRAYAGG(n_nationkey ORDER BY n_nationkey)
                    AS keys_json,
                  JSON_OBJECTAGG(n_name: n_nationkey) AS by_name
           FROM nation
           GROUP BY n_regionkey ORDER BY n_regionkey""")
    },
    Some("""SELECT n_regionkey,
        '[' || string_agg(CAST(n_nationkey AS VARCHAR), ', '
                          ORDER BY n_nationkey) || ']' AS keys_json,
        '{ ' || string_agg('"' || n_name || '" : ' ||
                           CAST(n_nationkey AS VARCHAR), ', '
                           ORDER BY n_name) || ' }' AS by_name
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** PG16 IS JSON predicate family (pg16.sql's test_is_json shapes):
    * validity accepts duplicate keys (as PG's json type), shape tests
    * key off the document head, and NULL propagates. DuckDB's
    * json_valid + a head test is the same contract for these
    * shapes. */
  private val isJsonShapes = GraftQuery(
    "pg16_is_json_shapes",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT js, js IS JSON AS valid, js IS JSON OBJECT AS obj,
                  js IS JSON ARRAY AS arr, js IS JSON SCALAR AS scal
           FROM (VALUES ('{"a": 1, "a": 2}'), ('{a:1}'), ('[1, 2]'),
                        ('true'), ('12'), ('aaa')) v(js)
           ORDER BY js""")
    },
    Some("""SELECT js, json_valid(js) AS valid,
        (json_valid(js) AND ltrim(js) LIKE '{%') AS obj,
        (json_valid(js) AND ltrim(js) LIKE '[%') AS arr,
        (json_valid(js) AND ltrim(js) NOT LIKE '{%'
          AND ltrim(js) NOT LIKE '[%') AS scal
      FROM (VALUES ('{"a": 1, "a": 2}'), ('{a:1}'), ('[1, 2]'),
                   ('true'), ('12'), ('aaa')) v(js)
      ORDER BY js"""))

  /** percentile_cont with a GROUP-KEY-DEPENDENT fraction — PG
    * evaluates the ordered-set fraction per group
    * (aggregate_support.sql:829 `percentile_cont(key/10.0)`); Spark's
    * native function requires a foldable fraction, so the dialect
    * compiles PG's linear interpolation over a sorted collect_list
    * (two-phase distributable). DuckDB's quantile_cont has the same
    * constant-fraction restriction, so the oracle computes the same
    * standard interpolation over list() — an independent engine's
    * list machinery checking ours. Both sides round through
    * DECIMAL(18,2) then compare as DOUBLE so IEEE noise can't break
    * the hash. */
  private val pctPerGroupFraction = GraftQuery(
    "agg_percentile_per_group_fraction",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT l_linenumber AS k,
             CAST(CAST(percentile_cont(l_linenumber * 0.1e0)
               WITHIN GROUP (ORDER BY l_extendedprice)
               AS DECIMAL(18,2)) AS DOUBLE) AS pct
           FROM lineitem GROUP BY l_linenumber ORDER BY k""")
    },
    Some("""WITH g AS (
        SELECT l_linenumber AS k,
               list(CAST(l_extendedprice AS DOUBLE)
                 ORDER BY CAST(l_extendedprice AS DOUBLE)) AS vs
        FROM lineitem GROUP BY 1),
      h AS (SELECT k, vs,
              (k * 0.1e0) * (len(vs) - 1) AS hh FROM g)
      SELECT k, CAST(CAST(
          vs[CAST(floor(hh) AS INT) + 1] + (hh - floor(hh)) *
            (vs[least(CAST(floor(hh) AS INT) + 2, len(vs))] -
             vs[CAST(floor(hh) AS INT) + 1])
        AS DECIMAL(18,2)) AS DOUBLE) AS pct
      FROM h ORDER BY k"""))

  /** LATERAL JOIN USING through the dialect front end (reference
    * query_single_shard_table.sql LATERAL batteries) — Spark rejects
    * the spelling outright (UNSUPPORTED_FEATURE.LATERAL_JOIN_USING);
    * the dialect rewrites a correlated body to the qualified ON
    * form. The oracle runs the manually decorrelated equivalent —
    * an INDEPENDENT derivation of the same semantics. */
  private val lateralJoinUsing = GraftQuery(
    "pg_lateral_join_using",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT COUNT(*) AS n
           FROM (SELECT * FROM events WHERE event_type = 'signup') e1
           LEFT JOIN LATERAL (
             SELECT * FROM events e2
             WHERE e2.event_type = 'purchase' AND e2.value > e1.value
           ) q USING(user_id)""")
    },
    Some("""SELECT COUNT(*) AS n
      FROM (SELECT * FROM events WHERE event_type = 'signup') e1
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') q
        ON e1.user_id = q.user_id AND q.value > e1.value"""))

  /** Outer reference in a scalar subquery's SELECT list (reference
    * query_single_shard_table.sql:1555-1574) — PG evaluates it per
    * outer row; Catalyst rejects the position, so the dialect
    * factors the outer term out of the subquery. The oracle runs
    * the already-factored form DuckDB accepts natively. */
  private val scalarSelectOuterRef = GraftQuery(
    "pg_scalar_select_outer_ref",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT (SELECT (SELECT e.user_id + c_custkey)
                   FROM customer WHERE c_custkey = e.user_id
                   GROUP BY c_custkey) AS v
           FROM events e
           WHERE e.user_id BETWEEN 1 AND 100
           GROUP BY 1 ORDER BY 1 LIMIT 5""")
    },
    Some("""SELECT v FROM (
        SELECT e.user_id +
          (SELECT c_custkey FROM customer
           WHERE c_custkey = e.user_id) AS v
        FROM events e WHERE e.user_id BETWEEN 1 AND 100) t
      GROUP BY v ORDER BY v LIMIT 5"""))

  /** A grouped query projecting a correlated scalar subquery whose
    * outer refs are group keys (reference
    * query_single_shard_table.sql:1584-1598) — the dialect wraps the
    * functionally-dependent item in max() for Catalyst. The oracle
    * counts the groups directly. */
  private val groupedScalarSubquery = GraftQuery(
    "pg_grouped_scalar_subquery",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT COUNT(*) AS n FROM (
             SELECT (SELECT sum(c_nationkey) FROM customer
                     WHERE c_custkey = u.user_id GROUP BY c_custkey)
             FROM events u GROUP BY user_id) foo""")
    },
    Some("SELECT COUNT(DISTINCT user_id) AS n FROM events"))

  /** PG admits an ungrouped select item functionally dependent on a
    * grouped PRIMARY KEY (reference
    * multi_repartition_join_planning.sql); Catalyst raises
    * MISSING_AGGREGATION, so the dialect wraps the item in
    * any_value() — exact under the dependency. The oracle spells the
    * any_value() form directly (DuckDB has no FD inference either). */
  private val fdGroupedProjection = GraftQuery(
    "pg_fd_grouped_projection",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT o_orderkey, o_orderpriority, count(*) AS n
           FROM lineitem, orders WHERE l_orderkey = o_orderkey
           GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 20""")
    },
    Some("""SELECT o_orderkey, any_value(o_orderpriority) AS o_orderpriority,
        count(*) AS n
      FROM lineitem, orders WHERE l_orderkey = o_orderkey
      GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 20"""))

  /** PG's lexicographic ARRAY ordering (`arr > '{..}'`, reference
    * multi_partition_pruning.sql's range-pruning probe) — Spark has
    * no array comparison operator, so the dialect compiles the exact
    * first-differing-pair form over zip_with/get (NULL pad = length
    * tiebreak). DuckDB compares lists natively with the same
    * element-then-length semantics — an independent oracle. */
  private val arrayLexCompare = GraftQuery(
    "pg_array_lexicographic_compare",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT count(*) AS n FROM (
             SELECT ARRAY[c_mktsegment, c_name] AS arr FROM customer
           ) t WHERE arr > '{BUILDING, Customer#000000500}'""")
    },
    Some("""SELECT count(*) AS n FROM (
        SELECT [c_mktsegment, c_name] AS arr FROM customer
      ) t WHERE arr > ['BUILDING', 'Customer#000000500']"""))

  /** SRF-in-VALUES row expansion with PLAIN tuples in the same list
    * (reference multi_router_planner_fast_path.sql; the r13 advisory
    * multi-tuple hardening): the series tuple explodes, the literal
    * tuple survives as a UNION ALL branch. The oracle is the
    * hand-expanded row set. */
  private val srfValuesMultiTuple = GraftQuery(
    "pg_srf_values_multi_tuple",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT a, b FROM (VALUES (generate_series(1, 3), 'x'),
             (5, 'y')) v(a, b) ORDER BY a""")
    },
    Some("""SELECT a, b FROM (VALUES (1, 'x'), (2, 'x'), (3, 'x'),
        (5, 'y')) v(a, b) ORDER BY a"""))

  /** LATERAL correlation into an aggregated derived table whose
    * no-op ORDER BY repeats the aggregate (reference
    * multi_subquery_complex_queries.sql:1990) — Catalyst trips
    * MISSING_ATTRIBUTES; the dialect drops the semantics-free sort.
    * DuckDB runs the statement VERBATIM — the strongest oracle. */
  private val lateralAggOrderBy = GraftQuery(
    "pg_lateral_agg_orderby",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT sub.user_id, mx FROM (
             SELECT user_id, max(value) AS mx FROM events
             WHERE user_id <= 50
             GROUP BY user_id ORDER BY max(value) DESC) sub
           JOIN LATERAL (
             SELECT c_custkey FROM customer
             WHERE c_custkey = sub.user_id LIMIT 1) q ON true
           ORDER BY mx DESC, user_id LIMIT 10""")
    },
    Some("""SELECT sub.user_id, mx FROM (
        SELECT user_id, max(value) AS mx FROM events
        WHERE user_id <= 50
        GROUP BY user_id ORDER BY max(value) DESC) sub
      JOIN LATERAL (
        SELECT c_custkey FROM customer
        WHERE c_custkey = sub.user_id LIMIT 1) q ON true
      ORDER BY mx DESC, user_id LIMIT 10"""))

  /** A correlated subquery grouping by an OUTER column (reference
    * subquery_in_where.sql's `GROUP BY e.value_2` battery) —
    * Catalyst rejects the outer reference; the dialect replaces the
    * per-outer-row-constant keys with a literal group (exact:
    * 0-rows → 0-groups preserved). DuckDB runs it VERBATIM. */
  private val correlatedGroupByOuter = GraftQuery(
    "pg_correlated_groupby_outer",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT count(*) AS n FROM events e WHERE value IN
           (SELECT min(value) FROM events u
            WHERE u.user_id = e.user_id GROUP BY e.event_type)""")
    },
    Some("""SELECT count(*) AS n FROM events e WHERE value IN
      (SELECT min(value) FROM events u
       WHERE u.user_id = e.user_id GROUP BY e.event_type)"""))

  /** An unreferenced random() select item inside a LATERAL body
    * (reference union_pushdown.sql's pushdown probes) — Catalyst
    * rejects any nondeterministic lateral; the dialect prunes the
    * unreferencable item, leaving row counts and referenced columns
    * intact. The oracle is the random-free equivalent join. */
  private val lateralRandomPrune = GraftQuery(
    "pg_lateral_random_prune",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.sql.PgDialect.sql(s,
        """SELECT count(*) AS n
           FROM (SELECT * FROM events WHERE event_type = 'signup') e1
           JOIN LATERAL (
             SELECT e1.user_id, random() FROM events e2
             WHERE e2.user_id = e1.user_id
               AND e2.event_type = 'purchase') bar ON (true)""")
    },
    Some("""SELECT count(*) AS n
      FROM (SELECT * FROM events WHERE event_type = 'signup') e1
      JOIN (SELECT user_id FROM events
            WHERE event_type = 'purchase') bar
        ON bar.user_id = e1.user_id"""))

  override val queries: Seq[GraftQuery] =
    Seq(stringAgg, medianAgg, pctRank, pgStrings, corrCovar, orderedAgg,
      dialectRoundtrip, jsonOps, createAggregate, stringAggDistinct,
      histogram, refVerbatim, refVerbatimWin, refVerbatimQuant,
      jsonTableShred, jsonExistsFilter, rangeContains, rangeOverlap,
      jsonbSubscript, pg16JsonAggs, isJsonShapes, pctPerGroupFraction,
      lateralJoinUsing, scalarSelectOuterRef, groupedScalarSubquery,
      fdGroupedProjection, arrayLexCompare, srfValuesMultiTuple,
      lateralAggOrderBy, correlatedGroupByOuter, lateralRandomPrune)
}
