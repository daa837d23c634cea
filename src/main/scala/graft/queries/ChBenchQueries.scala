package graft.queries

import graft.{Dsl, GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Dsl._

/** CH-benCHmark analytical shapes from the reference's regression corpus
  * (`src/test/regress/sql/ch_benchmarks_1.sql`..`6`, `ch_bench_having.sql`)
  * adapted to the synthetic TPC-H-ish schema the way the reference adapts
  * them to its small test data (stock ≙ lineitem, oorder ≙ orders).
  *
  * The shapes that are NOT already covered by the TPC-H corpus:
  *  - scalar subqueries in both WHERE and HAVING of a grouped aggregate
  *    (`ch_bench_having.sql` — citus plans each subquery as an
  *    intermediate result, then pushes the outer aggregate);
  *  - equi-joins whose key is a computed expression, `mod((s_w_id *
  *    s_i_id), 10000) = su_suppkey` (CH Q2/Q8/Q9 — citus repartitions
  *    on the expression; Spark hashes the computed key the same way);
  *  - expression keys against a dimension + a theta residual between
  *    fact columns, `n_nationkey = ascii(substr(c_state,1,1))` with
  *    `o_entry_d <= ol_delivery_d` (CH Q8/Q10).
  *
  * All three aggregate money in exact fixed-point (Dsl.cents) so the
  * driver's hash-compare is bit-identical vs DuckDB.
  */
object ChBenchQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private val revOracle =
    """CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * CAST(round((1-l_discount)*100,0) AS BIGINT)) AS DOUBLE)/10000"""

  /** ch_bench_having.sql: scalar subqueries in WHERE and HAVING around one
    * grouped aggregate. Citus executes each subquery as an intermediate
    * result broadcast to the workers; here each 1-row aggregate is a
    * broadcast cross join — the big table is scanned and grouped in one
    * distributed pass, nothing lands on the driver. Quantities are
    * integer-valued doubles: summed as LONG so both engines are exact. */
  private val havingSubquery = GraftQuery(
    "ch_having_subquery",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // floor(x+0.5) ≡ round-half-up for integer-valued doubles (see
      // Dsl.cents) without Round's per-row BigDecimal in codegen.
      val qty = floor(col("l_quantity") + 0.5).cast(LongType)
      // where-threshold: 0.9 × mean quantity; having-threshold: 2 × max.
      // Exact in double: integer-valued sums stay below 2^53.
      val scal = li.agg(
        (sum(qty).cast(DoubleType) / count(lit(1)) * 0.9).as("wthr"),
        (max(qty) * lit(2L)).as("hthr"))
      li.crossJoin(broadcast(scal))
        .filter(qty > col("wthr"))
        .groupBy(col("l_partkey"), col("hthr"))
        .agg(sum(qty).as("ordercount"))
        .filter(col("ordercount") > col("hthr"))
        .select(col("l_partkey"), col("ordercount"))
        .orderBy(col("l_partkey"))
    },
    Some("""WITH s AS (
        SELECT CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)/COUNT(*)*0.9 AS wthr,
               MAX(CAST(round(l_quantity) AS BIGINT))*2 AS hthr
        FROM lineitem)
      SELECT l_partkey, CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS ordercount
      FROM lineitem, s
      WHERE CAST(round(l_quantity) AS BIGINT) > s.wthr
      GROUP BY l_partkey, s.hthr
      HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > s.hthr
      ORDER BY l_partkey"""))

  /** CH Q9 shape: profit per nation per year where the lineitem→supplier
    * link is the computed key `mod(l_partkey * l_suppkey, 100)` (the CH
    * spec's `mod(s_w_id * s_i_id, 10000) = su_suppkey`). Spark shuffles
    * both sides on the computed key hash — same dual-repartition plan
    * citus builds, no nested loop. */
  private val exprJoinProfit = GraftQuery(
    "ch_expr_join_profit",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val supp = t(s, dir, "supplier")
      val nat = broadcast(t(s, dir, "nation"))
      li.join(supp, pmod(col("l_partkey") * col("l_suppkey"), lit(100L)) === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("l_year"))
        .agg(revSum(col("l_extendedprice"), col("l_discount")).as("sum_profit"))
        .orderBy(col("n_name"), col("l_year").desc)
    },
    Some(s"""SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS l_year,
        $revOracle AS sum_profit
      FROM lineitem, orders, supplier, nation
      WHERE (l_partkey * l_suppkey) % 100 = s_suppkey
        AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
      GROUP BY n_name, l_year
      ORDER BY n_name, l_year DESC"""))

  /** CH Q10 shape: revenue per customer where the nation link is the
    * expression key `ascii(substr(...)) = n_nationkey` and the date
    * filter has a theta residual between fact columns
    * (`o_entry_d <= ol_delivery_d`). The theta predicate stays a
    * post-join filter on the equi-joined pair — no plan blowup. */
  private val asciiThetaRevenue = GraftQuery(
    "ch_ascii_theta_revenue",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") >= ts("1996-07-01"))
      val li = t(s, dir, "lineitem")
      val nat = broadcast(t(s, dir, "nation"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey") &&
          col("o_orderdate") <= col("l_shipdate"))
        .join(nat, col("n_nationkey") ===
          pmod(ascii(substring(col("c_mktsegment"), 1, 1)), lit(25)))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""SELECT c_custkey, c_name, n_name, $revOracle AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate <= l_shipdate
        AND n_nationkey = ascii(substr(c_mktsegment,1,1)) % 25
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  private val rev4Sql =
    "CAST(round(l_extendedprice*100,0) AS BIGINT) * CAST(round((1-l_discount)*100,0) AS BIGINT)"

  /** CH Q2 shape (`ch_benchmarks_1.sql:17-57`): the min-quantity stock
    * subquery over a 4-way join, rejoined to the outer 5-way join on
    * BOTH the part key and the min value, with the supplier link being
    * the computed key `mod(s_w_id*s_i_id, 10000) = su_suppkey`. Citus
    * plans the derived table as a subquery pushdown over repartitioned
    * fragments; Spark computes the same min in one grouped pass over
    * the candidate join and hash-joins it back — the expression key
    * shuffles both sides on its hash, never a nested loop. Lineitem
    * stands in for stock (TESTDATA.md has no partsupp); min-equality
    * is an exact value selection (no arithmetic), so the DuckDB hash
    * compare is exact on doubles. */
  private val chQ2MinStock = GraftQuery(
    "ch_q2_min_stock",
    (s, dir) => {
      val stock = t(s, dir, "lineitem").select(
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val eur = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val cand = stock.join(eur,
        pmod(col("l_partkey") * col("l_suppkey"), lit(100L)) ===
          col("s_suppkey"))
      val best = cand.groupBy(col("l_partkey").as("m_pk"))
        .agg(min(col("l_quantity")).as("m_qty"))
      t(s, dir, "part").filter(col("p_size").between(10, 30))
        .join(cand, col("p_partkey") === col("l_partkey"))
        .join(best, col("p_partkey") === col("m_pk") &&
          col("l_quantity") === col("m_qty"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("n_name"), col("s_name"), col("p_partkey"),
          col("s_suppkey"))
    },
    Some("""WITH stock AS (
        SELECT l_partkey, l_suppkey, l_quantity FROM lineitem),
      eur AS (
        SELECT s_suppkey, s_name, n_name FROM supplier, nation, region
        WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'),
      cand AS (
        SELECT * FROM stock, eur
        WHERE (l_partkey * l_suppkey) % 100 = s_suppkey),
      best AS (
        SELECT l_partkey AS m_pk, min(l_quantity) AS m_qty
        FROM cand GROUP BY 1)
      SELECT s_suppkey, s_name, n_name, p_partkey, p_name
      FROM part, cand, best
      WHERE p_partkey = l_partkey AND p_size BETWEEN 10 AND 30
        AND p_partkey = m_pk AND l_quantity = m_qty
      ORDER BY n_name, s_name, p_partkey, s_suppkey"""))

  /** CH Q8 shape (`ch_benchmarks_2.sql:1-37`): national market share —
    * a conditional-sum ratio per year with TWO nation copies (customer
    * side n1 filtered through region, supplier side n2 feeding the CASE)
    * and the mod-expression supplier link. Both sums aggregate exact
    * cents-products as BIGINT; the final ratio is one double division of
    * identical longs in both engines, so the hash compare is exact. */
  private val chMarketShare = GraftQuery(
    "ch_market_share",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").between(ts("1995-01-01"), ts("1996-12-31")))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region")))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("n2_name")))
      val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE"))
      val rev = cents(col("l_extendedprice")) * oneMinusCents(col("l_discount"))
      li.join(t(s, dir, "supplier"),
          pmod(col("l_partkey") * col("l_suppkey"), lit(100L)) === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("n1_key"))
        .join(reg, col("n1_region") === col("r_regionkey"))
        .join(n2, col("s_nationkey") === col("n2_key"))
        .groupBy(year(col("o_orderdate")).as("l_year"))
        .agg((sum(when(col("n2_name") === "GERMANY", rev).otherwise(lit(0L)))
          .cast(DoubleType) / sum(rev).cast(DoubleType)).as("mkt_share"))
        .orderBy(col("l_year"))
    },
    Some(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS l_year,
        CAST(SUM(CASE WHEN n2.n_name = 'GERMANY' THEN $rev4Sql ELSE 0 END) AS DOUBLE)
          / CAST(SUM($rev4Sql) AS DOUBLE) AS mkt_share
      FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
      WHERE (l_partkey * l_suppkey) % 100 = s_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      GROUP BY l_year ORDER BY l_year"""))

  /** The timed-bench variant of CH Q8: identical semantics, with a
    * SHUFFLE_HASH hint on the supplier link so the expression-key
    * join's REPARTITION path is what gets timed. The hashed computed
    * key (`pmod(l_partkey*l_suppkey,100)`) can never be colocated — at
    * cluster scale this join always repartitions lineitem on the
    * expression (the reference's single-hash repartition join,
    * `multi_physical_planner.h:160-170` MapMergeJob: one side
    * repartitions onto the other's hash placement); at sf0.1 stats
    * would broadcast the tiny supplier side and the bench would time
    * the wrong shape. The hint scopes the forcing to this one entry —
    * `ch_market_share` stays stats-driven for correctness runs.
    * Bench.scala asserts the ShuffledHashJoin before timing.
    *
    * r13 optimization (guide §2.3/§2.4/§3.1), measured interleaved
    * in one JVM (OPTIMIZATION_r13.md): median 1.37 → 0.74 s, min 0.88 → 0.71 s,
    * value-checked identical results:
    *  - the colocated fact pair (lineitem⋈orders on the distribution
    *    key — zero-movement in the reference's layout) joins BEFORE
    *    the computed-key repartition, so the date filter and the
    *    Europe-customer semi-filtering cut the exchanged rows ~4×;
    *  - the exchange carries (link_key, rev4, l_year) — three longs +
    *    an int — instead of five raw fact columns (project early,
    *    compute the money product map-side);
    *  - customer⋈n1⋈region collapse into one European-customer build
    *    and nation pre-joins into the tiny supplier side, so the probe
    *    path pays 3 broadcast builds instead of 5;
    *  - the repartition join itself is shuffled-hash (build = the
    *    ~dim-sized supplier side), not sort-merge: same dual-exchange
    *    shape, no sort of the fact side (the reference's repartition
    *    join is a hash join per fragment pair). */
  private val chMarketShareRepartition = chMarketShare.copy(
    name = "ch_market_share_repartition",
    run = (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").between(ts("1995-01-01"), ts("1996-12-31")))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region")))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("n2_name")))
      val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE"))
      // explicit broadcast: the join-inflated size estimate of the
      // customer⋈nation⋈region result otherwise blocks auto-broadcast
      // and costs a second full exchange of the fact rows (measured:
      // the 182k-row o_custkey exchange disappears with the hint).
      // The real row count is a region's customers — dim-sized; the
      // stats-driven ch_market_share keeps the planner's own choice.
      val custEur = broadcast(t(s, dir, "customer")
        .join(n1, col("c_nationkey") === col("n1_key"))
        .join(reg, col("n1_region") === col("r_regionkey"))
        .select(col("c_custkey")))
      val suppGer = t(s, dir, "supplier")
        .join(n2, col("s_nationkey") === col("n2_key"))
        .select(col("s_suppkey"), (col("n2_name") === "GERMANY").as("is_ger"))
      val liOrd = t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(custEur, col("o_custkey") === col("c_custkey"))
        .select(
          pmod(col("l_partkey") * col("l_suppkey"), lit(100L)).as("link_key"),
          (cents(col("l_extendedprice")) *
            oneMinusCents(col("l_discount"))).as("rev4"),
          year(col("o_orderdate")).as("l_year"))
      liOrd.join(suppGer.hint("shuffle_hash"),
          col("link_key") === col("s_suppkey"))
        .groupBy(col("l_year"))
        .agg((sum(when(col("is_ger"), col("rev4")).otherwise(lit(0L)))
          .cast(DoubleType) / sum(col("rev4")).cast(DoubleType)).as("mkt_share"))
        .orderBy(col("l_year"))
    },
    bench = true)

  def queries: Seq[GraftQuery] =
    Seq(havingSubquery, exprJoinProfit, asciiThetaRevenue,
      chQ2MinStock, chMarketShare, chMarketShareRepartition)
}
