package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shard-rebalancer analogue (`src/backend/distributed/operations/
  * shard_rebalancer.c`; user surface `rebalance_table_shards` /
  * `citus_rebalance_start` / `get_rebalance_table_shards_plan`,
  * `sql/udfs/rebalance_table_shards/`).
  *
  * Citus moves shard placements between worker nodes until per-node
  * load is balanced, under a pluggable strategy (`by_shard_count`,
  * `by_disk_size`) with an improvement threshold that suppresses
  * churn. On Spark there is no per-node file ownership — executors
  * are stateless and HDFS/object storage owns placement — so the
  * faithful mapping is the PLANNING layer: placement is catalog
  * metadata (≙ `pg_dist_placement`), the plan is a deterministic
  * move list, and "apply" updates the metadata the way
  * `citus_rebalance_start` rewrites placements. The same plan is what
  * a cluster deployment would hand to its storage layer as file
  * moves; the balance math (greedy best-improving move, threshold
  * stop) is the part worth testing and is identical at any scale.
  */
object Rebalancer {

  final case class Move(shard: Int, sizeBytes: Long, fromNode: Int,
      toNode: Int)

  /** `get_rebalance_table_shards_plan(table)`: the deterministic move
    * list that balances `current` placement over `nodeCount` nodes.
    *
    * Strategy `by_disk_size` balances shard bytes, `by_shard_count`
    * balances the number of shards (each shard weight 1) — the two
    * built-in citus strategies (`shard_rebalancer.c`,
    * `citus_add_rebalance_strategy`). Greedy: repeatedly move the
    * largest shard from the most-loaded node that strictly improves
    * the max-min spread; stop when no move improves it by more than
    * `improvementThreshold` × the mean load (citus's
    * improvement_threshold, default 0.5 there for moves — we default
    * 0 = any strict improvement).
    */
  def plan(sizes: Map[Int, Long], current: Map[Int, Int], nodeCount: Int,
      strategy: String = "by_disk_size",
      improvementThreshold: Double = 0.0): Seq[Move] = {
    require(nodeCount > 0, "need at least one node")
    require(strategy == "by_disk_size" || strategy == "by_shard_count",
      s"unknown strategy: $strategy")
    val weight: Int => Long =
      if (strategy == "by_disk_size") s => sizes.getOrElse(s, 0L) else _ => 1L
    var placement = current.map { case (s, n) => s -> (n % nodeCount) }
    val loads = Array.fill(nodeCount)(0L)
    placement.foreach { case (s, n) => loads(n) += weight(s) }
    val mean = loads.sum.toDouble / nodeCount
    val moves = Vector.newBuilder[Move]
    var improved = true
    while (improved) {
      improved = false
      val minNode = loads.indices.minBy(loads)
      // any shard on any node that strictly improves by moving to the
      // least-loaded node (both endpoints end under the source's old
      // load — sum-of-squares strictly decreases, so this terminates);
      // checking every source node, not just one argmax, matters when
      // several nodes tie for the maximum load
      val candidates = placement.collect {
        case (s, n) if n != minNode &&
          loads(minNode) + weight(s) < loads(n) => s
      }
      if (candidates.nonEmpty) {
        // prefer the heaviest shard from the most-loaded source
        val s = candidates.maxBy(s => (weight(s), loads(placement(s)), -s))
        val src = placement(s)
        val gain = math.min(weight(s),
          loads(src) - (loads(minNode) + weight(s)))
        if (gain > improvementThreshold * mean) {
          moves += Move(s, sizes.getOrElse(s, 0L), src, minNode)
          loads(src) -= weight(s)
          loads(minNode) += weight(s)
          placement = placement.updated(s, minNode)
          improved = true
        }
      }
    }
    moves.result().sortBy(m => (m.shard, m.toNode))
  }

  /** Plan against the catalog's live state: shard bytes come from the
    * table's file listing (the `size_bytes` of
    * [[DistributionCatalog.shardSizes]], without its row-count scan),
    * current placement from the catalog (round-robin when never
    * rebalanced — citus's default placement at create time). */
  def planForTable(spark: SparkSession, table: String, nodeCount: Int,
      strategy: String = "by_disk_size"): Seq[Move] = {
    val (sizes, current) = state(spark, table, nodeCount)
    plan(sizes, current, nodeCount, strategy)
  }

  /** `citus_rebalance_start` / `rebalance_table_shards`: compute the
    * plan and commit the resulting placement to the catalog. Returns
    * the executed moves (empty = already balanced). */
  def rebalance(spark: SparkSession, table: String, nodeCount: Int,
      strategy: String = "by_disk_size"): Seq[Move] = {
    val (sizes, current) = state(spark, table, nodeCount)
    commit(spark, table, current, plan(sizes, current, nodeCount, strategy))
  }

  /** `citus_drain_node(node)` (`operations/shard_rebalancer.c` — move
    * every placement off a node before removing it): assign the
    * drained node's shards to the least-loaded remaining nodes
    * (by_disk_size greedy), commit the placement. The drained node
    * ends with zero shards; `nodeCount` stays the same until the
    * caller actually removes the node (citus_remove_node ≙ rebalance
    * over nodeCount-1 afterwards). */
  def drainNode(spark: SparkSession, table: String, node: Int,
      nodeCount: Int): Seq[Move] = {
    require(node >= 0 && node < nodeCount, s"no such node: $node")
    require(nodeCount > 1, "draining the only node leaves shards homeless")
    val (sizes, current) = state(spark, table, nodeCount)
    val loads = Array.fill(nodeCount)(0L)
    current.foreach { case (s, n) => if (n != node) loads(n) += sizes(s) }
    val moves = current.toSeq.collect { case (s, n) if n == node => s }
      .sortBy(s => (-sizes(s), s))
      .map { s =>
        val target = loads.indices.filter(_ != node).minBy(loads)
        loads(target) += sizes(s)
        Move(s, sizes(s), node, target)
      }
    commit(spark, table, current, moves)
  }

  /** `citus_move_shard_placement(shardid, source, target)`: one
    * explicit placement move, no planning — the manual override the
    * rebalancer strategies build on. */
  def moveShardPlacement(spark: SparkSession, table: String, shard: Int,
      toNode: Int, nodeCount: Int): Unit = {
    require(toNode >= 0 && toNode < nodeCount, s"no such node: $toNode")
    val (sizes, current) = state(spark, table, nodeCount)
    require(sizes.contains(shard), s"no such shard: $shard")
    DistributionCatalog.setPlacements(spark, table,
      current.updated(shard, toNode))
  }

  /** Bytes per live shard from the file listing, and the current
    * placement of those shards. Starts no Spark job. */
  private def state(spark: SparkSession, table: String,
      nodeCount: Int): (Map[Int, Long], Map[Int, Int]) = {
    val sizes = DistributionCatalog.shardBytes(spark, table)
    (sizes, DistributionCatalog.placements(spark, table, nodeCount,
      sizes.keySet))
  }

  /** Store `current` with `moves` applied; returns `moves`. */
  private def commit(spark: SparkSession, table: String,
      current: Map[Int, Int], moves: Seq[Move]): Seq[Move] = {
    DistributionCatalog.setPlacements(spark, table,
      moves.foldLeft(current)((p, m) => p.updated(m.shard, m.toNode)))
    moves
  }

  /** Render a move list the way `get_rebalance_table_shards_plan`
    * does (table_name, shardid, shard_size, sourcename, targetname). */
  def planDF(spark: SparkSession, table: String,
      moves: Seq[Move]): DataFrame = {
    import spark.implicits._
    moves.map(m => (table, m.shard, m.sizeBytes, m.fromNode, m.toNode))
      .toDF("table_name", "shardid", "shard_size", "source_node",
        "target_node")
  }
}
