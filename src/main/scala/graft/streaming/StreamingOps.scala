package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream. The reference
  * has NO streaming engine (SURVEY §2.11 — its only change surface is
  * the CDC logical decoder `cdc/cdc_decoder.c`); this module is the
  * extension the north star asks for, built so every operator has a
  * batch-equivalent query the DuckDB oracle can check (StreamingSpec
  * additionally proves stream-vs-batch agreement through MemoryStream).
  *
  * Scale: tumbling/session aggregation state is keyed by (window, type)
  * or user — state store partitions by key, watermark bounds state
  * growth; at 100 TB/day the same topology holds with kafka sources and
  * more shuffle partitions.
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_sessions: Long,
      n_events: Long)

  /** One change-stream record (op ∈ I/U/D), as the reference's CDC
    * decoder emits per shard-WAL change (cdc/cdc_decoder.c). */
  final case class Change(key: Long, op: String, payload: Double,
      ts: java.sql.Timestamp)

  final case class KeyState(key: Long, payload: Double, deleted: Boolean)

  /** Tumbling 1-hour counts per event type; `withWatermark` only binds
    * on a streaming source (no-op columns-wise in batch). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Approximate distinct users per tumbling hour via HLL sketches —
    * the streaming form of the persisted-sketch rollup (citus
    * hll_add_agg over time partitions): per-window streaming state is
    * ONE fixed-size sketch buffer, never a distinct-user set, so state
    * is O(windows × 2^lgK) regardless of cardinality. The same
    * register-max merge serves both the stream's incremental updates
    * and the batch partial/final split. */
  def tumblingApproxUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
        .as("approx_users"))
      .select(col("w.start").as("window_start"), col("approx_users"))

  /** Streaming corpus intake — the LLM-pipeline front door as an
    * incremental stream: normalize (ws-collapse + casefold) → quality
    * gate (length floor) → exact dedup on the content hash with
    * bounded state (`dropDuplicatesWithinWatermark`: hashes older
    * than the watermark are evicted, so state is proportional to the
    * watermark window, not corpus history — the only way streaming
    * dedup survives an unbounded corpus). */
  def docIntake(docs: DataFrame): DataFrame = docs
    .withWatermark("ts", "1 hour")
    .withColumn("norm",
      lower(regexp_replace(col("text"), "\\s+", " ")))
    .filter(length(col("norm")) >= 20)
    .withColumn("content_hash", md5(col("norm")))
    .dropDuplicatesWithinWatermark("content_hash")
    .select(col("doc_id"), col("ts"), col("content_hash"))

  /** Stream-static dimension enrich: the canonical REFERENCE_JOIN in
    * streaming form — every micro-batch joins the (small, static)
    * dimension by broadcast, so the stream side never shuffles and no
    * join state accumulates (unlike stream-stream joins). At 100 TB/day
    * the dimension broadcast is per-executor-once; the aggregation
    * state is per (window, dim-attribute) only. */
  def dimensionEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), col("user_id") % 5 === col("seg_id"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("seg_name"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("seg_name"),
        col("n_events"), col("total_value"))

  /** Sliding (hopping) 1-hour windows every 15 minutes — each event
    * lands in 4 overlapping windows; state is per (window, type) key. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Native session windows (30-minute gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** CDC apply — consume a change stream (insert/update/delete per key)
    * and materialize the latest per-key table state, the consumer side
    * of the reference's CDC decoder. State is one record per live key,
    * partitioned by key in the state store; each micro-batch emits the
    * keys it touched (update mode). The batch form of the same relation
    * is the row_number()=1 snapshot query. */
  def cdcMaterialize(changes: Dataset[Change]): Dataset[KeyState] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .mapGroupsWithState[Change, KeyState](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Change], state: GroupState[Change]) =>
          val latest = (state.getOption.iterator ++ rows)
            .maxBy(_.ts.getTime)
          state.update(latest)
          KeyState(key, latest.payload, latest.op == "D")
      }
  }

  /** Batch snapshot of a change set: latest change per key wins. */
  def cdcSnapshot(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("ts").desc)))
      .filter(col("__rn") === 1)
      .select(col("key"), col("payload"),
        (col("op") === "D").as("deleted"))
  }

  /** Exactly-once event dedup: duplicates (at-least-once sources,
    * replays) are dropped by key as long as they arrive within the
    * watermark; state holds one entry per key and is evicted past it —
    * the streaming face of the dedup suite, with bounded state. In
    * batch, plain dropDuplicates is the same relation. */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream interval join: purchases attributed to a click by
    * the same user within the hour before. Both sides carry watermarks;
    * the time-bound join condition lets Spark evict buffered rows —
    * without it, stream-stream join state grows forever. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame)
      : DataFrame = clickPurchase(clicks, purchases, "inner")

  /** LEFT OUTER stream-stream interval join: like [[clickPurchaseJoin]]
    * but clicks with NO purchase in the following hour are emitted
    * null-extended — and only once the watermark passes the click's
    * join window, because until then a matching purchase could still
    * arrive. This is the streaming form of the reference's outer join
    * with a recurring inner side; state stays bounded by the same
    * watermark+interval eviction as the inner variant. */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame)
      : DataFrame = clickPurchase(clicks, purchases, "leftOuter")

  /** FULL OUTER stream-stream interval join: unmatched rows from BOTH
    * sides null-extend once the watermark passes their join window —
    * clicks that never converted AND purchases with no preceding click
    * (organic buys). Completes the stream-stream join matrix
    * (inner/left/full); same watermark+interval state eviction. */
  def clickPurchaseFullJoin(clicks: DataFrame, purchases: DataFrame)
      : DataFrame = clickPurchase(clicks, purchases, "fullOuter")

  /** The click→purchase interval join of type `joinType`. The user is
    * the click's, or the purchase's where no click matched (a full
    * join's organic buy; inner and left joins always have a click). */
  private def clickPurchase(clicks: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset path for state machines the built-in
    * windows can't express. Emits one summary per user on timeout/end. */
  def sessionizeStateful(events: Dataset[Event], gapMinutes: Int)
      : Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state: (lastTs, nSessions, nEvents)
        (user: Long, rows: Iterator[Event],
            state: GroupState[(Long, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (lastTs, nSessions, nEvents) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            if (lastTs == Long.MinValue || e.ts.getTime - lastTs > gapMs)
              nSessions += 1
            nEvents += 1
            lastTs = e.ts.getTime
          }
          state.update((lastTs, nSessions, nEvents))
          Iterator(SessionSummary(user, nSessions, nEvents))
      }
  }
}
