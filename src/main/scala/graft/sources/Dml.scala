package graft.sources

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-shard DML — the reference's UPDATE / DELETE / MERGE surface
  * (citus `planner/multi_router_planner.c:2599`,
  * `planner/merge_planner.c:115,73,93` + `executor/merge_executor.c`)
  * re-expressed for immutable columnar storage as copy-on-write dataset
  * transforms: the new table state is COMPUTED distributively (this
  * module), then committed as a new snapshot with the layout preserved
  * ([[mergeIntoTable]]), which is what Delta/Iceberg do under a MERGE.
  *
  * Plan-shape parity with the reference's three MERGE strategies:
  *   - pushable (source colocated with target): target bucketed by the
  *     join key ⇒ the target side needs no Exchange; a MERGE without an
  *     insert clause is a left join, so a small source broadcasts and
  *     the target is read once, in bucket order;
  *   - repartition: non-colocated source ⇒ both sides shuffle — Spark's
  *     standard shuffle join IS citus's repartition executor;
  *   - pull-to-coordinator: never needed (no driver-side row motion).
  *
  * PostgreSQL row semantics are kept: WHERE NULL neither updates nor
  * deletes; UPDATE assignments all read the OLD row.
  */
object Dml {

  /** UPDATE target SET (set) WHERE cond — as the resulting relation.
    * All `set` expressions are evaluated against the pre-update row
    * (PG simultaneity); rows where `cond` is NULL are untouched. */
  def updateWhere(target: DataFrame, cond: Column,
      set: Map[String, Column]): DataFrame = {
    val hit = coalesce(cond, lit(false))
    target.select(target.columns.map { c =>
      set.get(c).map(v => when(hit, v).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
  }

  /** UPDATE target SET ... FROM source WHERE cond — PG's join update
    * (the reference plans these as multi-shard updates with a
    * reference/colocated join, `multi_router_planner.c` +
    * `multi_modifications.sql`). Set expressions may read the matched
    * source row via the `s.` alias and the old target row via `t.`.
    * Unmatched target rows pass through. Deterministic when the join
    * is at-most-one source row per target row (PG itself is
    * nondeterministic otherwise — keep source keys unique). */
  def updateFrom(target: DataFrame, source: DataFrame, cond: Column,
      set: Map[String, Column]): DataFrame = {
    val t = target.alias("t")
    val s = source.withColumn("__s", lit(true)).alias("s")
    val joined = t.join(s, cond, "left")
    val hit = coalesce(col("__s"), lit(false))
    joined.select(target.columns.map { c =>
      set.get(c).map(v => when(hit, v).otherwise(col(s"t.$c")).as(c))
        .getOrElse(col(s"t.$c"))
    }: _*)
  }

  /** DELETE FROM target WHERE cond — rows where `cond` is NULL survive
    * (PG semantics), which plain `filter(!cond)` would drop. */
  def deleteWhere(target: DataFrame, cond: Column): DataFrame =
    target.filter(!coalesce(cond, lit(false)))

  /** DELETE FROM target USING source WHERE cond — a target row goes
    * when ANY source row satisfies `cond` (PG join-delete,
    * `multi_shard_update_delete.sql`). One left-anti join: a single
    * key shuffle, broadcast when the source is small — never a
    * per-row subquery. Reference the sides as `t.` and `s.`. */
  def deleteUsing(target: DataFrame, source: DataFrame,
      cond: Column): DataFrame =
    target.alias("t").join(source.alias("s"), cond, "left_anti")

  /** MERGE clause bundle. Update/insert expressions may reference the
    * joined row through the `t.` (target) and `s.` (source) aliases. */
  final case class MergeClauses(
      matchedUpdate: Map[String, Column] = Map.empty,
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Map[String, Column]] = None)

  /** MERGE INTO target t USING source s ON t.targetKey = s.sourceKey —
    * as the resulting relation. With an insert clause, one full-outer
    * join computes all three row fates: matched (update or delete),
    * source-only (insert), target-only (keep). Without one, source-only
    * rows are always dropped, so a left join computes the other two:
    * a small source broadcasts and the target needs no exchange. */
  def merge(target: DataFrame, source: DataFrame,
      targetKey: String, sourceKey: String,
      clauses: MergeClauses): DataFrame = {
    val s = source.withColumn("__s", lit(true)).alias("s")
    val on = col(s"t.$targetKey") === col(s"s.$sourceKey")
    val (joined, matched, srcOnly) = clauses.notMatchedInsert match {
      case None => (target.alias("t").join(s, on, "left_outer"),
        col("s.__s").isNotNull, lit(false))
      case Some(_) =>
        val t = target.withColumn("__t", lit(true)).alias("t")
        (t.join(s, on, "full_outer"),
          col("t.__t").isNotNull && col("s.__s").isNotNull, col("t.__t").isNull)
    }
    val kept = clauses.matchedDelete.fold(joined)(d =>
      joined.filter(!matched || !coalesce(d, lit(false))))
    kept.select(target.schema.fields.toIndexedSeq.map { f =>
      val tcol = col(s"t.${f.name}")
      val upd = clauses.matchedUpdate.get(f.name)
        .fold(tcol)(when(matched, _).otherwise(tcol))
      clauses.notMatchedInsert.fold(upd)(ins => when(srcOnly,
        ins.getOrElse(f.name, lit(null).cast(f.dataType))).otherwise(upd))
        .as(f.name)
    }: _*)
  }

  /** INSERT ... SELECT ... ON CONFLICT (key) DO NOTHING — the reference
    * distributes the conflict clause with the insert
    * (`multi_insert_select_conflict.sql`, planned by
    * `insert_select_planner.c`). A conflict is a source row whose key
    * already exists in the target: those rows are dropped, the rest
    * append. One key shuffle for the anti join — zero when both sides
    * are bucketed by the key (the reference's pushdown case). `source`
    * must have the target's schema. */
  def insertOnConflictDoNothing(target: DataFrame, source: DataFrame,
      key: String): DataFrame =
    target.unionByName(
      source.join(target.select(key), Seq(key), "left_anti"))

  /** INSERT ... ON CONFLICT (key) DO UPDATE SET ... — the upsert form:
    * every source row either updates its conflicting target row or
    * inserts itself. `set` expressions may read the existing row as
    * `t.col` and the proposed row as `s.col` (PG's `excluded` alias).
    * Source keys must be unique — PG raises "cannot affect row a second
    * time" when one INSERT conflicts twice with the same row; dedupe
    * upstream. Plans as the merge full-outer join (target-only rows
    * keep, matched update, source-only insert). */
  def insertOnConflictDoUpdate(target: DataFrame, source: DataFrame,
      key: String, set: Map[String, Column]): DataFrame =
    merge(target, source, key, key, MergeClauses(
      matchedUpdate = set,
      notMatchedInsert =
        Some(target.columns.map(c => c -> col(s"s.$c")).toMap)))

  /** MERGE INTO a catalog table as a snapshot commit: the merged state
    * is computed in one pass over the target and written once, bucketed
    * like the table, into a new version directory, and the catalog is
    * then pointed at it ([[DistributionCatalog.commitVersion]], the
    * Delta/Iceberg commit protocol). Bucket spec, distribution spec,
    * colocation id and write options (the codec) are kept; a merge that
    * fails before the swap leaves the old version readable and
    * routable. Each column keeps its type: assigned values are cast to
    * it, as a PG UPDATE casts them. On a table with isolated tenants
    * every row, inserted ones too, lands in its key's `__tenant`
    * partition ([[DistributionCatalog.isolateTenant]]). */
  def mergeIntoTable(spark: SparkSession, table: String,
      source: DataFrame, sourceKey: String,
      clauses: MergeClauses): Unit = {
    val spec = DistributionCatalog.spec(table).getOrElse(
      throw new IllegalArgumentException(s"not a catalog table: $table"))
    require(spec.bucketed && spec.distColumn.isDefined,
      s"$table is not hash-bucketed")
    val target = spark.table(table)
    val merged = merge(target, source, spec.distColumn.get, sourceKey,
      clauses)
    DistributionCatalog.commitVersion(spark, table, Some(spec),
      merged.select(target.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*))
  }
}
