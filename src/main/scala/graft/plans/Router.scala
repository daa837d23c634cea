package graft.plans

import graft.catalog.DistributionCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LeafExpression, LessThan, LessThanOrEqual, Literal, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, CatalogFileIndex, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._

/** When a `Filter` pins a bucketed catalog table's single bucket column
  * to one non-null literal (`col = v`, also one that
  * `InferFiltersFromConstraints` derived from a join on that column),
  * swap the relation's file index for a [[ShardFileIndex]] view that
  * keeps only that bucket's files, and drop the bucket spec. The scan
  * reads one bucket, packed into as few tasks as its bytes need: one
  * file and one task for a bucket written by one task. Spark's own
  * bucket pruning also reads one bucket, but a scan that stays bucketed
  * (under a join or an aggregate) runs one task per bucket, all but one
  * empty. Every row with `col = v` lives in bucket `hash(v) mod n`,
  * and the filter still runs above the scan, so the answer cannot
  * change. Disjunctions and multi-value `IN`s pin nothing and keep
  * Spark's bucket pruning.
  *
  * The same conjuncts prune the other distribution methods' layout
  * partitions (citus `PruneShards`, `planner/shard_pruning.c`), which
  * Spark's partition pruning, running after this rule, then skips: on
  * a range/append table, `=`, `<`, `<=`, `>` and `>=` literals
  * (`BETWEEN` is two) add `__shard IN (…)` of the shards whose
  * interval overlaps each; on a table with isolated tenants, a pinned
  * key adds `__tenant = <its partition>`. Only such a table has its
  * partitions listed here.
  *
  * The table statistics are dropped with the bucket spec, so the size
  * estimate is that one file's and a pinned side of a join can be
  * broadcast.
  */
object RouteToShard extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case scan @ Filter(_, rel @ LogicalRelation(fs: HadoopFsRelation, _,
        Some(table), false, _)) =>
      val f = layoutConjunct(scan.condition, rel, table, fs.sparkSession)
        .fold(scan)(c => scan.copy(condition = And(scan.condition, c)))
      val cond = f.condition
      val pinned = for {
        spec <- fs.bucketSpec.filter(_.bucketColumnNames.size == 1)
        attr <- rel.output.find(a =>
          conf.resolver(a.name, spec.bucketColumnNames.head))
        value <- pinnedValue(cond, attr)
      } yield {
        val bucket = BucketingUtils.getBucketIdFromValue(attr,
          spec.numBuckets, value)
        // Spark's partition pruning runs later and skips a wrapped index
        val partitions = fs.location match {
          case c: CatalogFileIndex => c.filterPartitions(
            splitConjunctivePredicates(cond).filter(e => e.deterministic &&
              !SubqueryExpression.hasSubquery(e) && e.references.map(_.name)
                .toSet.subsetOf(table.partitionColumnNames.toSet)))
          case l => l
        }
        val routed = fs.copy(location = new ShardFileIndex(partitions,
          bucket), bucketSpec = None)(fs.sparkSession)
        f.copy(child = rel.copy(relation = routed,
          catalogTable = Some(table.copy(stats = None))))
      }
      pinned.getOrElse(f)
  }

  /** The conjunct on `table`'s `__shard` or `__tenant` partition column
    * that `cond` implies, if it prunes a partition. */
  private def layoutConjunct(cond: Expression, rel: LogicalRelation,
      table: CatalogTable, spark: SparkSession): Option[Expression] = {
    import DistributionCatalog.{AppendDist, Hash, RangeDist, ShardCol, TenantCol}
    def attr(name: String) = rel.output.find(a => conf.resolver(a.name, name))
    for {
      layout <- table.partitionColumnNames match {
        case Seq(c @ (ShardCol | TenantCol)) => attr(c)
        case _ => None
      }
      spec <- DistributionCatalog.specOf(table)(0)
      key <- spec.distColumn.flatMap(attr)
      conjunct <- (spec.method, layout.name) match {
        case (RangeDist | AppendDist, ShardCol)
            if layout.dataType == IntegerType =>
          val ivs = DistributionCatalog.shardIntervals(spark, table, key.name)
          val bs = bounds(cond, key)
          val kept = ivs.filter(i => bs.forall(overlaps(key, i)))
          Option.when(kept.size < ivs.size)(
            In(layout, kept.map(i => Literal(i.shard))))
        case (Hash, TenantCol) => pinnedValue(cond, key).map { v =>
          val k = Cast(Literal(v, key.dataType), StringType,
            Some(conf.sessionLocalTimeZone)).eval().toString
          EqualTo(layout, Literal(
            if (DistributionCatalog.tenants(spark, table).contains(k)) k
            else DistributionCatalog.NoTenant))
        }
        case _ => None
      }
    } yield conjunct
  }

  /** The conjuncts of `cond` that compare `key` with a non-null literal
    * of its type by `=`, `<`, `<=`, `>` or `>=`, with that literal. */
  private def bounds(cond: Expression,
      key: Attribute): Seq[(Expression, Literal)] =
    splitConjunctivePredicates(cond).flatMap {
      case c @ (_: EqualTo | _: LessThan | _: LessThanOrEqual |
          _: GreaterThan | _: GreaterThanOrEqual) => c.children match {
        case Seq(a: Attribute, l: Literal) if pins(a, l, key) => Some(c -> l)
        case Seq(l: Literal, a: Attribute) if pins(a, l, key) => Some(c -> l)
        case _ => None
      }
      case _ => None
    }

  /** Whether a `key` in interval `i` can satisfy comparison `c` with
    * `v`: the keys it keeps are a down-set, an up-set or `v` alone, so
    * it holds at a bound of `i`, or `v` is inside `i`. A shard with no
    * non-null key satisfies none. */
  private def overlaps(key: Attribute, i: DistributionCatalog.ShardInterval)(
      b: (Expression, Literal)): Boolean = {
    val (c, v) = b
    val Seq(lo, hi) = Seq(i.min, i.max).map(Literal.create(_, key.dataType))
    def holds(e: Expression) = e.eval() == true
    Seq(lo, hi).exists(bound => holds(c.transform {
      case a: Attribute if a.semanticEquals(key) => bound
    })) || holds(And(LessThan(lo, v), LessThan(v, hi)))
  }

  private def pinnedValue(cond: Expression, attr: Attribute): Option[Any] =
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: Attribute, l: Literal) if pins(a, l, attr) => l.value
      case EqualTo(l: Literal, a: Attribute) if pins(a, l, attr) => l.value
    }

  private def pins(a: Attribute, l: Literal, attr: Attribute): Boolean =
    a.semanticEquals(attr) && l.value != null && l.dataType == attr.dataType
}

/** A view of a table's file index that lists only one bucket's files.
  * The listing stays the cached index's, so a refresh after a write is
  * seen here too. A file whose name carries no bucket id is kept, as
  * Spark's own bucket pruning keeps it. */
final class ShardFileIndex(val base: FileIndex, val bucket: Int)
    extends FileIndex {

  private def inBucket(file: Path): Boolean =
    BucketingUtils.getBucketId(file.getName).forall(_ == bucket)

  override def rootPaths: Seq[Path] = base.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    base.listFiles(partitionFilters, dataFilters)
      .map(d => d.copy(files = d.files.filter(f => inBucket(f.getPath))))

  override def inputFiles: Array[String] =
    base.inputFiles.filter(p => inBucket(new Path(p)))

  override def refresh(): Unit = base.refresh()

  override def sizeInBytes: Long =
    listFiles(Nil, Nil).iterator.flatMap(_.files).map(_.getLen).sum

  override def partitionSchema: StructType = base.partitionSchema

  override def equals(other: Any): Boolean = other match {
    case s: ShardFileIndex => s.base == base && s.bucket == bucket
    case _ => false
  }

  override def hashCode: Int = base.hashCode * 31 + bucket
}

/** Load primitive-typed literals of `FilterExec` equality predicates
  * from the generated class's `references` array. Spark inlines such a
  * literal into the generated Java, so each new key of a parameterized
  * statement is new source text and costs a Janino compile; with the
  * key loaded as a reference the text is the same for every key and
  * the compiled class comes from Spark's code cache. It runs before
  * `CollapseCodegenStages` on both the adaptive and the static path.
  * Scans keep their own copies of the predicates, so statistics-based
  * and pushed-down filtering still see a `Literal`. */
object ShareKeyCodegen extends ColumnarRule {

  private val shared: Set[DataType] = Set(IntegerType, LongType, DateType,
    TimestampType, TimestampNTZType, DoubleType)

  private def share(e: Expression): Expression = e match {
    case l: Literal if l.value != null && shared(l.dataType) =>
      ReferenceLiteral(l.value, l.dataType)
    case other => other
  }

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec =>
        val cond = f.condition.transformUp {
          case EqualTo(l, r) => EqualTo(share(l), share(r))
        }
        if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
    }
  }
}

/** A non-null literal whose generated code reads it from the class's
  * `references` array. It prints exactly like the [[Literal]] it
  * replaces, so EXPLAIN output and plan strings read as before. */
final case class ReferenceLiteral(value: Any, dataType: DataType)
    extends LeafExpression {

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString

  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("key", value, boxed)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(
        s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}
