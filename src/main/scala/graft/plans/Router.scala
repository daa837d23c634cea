package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, LeafExpression, Literal, PredicateHelper, SubqueryExpression}
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
  * The table statistics are dropped with the bucket spec, so the size
  * estimate is that one file's and a pinned side of a join can be
  * broadcast.
  */
object RouteToShard extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, rel @ LogicalRelation(fs: HadoopFsRelation, _,
        Some(table), false, _))
        if fs.bucketSpec.exists(_.bucketColumnNames.size == 1) =>
      val spec = fs.bucketSpec.get
      val pinned = for {
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
