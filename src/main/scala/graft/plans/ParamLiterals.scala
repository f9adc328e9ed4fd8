package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** A comparison literal whose generated code reads its value from the
  * generated class's references instead of spelling it in the source.
  *
  * Spark's `Literal.doGenCode` writes primitive, date and timestamp values
  * into the Java source, and the codegen cache keys on that source, so a
  * relay text seen before but with new literals (`quantity > 23` after
  * `quantity > 27`) would compile fresh classes at every relay it
  * crosses. Here the value is stored once per generated class
  * (`addReferenceObj`, unboxed into a field), so every value of one shape
  * produces the same source and reuses its compiled class. Strings and
  * decimals need nothing: Spark already passes them as references.
  *
  * Not a `Literal` subclass: `Literal.equals` compares values, and a
  * tree transform keeps the old node when the rewritten one is equal, so a
  * subclass swap would be dropped. `toString` and `sql` are the literal's,
  * so EXPLAIN reads the same. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a null literal stays a Literal")

  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "param", v => s"$v = $ref;")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Plans every `FilterExec` comparison literal as a [[ParamLiteral]], so a
  * relay serving one query shape with new literals on every request
  * compiles that shape once.
  *
  * For a logical `Filter` or `Project` it runs the session's other
  * strategies and takes the first non-empty result, as `QueryPlanner`
  * would, then rewrites only `FilterExec.condition`. Scans keep their
  * `Literal` forms: file-source pushdown (`FileSourceScanExec.dataFilters`,
  * translated during physical planning by matching `Literal`) and the
  * relay scan's pushed WHERE see the plan before the rewrite. That is why
  * this is a strategy and not a logical rule, which would lose parquet
  * row-group pushdown. Turning whole-stage codegen off instead would
  * still compile per value (`FilterExec`'s expression codegen inlines
  * literals too) and lose vectorized parquet reads.
  *
  * What still compiles per value: texts whose only literal is a LIMIT
  * (`BaseLimitExec` inlines it), literals in projections and function
  * arguments, and `IN` lists (switch codegen). */
object ParamLiteralStrategy extends SparkStrategy {

  /** Plans under `SparkSession.active`: `QueryExecution` and AQE's
    * re-planning both run the planner with the query's session active. */
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project =>
      SparkSession.active.sessionState.planner.strategies.iterator
        .filterNot(_ eq this)
        .map(_(plan))
        .find(_.nonEmpty)
        .map(_.map(parameterize))
        .getOrElse(Nil)
    case _ => Nil
  }

  private def parameterize(p: SparkPlan): SparkPlan = p.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(wrap))
    })
  }

  private def wrap(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  /** The types whose values `Literal.doGenCode` writes into the source. */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Adds the strategy to `spark`'s planner once. `extraStrategies` is a
    * plain var: the check-then-set runs under the session's lock, as
    * `TopKPerGroup.apply` installs its strategy. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
  }
}
