package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant that generated code reads from the compiled
  * class's `references` array instead of spelling it in the source.
  *
  * Spark inlines a [[Literal]] into generated Java
  * (`filter_value_3 = columnartorow_value_0 >= 40000L;`), and its
  * codegen cache is keyed by the source text (and, in Spark 4.1, by
  * the compiling classloader, so the driver's compile and the
  * executor task's compile never share an entry). Two served queries
  * that differ only in `l_orderkey >= {k}` therefore compile twice
  * each. With the value in `references` the source depends only on the
  * query's shape, and a new constant costs no compile.
  *
  * The value is read once per generated object, into a field, in the
  * class's init code. `toString` and `sql` render as the wrapped
  * literal does, so EXPLAIN text and plan strings are unchanged;
  * equality is the literal's (NaN equals NaN, as for [[Literal]]).
  */
case class ConstantRef(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("constant", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "constant",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

/** The physical rule that keeps primitive constants out of generated
  * source: each non-null primitive [[Literal]] that is an operand of a
  * [[BinaryComparison]], [[BinaryArithmetic]] or [[In]] inside a
  * `FilterExec` condition or a `ProjectExec` project list becomes a
  * [[ConstantRef]] of the same value and type.
  *
  * Nothing else is touched: scan data, partition and pushed filters
  * (pushdown already happened, and EXPLAIN's `PushedFilters` shows the
  * constant as before), aggregates, windows, joins, sort orders,
  * limits, generators, and every subtree under a [[Nondeterministic]]
  * expression (`rand(seed)` pattern-matches its seed). It runs as a
  * pre-transition columnar rule, which Spark applies before
  * `CollapseCodegenStages` both in the non-adaptive preparations and
  * after each adaptive stage is created.
  */
object ConstantRefs extends Rule[SparkPlan] {

  /** The columnar-rule wrapper that [[graft.functions.GraftExtensions]]
    * injects into every session it configures.
    */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ConstantRefs
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = rewrite(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
  }

  private def rewrite(e: Expression): Expression = e match {
    case _: Nondeterministic => e
    case _: BinaryComparison | _: BinaryArithmetic | _: In =>
      e.withNewChildren(e.children.map {
        case l: Literal if hoistable(l) => ConstantRef(l)
        case c => rewrite(c)
      })
    case _ => e.withNewChildren(e.children.map(rewrite))
  }

  private def hoistable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType
        | FloatType | DoubleType | DateType | TimestampType | TimestampNTZType
        | _: DayTimeIntervalType | _: YearMonthIntervalType => true
    case _ => false
  })
}
