package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's session extensions: SQL-surface registration for its
  * native expressions — the last rung of the custom-operator ladder
  * (SURVEY §7.3): a `Column`-API expression becomes available to
  * pure-SQL callers of the engine (reference app.py:44-51 accepts
  * arbitrary SQL, so a user migrating a SQL workload needs the function
  * IN the dialect, not only in Scala) — plus the physical rule
  * [[graft.engine.ConstantRefs]], which keeps primitive constants out of
  * generated code so served queries that differ only in a constant
  * reuse one compiled class.
  *
  * Entry points:
  *  - `.withExtensions(new GraftExtensions)`: every session the library
  *    builds ([[graft.engine.Tuning.session]]);
  *  - conf-driven: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    for sessions the library does not construct;
  *  - imperative: [[GraftExtensions.ensureRegistered]] adds the functions
  *    (not the rule, which Spark only takes at session construction) to
  *    an existing session (idempotent) — what [[graft.engine.SparkEngine]]
  *    uses for a session it was handed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectColumnar(_ => graft.engine.ConstantRefs.Columnar)
  }
}

object GraftExtensions {

  /** (name, info, builder) row for `cosine_sim` — the fused
    * single-pass [[CosineSimilarity]] expression.
    */
  val cosineSimEntry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"cosine_sim takes exactly 2 arguments, got ${args.length}")
        CosineSimilarity(args.head, args(1))
      })

  /** (name, info, builder) row for `sq_l2_dist` — the fused
    * [[SquaredL2Distance]] expression (the IVF probe metric).
    */
  val sqL2Entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sq_l2_dist"),
      new ExpressionInfo(classOf[SquaredL2Distance].getName, "sq_l2_dist"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"sq_l2_dist takes exactly 2 arguments, got ${args.length}")
        SquaredL2Distance(args.head, args(1))
      })

  /** (name, info, builder) row for `dot_i` — the exact-integer
    * [[IntDotProduct]] expression (the quantized-rerank kernel).
    */
  val dotIEntry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("dot_i"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "dot_i"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"dot_i takes exactly 2 arguments, got ${args.length}")
        IntDotProduct(args.head, args(1))
      })

  /** (name, info, builder) row for `sorted_intersect` — the
    * two-pointer merge [[SortedLongIntersect]] (the triangle-
    * enumeration kernel).
    */
  val sortedIntersectEntry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedLongIntersect].getName, "sorted_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"sorted_intersect takes exactly 2 arguments, got ${args.length}")
        SortedLongIntersect(args.head, args(1))
      })

  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(cosineSimEntry, sqL2Entry, dotIEntry, sortedIntersectEntry)

  /** Registers the library's native functions in an existing session's
    * function registry (no-op when already present, so every engine
    * bootstrap can call it unconditionally).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
  }
}
