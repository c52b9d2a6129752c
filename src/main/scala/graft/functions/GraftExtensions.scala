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

  /** The (name, info, builder) row of a two-argument native function. */
  private def entry(name: String, cls: Class[_])(
      make: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"$name takes exactly 2 arguments, got ${args.length}")
        make(args.head, args(1))
      })

  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      // the fused single-pass cosine
      entry("cosine_sim", classOf[CosineSimilarity])(CosineSimilarity(_, _)),
      // the IVF probe metric
      entry("sq_l2_dist", classOf[SquaredL2Distance])(SquaredL2Distance(_, _)),
      // the exact-integer quantized-rerank kernel
      entry("dot_i", classOf[IntDotProduct])(IntDotProduct(_, _)),
      // the two-pointer merge of triangle enumeration
      entry("sorted_intersect", classOf[SortedLongIntersect])(SortedLongIntersect(_, _)))

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
