package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.{ConstantRef, QueryRequest, SparkEngine}
import graft.sources.Lake

/** [[graft.engine.ConstantRefs]]: a served query that differs from a
  * warmed one only in a constant compiles nothing, every hoisted type
  * evaluates exactly as the interpreted path does, and plan strings
  * still show the constant.
  */
class ConstantRefsSpec extends SparkSpec {

  private lazy val engine = {
    val e = SparkEngine.wrap(spark)
    Lake.registerAll(spark, SfDir)
    e
  }

  private val lineitemShape =
    "SELECT * FROM lineitem WHERE l_orderkey >= %d ORDER BY l_orderkey, l_linenumber"
  private val eventsShape =
    "SELECT * FROM events WHERE ts >= TIMESTAMP '%s 00:00:00' ORDER BY event_id"

  /** Janino compilations (driver and task) while serving `q`. */
  private def compiles(q: String): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    engine.execute(QueryRequest(q, Some(100)))
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("after warm-up, a served query differing only in a constant compiles nothing") {
    assert(spark.streams.active.isEmpty, "a running stream would compile in the background")
    compiles(lineitemShape.format(1000))
    compiles(eventsShape.format("2024-01-02"))
    assert(compiles(lineitemShape.format(3000)) == 0)
    assert(compiles(lineitemShape.format(30000)) == 0)
    assert(compiles(eventsShape.format("2024-01-05")) == 0)
  }

  test("plan strings of a served query still show the constant, in the filter and the pushed filters") {
    val df = spark.sql(lineitemShape.format(30000)).limit(100)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    assert(text.contains("(l_orderkey#") && text.contains(" >= 30000)"), text)
    assert(text.contains("GreaterThanOrEqual(l_orderkey,30000)"), text)
    val conditions = plan.collect { case f: FilterExec => f.condition }
    assert(conditions.exists(_.exists(_.isInstanceOf[ConstantRef])),
      s"the filter constant was not rewritten: $conditions")
  }

  // ---- every hoisted type: whole-stage codegen == interpreted ----

  /** A hoisted type with its internal-value edges and a generator. */
  private case class Case(dt: DataType, edges: Seq[Any], gen: Gen[Any], numeric: Boolean)

  private def numeric[A](dt: DataType, edges: Seq[A], gen: Gen[A]): Case =
    Case(dt, edges, gen.map(a => a: Any), numeric = true)

  private val yearOne = -719162          // 0001-01-01, in days
  private val year9999 = 2932896         // 9999-12-31, in days
  private val microsPerDay = 86400000000L

  private val cases = Seq(
    Case(BooleanType, Seq(true, false), Gen.oneOf(true, false), numeric = false),
    numeric(ByteType, Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, -1.toByte, 1.toByte),
      Gen.choose(Byte.MinValue, Byte.MaxValue)),
    numeric(ShortType, Seq(Short.MinValue, Short.MaxValue, 0.toShort, -1.toShort),
      Gen.choose(Short.MinValue, Short.MaxValue)),
    numeric(IntegerType, Seq(Int.MinValue, Int.MaxValue, 0, -1, 1),
      Gen.choose(-100000, 100000)),
    numeric(LongType, Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
      Gen.choose(-10000000000L, 10000000000L)),
    numeric(FloatType, Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinValue, Float.MaxValue, Float.MinPositiveValue),
      Gen.choose(-1e6f, 1e6f)),
    numeric(DoubleType, Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinValue, Double.MaxValue, Double.MinPositiveValue),
      Gen.choose(-1e12, 1e12)),
    Case(DateType, Seq(0, -1, 1, yearOne, year9999),
      Gen.choose(yearOne, year9999).map(a => a: Any), numeric = false),
    Case(TimestampType, Seq(0L, -1L, 1L, yearOne * microsPerDay, year9999 * microsPerDay),
      Gen.choose(yearOne * microsPerDay, year9999 * microsPerDay).map(a => a: Any),
      numeric = false),
    Case(TimestampNTZType, Seq(0L, -1L, yearOne * microsPerDay, year9999 * microsPerDay),
      Gen.choose(yearOne * microsPerDay, year9999 * microsPerDay).map(a => a: Any),
      numeric = false),
    // intervals add and subtract like numbers, with overflow edges
    Case(DayTimeIntervalType(), Seq(0L, -1L, -microsPerDay, Long.MinValue, Long.MaxValue),
      Gen.choose(-1000L * microsPerDay, 1000L * microsPerDay).map(a => a: Any),
      numeric = false),
    Case(YearMonthIntervalType(), Seq(0, -1, -12, Int.MinValue, Int.MaxValue),
      Gen.choose(-12000, 12000).map(a => a: Any), numeric = false))

  /** The filter and projection over column `v` against `consts`. */
  private def query(base: DataFrame, c: Case, consts: Seq[Column]): DataFrame = {
    val v = col("v")
    val isInterval = c.dt.isInstanceOf[DayTimeIntervalType] ||
      c.dt.isInstanceOf[YearMonthIntervalType]
    val cols = consts.zipWithIndex.flatMap { case (k, i) =>
      val compared = Seq(v < k, v <= k, v > k, v >= k, v === k, v <=> k, v.isin(k, consts.head))
      val arithmetic =
        if (c.numeric) Seq(try_add(v, k), try_subtract(v, k), try_multiply(v, k),
          try_divide(v, k), try_mod(v, k))
        else if (isInterval) Seq(try_add(v, k), try_subtract(v, k))
        else Nil
      (compared ++ arithmetic).zipWithIndex.map { case (e, j) => e.as(s"c${i}_$j") }
    }
    base.filter(v >= consts.head || v.isin(consts.tail: _*) || v.isNull)
      .select(v +: cols: _*)
  }

  private def render(df: DataFrame): Seq[String] = {
    val types = df.schema.fields.map(_.dataType)
    GraftPlanBridge.internalRows(df).map { (r: InternalRow) =>
      types.indices.map(i => if (r.isNullAt(i)) "null" else String.valueOf(r.get(i, types(i))))
        .mkString("|")
    }
  }

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every hoisted type, edges included, filters and projects exactly as the interpreted path") {
    val samples = 6
    for (c <- cases) {
      val schema = StructType(Seq(StructField("v", c.dt)))
      val constGen = Gen.frequency(2 -> Gen.oneOf(c.edges), 1 -> c.gen)
      val drawn = (0 until samples).flatMap { i =>
        Gen.zip(Gen.listOfN(3, constGen), Gen.listOfN(8, c.gen))
          .apply(Gen.Parameters.default, Seed(7L + i))
      }
      // one draw whose constants are exactly the edges
      for ((consts, values) <- drawn :+ (c.edges -> c.edges)) {
        val rows = (c.edges ++ values).map(x => InternalRow(x)) :+ InternalRow(null)
        def run(): (DataFrame, Seq[String]) = {
          val df = query(GraftPlanBridge.dfOfInternalRows(spark, rows, schema), c,
            consts.map(k => GraftExpressionBridge.column(Literal(k, c.dt))))
          (df, render(df))
        }
        val (compiled, got) = run()
        val rewritten = compiled.queryExecution.executedPlan
          .collect { case f: FilterExec => f.condition }
          .exists(_.exists(_.isInstanceOf[ConstantRef]))
        assert(rewritten, s"${c.dt}: no ConstantRef in ${compiled.queryExecution.executedPlan}")
        val (_, expected) = withConfs(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
        assert(got == expected, s"${c.dt} consts=$consts values=$values")
      }
    }
  }
}
