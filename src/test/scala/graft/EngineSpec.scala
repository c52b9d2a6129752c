package graft

import java.sql.Timestamp
import java.time.{Duration, LocalDateTime, Period, ZoneOffset}

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.{EngineException, QueryRequest, SparkEngine}
import graft.server.HttpFront
import graft.sources.Lake

/** SURVEY §2.A contracts: envelope (A5), default limit (A3), warm flag
  * (A2), serializer (A4), and the uniform error surface (A7 /
  * quack.py:65-68).
  */
class EngineSpec extends SparkSpec {

  private lazy val engine = {
    val e = SparkEngine.wrap(spark)
    Lake.registerAll(spark, SfDir)
    e
  }

  test("default limit is 20 (app.py:9) and envelope fields are present") {
    val resp = engine.execute(QueryRequest("SELECT l_orderkey FROM lineitem ORDER BY l_orderkey"))
    assert(resp.records.size == 20)
    assert(resp.metadata.query.startsWith("SELECT l_orderkey"))
    assert(resp.metadata.eventId.nonEmpty)
    assert(resp.metadata.timeMs >= 0)
    assert(resp.metadata.epochMs > 0)
  }

  test("engine SQL dialect includes the native cosine_sim (extension bootstrap)") {
    // a SQL-only user of the engine can call the library's native
    // expression without touching the Scala Column API
    val resp = engine.execute(QueryRequest(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c"))
    assert(resp.records.head("c") == 1.0, s"got ${resp.records.head}")
  }

  test("explicit limit caps rows") {
    val resp = engine.execute(QueryRequest("SELECT l_orderkey FROM lineitem", Some(3)))
    assert(resp.records.size == 3)
  }

  test("envelope carries the result's column order (CLI renders without re-executing)") {
    val resp = engine.execute(
      QueryRequest("SELECT l_partkey AS b, l_orderkey AS a FROM lineitem", Some(1)))
    assert(resp.columns == Seq("b", "a"))
  }

  test("warm flag flips after first use (app.py:8,:32-41)") {
    val cold = new SparkEngine(() => spark)
    assert(!cold.isWarm)
    val first = cold.execute(QueryRequest("SELECT 1 AS one"))
    assert(!first.metadata.warm)
    val second = cold.execute(QueryRequest("SELECT 1 AS one"))
    assert(second.metadata.warm)
  }

  test("parse errors surface as EngineException (quack.py:65-68)") {
    val e = intercept[EngineException] {
      engine.execute(QueryRequest("SELEKT broken FROM nowhere"))
    }
    assert(e.message != null)
  }

  test("analysis errors (missing table) surface as EngineException") {
    intercept[EngineException] {
      engine.execute(QueryRequest("SELECT * FROM no_such_table_xyz"))
    }
  }

  test("non-positive limit is rejected as EngineException") {
    intercept[EngineException] {
      engine.execute(QueryRequest("SELECT 1", Some(0)))
    }
  }

  test("empty query returns empty result set with metadata (app.py:47-48)") {
    val resp = engine.execute(QueryRequest("   "))
    assert(resp.records.isEmpty)
    assert(resp.metadata.eventId.nonEmpty)
  }

  test("timestamp serialization: seconds vs sub-second precision (§7.4.2)") {
    assert(SparkEngine.formatTimestamp(Timestamp.valueOf("2019-04-01 07:04:09")) ==
      "2019-04-01 07:04:09")
    val sub = Timestamp.valueOf("2019-04-01 07:04:09.123456")
    assert(SparkEngine.formatTimestamp(sub) == "2019-04-01 07:04:09.123456")
  }

  test("serializeRow stringifies timestamps/dates and keeps nulls") {
    val inner = StructType(Seq(StructField("b", StringType), StructField("a", TimestampType)))
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("d", DateType),
      StructField("n", LongType), StructField("s", StringType),
      StructField("ntz", TimestampNTZType), StructField("dt", DayTimeIntervalType()),
      StructField("ym", YearMonthIntervalType()), StructField("st", inner),
      StructField("arr", ArrayType(TimestampType)),
      StructField("m", MapType(DateType, ArrayType(inner)))))
    val half = Timestamp.valueOf("2024-01-05 10:00:00.5")
    val row = Row(Timestamp.valueOf("2024-01-05 10:00:00"),
      java.sql.Date.valueOf("2024-01-05"), null, "x",
      LocalDateTime.parse("2024-01-05T10:00:00.25"), Duration.ofHours(72),
      Period.of(1, 2, 0), Row("y", half),
      // the Instant is what a session with spark.sql.datetime.java8API.enabled returns
      Seq(half, null, half.toInstant),
      Map(java.sql.Date.valueOf("2024-01-06") -> Seq(Row(null, half), null)))
    val m = SparkEngine.serializeRow(schema, row)
    assert(m("ts") == "2024-01-05 10:00:00")
    assert(m("d") == "2024-01-05")
    assert(m("n") == null)
    assert(m("s") == "x")
    // nested values get the top-level forms; structs and the record
    // keep field order
    assert(HttpFront.mapper.writeValueAsString(m) ==
      """{"ts":"2024-01-05 10:00:00","d":"2024-01-05","n":null,"s":"x",""" +
      """"ntz":"2024-01-05 10:00:00.250000","dt":"PT72H","ym":"P1Y2M",""" +
      """"st":{"b":"y","a":"2024-01-05 10:00:00.500000"},""" +
      """"arr":["2024-01-05 10:00:00.500000",null,"2024-01-05 10:00:00.500000"],""" +
      """"m":{"2024-01-06":[{"b":null,"a":"2024-01-05 10:00:00.500000"},null]}}""")
  }

  test("serializeRow writes strict JSON with one timestamp rule and struct field order, for generated nested schemas") {
    import scala.jdk.CollectionConverters._
    val strict = JsonMapper.builder()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .disable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()
    val utc = (t: LocalDateTime) => SparkEngine.formatTimestamp(
      Timestamp.from(t.toInstant(ZoneOffset.UTC)))
    // walks the collected value beside its JSON node
    def check(t: DataType, v: Any, node: JsonNode, path: String): Unit = (t, v) match {
      case (_, null) => assert(node.isNull, path)
      case (TimestampType, ts: Timestamp) =>
        assert(node.asText == SparkEngine.formatTimestamp(ts), path)
      case (TimestampNTZType, l: LocalDateTime) => assert(node.asText == utc(l), path)
      case (s: StructType, r: Row) =>
        assert(node.fieldNames.asScala.toSeq == s.fieldNames.toSeq, path)
        s.fields.zipWithIndex.foreach { case (f, i) =>
          check(f.dataType, r.get(i), node.get(f.name), s"$path.${f.name}")
        }
      case (ArrayType(et, _), xs: collection.Seq[_]) =>
        assert(node.isArray && node.size == xs.size, path)
        xs.zipWithIndex.foreach { case (x, i) => check(et, x, node.get(i), s"$path[$i]") }
      case (MapType(kt, vt, _), kvs: collection.Map[_, _]) =>
        assert(node.isObject && node.size == kvs.size, path)
        kvs.foreach { case (k, x) =>
          val key = k match { case ts: Timestamp => SparkEngine.formatTimestamp(ts); case _ => k.toString }
          assert(node.has(key), s"$path: no key $key in $node")
          check(vt, x, node.get(key), s"$path[$key]")
        }
      case _ =>
    }
    for (schema <- GenSchemas.samples(GenSchemas.struct(depth = 3), 40)) {
      val rows = GenSchemas.samples(GenSchemas.row(schema), 3)
      for (row <- spark.createDataFrame(rows.asJava, schema).collect()) {
        val json = HttpFront.mapper.writeValueAsString(SparkEngine.serializeRow(schema, row))
        check(schema, row, strict.readTree(json), schema.simpleString)
      }
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or a documented rows-only status") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o -- q}")
    // rows-only set is intentionally small and sketch/config-flavored
    val rowsOnly = q -- o
    assert(rowsOnly.forall(n =>
      n.startsWith("x") || n == "b12_set_conf" || n == "c11_agg_approx"),
      s"unexpected rows-only queries: $rowsOnly")
  }
}

/** Generated nested schemas over the wire's value types, and rows of
  * external values for them, with nulls at every depth. Gen driven
  * directly, as in [[CountPropertySpec]].
  */
private object GenSchemas {
  import java.math.{BigDecimal => JBigDecimal, BigInteger}
  import java.time.{Instant, LocalDate}
  import java.time.temporal.ChronoUnit
  import org.scalacheck.{Arbitrary, Gen}
  import org.scalacheck.rng.Seed

  def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private val leaves: Seq[DataType] = Seq(TimestampType, TimestampNTZType, DateType,
    DayTimeIntervalType(), YearMonthIntervalType(), DecimalType(38, 0),
    DecimalType(38, 18), DecimalType(38, 38), FloatType, DoubleType, BinaryType, StringType)

  private def tpe(depth: Int): Gen[DataType] =
    if (depth == 0) Gen.oneOf(leaves)
    else Gen.frequency(
      3 -> Gen.oneOf(leaves),
      1 -> tpe(depth - 1).map(ArrayType(_, containsNull = true)),
      1 -> Gen.zip(Gen.oneOf(StringType, IntegerType, DateType, TimestampType), tpe(depth - 1))
        .map { case (k, v) => MapType(k, v, valueContainsNull = true) },
      1 -> struct(depth - 1))

  /** 1-7 fields named against their order, so a map that loses
    * insertion order shows.
    */
  def struct(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(1, 7)
    ts <- Gen.listOfN(n, tpe(depth))
  } yield StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"c${n - i}", t) })

  // years 0001-9999, whole seconds half the time
  private val micros: Gen[Long] = Gen.choose(-62135596800L, 253402300799L).flatMap(s =>
    Gen.oneOf(Gen.const(s * 1000000L), Gen.choose(0L, 999999L).map(s * 1000000L + _)))

  private def nonNull(t: DataType): Gen[Any] = t match {
    case TimestampType => micros.map(us => Timestamp.from(Instant.EPOCH.plus(us, ChronoUnit.MICROS)))
    case TimestampNTZType => micros.map(us => LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC))
    case DateType => Gen.choose(-719162L, 2932896L).map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d)))
    case _: DayTimeIntervalType =>
      Gen.choose(-1000000000000000L, 1000000000000000L).map(Duration.of(_, ChronoUnit.MICROS))
    case _: YearMonthIntervalType => Gen.choose(-120000, 120000).map(Period.ofMonths)
    case d: DecimalType => for {
      digits <- Gen.choose(1, 38).flatMap(Gen.listOfN(_, Gen.numChar))
      neg <- Arbitrary.arbitrary[Boolean]
    } yield new JBigDecimal(new BigInteger((if (neg) "-" else "") + digits.mkString), d.scale)
    case FloatType => Gen.oneOf(Gen.oneOf(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, Float.MinPositiveValue), Arbitrary.arbitrary[Float])
    case DoubleType => Gen.oneOf(Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, Double.MaxValue), Arbitrary.arbitrary[Double])
    case BinaryType => Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
    case StringType => Gen.oneOf(Gen.alphaNumStr, Arbitrary.arbitrary[String],
      Gen.const("q\"u\\o\nte\u0000 "))
    case IntegerType => Arbitrary.arbitrary[Int]
    case ArrayType(et, _) => Gen.choose(0, 3).flatMap(Gen.listOfN(_, value(et)))
    // alphanumeric string keys: two keys Spark's UTF-8 conversion
    // collapses into one would be a duplicate-key error, not a wire case
    case MapType(kt, vt, _) => Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(
      if (kt == StringType) Gen.alphaNumStr else nonNull(kt), value(vt)))).map(_.toMap)
    case s: StructType => row(s)
  }

  private def value(t: DataType): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> nonNull(t))

  def row(s: StructType): Gen[Row] = Gen.sequence[Seq[Any], Any](s.fields.toSeq.map(f => value(f.dataType))).map(Row.fromSeq)
}
