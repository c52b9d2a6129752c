package graft.engine

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.UUID

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Wire contract of the engine service (reference app.py:44-45): a SQL
  * string plus an optional row cap applied to the *result*.
  */
case class QueryRequest(q: String, limit: Option[Int] = None)

/** Response envelope fields (reference app.py:70-85): server-side
  * execution time, epoch at completion, a fresh UUID per call, the
  * original query text, and whether the engine was already warm.
  */
case class QueryMetadata(
    timeMs: Long, epochMs: Long, eventId: String, query: String, warm: Boolean)

/** `columns` carries the result's column order (a record map is
  * unordered) so clients can render without re-executing the query.
  */
case class QueryResponse(
    metadata: QueryMetadata,
    records: Seq[Map[String, Any]],
    columns: Seq[String] = Nil)

case class EngineException(message: String) extends RuntimeException(message)

/** Stateless SQL query engine over a parquet data lake — the Spark-native
  * re-expression of the reference's Lambda handler (app.py:27-58).
  *
  * Differences by design, not accident:
  *  - the reference truncates with a *post-execution* `head(limit)`
  *    (app.py:54); we put `.limit(n)` in the plan so Catalyst plans
  *    `CollectLimitExec` / `TakeOrderedAndProjectExec` and never
  *    materializes the full result;
  *  - the warm/cold connection cache (app.py:8, :32-41) maps onto the
  *    lazily-built long-lived SparkSession.
  *
  * The only driver-side materialization in the whole library is this
  * limit-bounded collect (SURVEY §7.4.8) — everything else stays
  * distributed.
  *
  * @param provider how to obtain the session on first use (cold start)
  */
class SparkEngine(provider: () => SparkSession) {
  import SparkEngine._

  @volatile private var session: Option[SparkSession] = None

  /** Reference `warm` flag: was the engine already initialized? */
  def isWarm: Boolean = session.isDefined

  /** The session, built by `provider` on first use. A session from
    * [[Tuning.session]] (what [[SparkEngine.local]] uses) already has
    * the [[graft.functions.GraftExtensions]]: the native functions and
    * the [[ConstantRefs]] rule that lets a query differing from an
    * earlier one only in a constant reuse its compiled code.
    * `ensureRegistered` remains only for [[SparkEngine.wrap]]ped
    * sessions the library did not build: they get the functions, but
    * not the rule, which Spark takes only at session construction
    * (through `withExtensions` or `spark.sql.extensions`).
    */
  private def obtain(): SparkSession = this.synchronized {
    session.getOrElse {
      val s = provider()
      // idempotent, so a session that already has the extensions
      // is left as it is
      graft.functions.GraftExtensions.ensureRegistered(s)
      session = Some(s)
      s
    }
  }

  /** A1 + A3 + A4 + A5: execute SQL, cap rows (default 20, app.py:9),
    * serialize rows to name->value records with timestamps stringified
    * (app.py:61-67), wrap in the metadata envelope.
    */
  def execute(req: QueryRequest): QueryResponse = {
    val warm = isWarm
    // Timer starts BEFORE session acquisition so a cold start is included
    // in timeMs, matching the reference (app.py:35-38 starts its clock
    // before creating the connection).
    val t0 = System.nanoTime()
    val limit = req.limit.getOrElse(DefaultLimit)
    // The whole parse→analyze→execute path surfaces uniformly as
    // EngineException (reference surfaces everything as errorMessage,
    // quack.py:65-68). Parse/analysis errors happen at spark.sql(), not
    // collect(), so both sit inside the try.
    val (schema, rows) =
      try {
        if (limit <= 0) throw EngineException(s"limit must be > 0, got $limit")
        if (req.q.trim.isEmpty) {
          // app.py:47-48: an empty query returns an empty result set with
          // metadata rather than an error.
          (StructType(Nil), Array.empty[Row])
        } else {
          val spark = obtain()
          val df = spark.sql(req.q).limit(limit)
          (df.schema, df.collect())
        }
      } catch {
        case e: EngineException => throw e
        case e: Exception =>
          // Spark parse errors lead with a newline; normalize so the
          // error surface is a single readable message (quack.py:65-68).
          throw EngineException(Option(e.getMessage).getOrElse(e.toString).trim)
      }
    val records = rows.iterator.map(serializeRow(schema, _)).toSeq
    val timeMs = (System.nanoTime() - t0) / 1000000
    QueryResponse(
      QueryMetadata(
        timeMs = timeMs,
        epochMs = System.currentTimeMillis(),
        eventId = UUID.randomUUID().toString,
        query = req.q,
        warm = warm),
      records,
      schema.fieldNames.toSeq)
  }

  /** A7 analog: DataFrame-returning entry for in-process callers that
    * want to keep composing (the client boundary collapses to a method
    * call in local mode — SURVEY §3.1).
    */
  def sql(q: String): DataFrame = obtain().sql(q)
}

object SparkEngine {
  /** app.py:9 `DEFAULT_LIMIT = 20`. */
  val DefaultLimit = 20
  /** quack.py:26 terminal cap, for the CLI renderer. */
  val MaxRowsInTerminal = 10

  private val tsSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val tsMicros = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def formatLocal(t: LocalDateTime): String =
    (if (t.getNano == 0) tsSeconds else tsMicros).format(t)

  /** `str(datetime64)`-compatible format: no trailing zeros beyond
    * seconds unless sub-second precision exists (app.py:64-65 contract,
    * normalized per SURVEY §7.4.2). Session TZ is pinned UTC.
    */
  def formatTimestamp(ts: java.sql.Timestamp): String =
    formatLocal(LocalDateTime.ofInstant(ts.toInstant, ZoneOffset.UTC))

  /** A4: row -> column->value record (app.py:61-67). The one place a
    * Spark value becomes a wire value: it walks the schema, so a value
    * gets the same form at any depth, and returns only what the JSON
    * codec writes natively:
    *  - TIMESTAMP (as UTC) and TIMESTAMP_NTZ (as its local date-time)
    *    by [[formatTimestamp]]'s rule;
    *  - DATE as `yyyy-MM-dd`; intervals in their ISO-8601 (`Duration`,
    *    `Period`) or Spark string form; a VARIANT as its JSON text;
    *  - a struct as a map in field order, an array as a sequence, a
    *    map as an object keyed by each encoded key's string form;
    *  - anything else as is (numbers, decimals, strings, booleans,
    *    NaN/±Infinity, which Jackson writes as strings, and binary,
    *    which it writes as base64).
    */
  def serializeRow(schema: StructType, row: Row): Map[String, Any] =
    VectorMap.from(schema.fields.iterator.zipWithIndex.map { case (f, i) =>
      f.name -> encode(f.dataType, row.get(i))
    })

  private def encode(t: DataType, v: Any): Any = if (v == null) null else t match {
    case TimestampType => v match {
      case ts: java.sql.Timestamp => formatTimestamp(ts)
      case i: Instant => formatLocal(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    }
    case TimestampNTZType => formatLocal(v.asInstanceOf[LocalDateTime])
    case DateType | _: DayTimeIntervalType | _: YearMonthIntervalType |
        CalendarIntervalType | VariantType => v.toString
    case s: StructType => serializeRow(s, v.asInstanceOf[Row])
    case ArrayType(et, _) => v.asInstanceOf[collection.Seq[Any]].map(encode(et, _))
    case MapType(kt, vt, _) => v.asInstanceOf[collection.Map[Any, Any]].map {
      case (k, x) => String.valueOf(encode(kt, k)) -> encode(vt, x)
    }
    case _ => v
  }

  /** Default local engine: one long-lived session from the shared
    * factory, shuffle parallelism sized for local[32] (not the 200
    * default), parquet timestamps written as MICROS.
    */
  def local(master: String = "local[*]"): SparkEngine = new SparkEngine(() =>
    Tuning.session(master, shufflePartitions = 32, extraConfs = Map(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")))

  /** Wrap an existing session (tests, Verify/Bench mains). Pins the
    * session timezone to UTC so formatTimestamp's UTC rendering agrees
    * with the session's wall-clock semantics (SURVEY §7.4.2).
    */
  def wrap(spark: SparkSession): SparkEngine = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    new SparkEngine(() => spark)
  }
}
