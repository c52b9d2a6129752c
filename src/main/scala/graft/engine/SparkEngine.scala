package graft.engine

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.UUID

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

  private def obtain(): SparkSession = this.synchronized {
    session.getOrElse {
      val s = provider()
      // the engine's SQL dialect includes the library's native
      // functions (cosine_sim) regardless of how the caller built the
      // session — idempotent, so conf-driven registration composes
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

  /** `str(datetime64)`-compatible format: no trailing zeros beyond
    * seconds unless sub-second precision exists (app.py:64-65 contract,
    * normalized per SURVEY §7.4.2). Session TZ is pinned UTC.
    */
  private val tsSeconds = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val tsMicros = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def formatTimestamp(ts: java.sql.Timestamp): String = {
    val instant = ts.toInstant
    if (instant.getNano == 0) tsSeconds.format(instant) else tsMicros.format(instant)
  }

  /** A4: row -> column->value map; timestamps become strings so the
    * record is JSON-representable (app.py:61-67).
    */
  def serializeRow(schema: StructType, row: Row): Map[String, Any] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val v = if (row.isNullAt(i)) null else f.dataType match {
        case TimestampType => formatTimestamp(row.getTimestamp(i))
        case DateType      => row.getDate(i).toString
        case _             => row.get(i)
      }
      f.name -> v
    }.toMap

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
