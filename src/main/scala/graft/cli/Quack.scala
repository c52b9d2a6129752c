package graft.cli

import org.apache.spark.sql.SparkSession

import graft.engine.{EngineException, QueryRequest, SparkEngine}
import graft.server.HttpFront
import graft.sources.Lake

/** CLI client — SURVEY §2.A A6-A9 (reference src/quack.py): `-q` for
  * arbitrary SQL, `-limit` (client default 10, quack.py:171), `--debug`
  * for the metadata envelope, a default COUNT(*) smoke query when no
  * `-q` is given (quack.py:141-148), terminal rendering capped at 10
  * rows with 50-char truncation (quack.py:26, :86-124), and round-trip
  * timing with uniform error surfacing (quack.py:49-83).
  *
  * Usage: runMain graft.cli.Quack [-q SQL] [-limit N] [--debug] [-sf DIR]
  */
object Quack {

  /** show()-style grid over collected records: `| a | b |` header,
    * dashed rule, cells truncated to `truncate` chars, `maxRows` rows,
    * and an "only showing" footer when capped.
    *
    * Records are name-keyed maps (the reference's `to_dict('records')`
    * envelope, app.py:67), so duplicate output column names collapse to
    * the last value — alias duplicate columns distinctly, as any
    * records-shaped API requires.
    */
  def renderTable(columns: Seq[String], records: Seq[Map[String, Any]],
      maxRows: Int, truncate: Int): String = {
    val shown = records.take(maxRows)
    // clamp: substring(0, truncate - 3) throws for truncate < 3 and the
    // parameter is public — 4 is the smallest width where "x..." fits
    val trunc = math.max(truncate, 4)
    def cell(v: Any): String = {
      val s = v match {
        case null => "NULL"
        // a struct, array or map cell prints as the wire sends it
        case x: Iterable[_] => HttpFront.mapper.writeValueAsString(x)
        case x => x.toString
      }
      if (s.length > trunc) s.substring(0, trunc - 3) + "..." else s
    }
    val rows = shown.map(r => columns.map(c => cell(r.getOrElse(c, null))))
    val widths = columns.zipWithIndex.map { case (c, i) =>
      (c.length +: rows.map(_(i).length)).max
    }
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
        .mkString("|", "|", "|\n")
    val rule = widths.map("-" * _).mkString("+", "+", "+\n")
    val footer =
      if (records.size > maxRows) s"only showing top $maxRows row(s)\n" else ""
    rule + line(columns) + rule + rows.map(line).mkString + rule + footer
  }

  /** One client invocation against an existing engine (A6-A9 minus
    * session lifecycle) — separated from main so the invoke path is
    * unit-testable without owning/stopping a session.
    */
  def runWith(engine: SparkEngine, spark: SparkSession, query: Option[String],
      limit: Int, debug: Boolean, sfDir: String): Unit = {
    Lake.registerAll(spark, sfDir)
    // A9: default smoke/health query when none given.
    val q = query.getOrElse("SELECT COUNT(*) AS counts FROM lineitem")
    val t0 = System.nanoTime()
    try {
      val resp = engine.execute(QueryRequest(q, Some(limit)))
      val roundtripMs = (System.nanoTime() - t0) / 1000000
      // A8: terminal rendering (10-row cap, 50-char truncation) from
      // the already-collected records — one execution per invocation,
      // not a show() re-run of the same query.
      print(renderTable(resp.columns, resp.records,
        SparkEngine.MaxRowsInTerminal, truncate = 50))
      if (debug) {
        val m = resp.metadata
        println(s"timeMs=${m.timeMs} epochMs=${m.epochMs} eventId=${m.eventId} " +
          s"warm=${m.warm} roundtripMs=$roundtripMs rows=${resp.records.size}")
      }
    } catch {
      // Console.err (not System.err): redirectable, so the error
      // surface is testable like the stdout grid.
      case EngineException(msg) => Console.err.println(s"errorMessage: $msg")
    }
  }

  val Usage = "usage: graft.cli.Quack [-q SQL] [-limit N] [--debug] [-sf DIR]"

  /** Parsed CLI flags; `sfDir` None falls back to env/default in main. */
  case class CliConfig(query: Option[String] = None, limit: Int = 10,
      debug: Boolean = false, sfDir: Option[String] = None)

  /** Pure argument parser, unit-testable without a session. A trailing
    * value-taking flag or a non-integer -limit is a Left (usage error),
    * not an exception; unknown args warn and are skipped, as before.
    */
  def parseArgs(args: List[String],
      cfg: CliConfig = CliConfig()): Either[String, CliConfig] = args match {
    case Nil => Right(cfg)
    case "-q" :: v :: rest => parseArgs(rest, cfg.copy(query = Some(v)))
    case "-limit" :: v :: rest =>
      v.toIntOption match {
        case Some(n) => parseArgs(rest, cfg.copy(limit = n))
        case None    => Left(s"-limit requires an integer, got '$v'")
      }
    case "-sf" :: v :: rest => parseArgs(rest, cfg.copy(sfDir = Some(v)))
    case "--debug" :: rest => parseArgs(rest, cfg.copy(debug = true))
    case (flag @ ("-q" | "-limit" | "-sf")) :: Nil =>
      Left(s"$flag requires a value")
    case other :: rest =>
      System.err.println(s"unknown arg: $other"); parseArgs(rest, cfg)
  }

  def main(args: Array[String]): Unit = parseArgs(args.toList) match {
    case Left(msg) =>
      Console.err.println(s"errorMessage: $msg")
      Console.err.println(Usage)
    case Right(cfg) =>
      val sfDir = cfg.sfDir.getOrElse(
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
      val engine = SparkEngine.local("local[*]")
      val spark: SparkSession = engine.sql("SELECT 1").sparkSession
      try runWith(engine, spark, cfg.query, cfg.limit, cfg.debug, sfDir)
      finally spark.stop()
  }
}
