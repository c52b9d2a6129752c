package perfbench

import java.io.{BufferedReader, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.HttpServer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.SparkEngine
import graft.server.HttpFront
import graft.sources.Lake

/** Cumulative counters from Spark's public listener APIs. run.py
  * takes differences between snapshots, so one set of counters
  * serves every phase of a run and survives session restarts.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, resultBytes = 0L
  var outputBytes, outputRecords, inputBytes, inputRecords = 0L
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesScanned, bytesScanned, rowsScanned = 0L
  /** Per-job and per-query records for the trace file. */
  val jobLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  val queryLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, Int)]

  def snapshot: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_cpu_ms" -> cpuNs / 1e6, "executor_run_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "result_bytes" -> resultBytes, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "queries" -> queries,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "files_scanned" -> filesScanned,
    "bytes_scanned" -> bytesScanned, "rows_scanned" -> rowsScanned))

  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.this.synchronized {
      jobs += 1
      stages += e.stageInfos.size
      jobStart(e.jobId) = (e.time, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Counters.this.synchronized {
      val (t0, nStages) = jobStart.remove(e.jobId).getOrElse((e.time, 0))
      jobLog += Map("job" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
        "stages" -> nStages, "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        resultBytes += m.resultSize
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
        outputRecords += m.outputMetrics.recordsWritten
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    val (a, o, p) = (phase("analysis"), phase("optimization"), phase("planning"))
    val scans = try Scans.of(qe.executedPlan) catch { case NonFatal(_) => (0L, 0L, 0L) }
    synchronized {
      queries += 1
      analysisMs += a; optimizationMs += o; planningMs += p
      filesScanned += scans._1; bytesScanned += scans._2; rowsScanned += scans._3
      queryLog += Map("func" -> funcName, "end_ms" -> System.currentTimeMillis(),
        "duration_ms" -> durationNs / 1e6, "ok" -> ok, "analysis_ms" -> a,
        "optimization_ms" -> o, "planning_ms" -> p, "files" -> scans._1,
        "bytes" -> scans._2, "rows" -> scans._3)
    }
  }
}

/** File-scan totals of an executed plan, read from the scan nodes' own
  * SQL metrics (`numFiles`, `filesSize`, `numOutputRows`), looking
  * through adaptive query stages and subqueries.
  */
object Scans extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): (Long, Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case s if s.children.isEmpty && s.metrics.contains("numFiles") => s
    }
    def sum(k: String) = scans.map(s => s.metrics.get(k).map(_.value).getOrElse(0L)).sum
    (sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}

/** In-process side of the benchmark. It drives the program only through
  * its public entry points (`SparkEngine.local`, `HttpFront`,
  * `SparkEntry.queries`, `Lake`) and answers one JSON command per stdin
  * line with one `@@`-prefixed JSON line on stdout. Everything else the
  * JVM prints goes to stderr.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val counters = new Counters
  private var spark: SparkSession = _
  private var server: Option[HttpServer] = None
  private var sfDir: String = _

  def main(args: Array[String]): Unit = {
    val reply = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var running = true
    while (running) {
      val line = in.readLine()
      if (line == null) running = false
      else {
        val cmd = mapper.readTree(line)
        val op = cmd.path("op").asText()
        val out =
          try handle(op, cmd)
          catch { case NonFatal(e) => Map("error" -> describe(e)) }
        reply.println("@@" + mapper.writeValueAsString(out))
        if (op == "exit") running = false
      }
    }
    shutdown()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").split('\n').head}"

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def handle(op: String, cmd: JsonNode): Map[String, Any] = op match {
    case "setup"     => setup(cmd.path("sfDir").asText(), cmd.path("cpus").asInt(),
                          cmd.path("serve").asBoolean())
    case "listen"    => listen(cmd.path("on").asBoolean()); Map("ok" -> true)
    case "counters"  => drain(); counters.snapshot ++ ledger
    case "run"       => run(cmd.path("name").asText(), cmd.path("out").asText(""))
    case "serialize" => serialize(cmd.path("q").asText(), cmd.path("limit").asInt())
    case "oracle"    => Map("sql" -> SparkEntry.oracleSqlFor(sfDir))
    case "trace"     => drain(); counters.synchronized(Map(
                          "jobs" -> counters.jobLog.toList, "queries" -> counters.queryLog.toList))
    case "heap"      => Map("live_heap_mb" -> liveHeapMb())
    case "exit"      => shutdown(); Map("ok" -> true)
    case other       => Map("error" -> s"unknown op $other")
  }

  private def ledger: Map[String, Any] = {
    val l = Lake.buildLedgerSnapshot()
    Map("builds" -> l.size, "build_s" -> l.map(_._2).sum,
      "build_names" -> l.map(_._1))
  }

  /** One cold start: a fresh session from the program's own factory and
    * table registration on a lake nobody has built yet (the caller
    * passes a fresh copy of the input). With `serve`
    * the registration happens inside `HttpFront.start`, as it does for
    * a user of `graft.server.Serve`.
    */
  private def setup(dir: String, cpus: Int, serve: Boolean): Map[String, Any] = {
    shutdown()
    sfDir = dir
    val t0 = System.nanoTime()
    val engine = SparkEngine.local(s"local[$cpus]")
    spark = engine.sql("SELECT 1").sparkSession
    val sessionMs = ms(t0)
    val t1 = System.nanoTime()
    val port =
      if (serve) {
        val s = HttpFront.start(engine, spark, dir, 0)
        server = Some(s)
        s.getAddress.getPort
      } else {
        Lake.registerAll(spark, dir)
        0
      }
    Map("session_ms" -> sessionMs, "register_ms" -> ms(t1), "port" -> port)
  }

  /** Attach or detach the listeners; untraced phases run without them. */
  private def listen(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(counters.jobListener)
      spark.listenerManager.register(counters.queryListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(counters.jobListener)
      spark.listenerManager.unregister(counters.queryListener)
    }

  /** Build a registered operator, then materialize it: through the
    * `noop` sink (every column computed, nothing kept) or, for the
    * output check, collected and written as JSON for the oracle.
    */
  private def run(name: String, out: String): Map[String, Any] = {
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val constructMs = ms(t0)
    val e1 = System.currentTimeMillis()
    val t1 = System.nanoTime()
    val collected =
      if (out.isEmpty) { df.write.format("noop").mode("overwrite").save(); Array.empty[Row] }
      else df.collect()
    val timing = Map("construct_ms" -> constructMs, "materialize_ms" -> ms(t1),
      "construct_start_ms" -> e0, "materialize_start_ms" -> e1,
      "end_ms" -> System.currentTimeMillis())
    if (out.nonEmpty)
      Files.write(Paths.get(out), mapper.writeValueAsBytes(Map(
        "columns" -> df.schema.fieldNames.toSeq,
        "rows" -> collected.toSeq.map(r => r.toSeq.map(Values.value)))))
    timing + ("rows" -> collected.length)
  }

  /** Time the program's public row encoder plus a Jackson encode set up
    * as the HTTP front sets it up, over the rows the served query
    * returns. The rows are collected first and not timed.
    */
  private def serialize(q: String, limit: Int): Map[String, Any] = {
    val df = spark.sql(q).limit(limit)
    val rows = df.collect()
    val t0 = System.nanoTime()
    // -1 bytes: the encode threw, as it does inside the HTTP front
    val bytes =
      try mapper.writeValueAsBytes(rows.iterator.map(SparkEngine.serializeRow(df.schema, _)).toSeq).length
      catch { case NonFatal(_) => -1 }
    Map("serialize_ms" -> ms(t0), "bytes" -> bytes, "rows" -> rows.length)
  }

  /** JVM heap still reachable after forced collections. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def drain(): Unit =
    if (spark != null) org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  private def shutdown(): Unit = {
    server.foreach(HttpFront.stop(_))
    server = None
    if (spark != null) { spark.stop(); spark = null }
  }
}

/** Engine-independent value encoding for the output check: one JSON
  * shape per Spark value class, so run.py can compare with
  * DuckDB after the same normalization on both sides.
  */
object Values {
  def value(v: Any): Any = v match {
    case null                         => null
    case t: java.sql.Timestamp        => t.toInstant.toString
    case t: java.time.Instant         => t.toString
    case t: java.time.LocalDateTime   => t.toString
    case d: java.sql.Date             => d.toString
    case d: java.time.LocalDate       => d.toString
    case d: java.math.BigDecimal      => d.doubleValue
    case d: scala.math.BigDecimal     => d.toDouble
    case f: Float if f.isNaN          => "NaN"
    case f: Float                     => f.toDouble
    case d: Double if d.isNaN         => "NaN"
    case b: Array[Byte]               => b.map("%02x".format(_)).mkString
    case r: Row                       => r.toSeq.map(value)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }
    case s: scala.collection.Seq[_]   => s.map(value)
    case a: Array[_]                  => a.toSeq.map(value)
    case other                        => other
  }
}
