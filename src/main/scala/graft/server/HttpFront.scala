package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.engine.{EngineException, QueryRequest, SparkEngine}
import graft.sources.Lake

/** Minimal HTTP transport around [[SparkEngine.execute]] — the
  * reference's remaining architectural element (its client invokes the
  * engine over a remote boundary, quack.py:31-46 → app.py:27-58). The
  * in-process method call stays the primary boundary (SURVEY §3.1);
  * this front exists so a user of the reference's deployment shape has
  * the same wire contract here:
  *
  *   POST /query  {"q": "<SQL>", "limit": N}
  *     → 200 {"metadata": {...}, "records": [...], "columns": [...]}
  *     → 200 {"errorMessage": "..."}   (engine errors surface in-band,
  *       exactly like the reference's lambda payload, quack.py:65-68)
  *   GET /health  → 200 {"ok": true, "warm": <bool>}
  *
  * Malformed transport-level input (non-JSON body) is a 400 — that is
  * a client bug, not a query error. JSON in/out via Jackson (already on
  * the Spark classpath); threading via the JDK server's executor — the
  * engine serializes Spark job submission per session anyway, so a
  * small pool is enough.
  *
  * SECURITY: this endpoint executes arbitrary SQL, and path-addressed
  * tables mean SQL can read (and via views, write) the local
  * filesystem — so the default bind is LOOPBACK ONLY. The reference's
  * deployment has the same property and sits behind an authenticated
  * gateway (API Gateway → Lambda); exposing this front beyond
  * localhost requires the same kind of fronting, opted into explicitly
  * via `bindHost`/`GRAFT_HTTP_BIND=0.0.0.0`.
  */
object HttpFront {

  /** The process's JSON codec (also writes Verify's oracle_sql.json
    * and the bench artifact).
    */
  private[graft] val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def start(engine: SparkEngine, spark: SparkSession, sfDir: String,
      port: Int, bindHost: String = "127.0.0.1"): HttpServer = {
    Lake.registerAll(spark, sfDir)
    val server = HttpServer.create(new InetSocketAddress(bindHost, port), 0)
    server.createContext("/query", (ex: HttpExchange) => handleQuery(engine, ex))
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, Map("ok" -> true, "warm" -> engine.isWarm)))
    // DAEMON pool threads: HttpServer.stop() does NOT shut down a
    // caller-supplied executor, so non-daemon workers outlive main and
    // keep the (forked) JVM alive after an embedding process — a bench
    // or test — finishes: the process hangs until its harness kills it
    // (the observed rc-124 mode). Daemon threads make JVM exit
    // unconditional; [[stop]] additionally shuts the pool down for
    // embedders that start/stop servers repeatedly.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
      r => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    server.start()
    server
  }

  /** Stop the server AND its worker pool (see the daemon note in
    * [[start]]); `HttpServer.stop` alone leaks the executor.
    */
  def stop(server: HttpServer, delaySec: Int = 0): Unit = {
    server.stop(delaySec)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdownNow()
      case _ =>
    }
  }

  /** Request-body cap: a query is a SQL string, not a data upload —
    * an unbounded read into memory would let one request exhaust the
    * driver heap. 1 MiB is orders of magnitude above any real query
    * (the reference's transport has a hard payload cap the same way).
    */
  val MaxBodyBytes: Int = 1 << 20

  private def handleQuery(engine: SparkEngine, ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, Map("errorMessage" -> "POST required"))
      return
    }
    val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bytes.length > MaxBodyBytes) {
      respond(ex, 413, Map("errorMessage" ->
        s"request body exceeds $MaxBodyBytes bytes"))
      return
    }
    val body = new String(bytes, StandardCharsets.UTF_8)
    val req =
      try {
        val node = mapper.readTree(if (body.isEmpty) "{}" else body)
        QueryRequest(
          q = node.path("q").asText(""),
          limit = if (node.has("limit")) Some(node.get("limit").asInt) else None)
      } catch {
        case _: Exception =>
          respond(ex, 400, Map("errorMessage" -> "request body must be JSON"))
          return
      }
    try respond(ex, 200, engine.execute(req))
    catch {
      // in-band error surface, matching the reference's payload shape
      case EngineException(msg) => respond(ex, 200, Map("errorMessage" -> msg))
    }
  }

  /** Encode `payload` BEFORE any header is sent, so a value the codec
    * cannot write (a TIMESTAMP_NTZ or interval result) comes back
    * in-band as an `errorMessage` with the same status instead of a
    * closed connection with no response.
    */
  private def respond(ex: HttpExchange, status: Int, payload: Any): Unit = {
    val bytes =
      try mapper.writeValueAsBytes(payload)
      catch { case e: JsonProcessingException =>
        mapper.writeValueAsBytes(Map(
          "errorMessage" -> s"result encoding failed: ${e.getOriginalMessage}"))
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

/** Standalone server main: `runMain graft.server.Serve` — port from
  * GRAFT_PORT (default 8080), tables from SPARK_GRAFT_SF_DIR, bind
  * address from GRAFT_HTTP_BIND (default loopback; set 0.0.0.0 only
  * behind an authenticated gateway — see [[HttpFront]] SECURITY note).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_PORT", "8080").toInt
    val bind = sys.env.getOrElse("GRAFT_HTTP_BIND", "127.0.0.1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val engine = SparkEngine.local("local[*]")
    val spark = engine.sql("SELECT 1").sparkSession
    HttpFront.start(engine, spark, sfDir, port, bind)
    println(s"graft http front listening on $bind:$port (sf=$sfDir)")
    Thread.currentThread.join()
  }
}
