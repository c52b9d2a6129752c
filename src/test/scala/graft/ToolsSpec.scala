package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Time

/** One session factory, one declaration per lake table, and a probe
  * tool that rejects a bad command line with its usage text instead
  * of a stack trace.
  */
class ToolsSpec extends AnyFunSuite {

  /** (path under src/main/scala, text) of every main source file. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .sortBy(_._1)
    finally walk.close()
  }

  /** (file, occurrences) of each file holding the literal `s`. */
  private def sitesOf(s: String): Seq[(String, Int)] =
    sources
      .map { case (p, text) => p -> Pattern.quote(s).r.findAllIn(text).size }
      .filter(_._2 > 0)

  test("SparkSession.builder occurs only in engine/Tuning.scala") {
    val hits = sitesOf("SparkSession.builder")
    assert(hits == Seq("graft/engine/Tuning.scala" -> 1), s"builder sites: $hits")
  }

  test("the bloom aggregate and probe expressions occur only in functions/BloomExpressions.scala") {
    Seq("BloomFilterAggregate", "BloomFilterMightContain").foreach { s =>
      val hits = sitesOf(s).map(_._1)
      assert(hits == Seq("graft/functions/BloomExpressions.scala"), s"$s sites: $hits")
    }
  }

  test("spark.conf.set occurs only in Lake.withConf, SparkEngine.wrap and tools/Time") {
    // each site is named by the object member that holds it
    val member = """(?m)^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val hits = sources.flatMap { case (p, text) =>
      Pattern.quote("spark.conf.set(").r.findAllMatchIn(text).map { m =>
        val owner = member.findAllMatchIn(text.take(m.start)).toSeq.lastOption
          .fold("?")(_.group(1))
        if (p == "graft/tools/Time.scala") p else s"$p#$owner"
      }
    }.distinct
    assert(hits == Seq("graft/engine/SparkEngine.scala#wrap",
      "graft/sources/Lake.scala#withConf", "graft/tools/Time.scala"),
      s"spark.conf.set sites: $hits")
  }

  test("foreachBatch and maxFilesPerTrigger occur once each, only in streaming/Streams.scala") {
    Seq(".foreachBatch {", "\"maxFilesPerTrigger\"").foreach { s =>
      val hits = sitesOf(s)
      assert(hits == Seq("graft/streaming/Streams.scala" -> 1), s"$s sites: $hits")
    }
  }

  test("lake tables are declared once: no string names a table at a Lake call") {
    // the table is the third argument; the first two are the session
    // and the source dir
    val named = ("""Lake\.(materialize|isBuilt|materializedPath)\(""" +
      """\s*[^,()]+,\s*[^,()]+,\s*s?"""").r
    val hits = sources.flatMap { case (p, text) =>
      named.findAllIn(text).map(m => s"$p: $m") }
    assert(hits.isEmpty, s"string-named Lake calls: $hits")
    val dedup = sources.collectFirst {
      case (p, text) if p == "graft/ext/Dedup.scala" => text }.get
    assert(!dedup.contains("buildLock"), "Dedup.buildLock is back")
  }

  test("after every query module loads, each lake table name and keyed prefix is declared once") {
    // loading every module declares every table; a name or keyed prefix
    // declared twice would throw here
    graft.SparkEntry.queries
    // a second body for a declared name, or for a name a keyed family
    // computes, is refused
    Seq("tfidf_tf", "x05_shingles", "x05_shingles_gated_cap50_v1", "x18_ngram_pairs_t50",
      "fragmented_events_v2", "lsh_buckets_12_16", "docs_split_doc_id_text_v1",
      "docs_split_").foreach { n =>
      intercept[IllegalArgumentException](
        graft.sources.Lake.Derived(n)((s, _) => s.emptyDataFrame))
    }
    intercept[IllegalArgumentException](graft.sources.Lake.Derived
      .keyed("lsh_", (k: Int) => k.toString)((_, s, _) => s.emptyDataFrame))
  }

  test("Time parses the single-arm and the conf-arm forms") {
    assert(Time.parseArgs(Seq("/sf", "flagship", "c02_join_large")) ==
      Right(Time.Args("/sf", None, Seq("flagship", "c02_join_large"))))
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert(Time.parseArgs(Seq("/sf", s"$key=false,true", "flagship")) ==
      Right(Time.Args("/sf", Some(key -> Seq("false", "true")), Seq("flagship"))))
    // a conf value may itself contain '=' — only the first splits
    assert(Time.parseArgs(Seq("/sf", "k=a=1,b", "q")) ==
      Right(Time.Args("/sf", Some("k" -> Seq("a=1", "b")), Seq("q"))))
  }

  test("Time returns its usage on too few args or a malformed key=v1,v2") {
    val bad = Seq(
      Seq(), Seq("/sf"), Seq("/sf", "k=a,b"),
      Seq("/sf", "=a,b", "q"), Seq("/sf", "k=", "q"), Seq("/sf", "k=a,,b", "q"),
      Seq("/sf", "k=a,", "q"), Seq("/sf", "k=a,b", "j=c", "q"))
    bad.foreach(args => assert(Time.parseArgs(args) == Left(Time.Usage), args))
  }
}
