package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Time

/** One session factory, and a probe tool that rejects a bad command
  * line with its usage text instead of a stack trace.
  */
class ToolsSpec extends AnyFunSuite {

  test("SparkSession.builder occurs only in engine/Tuning.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val hits: Seq[(Path, Int)] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p -> "SparkSession\\.builder".r
          .findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0)
      finally walk.close()
    assert(hits.map { case (p, n) => root.relativize(p).toString -> n } ==
      Seq("graft/engine/Tuning.scala" -> 1), s"builder sites: $hits")
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
