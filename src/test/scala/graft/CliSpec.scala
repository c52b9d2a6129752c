package graft

import graft.cli.Quack
import graft.engine.SparkEngine

/** The CLI renders from the already-collected envelope records (one
  * execution per invocation — A8); these pin the grid format and the
  * end-to-end invoke path (A6/A7/A9).
  */
class CliSpec extends SparkSpec {

  test("runWith renders the default smoke query and the debug envelope (A6/A8/A9)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Quack.runWith(SparkEngine.wrap(spark), spark,
        query = None, limit = 10, debug = true, sfDir = SfDir)
    }
    val s = out.toString("UTF-8")
    assert(s.contains("|counts|"), s"no rendered grid in:\n$s")
    assert(s.contains("timeMs=") && s.contains("warm=") && s.contains("rows=1"),
      s"no debug envelope in:\n$s")
  }

  test("runWith surfaces engine errors as errorMessage (A7)") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      Quack.runWith(SparkEngine.wrap(spark), spark,
        query = Some("SELEKT broken"), limit = 10, debug = false, sfDir = SfDir)
    }
    assert(err.toString("UTF-8").contains("errorMessage:"))
  }

  test("runWith renders struct and array cells as the wire's JSON") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Quack.runWith(SparkEngine.wrap(spark), spark,
        query = Some("SELECT 7 AS n, named_struct('a', 1, 'b', 'x') AS s, " +
          "array(TIMESTAMP '2024-01-05 10:00:00.5') AS ts"),
        limit = 10, debug = false, sfDir = SfDir)
    }
    val s = out.toString("UTF-8")
    assert(s.contains("""|7|{"a":1,"b":"x"}|["2024-01-05 10:00:00.500000"]|"""),
      s"cells not rendered as JSON in:\n$s")
  }

  test("renderTable renders columns in schema order with a row cap") {
    val cols = Seq("b", "a")
    val recs = (1 to 12).map(i => Map[String, Any]("a" -> i, "b" -> s"v$i"))
    val out = Quack.renderTable(cols, recs, maxRows = 10, truncate = 50)
    val lines = out.linesIterator.toSeq
    assert(lines.head.startsWith("+"))
    assert(lines(1) == "|b  |a |")
    // 10 data rows + 3 rules + header + footer
    assert(lines.count(_.startsWith("|")) == 11)
    assert(lines.last == "only showing top 10 row(s)")
    assert(lines(3) == "|v1 |1 |")
  }

  test("renderTable truncates wide cells and renders nulls") {
    val out = Quack.renderTable(Seq("x"),
      Seq(Map[String, Any]("x" -> ("y" * 60)), Map[String, Any]("x" -> null)),
      maxRows = 10, truncate = 50)
    assert(out.contains("y" * 47 + "..."))
    assert(!out.contains("y" * 48))
    assert(out.contains("NULL"))
  }

  test("parseArgs handles flags, trailing value-less flags, and bad ints") {
    import Quack.{parseArgs, CliConfig}
    assert(parseArgs(List("-q", "SELECT 1", "-limit", "5", "--debug", "-sf", "/d"))
      == Right(CliConfig(Some("SELECT 1"), 5, debug = true, Some("/d"))))
    assert(parseArgs(Nil) == Right(CliConfig()))
    // a trailing value-taking flag is a usage error, not an
    // ArrayIndexOutOfBounds crash
    Seq("-q", "-limit", "-sf").foreach { flag =>
      assert(parseArgs(List(flag)).isLeft, s"trailing $flag should be Left")
      assert(parseArgs(List("--debug", flag)).isLeft)
    }
    assert(parseArgs(List("-limit", "ten")).isLeft)
    // unknown args warn and skip, preserving the rest
    assert(parseArgs(List("--wat", "-limit", "7")) == Right(CliConfig(limit = 7)))
  }

  test("renderTable clamps tiny truncate widths instead of throwing") {
    // substring(0, truncate - 3) would throw for truncate < 3; the
    // public parameter clamps to the smallest width where "x..." fits
    (0 to 4).foreach { tr =>
      val out = Quack.renderTable(Seq("x"),
        Seq(Map[String, Any]("x" -> "abcdefgh")), maxRows = 10, truncate = tr)
      assert(out.contains("a..."), s"truncate=$tr")
    }
  }
}
