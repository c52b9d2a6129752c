package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's measurement-trust contract (VERDICT r7 #1/#2):
  * a throwing query is flagged in the artifact and its timings excluded —
  * never averaged into a near-zero "win" — and the stats that feed the
  * headline ratios are medians, immune to a single spiked rep.
  */
class BenchSpec extends AnyFunSuite {

  test("a throwing query records err and contributes no timings") {
    val s = Bench.measure("boom", 3)(() => sys.error("deliberate failure"))
    assert(s.okReps == 0)
    assert(s.err.exists(_.contains("deliberate failure")))
    assert(s.mean == 0.0 && s.median == 0.0 && s.std == 0.0)
  }

  test("a partially-failing query keeps only successful rep timings and still flags err") {
    var rep = 0
    val s = Bench.measure("flaky", 3) { () =>
      rep += 1
      if (rep == 2) sys.error("one bad rep")
      Thread.sleep(5)
    }
    assert(s.okReps == 2)
    assert(s.err.exists(_.contains("one bad rep")))
    assert(s.mean >= 0.005, s"mean ${s.mean} should reflect the two real reps")
  }

  test("errorsJson lists exactly the failed queries, JSON-safely") {
    val ok = Bench.QueryStats("fine", 0.1, 0.0, 0.1, 3, None)
    val bad = Bench.QueryStats("broken", 0.0, 0.0, 0.0, 0,
      Some("""msg with "quotes" and
newline"""))
    val json = Bench.errorsJson(Seq(ok, bad))
    assert(json.contains(""""broken":"""))
    assert(!json.contains(""""fine":"""))
    assert(!json.contains("\n"), "newlines must be sanitized out of the one-line artifact")
    assert(json.contains("\\\"quotes\\\""))
    assert(Bench.errorsJson(Seq(ok)) == "{}")
    // control chars < 0x20 (e.g. a tab in a codegen error) must come
    // out as \uXXXX — a raw tab is invalid JSON to strict parsers and
    // would null the whole artifact parse (the rc-124-era failure)
    val tabbed = Bench.QueryStats("tabbed", 0.0, 0.0, 0.0, 0,
      Some("indented\tsource" + 1.toChar + "ctl"))
    val tjson = Bench.errorsJson(Seq(tabbed))
    assert(!tjson.exists(_ < 0x20), s"raw control char in: $tjson")
    assert(tjson.contains("\\u0009") && tjson.contains("\\u0001"))
    // the whole object must be strict-JSON parseable
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(tjson)
  }

  test("median resists a single spiked rep (the r7 artifact failure mode)") {
    val spikes = Iterator(5L, 5L, 400L)
    val s = Bench.measure("spiky", 3)(() => Thread.sleep(spikes.next()))
    assert(s.err.isEmpty)
    // mean is dragged toward the spike; median stays at the quiet reps
    assert(s.median < 0.1, s"median ${s.median} should sit at the unspiked reps")
    assert(s.mean > s.median)
  }

  test("interleaved arms: a throwing arm is flagged and excluded, the other arm stays intact") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val res = Bench.measureArms("ab", 3)(Seq(
      () => { calls += "A"; sys.error("arm A broke") },
      () => { calls += "B"; Thread.sleep(5) }))
    // each arm warmed once, then timed A B A B A B
    assert(calls.mkString == "AB" + "AB" * 3)
    val (a, b) = (res(0)._2, res(1)._2)
    assert(a.okReps == 0 && a.raw.isEmpty && a.median == 0.0)
    assert(a.err.exists(_.contains("arm A broke")))
    assert(b.err.isEmpty && b.okReps == 3 && b.raw.size == 3)
    assert(b.median >= 0.005, s"median ${b.median} should reflect B's real reps")
  }
}
