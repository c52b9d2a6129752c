package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's measurement-trust contract (VERDICT r7 #1/#2):
  * a throwing query is flagged in the artifact and its timings excluded —
  * never averaged into a near-zero "win" — and the stats that feed the
  * headline ratios are medians, immune to a single spiked rep.
  */
class BenchSpec extends AnyFunSuite {

  /** The bench's per-query rule: one arm, warm rep, then `reps` reps. */
  private def measure(name: String, reps: Int)(run: () => Unit): Bench.QueryStats =
    Bench.measureArms(name, reps)(Seq(run)).head._2

  private val strict =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  test("a throwing query records err and contributes no timings") {
    val s = measure("boom", 3)(() => sys.error("deliberate failure"))
    assert(s.okReps == 0)
    assert(s.err.exists(_.contains("deliberate failure")))
    assert(s.mean == 0.0 && s.median == 0.0 && s.std == 0.0)
  }

  test("a partially-failing query keeps only successful rep timings and still flags err") {
    var rep = 0
    val s = measure("flaky", 3) { () =>
      rep += 1
      // call 1 is the warm rep; call 3 is the second timed rep
      if (rep == 3) sys.error("one bad rep")
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
    val json = Bench.json(Bench.errors(Seq(ok, bad)))
    assert(json.contains(""""broken":"""))
    assert(!json.contains(""""fine":"""))
    assert(!json.contains("\n"), "newlines must be sanitized out of the one-line artifact")
    assert(json.contains("\\\"quotes\\\""))
    assert(Bench.json(Bench.errors(Seq(ok))) == "{}")
    // control chars < 0x20 (e.g. a tab in a codegen error) must come
    // out escaped — a raw tab is invalid JSON to strict parsers and
    // would null the whole artifact parse (the rc-124-era failure)
    val msg = "indented\tsource" + 1.toChar + "ctl"
    val tabbed = Bench.QueryStats("tabbed", 0.0, 0.0, 0.0, 0, Some(msg))
    val tjson = Bench.json(Bench.errors(Seq(tabbed)))
    assert(!tjson.exists(_ < 0x20), s"raw control char in: $tjson")
    // the whole object parses strictly and decodes to the clipped text
    assert(strict.readTree(tjson).get("tabbed").asText == Bench.clip(msg))
    assert(strict.readTree(json).get("broken").asText == Bench.clip(bad.err.get))
  }

  test("median resists a single spiked rep (the r7 artifact failure mode)") {
    // the first sleep is the warm rep's
    val spikes = Iterator(5L, 5L, 5L, 400L)
    val s = measure("spiky", 3)(() => Thread.sleep(spikes.next()))
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

  test("a 99-query record with a mass failure keeps the compact line to compactKeys, under 2 KB, strict JSON") {
    val stdoutNames = Seq("flagship", "b02_glob_scan", "b03_pruned_scan",
      "b09_partial_final", "c02_join_large", "c07_agg_tpch_q1",
      "c32_range_join", "x03_dedup_minhash", "x31_passage_dedup",
      "x46_bigram_logprob", "x69_pagerank", "x92_span_dedup")
    val longErr = "codegen failed:\t\"expr\"\n" * 40
    val stats = stdoutNames.map(n =>
      Bench.QueryStats(n, 1.23456789, 0.1, 1.2, 3, None, Seq(1.1, 1.2, 1.3))) ++
      (stdoutNames.size until 99).map(i => Bench.QueryStats(
        f"x$i%03d_a_long_registered_query_name", 0.0, 0.0, 0.0, 0, Some(longErr)))
    val shape = Bench.PlanShape(4, 40L, 3, Seq(Bench.JoinNode("SortMergeJoin", 123456789L)))
    val record = mutable.LinkedHashMap[String, Any](
      "metric" -> "total", "value" -> 0.0, "unit" -> "sec",
      "queries" -> ListMap.empty, "sf" -> "testdata/sf0.1", "reps" -> 3,
      "probe_ok" -> true, "full_scan_files" -> 30L, "pruned_scan_files" -> 1L,
      "load_sentinel" -> ListMap("start" -> 0.2512, "headline" -> 0.3345,
        "headline_gate_attempts" -> 10, "headline_contended" -> true, "end" -> 0.4123))
    record ++= Bench.headlineFields(stats)
    record ++= Seq(
      "plan_shape" -> ListMap.from(stats.map(_.name -> shape)),
      "http" -> ListMap("n" -> 100, "p50" -> 0.0123, "p99" -> 0.0456,
        "query" -> "flagship", "sentinel" -> 0.2789,
        "concurrent" -> ListMap("clients" -> 4, "n" -> 100, "errors" -> 0,
          "p50" -> 0.0234, "p99" -> 0.0567, "qps" -> 123.4567)),
      "scaling_summary" -> ListMap("n" -> 45, "max_ratio_mid_over_small" -> 12.3456,
        "big_n" -> 27, "max_ratio_big_over_mid" -> 9.8765),
      "phases_complete" -> "setup,headline,http,scaling_small,scaling_big",
      "elapsed_sec" -> 1499.1234, "detail" -> "bench/bench_latest.json")
    val line = Bench.compactLine(record)
    assert(line.getBytes("UTF-8").length < 2048, s"${line.length} bytes: $line")
    val node = strict.readTree(line)
    val keys = Seq.newBuilder[String]
    node.fieldNames().forEachRemaining(k => keys += k)
    assert(keys.result() == Bench.compactKeys)
    // the trimmed map stands in for the full one; the failures ride as
    // a count plus the first example
    assert(node.get("queries").size == stdoutNames.size)
    assert(node.get("queries_n").asInt == stdoutNames.size)
    assert(node.get("errors_compact").get("n").asInt == 99 - stdoutNames.size)
  }
}
