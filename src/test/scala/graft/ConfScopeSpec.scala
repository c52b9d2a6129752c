package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Registered queries and bloom builds leave a session's conf as they
  * found it: every conf a body needs is scoped by `Lake.withConf`.
  * Each case runs in a fresh session over the shared context, so no
  * earlier suite has already set the keys it watches.
  */
class ConfScopeSpec extends SparkSpec {

  private def assertConfUnchanged(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    val before = s.conf.getAll
    body(s)
    val after = s.conf.getAll
    assert(after == before,
      s"set: ${after.toSet.diff(before.toSet)}, lost: ${before.toSet.diff(after.toSet)}")
  }

  test("s01 over the raw nanos event stream leaves the session conf unchanged") {
    assertConfUnchanged(s =>
      assert(SparkEntry.queries("s01_stream_window")(s, SfDir).count() > 0))
  }

  test("p02's dynamic partition overwrite leaves the session conf unchanged") {
    assertConfUnchanged(s =>
      assert(SparkEntry.queries("p02_incremental_refresh")(s, SfDir).count() > 0))
  }

  test("a bloom build past Spark's runtime-filter caps leaves the session conf unchanged") {
    assertConfUnchanged { s =>
      // 8M arc keys: above both the 4M-item and the 64M-bit caps, so
      // the wedge stream's bloom build raises both for its build
      val arcs = s.range(8000000L)
        .select((col("id") * 2).as("s"), (col("id") * 2 + 1).as("t"))
      graft.ext.Graph.triangleEnumJoin(arcs)
    }
  }
}
