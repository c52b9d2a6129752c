package graft.tools

import graft.SparkEntry
import graft.engine.Tuning

/** Plan-inspection CLI: print the formatted physical plan of registered
  * queries — the "is this the plan you'd want at 100 TB" review loop
  * (broadcasts where expected, PushedFilters / PartitionFilters
  * present, WholeStageCodegen spans wide, no cartesian products).
  *
  * Note: batch queries are planned, not executed, but CONSTRUCTING a
  * query can run setup work — streaming queries (s*) drive the stream
  * to completion before returning their batch read-back, format
  * round-trips write their sinks, and several x-queries materialize
  * lake checkpoints. Name specific queries rather than running the
  * whole registry.
  *
  * Usage: runMain graft.tools.Explain [sfDir] <query names...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"), args.toSeq)
    val spark = Tuning.session()
    val targets = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    targets.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
