package graft.engine

import org.apache.spark.sql.SparkSession

/** The single SparkSession factory: every entry point that builds a
  * session (the serving engine, Bench, Verify, the probe tools) gets
  * it from [[session]], so the measured surface and the served surface
  * can never drift. The one exception is the test suite's shared
  * session, which needs `spark.sql.extensions` on the context at
  * creation.
  *
  * PARTITION RIGHT-SIZING (guide §2.2, VERDICT r17 #3): with the
  * stock AQE defaults (`coalescePartitions.parallelismFirst=true`)
  * every shuffle keeps ~one partition per core even when the whole
  * shuffle is a few KB, so sub-second queries pay 32-way task
  * scheduling per exchange — the r17 8-vs-32-core block measured
  * b09 at 0.37, c32 at 0.56, b02 at 0.62 (FASTER on 8 cores than
  * 32: the tracked set was measuring the scheduler, not the engine).
  * Setting `parallelismFirst=false` makes AQE honor the advisory
  * partition size instead, which is SIZE-ADAPTIVE in both
  * directions: a 40 KB shuffle coalesces to one task, a corpus-grain
  * shuffle keeps its parallelism (coalescing can only merge the
  * `spark.sql.shuffle.partitions` initial partitions, never split
  * them, so no plan loses parallelism it needs at the decades —
  * partitions above the advisory size are left alone).
  *
  * The advisory default (4m) is a LOCAL default, env-overridable,
  * picked from an interleaved off/4m/16m/off A/B at sf0.1 (r18):
  * 4m halves the scheduling-bound class (flagship 0.51→0.34,
  * b09 0.86→0.54, c02 0.91→0.47, c31 0.29→0.23, x69 2.83→2.41 in
  * the matched series) while leaving the mid-shuffle heavies flat
  * (x199 2.29→2.18, x285 3.06→2.56); 16m additionally coalesced
  * THEIR shuffles below useful parallelism and regressed them
  * (x199 3.03, x285 3.81) — too coarse for a 32-core box at sf0.1.
  * In production (real cluster, 100 TB inputs) the right value is
  * the guide §9 range — 256m — set via the same env/conf; the
  * mechanism (size-adaptive coalescing) is what scales, the constant
  * is deployment-sized like `spark.sql.shuffle.partitions` itself.
  * The stock-AQE shape stays reachable for A/B probes as a runtime
  * conf arm of `graft.tools.Time`
  * (`spark.sql.adaptive.coalescePartitions.parallelismFirst=false,true`).
  */
object Tuning {
  /** Local core count (`SPARK_GRAFT_CPUS`, default 4): the default
    * master `local[Cpus]` and shuffle-partition count of [[session]].
    */
  val Cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(4)

  val AdvisoryPartitionBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "4m")

  /** Get or create the process's session: `master`, the initial
    * shuffle-partition count, and `extraConfs` on top of the shared
    * shape — AQE right-sizing, UTC session time zone, the
    * `/tmp/graft-warehouse` warehouse dir, UI off, log level WARN.
    */
  def session(master: String = s"local[$Cpus]",
      shufflePartitions: Int = Cpus,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val s = extraConfs.foldLeft(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        AdvisoryPartitionBytes)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
