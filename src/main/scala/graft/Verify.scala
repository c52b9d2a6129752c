package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names to dump (dev
    // iteration on a single oracle); the driver's 2-arg call dumps all
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = graft.engine.Tuning.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr: makes stragglers visible in
        // the driver log without touching the stdout contract
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = graft.server.HttpFront.mapper
      .writeValueAsString(SparkEntry.oracleSqlFor(sfDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // record which sf the dump was produced against, so a checker run
    // against this dump can default to the RIGHT tables — comparing a
    // dump to a different sf silently fails only on sf-sensitive rows
    Files.writeString(Paths.get(s"$outDir/sf_dir.txt"), sfDir)
    spark.stop()
  }
}
