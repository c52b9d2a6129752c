package graft.tools

import org.apache.spark.sql.DataFrame

import graft.engine.Tuning
import graft.ext.Similarity

/** Regenerates the committed ANN-recall oracle fixtures
  * (graft.ext.RecallFixtures): dumps the exact (query_id, neighbor_id)
  * id sets of the brute-force ground truth and the three ANN paths at
  * a given sf dir, formatted as the SQL VALUES rows the x54-x56
  * oracles embed. Run when the corpus generator legitimately changes
  * (the testdata is seed-pinned, so across normal re-provisions the
  * sets are stable and the fixtures act as the recall regression
  * gate):
  *
  *   sbt "runMain graft.tools.RecallFixture /root/testdata/sf0.01"
  */
object RecallFixture {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // fixtures are sf-keyed (RecallFixtures.bySf) — dump from any sf
    // dir and commit under that sf's entry; the printed val suffix
    // distinguishes the sets ("" for the sf0.01 gate corpus, "01" for
    // the sf0.1 sweep corpus)
    val tag = "sf[0-9.]+".r.findAllIn(sfDir).toSeq.lastOption
      .getOrElse(sys.error(s"no sf token in $sfDir"))
    val suffix = if (tag == graft.ext.RecallFixtures.FixtureSf) ""
      else tag.stripPrefix("sf").replace(".", "")
    // The Verify gate's session (Tuning.session, SPARK_GRAFT_CPUS,
    // default 4): ivfFit/pqFit's k-means init sampling and float
    // accumulation are partitioning-sensitive, so a dump at a different
    // parallelism can pin candidate sets the gate session won't
    // reproduce. The committed fixtures predate the shared factory and
    // were dumped WITHOUT the AQE right-sizing the gate applies; the
    // gate reproduces them regardless, so they stand as committed.
    val spark = Tuning.session()

    def valuesOf(df: DataFrame): String =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
        .map { case (q, n) => s"($q,$n)" }.mkString(",")

    val sets = Seq(
      "truth" -> Similarity.recallTruth10(spark, sfDir),
      "lsh" -> Similarity.lshAnn10(spark, sfDir),
      "ivf" -> Similarity.ivfAnn10(spark, sfDir),
      "pq" -> Similarity.pqAnn10(spark, sfDir))
    sets.foreach { case (name, df) =>
      println(s"""  val $name$suffix = "${valuesOf(df)}"""")
    }
    spark.stop()
  }
}
