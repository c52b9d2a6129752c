package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // session is shared across suites — do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // the conf-driven extensions route a user's own session takes;
      // a static conf, so it must be on the CONTEXT at creation —
      // FunctionsSpec builds a fresh session over this context to
      // prove the conf alone (no graft bootstrap code) registers
      // cosine_sim
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Deletes a copied corpus `dir` with the lake tables and stream
    * outputs built from it (the lake names them by the path's slug,
    * the stream outputs by its hash).
    */
  def dropCorpusCopy(dir: String): Unit = {
    graft.sources.Lake.dropCachesFor(dir)
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val streamTag = Integer.toHexString(dir.hashCode)
    Option(new java.io.File("/tmp/graft-lake").listFiles()).toSeq.flatten
      .filter(_.getName.contains("_" + slug + "_")).foreach(rmTree)
    Option(new java.io.File("/tmp/graft-stream").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith("_" + streamTag)).foreach(rmTree)
    rmTree(new java.io.File(dir))
  }
}
