package graft.tools

import graft.{Bench, SparkEntry}
import graft.engine.Tuning

/** Targeted wall-clock probe for individual registered queries — the
  * iterate-on-one-operator loop Bench is too heavy for (Bench times
  * the whole headline set; this warms and times only what you name,
  * on the shared [[Tuning.session]] shape).
  *
  * With a `confKey=v1,v2,…` argument each value is one ARM: the
  * runtime SQL conf is set to that value before every rep of the arm,
  * each arm is warmed once, and the arms are then timed interleaved
  * inside ONE session ([[Bench.measureArms]]) — the in-session A/B
  * protocol that separates a conf effect from window drift. Without
  * it there is a single arm: warm rep, then the timed reps.
  *
  * Usage: runMain graft.tools.Time <sfDir> [confKey=v1,v2,...] <query names...>
  * Env:   SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_REPS (default 3
  *        rounds; each round times every arm once)
  */
object Time {
  val Usage =
    "usage: runMain graft.tools.Time <sfDir> [confKey=v1,v2,...] <query names...>"

  /** `conf` is the optional conf key with its arm values. */
  final case class Args(sfDir: String, conf: Option[(String, Seq[String])],
      names: Seq[String])

  /** Parse the command line; [[Usage]] on too few args or a malformed
    * `key=v1,v2` (empty key, empty value, or a second conf argument).
    */
  def parseArgs(args: Seq[String]): Either[String, Args] = {
    def namesOk(names: Seq[String]) =
      names.nonEmpty && !names.exists(_.contains('='))
    args match {
      case Seq(sfDir, conf, names @ _*) if conf.contains('=') =>
        conf.split("=", 2) match {
          case Array(key, vs) if key.nonEmpty && namesOk(names) &&
              vs.split(",", -1).forall(_.nonEmpty) =>
            Right(Args(sfDir, Some(key -> vs.split(",").toSeq), names))
          case _ => Left(Usage)
        }
      case Seq(sfDir, names @ _*) if namesOk(names) =>
        Right(Args(sfDir, None, names))
      case _ => Left(Usage)
    }
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case Left(usage) =>
      System.err.println(usage)
      sys.exit(2)
    case Right(Args(sfDir, conf, names)) =>
      val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(3)
      val spark = Tuning.session()
      val arms: Seq[Option[(String, String)]] = conf match {
        case Some((key, values)) => values.map(v => Some(key -> v))
        case None => Seq(None)
      }
      names.foreach { name =>
        if (!SparkEntry.queries.contains(name)) println(s"[time] unknown query: $name")
        else {
          val rows = Array.fill(arms.size)(0L)
          val results = Bench.measureArms(name, reps)(arms.indices.map(i => () => {
            arms(i).foreach { case (k, v) => spark.conf.set(k, v) }
            rows(i) = Bench.runQuery(spark, name, sfDir)._1
          }))
          arms.indices.foreach { i =>
            val (warm, s) = results(i)
            val arm = arms(i).map { case (k, v) => s" $k=$v" }.getOrElse("")
            println(f"[time] $name$arm rows=${rows(i)} warm=$warm%.3f reps=" +
              s.raw.map(t => f"$t%.3f").mkString(",") +
              f" median=${s.median}%.3f" + s.err.map(e => s" err=$e").getOrElse(""))
          }
        }
      }
      spark.stop()
  }
}
