package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for a set of queries to files — the
  * plan-evidence half of the optimization discipline (guide §1.3):
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...|--all> [sfDir]"`
  * writes `<outDir>/<query>_<suffix>.txt` per key and prints one line
  * per key with its parquet-scan, hash-exchange and range-exchange
  * counts (the numbers that matter at 100 TB). Runs with the Bench
  * session shape (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus,
  * GraftExtensions) so the dumped plans are the plans the bench times. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <keys|--all> [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val names =
        if (args(2) == "--all") SparkEntry.queries.keys.toSeq.sorted
        else args(2).split(",").toSeq
      names.foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val p = df.queryExecution.explainString(FormattedMode)
          Files.write(outDir.resolve(s"${n}_$suffix.txt"),
            p.getBytes("UTF-8"))
          val scans = p.linesIterator.count(_.contains("Scan parquet"))
          val hashEx = p.linesIterator.count(
            _.trim.startsWith("Arguments: hashpartitioning("))
          val rangeEx = p.linesIterator.count(
            _.trim.startsWith("Arguments: rangepartitioning("))
          println(s"wrote $n: parquet scans=$scans hashExchanges=$hashEx " +
            s"rangeExchanges=$rangeEx")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"FAILED $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    } finally spark.stop()
  }
}
