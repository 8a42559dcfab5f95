package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  def sf01Dir = "/root/testdata/sf0.01"

  /** Runs `body` with the given session settings, restoring the
    * previous values (or unsetting) afterwards. */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with 16 uncoalesced shuffle partitions: a small graph's
    * edges then spread over many partitions, so the connected-components
    * seed cannot close it in one task and the rounds still run. */
  def withSplitEdges[T](body: => T): T =
    withConfs("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  /** Runs `body` with the shared context's checkpoint directory set to
    * `dir`, so the iterative operators take their reliable-checkpoint
    * path (see graft.operators.Checkpoints), then restores the previous
    * directory — unset in every spec run. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body
    finally org.apache.spark.GraftCheckpointDirBridge.restore(sc, prior)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
