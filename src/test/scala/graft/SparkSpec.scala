package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  def sf01Dir = "/root/testdata/sf0.01"

  /** Runs `body` with 16 uncoalesced shuffle partitions, restoring the
    * previous settings afterwards: a small graph's edges then spread
    * over many partitions, so the connected-components seed cannot
    * close it in one task and the rounds still run. */
  def withSplitEdges[T](body: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
