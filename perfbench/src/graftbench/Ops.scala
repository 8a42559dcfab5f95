package graftbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.EventOps
import graft.sources.{Sinks, Tables}

/** One operation of a workload. */
sealed trait Op { def name: String }
/** A `SparkEntry.queries` key: build its DataFrame, then materialize it. */
final case class QueryOp(name: String, build: () => DataFrame) extends Op
/** One `Sinks` call that writes (or rewrites) a layout. */
final case class WriteOp(name: String, layout: String, write: () => Unit) extends Op
/** A pruned read-back of a written layout. */
final case class ProbeOp(name: String, layout: String, build: () => DataFrame) extends Op

/** The operations the harness can run, bound to one input directory and
  * one seed. Query ops are the library's own `SparkEntry.queries`
  * closures. Layout ops drive `Sinks` on `events` and `embeddings`; they
  * are named `<chain>.<step>`, and a chain's steps always run in order
  * because each reads what the previous one wrote. */
final class Ops(spark: SparkSession, inputs: String, work: String, seed: Long) {
  private def events = Tables.events(spark, inputs)
  private def embeddings = Tables.embeddings(spark, inputs)
  private val layouts = s"$work/layouts"
  val paths: Map[String, String] = Seq("day", "day_c", "z", "label")
    .map(l => l -> s"$layouts/$l").toMap

  /** Seeded choices of the layout workload, drawn once per run: the two
    * days the upsert batch revises, the probed day, the z-window and the
    * probed label. Needs one small job, so it is forced before timing. */
  lazy val params: LayoutParams = {
    val days = events.select(date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val r = new Random(seed)
    // user_id spans 0..1499 and value 0..560 in the inputs; the window
    // covers about 7% of users and of the value range
    LayoutParams(r.shuffle(days).take(2), days(r.nextInt(days.size)),
      r.nextInt(1400), r.nextDouble() * 500, r.nextInt(10))
  }

  /** The seeded upsert batch: about 5% of the rows of the two upsert
    * days get a revised `value`, and as many new keys are added on the
    * same days. One row per key, and every key keeps its day. */
  def updates: DataFrame = {
    val p = params
    val picked = Sinks.withDay(events)
      .filter(col("day").isin(p.upsertDays.map(d => to_date(lit(d))): _*))
    val h = pmod(xxhash64(col("event_id"), lit(seed)), lit(20))
    picked.filter(h === 0).withColumn("value", col("value") + 1.0)
      .unionByName(picked.filter(h === 1)
        .withColumn("event_id", col("event_id") + 1000000000L))
  }

  /** The layout the upsert should leave: `events` with the batch merged. */
  def merged: DataFrame =
    events.join(updates.select("event_id"), Seq("event_id"), "left_anti")
      .unionByName(updates.drop("day"))

  private def dayProbe(path: String, day: String): DataFrame =
    EventOps.matchStats(Sinks.readPartitioned(spark, path)
      .filter(col("day") === to_date(lit(day))).drop("day"))
  private def zWindow(df: DataFrame): DataFrame = {
    val p = params
    df.filter(col("user_id").between(p.user0, p.user0 + 99) &&
      col("value").between(p.value0, p.value0 + 40.0))
  }

  def apply(name: String): Op = name match {
    case "day.write" => WriteOp(name, "day", () =>
      Sinks.writePartitionedByDay(events, paths("day")))
    case "day.probe" => ProbeOp(name, "day", () => dayProbe(paths("day"), params.probeDay))
    case "day.compact" => WriteOp(name, "day_c", () =>
      Sinks.compactPartitioned(spark, paths("day"), paths("day_c"), "day"))
    case "day.probe_compact" => ProbeOp(name, "day_c", () =>
      dayProbe(paths("day_c"), params.probeDay))
    case "day.upsert" => WriteOp(name, "day_c", () =>
      Sinks.upsertPartitioned(spark, updates, paths("day_c"), "day", "event_id"))
    case "day.probe_upsert" => ProbeOp(name, "day_c", () =>
      dayProbe(paths("day_c"), params.upsertDays.head))
    // 6-bit ranks: the default 10 bits rank each row against 1,023
    // boundaries per column, about 15 s per write at sf0.1, which would
    // push a traced run of this workload past its time limit
    case "z.write" => WriteOp(name, "z", () =>
      Sinks.writeZOrdered(events, paths("z"), "user_id", "value", nFiles = Ops.zFiles, bits = 6))
    case "z.probe" => ProbeOp(name, "z", () => zWindow(spark.read.parquet(paths("z"))))
    case "label.write" => WriteOp(name, "label", () =>
      Sinks.writePartitionedByLabel(embeddings, paths("label")))
    case "label.probe" => ProbeOp(name, "label", () =>
      spark.read.parquet(paths("label")).filter(col("label") === params.label))
    case key => SparkEntry.queries.get(key) match {
      case Some(q) => QueryOp(key, () => q(spark, inputs))
      case None => throw new IllegalArgumentException(s"unknown op $key")
    }
  }

  /** Content check of a layout op, run right after the op in the check
    * pass: the read-back equals the source (or the expected merge), and
    * a probe equals the same query on the source. None = passed. */
  def check(op: Op): Option[String] = op match {
    case _: QueryOp => None // compared with the DuckDB oracle afterwards
    case WriteOp("day.write", _, _) => same(readLayout("day"), events)
    case WriteOp("day.compact", _, _) => same(readLayout("day_c"), events)
      .orElse(oneFilePerPartition(paths("day_c")))
    case WriteOp("day.upsert", _, _) => same(readLayout("day_c"), merged)
    case WriteOp("z.write", _, _) => same(readLayout("z"), events).orElse {
      val n = Ops.parquetFiles(paths("z")).size
      if (n == Ops.zFiles) None else Some(s"z layout has $n files, want ${Ops.zFiles}")
    }
    case WriteOp("label.write", _, _) => same(readLayout("label"), embeddings)
    case ProbeOp("day.probe" | "day.probe_compact", _, b) =>
      same(b(), EventOps.matchStats(events.filter(to_date(col("ts")) === to_date(lit(params.probeDay)))))
    case ProbeOp("day.probe_upsert", _, b) =>
      same(b(), EventOps.matchStats(merged.filter(
        to_date(col("ts")) === to_date(lit(params.upsertDays.head)))))
    case ProbeOp("z.probe", _, b) => same(b(), zWindow(events))
    case ProbeOp("label.probe", _, b) => same(b(), embeddings.filter(col("label") === params.label))
    case other => Some(s"no check defined for ${other.name}")
  }

  private def readLayout(l: String): DataFrame = {
    val df = spark.read.parquet(paths(l))
    if (l == "label") df else df.drop("day")
  }

  /** Order-independent content fingerprint: row count and the sum of a
    * 64-bit hash of every row over the columns in name order. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def same(got: DataFrame, want: DataFrame): Option[String] = {
    val gc = got.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    val wc = want.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    if (gc != wc) Some(s"schema $gc != $wc")
    else {
      val (g, w) = (fingerprint(got), fingerprint(want))
      if (g == w) None else Some(s"content (rows, hash) $g != $w")
    }
  }

  private def oneFilePerPartition(path: String): Option[String] = {
    val dirs = Option(new File(path).listFiles()).toSeq.flatten.filter(_.isDirectory)
    val bad = dirs.filter(d => Ops.parquetFiles(d.getPath).size != 1)
    if (dirs.nonEmpty && bad.isEmpty) None
    else Some(s"${bad.size} of ${dirs.size} partitions do not hold exactly one file")
  }
}

final case class LayoutParams(upsertDays: Seq[String], probeDay: String,
                              user0: Int, value0: Double, label: Int)

object Ops {
  val zFiles = 16

  def parquetFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(path))
  }
}
