package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionByExpression, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkEntry
import graft.sources.Tables

/** Benchmark harness JVM. `perfbench/run.py` builds it and starts it in
  * one of three modes:
  *
  *   --mode setup       start a session, register the inputs, print READY, exit
  *   --mode oracle-sql  write `SparkEntry.oracleSql` as JSON to --out
  *   --mode run         one workload: a cold pass, a settling pass, warm
  *                      passes for --seconds,
  *                      an untimed check pass, one calibration sample;
  *                      the result record goes to --out
  *
  * Load is a closed loop with one client: this thread issues the ops back
  * to back on `local[--cores]`. */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a("mode") match {
      case "setup" =>
        val spark = Session.open(a)
        Session.ready()
        spark.stop()
      case "oracle-sql" =>
        Files.writeString(Paths.get(a("out")), Json.value(SparkEntry.oracleSql))
      case "run" => new Run(a).run()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }
}

object Session {
  val tables: Seq[String] = Seq("events", "documents", "embeddings")

  /** Set-up as a user pays it: a session configured like the library's
    * mains, with the inputs registered as views. */
  def open(a: Map[String, String]): SparkSession = {
    val cores = a("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach(t => Tables(spark, a("inputs"), t).createOrReplaceTempView(t))
    spark
  }

  def ready(): Unit = { println("READY"); System.out.flush() }
}

final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
                         ops: Seq[(String, Double)], layers: Map[String, Double])

final class Run(a: Map[String, String]) {
  private val cores = a("cores").toInt
  private val seed = a("seed").toLong
  private val tracing = a("trace") == "1"
  private val seconds = a("seconds").toDouble
  private val work = a("work")
  private val spark = Session.open(a)
  Session.ready()
  private val tracer = if (tracing) Some(new Tracer(spark, cores)) else None
  private val ops = new Ops(spark, a("inputs"), work, seed)
  private val opList: Seq[Op] = a("ops").split(",").toSeq.map(ops(_))
  private val inputBytes = Seq("events", "embeddings")
    .map(t => new java.io.File(s"${a("inputs")}/$t.parquet").length).sum.toDouble
  private val failures = mutable.ArrayBuffer.empty[(Int, String, String)]

  /** The op order of one pass, drawn from the seed: query ops are
    * shuffled; a layout chain moves as one unit. */
  private def order(pass: Int): Seq[Op] = {
    val chains = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Op]]
    opList.foreach { op =>
      val chain = op match { case q: QueryOp => q.name; case o => o.name.takeWhile(_ != '.') }
      chains.getOrElseUpdate(chain, mutable.ArrayBuffer.empty) += op
    }
    new Random(seed * 1000003L + pass).shuffle(chains.values.toSeq).flatten
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def frame(op: Op): Option[() => DataFrame] = op match {
    case QueryOp(_, b) => Some(b)
    case ProbeOp(_, _, b) => Some(b)
    case _: WriteOp => None
  }

  /** Runs one op and returns its wall seconds. A failure is recorded and
    * the pass goes on. */
  private def runOp(pass: Int, op: Op, t: Option[Tracer], passSpan: Long): Double = {
    val since = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try t match {
      case None => frame(op) match {
        case Some(b) => noop(b())
        case None => op.asInstanceOf[WriteOp].write()
      }
      case Some(tr) => tr.span(passSpan, "op", op.name) { opId =>
        def group(ph: String) = Some(s"p$pass|${op.name}|$ph")
        frame(op) match {
          case Some(b) =>
            val df = tr.span(opId, "phase", "build", group("build"))(_ => b())
            tr.span(opId, "phase", "exec", group("exec"))(_ => noop(df))
          case None =>
            tr.span(opId, "phase", "exec", group("exec")) { ph =>
              tr.span(ph, "sources", "write")(_ => op.asInstanceOf[WriteOp].write())
            }
        }
      }
    } catch {
      case NonFatal(e) => failures += ((pass, op.name, Run.message(e)))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    t.foreach { tr => op match {
      case w: WriteOp =>
        val fresh = Ops.parquetFiles(ops.paths(w.layout))
          .filter(f => f.lastModified() >= since - 1)
        tr.add(pass, "files_written", fresh.size.toDouble)
        tr.add(pass, "layout_bytes", fresh.map(_.length).sum.toDouble)
      case p: ProbeOp =>
        tr.add(pass, "probed_layout_bytes",
          Ops.parquetFiles(ops.paths(p.layout)).map(_.length).sum.toDouble)
      case _ =>
    } }
    dt
  }

  private def pass(p: Int, traced: Boolean): PassRec = {
    val t = if (traced) tracer else None
    val before = t.map(_.snapshot())
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    def body(passSpan: Long): Unit =
      order(p).foreach(op => times += (op.name -> runOp(p, op, t, passSpan)))
    t match {
      case Some(tr) => tr.span(0L, "pass", s"pass $p")(body)
      case None => body(0L)
    }
    val layers = t.map { tr =>
      tr.drain()
      val m = tr.passMetrics(p, before.get, tr.snapshot())
      m + ("sources.bytes_written_per_input_byte" -> m("sources.layout_bytes") / inputBytes)
    }.getOrElse(Map.empty)
    PassRec(p, traced, times.map(_._2).sum, times.toSeq, layers)
  }

  /** Untimed: each query op's result goes to parquet for the oracle
    * compare; each layout op is rerun and its output checked in place. */
  private def checkPass(): Seq[(String, Option[String], Option[String])] = opList.map { op =>
    try op match {
      case QueryOp(n, b) =>
        val out = s"$work/check/$n"
        b().write.mode("overwrite").parquet(out)
        (n, None, Some(out))
      case w: WriteOp => w.write(); (w.name, ops.check(w), None)
      case p: ProbeOp => (p.name, ops.check(p), None)
    } catch {
      case NonFatal(e) => (op.name, Some("threw: " + Run.message(e)), None)
    }
  }

  /** The frozen calibration workload of `graft.Bench`, one sample. Its
    * constants never change, so it measures the machine, not the code. */
  private def calibSample(): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 64L * 1000 * 1000, 1L, 32)
      .select(pmod(hash(col("id"), lit(20260813)), lit(1024)).as("k"),
        hash(col("id"), lit(7)).cast("long").as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("s"), avg(col("h")).as("a"), max(col("h")).as("m"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    if (opList.exists(!_.isInstanceOf[QueryOp])) ops.params
    val cold = pass(0, tracing)
    // The first pass after the cold one still runs about 1.4x slower
    // than the next (JIT and codegen caches are still filling), so it
    // settles the JVM and is not counted as a warm pass.
    val settle = pass(1, traced = false)
    val warm = mutable.ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    // a traced run interleaves untraced and traced warm passes as
    // U T T U, so the tracing overhead is measured within one JVM
    val minWarm = if (tracing) 4 else 2
    var p = 2
    while (warm.size < minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      warm += pass(p, tracing && (p % 4 == 3 || p % 4 == 0))
      p += 1
    }
    val peakRssMb = Run.vmHwmMb()
    val checks = checkPass()
    val calib = calibSample()
    def passJson(r: PassRec) = Json.obj("pass" -> r.pass, "traced" -> r.traced,
      "wall_s" -> r.wallS, "ops" -> r.ops.map { case (n, s) => Json.obj("op" -> n, "s" -> s) }
        .map(Json.RawJson), "layers" -> r.layers)
    val out = Json.obj(
      "cold" -> Json.RawJson(passJson(cold)),
      "settle" -> Json.RawJson(passJson(settle)),
      "warm" -> warm.map(r => Json.RawJson(passJson(r))),
      "failures" -> failures.map { case (ps, n, m) =>
        Json.RawJson(Json.obj("pass" -> ps, "op" -> n, "error" -> m)) },
      "checks" -> checks.map { case (n, err, path) =>
        Json.RawJson(Json.obj("op" -> n, "error" -> err, "output" -> path)) },
      "peak_rss_mb" -> peakRssMb,
      "calib_s" -> calib,
      "env" -> Map("java" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cores" -> cores))
    Files.writeString(Paths.get(a("out")), out)
    tracer.foreach(tr => Files.write(Paths.get(a("spans")),
      java.util.Arrays.asList(tr.spansJson(): _*)))
    spark.stop()
  }
}

object Run {
  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  /** `Tables.spread` repartitions a narrow projection of a file scan by
    * key; count those repartitions in the analyzed plan. */
  def spreads(plan: LogicalPlan): Int = {
    def narrowScan(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case _: Project | _: Filter | _: SubqueryAlias => p.children.forall(narrowScan)
      case _ => false
    }
    plan.collect {
      case r: RepartitionByExpression if narrowScan(r.child) => 1
    }.size
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
    _.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0))
}
