package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds.
  *
  * Methodology: every query is executed once at sf0.001 first (compiles
  * the codegen + JITs the hot loops — we measure the engine, not the JVM
  * interpreter), then timed at the target SF with a `noop` sink so the
  * WHOLE plan materializes (a bare `.count()` lets Catalyst prune the
  * computed columns away and under-reports real work).
  *
  * Self-diagnosis (the round-5 lesson: a loaded machine once inflated
  * the driver series ~2× with 5-11× outliers and nearly booked a
  * phantom regression — a bench that cannot distinguish "machine was
  * busy" from "code got slower" has no diagnostic value):
  *   - `calib`: a FIXED calibration workload — constant-seed in-memory
  *     range→hash→aggregate, no IO, no query code, UNCHANGED FOREVER —
  *     timed at the start, middle, and end of the timed section. Code
  *     changes cannot move it, so calib drift across rounds (or across
  *     its own three samples within a run) is a direct measurement of
  *     environment contamination, and any query's number can be read as
  *     a query/calib ratio when machines disagree.
  *   - `passes`: BOTH raw timed passes per query (the headline number is
  *     still the min). A genuine plan regression slows both passes
  *     equally; a load spike shows up as pass disagreement.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // an Int, so the JSON lines and the file names below stay well-formed
    // whatever the variable holds (`*`, empty, unset)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // round 13 (VERDICT r12 item 7): a bench-only extra line so encode
    // regressions aren't masked by q_bpe_encode's ~55% fixed inline
    // training cost — encode against the PRE-TRAINED persisted artifact
    // (the tokenizeStream deployment shape). NOT a SparkEntry key: its
    // correctness face is q_bpe_encode (the artifact round-trip is
    // spec-pinned bit-identical). The lazy trains once, during warmup.
    lazy val tokenizer: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
      val p = java.nio.file.Files.createTempDirectory("graft_bench_tok")
        .toString
      graft.operators.BpeOps.trainTokenizer(
        graft.sources.Tables.documents(spark, sfDir), p)
      graft.operators.BpeOps.readTokenizer(spark, p)
    }
    val allQueries: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = SparkEntry.queries +
      ("q_bpe_encode_pretrained" -> ((s: SparkSession, dir: String) =>
        graft.operators.BpeOps.encodeWithVocab(
          graft.sources.Tables.spread(graft.sources.Tables.documents(s, dir)),
          tokenizer._1, tokenizer._2)))

    // None = the query failed; failures are reported, never summed or
    // min()'d against a successful pass (a -1 sentinel would both win the
    // best-of-2 min and silently shrink the total).
    def run(name: String, dir: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        allQueries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        // NonFatal only: after an OutOfMemoryError/StackOverflowError the
        // JVM is in an unknown state and every subsequent timing would be
        // untrustworthy — let fatal errors abort the whole run loudly.
        case scala.util.control.NonFatal(_) => None
      }
    }
    def best(a: Option[Double], b: Option[Double]): Option[Double] =
      (a.toList ::: b.toList).minOption

    // The calibration workload. FROZEN — never change the constants or
    // the shape: its only value is being identical across every round,
    // so its wall time measures the environment, not the repo. All in
    // memory (range source), constant seed (hash of the row id — no
    // RNG), one shuffle into 1024 keys, noop sink like the real queries.
    def calib(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 64L * 1000 * 1000, 1L, 32)
        .select(pmod(hash(col("id"), lit(20260813)), lit(1024)).as("k"),
          hash(col("id"), lit(7)).cast("long").as("h"))
        .groupBy(col("k"))
        .agg(sum(col("h")).as("s"), avg(col("h")).as("a"),
          max(col("h")).as("m"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_ONLY=q_a,q_b — diagnostic subset runs (a 111-vs-6 s
    // question should not cost a 30-minute full sweep). Absent for the
    // driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_SHARD=i/n — deterministic round-robin slice of the
    // sorted key list (run shards 0/n .. n-1/n, merge the JSON lines)
    // so a COMPLETE closing sweep after late changes fits a bounded
    // tool window (round 20; the r19 close outran the 600 s cap and
    // shipped a stale artifact). Composes with SPARK_GRAFT_ONLY; the
    // calib triple still rides every shard, so shards remain
    // cross-comparable.
    val shard = sys.env.get("SPARK_GRAFT_SHARD").flatMap { s =>
      s.split("/") match {
        case Array(i, n) =>
          scala.util.Try((i.trim.toInt, n.trim.toInt)).toOption
            .filter { case (si, sn) => sn > 0 && si >= 0 && si < sn }
        case _ => None
      }
    }
    val names = allQueries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .zipWithIndex
      .collect { case (q, j) if shard.forall { case (i, n) => j % n == i } => q }
    names.foreach(run(_, "/root/testdata/sf0.001")) // warmup
    calib() // warm the calib plan's codegen like everything else
    // best-of-2: JIT noise on the first timed pass is real but not the
    // steady-state throughput the number is meant to represent
    val calib0 = calib()
    val pass1 = names.map(n => n -> run(n, sfDir)).toMap
    val calib1 = calib()
    val pass2 = names.map(n => n -> run(n, sfDir)).toMap
    val calib2 = calib()
    val results = names.map(n => n -> best(pass1(n), pass2(n)))
    val ok = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    def num(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val passes = names.map(n =>
      "\"" + n + "\":[" + num(pass1(n)) + "," + num(pass2(n)) + "]")
      .mkString("{", ",", "}")
    val calibJson =
      s"""{"sec":${Seq(calib0, calib1, calib2).min},"passes":[$calib0,$calib1,$calib2]}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"calib":$calibJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Measurement-contract repair (round 21, VERDICT r20 item 2). The
    // driver keeps only a 2,000-char TAIL of stdout, and the full line
    // above is ~13 KB — head-truncated and unparseable three rounds
    // running (PERF per_query empty since r18). Two fixes, both
    // ADDITIVE (the full contract line above is printed unchanged):
    //  1. the full line is ALSO written to a per-core-count file
    //     (`bench_latest_c${cpus}.json`) so the driver's 8-core scaling
    //     run no longer overwrites the 32-core table (bench_latest.json
    //     keeps being written for continuity with earlier rounds);
    //  2. the LAST printed stdout line is a compact summary — total,
    //     calib, failures, and the out-file path — small enough to
    //     survive any tail window, so a log-tail parser always sees one
    //     complete JSON object.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    // one file per shard too: shards of one sweep must not overwrite
    // each other's per-query table
    val perCpuFile = shard.fold(s"bench_latest_c$cpus.json") {
      case (i, n) => s"bench_latest_c${cpus}_s${i}of$n.json"
    }
    for (f <- Seq(outFile, perCpuFile).distinct)
      try java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (line + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () } // stdout line already out
    println(s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"n_queries":${ok.size},"calib":$calibJson,"failed":$failedJson,"out":"$perCpuFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
