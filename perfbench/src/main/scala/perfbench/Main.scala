package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One benchmark process: builds the session, runs one workload and
  * writes its numbers as a flat JSON object to `--out`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file> [--data <sf dir>] [--digests <file>]
  * perfbench.Main --workload harness_capture --verified <Verify output dir>
  *                --digests <file> --work <dir> --out <file>
  * }}}
  */
object Main {
  val Cores = 4

  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; notes += what }
  }

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"flags come in --key value pairs: ${args.mkString(" ")}")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val out = new File(opt("out"))
    val work = new File(opt.getOrElse("work", "."))
    val trace = opt.getOrElse("trace", "0") == "1"
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val seed = opt.getOrElse("seed", "1").toLong

    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$Cores]").appName("perfbench"),
        shufflePartitions = Cores)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val r = new Result
    r.metrics("setup_s") = setupS
    val tracer = if (trace) Some(new Tracer(spark)) else None
    try workload match {
      case "cohort" =>
        CohortWorkload.run(spark, seed, seconds, work, tracer, r)
      case "harness_sf0.01" =>
        HarnessWorkload.run(spark, opt("data"), new File(opt("digests")), work, tracer, r)
      case "harness_capture" =>
        HarnessWorkload.capture(spark, new File(opt("verified")), new File(opt("digests")), r)
      case "gvcf_stream" =>
        StreamWorkload.run(spark, seed, seconds, work, tracer, r)
      case other => sys.error(s"unknown workload $other")
    } finally {
      tracer.foreach { t =>
        t.close()
        sparkLayer(t, r)
        t.writeSpans(new File(work, "spans.jsonl"))
      }
      r.metrics("peak_rss_mb") = peakRssMb()
      writeResult(out, r)
      spark.stop()
    }
  }

  /** The engine underneath the workload's layer spans only. */
  private def sparkLayer(t: Tracer, r: Result): Unit = {
    val w = t.workload
    r.metrics("session.build_s") = r.metrics("setup_s")
    r.metrics("spark.tasks") = w.tasks.toDouble
    r.metrics("spark.task_s") = w.runMs / 1e3
    r.metrics("spark.busy_ratio") = w.runMs / 1e3 / (t.workloadSeconds * Cores)
    r.metrics("spark.scheduler_delay_s") = w.delayMs / 1e3
    r.metrics("spark.gc_s") = t.workloadGcSeconds
    r.metrics("spark.shuffle_write_bytes") = w.shuffleWrite.toDouble
    r.metrics("spark.spill_bytes") = w.spill.toDouble
  }

  /** High-water resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def writeResult(f: File, r: Result): Unit = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val metrics = r.metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
    val json = s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$metrics},"notes":[${r.notes.take(50).map(str).mkString(",")}]}"""
    java.nio.file.Files.writeString(f.toPath, json)
  }

  // ---- helpers shared by the workloads --------------------------------

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** nearest-rank quantile */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** data files under `dir` (Spark's `_SUCCESS` and checksum files excluded) */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Materialize a plan without letting Catalyst prune it the way a
    * `count()` would. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
