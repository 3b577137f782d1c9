package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.GvcfStream

/** Open loop: small per-sample gVCF files dropped on a fixed schedule into
  * `GvcfStream.run` with the smallest trigger interval (0: a new
  * micro-batch as soon as the previous one commits). */
object StreamWorkload {
  import Main._

  /** Each file is one sample over `Shape.sites` sites. */
  val Shape = CohortShape(samples = 1, sites = 400, callPct = 60)
  /** files per second: about a quarter of the ~26 files/s the stream
    * sustains on 4 cores (micro-batches of ~56 files then take ~2.1 s).
    * With a 0 trigger a batch takes a / (1 - b * rate) for a fixed cost a
    * and a per-file cost b, so near capacity a slower host stretches the
    * batches far more than its own slowdown; at a quarter it stretches
    * them about as much. */
  val Rate = 6.0
  private val WarmFiles = 4

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      tracer: Option[Tracer], r: Result): Unit = {
    val cohort = new Cohort(seed, Shape)
    val staging = new File(work, "staging")
    val in = new File(work, "in")
    Seq(staging, in).foreach(_.mkdirs())
    val measured = math.max(1, math.round(seconds * Rate).toInt)
    val n = WarmFiles + measured
    // all files are written before the clock starts: the generator only renames
    val names = (0 until n).map { k =>
      val name = cohort.sampleName(k) + ".chr1.g.vcf"
      cohort.writeSample(new File(staging, name), k, 0, Shape.sites)
      name
    }
    val expectedRows = (0 until n).map(k =>
      cohort.sampleName(k) -> cohort.expectRange(k to k, 0, Shape.sites).parserRows).toMap
    def drop(k: Int): Unit = Files.move(new File(staging, names(k)).toPath,
      new File(in, names(k)).toPath, StandardCopyOption.ATOMIC_MOVE)

    val out = new File(work, "out").getPath
    val q = GvcfStream.run(spark, in.getPath, out, new File(work, "checkpoint").getPath,
      Trigger.ProcessingTime(0L))
    (0 until WarmFiles).foreach(drop)
    q.processAllAvailable()

    var startMs = 0L
    val droppedMs = new Array[Double](measured)
    // the measured window; its micro-batches run under the query's job group
    def window(): Unit = {
      startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      for (j <- 0 until measured) {
        val dueNs = startNs + (j * 1e9 / Rate).toLong
        val wait = (dueNs - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        drop(WarmFiles + j)
        droppedMs(j) = System.currentTimeMillis().toDouble
      }
      val rest = (startMs + seconds * 1000 - System.currentTimeMillis()).toLong
      if (rest > 0) Thread.sleep(rest)
      q.processAllAvailable()
    }
    tracer.fold(window())(_.span("stream", adopt = Some(q.runId.toString))(window()))
    q.stop()
    val endMs = startMs + seconds * 1000
    val scheduledMs = Array.tabulate(measured)(j => startMs + j * 1000.0 / Rate)

    // which batch each file landed in, and with how many rows
    val landed = spark.read.parquet(out)
      .groupBy(col("sample.sampleId").as("file"), col("batch")).count().collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) =>
        // partition discovery reads batch=<id> back as an int
        f -> rows.map(x => x.getAs[Number](1).longValue -> x.getLong(2)).toSeq
      }
    val progress: Seq[StreamingQueryProgress] = tracer match {
      case Some(t) =>
        BusDrain(spark.sparkContext) // the listener's last progress events
        t.progress.map(_.progress).toSeq
      case None => q.recentProgress.toSeq
    }
    val commitMs = progress.filter(_.numInputRows > 0).map { p =>
      p.batchId -> (Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)).toDouble
    }.toMap

    val committedMs = (0 until measured).map { j =>
      landed.get(cohort.sampleName(WarmFiles + j)).flatMap(_.headOption)
        .flatMap(b => commitMs.get(b._1))
    }
    (0 until n).foreach { k =>
      val file = cohort.sampleName(k)
      r.attempted += 1
      landed.get(file) match {
        case Some(Seq((batch, rows))) if rows == expectedRows(file) && commitMs.contains(batch) =>
        case other => r.fail(s"$file landed as $other, expected ${expectedRows(file)} rows once")
      }
    }
    val lags = committedMs.indices.flatMap(j => committedMs(j).map(c => (c - scheduledMs(j)) / 1e3))
    r.metrics("stream_lag_p50_s") = quantile(lags, 0.5)
    r.metrics("stream_lag_p95_s") = quantile(lags, 0.95)
    // time-averaged number of files dropped but not yet committed
    val windowMs = endMs - startMs
    r.metrics("stream.backlog_files") = committedMs.indices.map { j =>
      math.max(0.0, math.min(committedMs(j).getOrElse(endMs), endMs) - droppedMs(j))
    }.sum / windowMs
    val inWindow = progress.filter { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli
      p.numInputRows > 0 && t0 >= startMs && t0 < endMs
    }
    val durations = inWindow.map(p =>
      p.durationMs.asScala.get("triggerExecution").map(_.longValue / 1e3).getOrElse(0.0))
    // the stream's unit of work: one micro-batch (with a 0 trigger it is
    // busy for the whole window, so the sum of batch times would not move)
    r.metrics("work_s") = median(durations)
    r.metrics("op_p50_s") = r.metrics("stream_lag_p50_s")
    r.metrics("op_p95_s") = r.metrics("stream_lag_p95_s")
    val outBytes = dataFiles(new File(out)).map(_.length).sum
    r.metrics("pipeline.write_amp") =
      outBytes.toDouble / names.map(n => new File(in, n).length).sum

    tracer.foreach { _ =>
      r.metrics("stream.batches") = inWindow.size.toDouble
      r.metrics("stream.batch_s_p50") = r.metrics("work_s")
      r.metrics("stream.files_per_batch") = measured.toDouble / math.max(1, inWindow.size)
      r.metrics("stream.rows_per_batch") =
        inWindow.map(_.numInputRows.toDouble).sum / math.max(1, inWindow.size)
      val busyMs = inWindow.zip(durations).map { case (p, d) =>
        val t0 = Instant.parse(p.timestamp).toEpochMilli.toDouble
        math.max(0.0, math.min(t0 + d * 1e3, endMs) - t0)
      }.sum
      r.metrics("stream.idle_ratio") = 1 - busyMs / windowMs
      r.metrics("stream.generator_late_s") =
        droppedMs.indices.map(j => droppedMs(j) - scheduledMs(j)).max / 1e3
    }
  }
}
