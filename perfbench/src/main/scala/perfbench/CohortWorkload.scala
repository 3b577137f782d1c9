package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._

import graft.vcf.{PipelineRunner, VcfPipeline}

/** Closed-loop batch job: the five `PipelineRunner` stages over a seeded
  * cohort, back to back until the run's time is up. */
object CohortWorkload {
  import Main._

  /** Many samples over a short region, so per-site fan-in and
    * interval-join pairs grow with samples, while the typed parser, the
    * effect explode and the partitioned writes still do real work (see
    * [[Cohort]] for the line mix). */
  val Shape = CohortShape(samples = 20, sites = 1500, callPct = 25)
  /** interval-join bin width (the runner's `--bin-width`): blocks here
    * span tens to hundreds of bases */
  val BinWidth = 1000.0

  val Stages = Seq("parse", "group", "effects", "variants", "publish")
  val WarmPasses = 5
  private val Tables = Seq("parsedSamples", "samples", "effects", "variants", "documents")

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      tracer: Option[Tracer], r: Result): Unit = {
    val cohort = new Cohort(seed, Shape)
    // counts no plan metric holds, taken outside the layer spans
    val probes = mutable.Map.empty[String, Double]
    val paths = cohort.write(new File(work, "input"))
    val inBytes = paths.map(new File(_).length).sum.toDouble
    val exp = cohort.expect()

    def config(root: File) = PipelineRunner.Config(root.getPath, paths, binWidth = BinWidth)
    // the runner's restartable form: one stage per call, each reading the
    // table the previous one wrote
    def stage(cfg: PipelineRunner.Config, st: String): Unit =
      PipelineRunner.run(spark, cfg.copy(stages = Seq(st)))

    // Warm-up, neither timed nor traced: full passes until JIT and codegen
    // have levelled the stage times off (on 4 cores pass times fall by about
    // a half over the first four passes and by about a tenth over the fifth)
    (0 until WarmPasses).foreach { k =>
      val root = new File(work, s"warm$k")
      Stages.foreach(stage(config(root), _))
      deleteTree(root)
    }

    val pipelines = mutable.ArrayBuffer.empty[Double]
    val amps = mutable.ArrayBuffer.empty[Double]
    // at least three passes, so one disturbed pass does not move the median;
    // another only if it should end within the run
    val start = System.nanoTime()
    var last = 0.0
    var k = 0
    while (k < 3 || (System.nanoTime() - start) / 1e9 + last < seconds) {
      val passStart = System.nanoTime()
      // untimed: so that no pass pays for the previous one's old generation
      System.gc()
      val root = new File(work, s"run$k")
      val cfg = config(root)
      try {
        val dts = Stages.map(st => time(tracer.fold(stage(cfg, st))(_.span(st)(stage(cfg, st))))._2)
        pipelines += dts.sum
        tracer.foreach(besideGroup(spark, _, cfg, if (k == 0) Some(probes) else None))
      } catch { case e: Throwable => r.notes += s"pipeline threw ${e.getClass.getSimpleName}" }
      r.attempted += Stages.size
      verify(spark, root, exp, r, probes)
      amps += Tables.map(t => dataFiles(new File(root, t)).map(_.length).sum).sum / inBytes
      tracer.foreach { _ =>
        for ((layer, table) <- Seq("parse" -> "parsedSamples", "publish" -> "documents")) {
          val files = dataFiles(new File(root, table))
          r.metrics(s"$layer.bytes_written") = files.map(_.length).sum.toDouble
          r.metrics(s"$layer.files_written") = files.size.toDouble
        }
      }
      deleteTree(root)
      last = (System.nanoTime() - passStart) / 1e9
      k += 1
    }
    r.metrics("pipeline_s") = median(pipelines.toSeq)
    r.metrics("work_s") = r.metrics("pipeline_s")
    // one operation is one pass: the five stages differ too much in length
    // for quantiles over stage calls to follow more than one or two of them
    r.metrics("op_p50_s") = quantile(pipelines.toSeq, 0.5)
    r.metrics("op_p95_s") = quantile(pipelines.toSeq, 0.95)
    r.metrics("pipeline.write_amp") = median(amps.toSeq)
    tracer.foreach(layers(_, r, k, probes))
  }

  /** The interval join alone on the materialized parse output, in a span
    * beside the group span (the group stage runs it inside); on the first
    * pass also the probes for counts no plan metric holds. Both spans are
    * set aside: the engine-wide figures count the pipeline's stages only. */
  private def besideGroup(spark: SparkSession, t: Tracer, cfg: PipelineRunner.Config,
      probe: Option[mutable.Map[String, Double]]): Unit = {
    def parsed = spark.read.parquet(s"${cfg.root}/parsedSamples")
    t.span("interval_join", aside = true)(noop(VcfPipeline.synthesizedRefCalls(parsed, cfg.binWidth)))
    probe.foreach(probes => t.span("probe", aside = true) {
      // parser rows before the quality gate, and the bin join's candidate
      // pairs before its range filter (per-bin sites x per-bin ranges)
      probes("parser_rows") = VcfPipeline.ingest(spark, cfg.gvcfPaths, cfg.chrom).count().toDouble
      val bw = cfg.binWidth
      val siteBins = parsed.filter(col("alt") =!= "<NON_REF>")
        .select("chrom", "pos", "ref", "alt", "indel").distinct()
        .groupBy(col("chrom"), floor(col("pos") / bw).as("bin")).agg(count(lit(1)).as("np"))
      val rangeBins = VcfPipeline.coverageRanges(parsed)
        .select(col("r_chrom").as("chrom"),
          explode(sequence(floor(col("r_start") / bw), floor(col("r_end") / bw))).as("bin"))
        .groupBy("chrom", "bin").agg(count(lit(1)).as("nr"))
      probes("candidates") = siteBins.join(rangeBins, Seq("chrom", "bin"))
        .agg(sum(col("np") * col("nr"))).first().getLong(0).toDouble
    })
  }

  private def layers(t: Tracer, r: Result, iterations: Int,
      probes: collection.Map[String, Double]): Unit = {
    val n = iterations.toDouble
    def secs(layer: String) = r.metrics(s"$layer.s") = median(t.seconds(layer))
    def shuffle(layer: String) =
      r.metrics(s"$layer.shuffle_bytes") = t.tasks(layer).shuffleWrite / n
    def written(layer: String) = t.planMetric(layer, "numOutputRows") {
      case _: DataWritingCommandExec => true; case _ => false } / n

    secs("parse")
    // lines scanned: the range-partitioned write samples its input in a
    // pass of its own, so every line is read twice
    r.metrics("parse.lines_in") =
      t.planMetric("parse", "numOutputRows")(_.nodeName.startsWith("Scan")) / n
    r.metrics("parse.rows_out") = written("parse")
    r.metrics("parse.gate_pass_ratio") = written("parse") / probes("parser_rows")

    secs("interval_join")
    val pairs = t.planMetric("interval_join", "numOutputRows") {
      case j: BaseJoinExec => (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("__graft_pbin"))
      case _ => false } / n
    r.metrics("interval_join.candidates") = probes("candidates")
    r.metrics("interval_join.pairs_out") = pairs
    r.metrics("interval_join.hit_ratio") = pairs / probes("candidates")
    shuffle("interval_join")

    secs("group")
    r.metrics("group.rows_out") = written("group")
    r.metrics("group.maps_out") = probes("maps_out")
    shuffle("group")
    r.metrics("group.spill_bytes") = t.tasks("group").spill / n

    secs("effects")
    r.metrics("effects.exploded_rows") = t.planMetric("effects", "numOutputRows") {
      case _: GenerateExec => true; case _ => false } / n
    r.metrics("effects.rows_out") = written("effects")
    shuffle("effects")

    secs("variants")
    r.metrics("variants.rows_out") = written("variants")
    shuffle("variants")

    secs("publish")
  }

  /** Each stage's table against the model; one failure per stage that
    * misses. */
  private def verify(spark: SparkSession, root: File, exp: CohortExpectation, r: Result,
      probes: mutable.Map[String, Double]): Unit = {
    def table(name: String) = spark.read.parquet(new File(root, name).getPath)
    def check(stage: String)(ok: => Boolean): Unit =
      try { if (!ok) r.fail(s"$stage: output differs from the model") }
      catch { case e: Throwable => r.fail(s"$stage: ${e.getClass.getSimpleName}") }

    check("parse")(table("parsedSamples").count() == exp.parsedRows)
    check("group") {
      val row = table("samples").agg(count(lit(1)), sum(size(col("samples")))).first()
      probes("maps_out") = row.getLong(1).toDouble
      row.getLong(0) == exp.sites && row.getLong(1) == exp.calls + exp.pairs
    }
    check("effects")(table("effects").count() == exp.sites)
    check("variants") {
      val got = table("variants").filter(col("pos").isin(exp.probes.keys.toSeq: _*))
        .select(col("pos"), col("freq"), size(col("effects"))).collect()
        .map(row => row.getInt(0) -> (row.getFloat(1), row.getInt(2))).toMap
      table("variants").count() == exp.sites && got == exp.probes
    }
    check("publish")(spark.read.text(new File(root, "documents").getPath).count() == exp.sites)
  }
}
