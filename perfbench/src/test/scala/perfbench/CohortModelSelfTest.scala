package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.vcf.{PipelineRunner, VcfPipeline}

/** Self-test of the cohort model on tiny cohorts (the benchmark's wide
  * cohort cut down, and a trio) and one stream file: every number the
  * model predicts is compared with the generated files and with the
  * pipeline's own outputs. Exits 1 on the first disagreement.
  *
  * {{{
  * python3 perfbench/run.py --self-test
  * }}}
  */
object CohortModelSelfTest {
  private var failures = 0
  private def check(what: String, got: Any, want: Any): Unit =
    if (got != want) { failures += 1; println(s"FAIL $what: got $got, model says $want") }
    else println(s"ok   $what" + (if (got.isInstanceOf[Map[_, _]]) "" else s" = $got"))

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val spark = GraftSession.tune(
      SparkSession.builder().master("local[2]").appName("perfbench-selftest"),
      shufflePartitions = 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val shapes = Seq(
        "wide" -> CohortWorkload.Shape.copy(samples = 9, sites = 300),
        "trio" -> CohortWorkload.Shape.copy(samples = 3, sites = 2000, callPct = 70))
      for ((name, shape) <- shapes; seed <- Seq(1L, 2L)) {
        val cohort = new Cohort(seed, shape)
        val paths = cohort.write(new File(work, s"$name$seed/in"))
        val exp = cohort.expect(probeEvery = 7)
        val tag = s"$name seed $seed"

        val lines = paths.map(p => scala.io.Source.fromFile(p)).map { s =>
          try s.getLines().size finally s.close()
        }.sum
        check(s"$tag lines", lines.toLong, exp.linesIn)

        val raw = VcfPipeline.ingest(spark, paths, 1).toDF()
        check(s"$tag parser rows", raw.count(), exp.parserRows)
        val parsed = VcfPipeline.qualityGate(VcfPipeline.ingest(spark, paths, 1)).toDF()
          .localCheckpoint()
        check(s"$tag parsed rows", parsed.count(), exp.parsedRows)
        println(f"     $tag gate pass ratio ${exp.parsedRows.toDouble / (exp.linesIn - 2 * shape.samples)}%.3f, " +
          f"parsed rows per site ${exp.parsedRows.toDouble / exp.sites}%.1f")
        check(s"$tag ranges", VcfPipeline.coverageRanges(parsed).count(), exp.ranges)
        val sites = parsed.filter(col("alt") =!= "<NON_REF>")
          .select("chrom", "pos", "ref", "alt", "indel").distinct()
        check(s"$tag pairs", VcfPipeline.intersect(sites, VcfPipeline.coverageRanges(parsed),
          CohortWorkload.BinWidth).count(), exp.pairs)
        check(s"$tag exploded effects", parsed.filter(col("alt") =!= "<NON_REF>")
          .select(explode_outer(col("effects"))).count(), exp.explodedEffects)

        val root = new File(work, s"$name$seed/out").getPath
        PipelineRunner.run(spark, PipelineRunner.Config(root, paths, binWidth = CohortWorkload.BinWidth))
        val samples = spark.read.parquet(s"$root/samples")
        check(s"$tag sites", samples.count(), exp.sites)
        check(s"$tag sample maps",
          samples.agg(sum(size(col("samples")))).first().getLong(0), exp.calls + exp.pairs)
        val got = spark.read.parquet(s"$root/variants")
          .filter(col("pos").isin(exp.probes.keys.toSeq: _*))
          .select(col("pos"), col("freq"), size(col("effects"))).collect()
          .map(r => r.getInt(0) -> (r.getFloat(1), r.getInt(2))).toMap
        check(s"$tag ${exp.probes.size} probed freq/effects", got, exp.probes)
        check(s"$tag documents", spark.read.text(s"$root/documents").count(), exp.sites)
      }

      // one stream file: a single sample over one slice, parsed ungated
      val stream = new Cohort(3L, StreamWorkload.Shape)
      val f = new File(work, "stream/S00005.chr1.g.vcf")
      f.getParentFile.mkdirs()
      stream.writeSample(f, 5, 0, StreamWorkload.Shape.sites)
      check("stream file rows", VcfPipeline.ingest(spark, Seq(f.getPath), 1).count(),
        stream.expectRange(5 to 5, 0, StreamWorkload.Shape.sites).parserRows)
    } finally spark.stop()
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("model self-test passed")
  }
}
