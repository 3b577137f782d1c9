package graft.vcf

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

/** The reference's batch DAG (SURVEY.md §3.1) rebuilt Spark-first:
  *
  * {{{
  * gvcf text ── ingest ──▶ raw rows
  * raw ── parse (typed flatMap) ── quality gates ──▶ parsedSamples
  * parsedSamples ── <NON_REF> rows ──▶ coverage ranges
  * distinct variant sites × ranges ── IntervalJoin bin rewrite ──▶ synthesized ref-calls
  * parsed ∪ synthesized ── groupBy site ── collect_list(map(...)) ──▶ samples
  * parsed ── explode effects ── groupBy site ── collect + first ──▶ effects
  * effects ⟕ samples ── freq ──▶ variants (nested docs)
  * }}}
  *
  * Every stage is a DataFrame/Dataset plan (Catalyst-optimizable,
  * whole-stage codegen); the only typed lambda is the gVCF line parser
  * itself. Stages write/read partitioned parquet by (chrom, band) when
  * materialized — `partitionBy` replaces the reference's hand-built
  * `chrom=C/band=B` paths (`steps/Parser.scala:199`).
  */
object VcfPipeline {

  val GqMin = 19 // quality gates per reference (`steps/toRange.scala:33-34`)
  val DpMin = 7

  /** Genomic band width of the `chrom=C/band=B` layout (30 Mbp). */
  val BandWidth = 30000000L

  /** S1/S2: read gVCF text (gzip handled by codec), drop headers, parse to
    * typed variants. Every file holds chromosome `chrom`.
    */
  def ingest(spark: SparkSession, paths: Seq[String], chrom: Int): Dataset[Variant] =
    parseText(spark.read.text(paths: _*), _ => chrom)

  /** The gVCF text → typed rows step shared by batch [[ingest]] and the
    * streaming loader: `input_file_name()` supplies each line's file
    * (replacing the reference's filename/`toDebugString` hacks), whose
    * name up to the first `.` is the sample id and from which `chromOf`
    * derives the chromosome. No quality gate: callers gate or not.
    */
  def parseText(text: DataFrame, chromOf: String => Int): Dataset[Variant] = {
    import text.sparkSession.implicits._
    text.select(col("value"), input_file_name().as("file"))
      .as[(String, String)]
      .flatMap { case (line, file) =>
        val name = file.split("/").last
        VcfParser.parseLine(line, name.split("\\.").head, chromOf(name))
      }
  }

  /** Quality gates (P3) applied to every row — variant calls and
    * `<NON_REF>` coverage blocks alike: gq > 19 && dp > 7, and
    * multi-allelic split rows dropped, exactly as the reference gates
    * parsedSamples on write (`steps/Parser.scala:199`:
    * `multiallelic === false && dp > 7 && gq > 19`). Everything
    * downstream (sampleGroups / effectGroups / freq) sees only
    * bi-allelic, quality-passing rows, so cohort frequencies match.
    */
  def qualityGate(parsed: Dataset[Variant]): Dataset[Variant] =
    parsed.filter(
      col("sample.multiallelic") === false &&
        col("sample.gq") > GqMin && col("sample.dp") > DpMin)

  /** Coverage ranges: the `<NON_REF>`-only rows carry [pos, end_pos]
    * intervals per sample (reference `steps/toRange.scala`).
    */
  def coverageRanges(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") === "<NON_REF>" && col("end_pos") =!= 0)
      .select(
        col("chrom").as("r_chrom"), col("pos").as("r_start"),
        col("end_pos").as("r_end"), col("sample.sampleId").as("r_sample"),
        col("sample.dp").as("r_dp"), col("sample.gq").as("r_gq"))

  /** J2: distinct variant sites × coverage ranges — which samples have
    * reference coverage at each variant position. Bin-key rewrite, 1 Mbp
    * bins (SURVEY.md §7.3) instead of the reference's row-explosion /
    * hand-rolled merge join.
    */
  def intersect(sites: DataFrame, ranges: DataFrame, binWidth: Double = 1e6): DataFrame =
    IntervalJoin.pointInRange(
      sites, ranges,
      pointCol = "pos", loCol = "r_start", hiCol = "r_end",
      binWidth = binWidth,
      extraEquiKeys = Seq(("chrom", "r_chrom")),
      hiInclusive = true)

  /** Synthesized reference-call rows for covered samples at variant sites
    * (same 11-column shape the real calls collapse to). A sample that
    * already called the site never gets a synthesized 0/0 — in
    * well-formed gVCF, blocks and calls are disjoint per sample, but the
    * anti-join makes the stage robust to overlapping inputs.
    */
  def synthesizedRefCalls(parsed: DataFrame, binWidth: Double = 1e6): DataFrame = {
    val sites = parsed.filter(col("alt") =!= "<NON_REF>")
      .select("chrom", "pos", "ref", "alt", "indel").distinct()
    val own = parsed.filter(col("alt") =!= "<NON_REF>").select(
      col("chrom").as("o_chrom"), col("pos").as("o_pos"),
      col("sample.sampleId").as("o_sample"))
    val joined = intersect(sites, coverageRanges(parsed), binWidth)
      .join(own,
        col("chrom") === col("o_chrom") && col("pos") === col("o_pos") &&
          col("r_sample") === col("o_sample"),
        "left_anti")
    joined.select(
      col("chrom"), col("pos"), col("ref"), col("alt"), col("indel"),
      lit("0/0").as("gt"), col("r_dp").as("dp"), col("r_gq").as("gq"),
      lit("").as("pl"), lit("").as("ad"), lit(false).as("multiallelic"),
      col("r_sample").as("sampleId"), lit(true).as("diploid"))
  }

  private def callColumns(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") =!= "<NON_REF>").select(
      col("chrom"), col("pos"), col("ref"), col("alt"), col("indel"),
      col("sample.gt").as("gt"), col("sample.dp").as("dp"),
      col("sample.gq").as("gq"), col("sample.pl").as("pl"),
      col("sample.ad").as("ad"), col("sample.multiallelic").as("multiallelic"),
      col("sample.sampleId").as("sampleId"), col("sample.diploid").as("diploid"))

  /** A1: per-site genotype matrix → array of per-sample maps
    * (`collect_list(map(...))` replaces the brickhouse Hive UDAF).
    */
  def sampleGroups(parsed: DataFrame, binWidth: Double = 1e6): DataFrame = {
    val all = callColumns(parsed).unionByName(synthesizedRefCalls(parsed, binWidth))
    all.groupBy("chrom", "pos", "ref", "alt", "indel")
      .agg(collect_list(map(
        lit("sample"), col("sampleId"), lit("gt"), col("gt"),
        lit("dp"), col("dp").cast("string"), lit("gq"), col("gq").cast("string"),
        lit("ad"), col("ad"), lit("multi"), col("multiallelic").cast("string"),
        lit("diploid"), col("diploid").cast("string"))).as("samples"))
  }

  /** SQL-text twin of [[sampleGroups]] (§3.2 parity: the reference drives
    * this stage as a HiveQL string over a registered temp table,
    * `steps/toSampleGrouped.scala:39` — a user porting that SQL must be
    * able to run it here). Registers the unioned call table as a temp
    * view and groups with `collect_list(map(...))` in SQL. Same logical
    * plan shape as the DataFrame form; `VcfSqlTwinSpec` asserts equal
    * results.
    */
  /** Register under a unique name, analyze the SQL (eager in `spark.sql`),
    * then drop the view: no fixed catalog name to clobber a caller's view
    * or race a concurrent pipeline on the same session.
    */
  private def withTempView(df: DataFrame)(sql: String => String): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_v${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(name)
    try spark.sql(sql(name))
    finally spark.catalog.dropTempView(name)
  }

  def sampleGroupsSql(parsed: DataFrame, binWidth: Double = 1e6): DataFrame =
    withTempView(callColumns(parsed)
        .unionByName(synthesizedRefCalls(parsed, binWidth))) { v =>
      s"""SELECT chrom, pos, ref, alt, indel,
         |  collect_list(map(
         |    'sample', sampleId, 'gt', gt,
         |    'dp', CAST(dp AS STRING), 'gq', CAST(gq AS STRING),
         |    'ad', ad, 'multi', CAST(multiallelic AS STRING),
         |    'diploid', CAST(diploid AS STRING))) AS samples
         |FROM $v
         |GROUP BY chrom, pos, ref, alt, indel""".stripMargin
    }

  /** SQL-text twin of [[effectGroups]] (reference
    * `steps/toEffectsGrouped.scala:24-38`): LATERAL VIEW OUTER explode +
    * collect_list/first over a temp view.
    */
  def effectGroupsSql(parsed: DataFrame): DataFrame =
    withTempView(parsed) { v =>
      s"""SELECT chrom, pos, ref, alt,
         |  array_distinct(collect_list(effect)) AS effects,
         |  first(predictions) AS predictions,
         |  first(populations) AS populations
         |FROM $v
         |  LATERAL VIEW OUTER explode(effects) fx AS effect
         |WHERE alt != '<NON_REF>'
         |GROUP BY chrom, pos, ref, alt""".stripMargin
    }

  /** A2/A3: per-site effect array (exploded, deduped) + first-seen
    * predictions/populations.
    */
  def effectGroups(parsed: DataFrame): DataFrame =
    parsed.filter(col("alt") =!= "<NON_REF>")
      .select(
        col("chrom"), col("pos"), col("ref"), col("alt"),
        explode_outer(col("effects")).as("effect"),
        col("predictions"), col("populations"))
      .groupBy("chrom", "pos", "ref", "alt")
      .agg(
        array_distinct(collect_list(col("effect"))).as("effects"),
        first(col("predictions")).as("predictions"),
        first(col("populations")).as("populations"))

  /** U1: cohort allele frequency over the collected sample maps — sum of
    * alt-allele digits / (2 × samples), floor-truncated to float like the
    * reference's `freq` UDF (`steps/toVariant.scala:28-30`); 0 for a null
    * or empty array. Higher-order functions, no UDF; the `cohort_freq` SQL
    * function is this expression.
    */
  def freqColumn(samples: Column): Column = {
    val altCount = aggregate(samples, lit(0),
      (acc, s) => acc +
        when(element_at(s, "gt") === "1/1", 2)
          .when(element_at(s, "gt") === "0/1", 1)
          .otherwise(0))
    when(size(samples) > 0,
      (floor(altCount.cast("double") / (size(samples) * 2) * 1e6) / 1e6).cast("float"))
      .otherwise(lit(0.0f))
  }

  /** J3 + U1: nested per-variant documents — effects ⟕ samples + freq. */
  def joinDocuments(effects: DataFrame, samples: DataFrame): DataFrame =
    effects.join(samples, Seq("chrom", "pos", "ref", "alt"), "left")
      .withColumn("freq", freqColumn(col("samples")))

  /** [[joinDocuments]] over the group stages of `parsed`. */
  def variants(parsed: DataFrame, binWidth: Double = 1e6): DataFrame =
    joinDocuments(effectGroups(parsed), sampleGroups(parsed, binWidth))

  /** Band index of a position: the `band` partition key of every
    * (chrom, band) table, batch and stream alike.
    */
  def band(pos: Column): Column = (pos / BandWidth).cast("int")

  /** S4: partitioned parquet sink — genomic band as a first-class derived
    * column, `partitionBy` instead of hand-built paths (U5: the custom
    * `BinPartitioner` becomes `repartitionByRange` on the derived key, so
    * rows land clustered and each partition directory gets few files).
    */
  def writePartitioned(df: DataFrame, dest: String): Unit =
    df.withColumn("band", band(col("pos")))
      .repartitionByRange(col("chrom"), col("band"), col("pos"))
      .write.mode("overwrite").partitionBy("chrom", "band").parquet(dest)
}
