package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

import graft.vcf.{VcfFunctions, VcfPipeline}

/** SQL-surface registration (§3.2 parity: the reference drives several
  * stages through HiveQL strings — our engine exposes the same operations
  * to `spark.sql` callers). Pure functions register as UDFs; `cohort_freq`
  * and the [[GraftExtensions.functions]] table register as native
  * expressions.
  */
object SqlFunctions {

  def register(spark: SparkSession): Unit = {
    spark.udf.register("gq_band", (gq: Int) => VcfFunctions.gqBand(gq))
    spark.udf.register("truncate_at",
      (x: Double, p: Int) => VcfFunctions.truncateAt(x, p))
    spark.udf.register("umd_label", (s: String) => VcfFunctions.umdLabel(s))
    spark.udf.register("chrom_to_int", (s: String) => VcfFunctions.chromToInt(s))
    spark.udf.register("ad_alt_fraction",
      (ad: String, gt: String) => VcfFunctions.adAltFraction(ad, gt))
    // U1: cohort allele frequency over collected per-sample maps — the
    // pipeline's own freq expression; the cast coerces an untyped NULL or
    // array() argument like a UDF parameter would
    ColumnBridge.registerExpression(spark, "cohort_freq", exprs => {
      require(exprs.length == 1, "cohort_freq(samplesArray)")
      ColumnBridge.sqlExpression(VcfPipeline.freqColumn(
        ColumnBridge.column(exprs(0)).cast("array<map<string,string>>")))
    })
    // U2: merge population maps, recoding empty values to "0"
    spark.udf.register("pop_normalize",
      (maps: Seq[Map[String, String]]) => VcfFunctions.popNormalize(maps))
    // native expressions — stay inside whole-stage codegen from SQL too;
    // the same table GraftExtensions installs
    GraftExtensions.functions.foreach { case (name, _, build) =>
      ColumnBridge.registerExpression(spark, name, build)
    }
  }
}
