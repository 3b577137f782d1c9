package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; SqlFunctions.register(s); s }

  test("registered scalar functions answer from SQL") {
    val r = spark.sql(
      """SELECT gq_band(47) AS b, truncate_at(0.9999, 3) AS t,
        |  umd_label('Pathogenic') AS u, umd_label('Probably pathogenic') AS u2,
        |  chrom_to_int('X') AS x,
        |  ad_alt_fraction('25,2', '0/1') AS f,
        |  ad_alt_fraction('25,0,2', '0/2') AS f2""".stripMargin).collect().head
    assert(r.getAs[Int]("b") == 45)
    assert(r.getAs[Double]("t") == 0.999)
    assert(r.getAs[String]("u") == "D")
    assert(r.getAs[String]("u2") == "P")
    assert(r.getAs[Int]("x") == 24)
    assert(r.getAs[Double]("f") == 0.074)
    // GT 0/2 reads the second alt's depth: 2 / 27
    assert(r.getAs[Double]("f2") == 0.074)
  }

  test("cohort_freq over collected sample maps") {
    val r = spark.sql(
      """SELECT cohort_freq(array(map('gt','0/1'), map('gt','0/0'))) AS f"""
    ).collect().head
    assert(r.getAs[Float]("f") == 0.25f)
    // null or empty input: 0, the contract of the pipeline's freq rule
    val z = spark.sql(
      """SELECT cohort_freq(NULL) AS n, cohort_freq(array()) AS e,
        |  cohort_freq(cast(NULL AS array<map<string,string>>)) AS tn""".stripMargin
    ).collect().head
    assert(z.getAs[Float]("n") == 0f && z.getAs[Float]("e") == 0f && z.getAs[Float]("tn") == 0f)
  }

  test("embedded registration and the session extension install the same native functions") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.toSet == Set("fvec_dot", "sign_band_keys", "shingle_keys", "simhash64",
      "gram_repetition", "bloom_filter_agg", "might_contain"))
    TestSpark.withExtensions { withExt =>
      for (s <- Seq(spark, withExt)) {
        names.foreach(n => assert(s.catalog.functionExists(n), s"$n missing"))
        // one arity rule on both paths: simhash64 takes 1 or 2 arguments
        val err = intercept[Exception] {
          s.sql("SELECT simhash64(split('a b', ' '), true, 1)").collect()
        }
        assert(err.getMessage.contains("simhash64(tokensArray[, portable])"), err.getMessage)
      }
    }
  }

  test("fvec_dot native expression callable from SQL") {
    val r = spark.sql(
      """SELECT fvec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(0.5 as float))) AS d""".stripMargin
    ).collect().head
    assert(r.getAs[Double]("d") == 4.0)
  }
}
