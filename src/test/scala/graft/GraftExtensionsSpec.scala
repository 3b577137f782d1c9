package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extension class is the cluster deployment path
  * (`--conf spark.sql.extensions=graft.GraftExtensions`): a session built
  * with it resolves the native expressions from plain SQL with no
  * per-session registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("sessions built with the extension resolve native expressions from SQL") {
    TestSpark.withExtensions { withExt =>
      val r = withExt.sql(
        """SELECT fvec_dot(array(cast(1.0 as float), cast(2.0 as float)),
          |               array(cast(3.0 as float), cast(0.5 as float))) AS d,
          |  sign_band_keys(array(cast(1.0 as float), cast(-2.0 as float)),
          |                 4, 8, 2, 42) AS keys""".stripMargin).collect().head
      assert(r.getAs[Double]("d") == 4.0)
      val keys = r.getAs[scala.collection.Seq[Long]]("keys")
      assert(keys.length == 4)
      // deterministic: same literals -> same keys on a second run
      val again = withExt.sql(
        """SELECT sign_band_keys(array(cast(1.0 as float), cast(-2.0 as float)),
          |                      4, 8, 2, 42) AS keys""".stripMargin)
        .collect().head.getAs[scala.collection.Seq[Long]]("keys")
      assert(again == keys)
      // non-literal config args are rejected loudly
      val err = intercept[Exception] {
        withExt.sql(
          "SELECT sign_band_keys(array(cast(1.0 as float)), cast(rand()*4 as int), 8, 1, 42)"
        ).collect()
      }
      assert(err.getMessage.toLowerCase.contains("literal"))

      // r7 sketch kernels from plain SQL — values must match the Column
      // API kernels on the same input
      val sk = withExt.sql(
        """SELECT shingle_keys(split('a b c d', ' '), 3) AS ks,
          |  shingle_keys(split('a b c d', ' '), 3, true) AS pk,
          |  simhash64(split('a b c d', ' ')) AS sh,
          |  gram_repetition(split('x y x y x', ' ')) AS gr""".stripMargin)
        .collect().head
      assert(sk.getAs[scala.collection.Seq[Long]]("ks").length == 2)
      assert(sk.getAs[scala.collection.Seq[Long]]("pk").forall(_ >= 0L))
      import org.apache.spark.sql.functions.split
      val viaColumns = withExt.range(1).select(
          graft.functions.ShingleFunctions.shingleKeys(
            split(org.apache.spark.sql.functions.lit("a b c d"), " "), 3).as("ks"),
          graft.functions.ShingleFunctions.simhash64(
            split(org.apache.spark.sql.functions.lit("a b c d"), " ")).as("sh"))
        .collect().head
      assert(sk.getAs[scala.collection.Seq[Long]]("ks") ==
        viaColumns.getAs[scala.collection.Seq[Long]]("ks"))
      assert(sk.getAs[Long]("sh") == viaColumns.getAs[Long]("sh"))
      // 'x y' appears 2 of 4 bigrams; trigrams 'x y x' x2 + 'y x y' -> 2 dup of 3
      val gr = sk.getStruct(sk.fieldIndex("gr"))
      assert(gr.getAs[Long]("top_bigram") == 2L)
      assert(gr.getAs[Long]("n_bigram") == 4L)
      assert(gr.getAs[Long]("dup_trigram") == 2L)
      assert(gr.getAs[Long]("n_trigram") == 3L)
    }
  }
}
