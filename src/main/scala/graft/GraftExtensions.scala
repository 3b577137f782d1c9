package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{FloatDotProduct, GramRepetitionExpr, ShingleKeysExpr, SignBandKeys, SimHash64Expr}
import graft.operators.Similarity

/** Session extension installing the engine's native expressions into the
  * function registry at session build time — the deployment path for
  * clusters the engine doesn't own:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * SELECT fvec_dot(a, b), sign_band_keys(v, 32, 8, 64, 42) FROM t
  * SELECT simhash64(split(text, ' ')), shingle_keys(split(text, ' '), 3),
  *        gram_repetition(split(text, ' ')) FROM docs
  * }}}
  *
  * (Per-session registration for embedded callers stays available via
  * `SqlFunctions.register`; both install [[GraftExtensions.functions]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** The native SQL functions — (name, expression class, builder) — that
    * both registration paths install, so embedded and cluster sessions
    * resolve identical SQL names with identical argument checks.
    *
    * The per-document sketch kernels give SQL users the same zero-shuffle
    * shingle/SimHash/repetition sketches the Scala operators compute —
    * e.g. the whole d1/d4-style dedup signature pass is a SELECT. Spark
    * ships Bloom-filter build/probe expressions for its runtime join
    * filters but does not register them as SQL functions; surfacing them
    * lets SQL callers run the Bloom-prefilter decontamination shape
    * (Decontamination.bloomDecontaminate) end to end in SQL.
    */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    native("fvec_dot", classOf[FloatDotProduct],
        "fvec_dot(arrayFloat, arrayFloat)", 2) { e =>
      FloatDotProduct(e(0), e(1))
    },
    native("sign_band_keys", classOf[SignBandKeys],
        "sign_band_keys(vec, bands, planesPerBand, dim, seed)", 5) { e =>
      val bands = intLit(e(1), "bands")
      val r = intLit(e(2), "planesPerBand")
      val dim = intLit(e(3), "dim")
      require(bands >= 1 && dim >= 1, "bands and dim must be >= 1")
      require(r >= 1 && r <= 64, "planesPerBand must be in [1, 64] (long key bits)")
      SignBandKeys(e(0), Similarity.flatPlanes(bands, r, dim, longLit(e(4), "seed")),
        bands, r, dim)
    },
    native("shingle_keys", classOf[ShingleKeysExpr],
        "shingle_keys(tokensArray, n[, portable])", 2, 3) { e =>
      val n = intLit(e(1), "n")
      require(n >= 1, "n must be >= 1")
      ShingleKeysExpr(e(0), n, e.length == 3 && boolLit(e(2), "portable"))
    },
    native("simhash64", classOf[SimHash64Expr],
        "simhash64(tokensArray[, portable])", 1, 2) { e =>
      SimHash64Expr(e(0), e.length == 2 && boolLit(e(1), "portable"))
    },
    native("gram_repetition", classOf[GramRepetitionExpr],
        "gram_repetition(tokensArray)", 1) { e =>
      GramRepetitionExpr(e(0))
    },
    native("bloom_filter_agg", classOf[BloomFilterAggregate],
        "bloom_filter_agg(hashLong, estimatedItems, numBits)", 3) { e =>
      new BloomFilterAggregate(e(0), e(1), e(2))
    },
    native("might_contain", classOf[BloomFilterMightContain],
        "might_contain(bloomFilterBinary, hashLong)", 2) { e =>
      BloomFilterMightContain(e(0), e(1))
    })

  private def native(name: String, cls: Class[_], usage: String, arities: Int*)(
      build: Seq[Expression] => Expression) =
    (name, cls, (e: Seq[Expression]) => {
      require(arities.contains(e.length), usage)
      build(e)
    })

  private def literal(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null)
  }

  private def longLit(e: Expression, what: String): Long = literal(e, what) match {
    case i: Int  => i.toLong
    case l: Long => l
    case other   => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int = {
    val l = longLit(e, what)
    require(l.isValidInt, s"$what out of range: $l")
    l.toInt
  }

  private def boolLit(e: Expression, what: String): Boolean = literal(e, what) match {
    case b: Boolean => b
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }
}
