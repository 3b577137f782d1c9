package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val Sf0001 = "/root/testdata/sf0.001"

  /** Run `f` on a new session over the shared context built with
    * [[GraftExtensions]] — the `--conf spark.sql.extensions` code path —
    * then restore the shared session as active and default.
    */
  def withExtensions[T](f: SparkSession => T): T = {
    val base = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate())
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
