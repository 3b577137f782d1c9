package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** Closed loop, one client: the harness queries run once each, in name
  * order, every result collected and checked against its digest. */
object HarnessWorkload {
  import Main._

  type Query = (SparkSession, String) => DataFrame

  def family(name: String): String = name.takeWhile(!_.isDigit)

  /** Every `Stride`-th query of each family in name order, starting from
    * its first: 23 queries covering all 19 families. The whole suite of 301
    * takes over three minutes on 4 cores at sf0.01, longer than one
    * benchmark run may last. */
  val Stride = 24
  def selected: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .flatMap { case (_, qs) =>
        qs.sortBy(_._1).zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }
      }

  def run(spark: SparkSession, data: String, digests: File, work: File,
      tracer: Option[Tracer], r: Result): Unit = {
    val expected = readDigests(digests)
    warmup(spark)
    val times = mutable.ArrayBuffer.empty[Double]
    var lastFamily = ""
    selected.foreach { case (name, fn) =>
      val fam = family(name)
      // untimed: free the previous family's dropped checkpoint blocks
      if (fam != lastFamily) { System.gc(); lastFamily = fam }
      r.attempted += 1
      val t0 = System.nanoTime()
      val rows =
        try Some(tracer.fold(fn(spark, data).collect())(
          _.span(s"harness.$fam")(fn(spark, data).collect())))
        catch { case e: Throwable =>
          r.fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
      times += (System.nanoTime() - t0) / 1e9
      rows.foreach { rs =>
        val d = digest(rs)
        if (!expected.get(name).contains(d))
          r.fail(s"$name digest $d, expected ${expected.getOrElse(name, "none")}")
      }
    }
    r.metrics("harness_s") = times.sum
    r.metrics("query_p50_s") = quantile(times.toSeq, 0.5)
    r.metrics("query_p95_s") = quantile(times.toSeq, 0.95)
    r.metrics("work_s") = r.metrics("harness_s")
    r.metrics("op_p50_s") = r.metrics("query_p50_s")
    r.metrics("op_p95_s") = r.metrics("query_p95_s")
    tracer.foreach { t =>
      val fams = SparkEntry.queries.keys.map(family).toSeq.distinct.sorted
      fams.foreach { f =>
        r.metrics(s"harness.$f.s") = t.seconds(s"harness.$f").sum
        r.metrics(s"harness.$f.jobs") = t.tasks(s"harness.$f").jobs.toDouble
      }
      r.metrics("harness.result_bytes") = fams.map(f => t.tasks(s"harness.$f").resultBytes).sum.toDouble
      r.metrics("harness.shuffle_bytes") = fams.map(f => t.tasks(s"harness.$f").shuffleWrite).sum.toDouble
    }
  }

  /** Generic shapes only (aggregate, join, window, explode, parquet read):
    * JIT and codegen, never a measured query. */
  private def warmup(spark: SparkSession): Unit = {
    val r = spark.range(100000)
    r.selectExpr("id % 7 as k", "id as v").groupBy("k").agg(
      org.apache.spark.sql.functions.collect_list("v")).collect()
    r.join(spark.range(100), Seq("id")).collect()
    r.selectExpr("id % 10 as k", "id as v")
      .selectExpr("k", "row_number() over (partition by k order by v) as rn")
      .where("rn = 1").collect()
    r.selectExpr("explode(array(id, id + 1)) as x").agg(
      org.apache.spark.sql.functions.sum("x")).collect()
  }

  /** Digest every query output that `graft.Verify` wrote to `verified`
    * (a run that passed `tools/check_oracle.py`) into `digests`. */
  def capture(spark: SparkSession, verified: File, digests: File, r: Result): Unit = {
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      r.attempted += 1
      val rows = spark.read.parquet(new File(verified, name).getPath).collect()
      s"$name\t${digest(rows)}"
    }
    java.nio.file.Files.write(digests.toPath, lines.asJava)
  }

  def readDigests(f: File): Map[String, String] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.iterator
      .map(_.split("\t")).collect { case Array(n, d) => n -> d }.toMap

  /** Row count plus an order-independent hash: the sum of one 64-bit hash
    * per row, over a canonical text form of the row. */
  def digest(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { row =>
      val s = canon(row)
      h += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593) & 0xFFFFFFFFL)
    }
    s"${rows.length}:${java.lang.Long.toHexString(h)}"
  }

  /** Doubles keep 9 significant digits, so a different summation order
    * of the same values digests the same; maps are key-sorted. */
  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString
}
