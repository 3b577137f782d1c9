package graft.streaming

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.TestSpark
import graft.vcf.VcfPipeline

class GvcfStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A call at 1234 (band 0) and a coverage block at 31,000,001 (band 1). */
  private def writeTwoBandFile(dir: File, name: String): Unit =
    Files.write(new File(dir, name).toPath,
      ("#header\n" +
        Seq("2", "1234", ".", "A", "G,<NON_REF>", ".", ".", "DP=30",
          "GT:AD:DP:GQ:PL", "0/1:10,20:30:88:99,0,12").mkString("\t") + "\n" +
        Seq("2", "31000001", ".", "C", "<NON_REF>", ".", ".", "END=31000400",
          "GT:DP:GQ:MIN_DP:PL", "0/0:25:60:20:0,60,900").mkString("\t") + "\n").getBytes)

  private def runToEnd(in: File, out: String, ckpt: String): Unit =
    GvcfStream.run(spark, in.getPath, out, ckpt, Trigger.AvailableNow())
      .awaitTermination(60000)

  /** Output rows without the stream's `batch` partition, in a stable order. */
  private def rowsOf(df: DataFrame): Seq[Row] = {
    val cols = df.columns.filter(_ != "batch").sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().toSeq
      .sortBy(r => (r.getAs[Row]("sample").getAs[String]("sampleId"), r.getAs[Int]("pos")))
  }

  test("streaming ingest parses arriving gVCF files into partitioned parquet") {
    val root = Files.createTempDirectory("gvcfstream").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    writeTwoBandFile(in, "S9.chr2.vcf")

    runToEnd(in, out, new File(root, "ckpt").getPath)

    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    val byPos = back.collect().map(r => r.getAs[Int]("pos") -> r).toMap
    assert(byPos(1234).getAs[Int]("chrom") == 2)
    assert(byPos(1234).getAs[Int]("band") == 0)
    assert(byPos(31000001).getAs[Int]("band") == 1) // 31 Mbp -> second band
    val s = byPos(1234).getStruct(byPos(1234).fieldIndex("sample"))
    assert(s.getAs[String]("sampleId") == "S9")
    assert(s.getAs[String]("gt") == "0/1")
  }

  test("batch ingest + writePartitioned and the stream land the same rows and bands") {
    val root = Files.createTempDirectory("gvcfparity").toFile
    val in = new File(root, "in"); in.mkdirs()
    writeTwoBandFile(in, "S7.chr2.vcf")

    val batchOut = new File(root, "batch").getPath
    VcfPipeline.writePartitioned(
      VcfPipeline.ingest(spark, Seq(new File(in, "S7.chr2.vcf").getPath), 2).toDF(),
      batchOut)
    val streamOut = new File(root, "stream").getPath
    runToEnd(in, streamOut, new File(root, "ckpt").getPath)

    val batch = rowsOf(spark.read.parquet(batchOut))
    assert(batch.length == 2)
    assert(batch.map(_.getAs[Int]("band")) == Seq(0, 1))
    assert(rowsOf(spark.read.parquet(streamOut)) == batch)
  }

  test("a restart on the same checkpoint lands every file exactly once") {
    val root = Files.createTempDirectory("gvcfrestart").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    val names = (0 until 4).map(k => s"R$k.chr2.vcf")

    // run 1: batch 0 takes the first two files, then the query stops
    names.take(2).foreach(writeTwoBandFile(in, _))
    runToEnd(in, out, ckpt)
    // crash between the sink write and the commit: batch 0 replays on restart
    val commits = new File(ckpt, "commits")
    commits.listFiles().filter(_.getName.stripPrefix(".").startsWith("0")).foreach(_.delete())
    // run 2: same checkpoint, two more files arrived meanwhile
    names.drop(2).foreach(writeTwoBandFile(in, _))
    runToEnd(in, out, ckpt)

    val allIn = new File(root, "all"); allIn.mkdirs()
    names.foreach(writeTwoBandFile(allIn, _))
    val once = new File(root, "once").getPath
    runToEnd(allIn, once, new File(root, "once_ckpt").getPath)

    val resumed = spark.read.parquet(out)
    assert(resumed.groupBy("sample.sampleId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      names.map(n => n.takeWhile(_ != '.') -> 2L).toMap)
    assert(rowsOf(resumed) == rowsOf(spark.read.parquet(once)))
  }
}
