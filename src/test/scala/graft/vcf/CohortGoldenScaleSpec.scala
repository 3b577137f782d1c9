package graft.vcf

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** The [[CohortGoldenSpec]] contract at realistic density: ~1M variant
  * sites × 3 samples (≈3M parsed rows — the scale band of BASELINE.md's
  * real-cohort cardinalities, reference `gzToParquetSpec.scala:55-113`),
  * positions spanning ~100 Mbp so the prod `VcfPipeline.BandWidth`
  * (30 Mbp) layout actually produces multiple bands, and the interval
  * join runs against multi-band coverage blocks.
  *
  * Every expected number is derived by an independent plain-Scala model
  * built from pure hash functions (no stored per-site state), so the
  * expectations cannot share code — or bugs — with the pipeline's
  * Column expressions. Site count is tunable via GRAFT_COHORT_SITES for
  * slower sandboxes; the default keeps the suite inside CI budget.
  */
class CohortGoldenScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nSites: Int =
    sys.env.get("GRAFT_COHORT_SITES").map(_.toInt).getOrElse(1000000)
  private val samples = Vector("SA", "SB", "SC")
  private val bases = Vector("A", "C", "G", "T")

  // --- the independent model: pure functions of (sample, site) --------
  // splitmix64 — deterministic, engine-free, cheap enough for 3M evals
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def pos(i: Int): Long = 100L * i + 7
  private def ref(i: Int): String = bases((mix(i).toInt & 0x7FFFFFFF) % 4)
  private def alt(i: Int): String = {
    val r = (mix(i).toInt & 0x7FFFFFFF) % 4
    // every 97th site is an insertion; otherwise a SNV ≠ ref
    if (i % 97 == 0) bases(r) + "T"
    else bases((r + 1 + (mix(i * 31L + 11).toInt & 0x7FFFFFFF) % 3) % 4)
  }
  /** 0 = "0/1", 1 = "1/1", 2 = not called. */
  private def callState(s: Int, i: Int): Int =
    ((mix(s * 1000003L + i) & 0x7FFFFFFFFFFFFFFFL) % 3L).toInt
  private def gt(st: Int): String = if (st == 0) "0/1" else "1/1"

  // one contiguous coverage block per sample, straddling band boundaries
  private val coverage: Vector[(Long, Long)] = Vector(
    (1L, 40000007L), (20000001L, 90000007L), (50000001L, 101000000L))
  private def covers(s: Int, p: Long): Boolean = {
    val (lo, hi) = coverage(s); p >= lo && p <= hi
  }

  private def writeCohort(): Seq[String] = {
    val dir = Files.createTempDirectory("cohort_scale").toFile
    samples.indices.map { s =>
      val f = new java.io.File(dir, s"${samples(s)}.chr1.vcf")
      val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
      try {
        w.write("#header\n")
        var i = 0
        while (i < nSites) {
          val st = callState(s, i)
          if (st < 2) {
            w.write(s"1\t${pos(i)}\t.\t${ref(i)}\t${alt(i)},<NON_REF>\t.\t.\t" +
              s"DP=30\tGT:AD:DP:GQ:PL\t${gt(st)}:10,20:30:80:99,0,12\n")
          }
          i += 1
        }
        val (lo, hi) = coverage(s)
        w.write(s"1\t$lo\t.\tA\t<NON_REF>\t.\t.\tEND=$hi\t" +
          "GT:DP:GQ:MIN_DP:PL\t0/0:25:60:20:0,60,900\n")
      } finally w.close()
      f.getPath
    }
  }

  test("1M-site cohort: six-stage exact counts + spot-checked freqs at bandWidth 30M") {
    val paths = writeCohort()

    // --- model-side expectations (one pass over the site grid) --------
    var totalCalls = 0L
    var calledSites = 0L
    var expectedSynth = 0L
    var expectedIntersect = 0L
    var i = 0
    while (i < nSites) {
      var called = 0
      var s = 0
      while (s < 3) {
        if (callState(s, i) < 2) called += 1
        s += 1
      }
      totalCalls += called
      if (called > 0) {
        calledSites += 1
        s = 0
        while (s < 3) {
          if (covers(s, pos(i))) {
            expectedIntersect += 1
            if (callState(s, i) == 2) expectedSynth += 1
          }
          s += 1
        }
      }
      i += 1
    }

    val parsed = VcfPipeline.qualityGate(
      VcfPipeline.ingest(spark, paths, chrom = 1)).toDF()
      .localCheckpoint() // six consumers below; parse the 3M lines once
    assert(parsed.count() == totalCalls + samples.size)

    val ranges = VcfPipeline.coverageRanges(parsed)
    assert(ranges.count() == samples.size)

    val siteRows = parsed.filter(col("alt") =!= "<NON_REF>")
      .select("chrom", "pos", "ref", "alt", "indel").distinct()
    assert(VcfPipeline.intersect(siteRows, ranges, binWidth = 100000).count()
      == expectedIntersect)
    assert(VcfPipeline.synthesizedRefCalls(parsed, binWidth = 100000).count()
      == expectedSynth)
    assert(VcfPipeline.sampleGroups(parsed, binWidth = 100000).count()
      == calledSites)

    val variants = VcfPipeline.variants(parsed, binWidth = 100000)
      .localCheckpoint() // consumed by count, freq probe, and the sink
    assert(variants.count() == calledSites)

    // freq spot-check: ~1k deterministically-sampled sites, exact to the
    // pipeline's floor-at-1e-6 float contract
    val stride = math.max(1, nSites / 1000)
    val probeIdx = (0 until nSites by stride)
      .filter(i => (0 until 3).exists(callState(_, i) < 2))
    val wantFreq = probeIdx.map { i =>
      val altAlleles = (0 until 3).map { s =>
        callState(s, i) match { case 0 => 1; case 1 => 2; case _ => 0 }
      }.sum
      val carriers = (0 until 3).count(s =>
        callState(s, i) < 2 || covers(s, pos(i)))
      pos(i) -> (math.floor(altAlleles.toDouble / (2 * carriers) * 1e6) / 1e6).toFloat
    }.toMap
    val gotFreq = variants
      .filter(col("pos").isin(probeIdx.map(pos): _*))
      .select(col("pos"), col("freq")).collect()
      .map(r => r.getAs[Int]("pos").toLong -> r.getAs[Float]("freq")).toMap
    assert(gotFreq.size == wantFreq.size)
    wantFreq.foreach { case (p, f) =>
      assert(gotFreq(p) == f, s"freq mismatch at pos $p")
    }

    // prod-layout sink: 30 Mbp bands over ~100 Mbp of positions must
    // yield the banded tree and read back every variant doc
    val dir = Files.createTempDirectory("cohort_scale_out").toFile
    VcfPipeline.writePartitioned(variants, dir.getPath + "/variants")
    val back = spark.read.parquet(dir.getPath + "/variants")
    assert(back.count() == calledSites)
    val bands = new java.io.File(dir, "variants/chrom=1").listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName).sorted
    assert(bands.length >= 4, s"expected >=4 30M bands, got ${bands.toSeq}")
  }
}
