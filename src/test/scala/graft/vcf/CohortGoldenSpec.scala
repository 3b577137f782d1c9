package graft.vcf

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Golden-count e2e in the reference's test style (gzToParquetSpec
  * asserted exact per-stage cardinalities on a real cohort): a seeded
  * synthetic 3-sample cohort, with every expected number derived by an
  * independent plain-Scala model in the test itself.
  */
class CohortGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // --- deterministic synthetic cohort ---------------------------------
  private val rnd = new scala.util.Random(1234)
  private val samples = Seq("SA", "SB", "SC")
  private val nSites = 120

  // variant sites: positions 1000, 2000, ... with random ref/alt
  private case class Site(pos: Int, ref: String, alt: String)
  private val sites = (1 to nSites).map { i =>
    Site(i * 1000, Seq("A", "C", "G", "T")(rnd.nextInt(4)),
      Seq("A", "C", "G", "T", "AT")(rnd.nextInt(5)))
  }.filter(s => s.ref != s.alt)

  // per sample: which sites it calls (gt) and its coverage blocks
  private val calls: Map[String, Map[Site, String]] = samples.map { s =>
    s -> sites.flatMap { site =>
      rnd.nextInt(3) match {
        case 0 => Some(site -> "0/1")
        case 1 => Some(site -> "1/1")
        case _ => None
      }
    }.toMap
  }.toMap
  // coverage: each sample covers a contiguous [lo, hi] block
  private val coverage: Map[String, (Int, Int)] = Map(
    "SA" -> (1, 40000), "SB" -> (20000, 90000), "SC" -> (50000, 121000))

  // The probe locus from the reference's UMD spec (`stepsTest/UMD.scala:43`):
  // pos 47080679, called by all 3 samples, annotated with 7 distinct
  // transcripts — so the reference's 3-parsed / 21-exploded / 7-distinct /
  // 1-annotated cascade reproduces structurally at fixture scale.
  private val probePos = 47080679
  private val probeRef = "G"
  private val probeAlt = "A"
  private val probeTrs: Seq[String] = (1 to 7).map(i => f"TR$i%07d")
  private val probeAnn: String = probeTrs.map { tr =>
    // ANN positional fields (parseAnn): 1=effect 2=impact 3=gene
    // 5=functional_class 6=transcript 7=biotype 8=exon 9=codon 10=aa
    // 12=gene_coding 13=aa_len
    Seq(probeAlt, "missense_variant", "MODERATE", "GENE1", "", "MISSENSE",
      tr, "protein_coding", "1/5", "c.1A>G", "p.Lys1Glu", "", "CODING",
      "100/500").mkString("|")
  }.mkString(",")

  private def gvcfLines(s: String): String = {
    val varLines = calls(s).toSeq.sortBy(_._1.pos).map { case (site, gt) =>
      Seq("1", site.pos.toString, ".", site.ref, s"${site.alt},<NON_REF>", ".", ".",
        "DP=30", "GT:AD:DP:GQ:PL", s"$gt:10,20:30:80:99,0,12").mkString("\t")
    }
    val probeLine = Seq("1", probePos.toString, ".", probeRef,
      s"$probeAlt,<NON_REF>", ".", ".", s"ANN=$probeAnn",
      "GT:AD:DP:GQ:PL", "0/1:10,20:30:80:99,0,12").mkString("\t")
    val (lo, hi) = coverage(s)
    val covLine = Seq("1", lo.toString, ".", "A", "<NON_REF>", ".", ".",
      s"END=$hi", "GT:DP:GQ:MIN_DP:PL", "0/0:25:60:20:0,60,900").mkString("\t")
    ("#header\n" + (varLines :+ probeLine :+ covLine).mkString("\n") + "\n")
  }

  private def writeCohort(): Seq[String] = {
    val dir = Files.createTempDirectory("cohort").toFile
    samples.map { s =>
      val f = new java.io.File(dir, s"$s.chr1.vcf")
      Files.write(f.toPath, gvcfLines(s).getBytes)
      f.getPath
    }
  }

  test("3-sample cohort reproduces independently-computed counts and freqs") {
    val paths = writeCohort()

    val parsed = VcfPipeline.qualityGate(
      VcfPipeline.ingest(spark, paths, chrom = 1)).toDF()

    // expected parsed rows: every call + the probe call + one coverage
    // row, per sample
    val expectedParsed = calls.values.map(_.size).sum + 2 * samples.size
    assert(parsed.count() == expectedParsed)

    // expected synthesized ref calls: per site called by >=1 sample (only
    // those exist in the parsed stream), samples that did NOT call it but
    // cover its position
    val distinctSites = sites.toSet
    val expectedSynth = distinctSites.toSeq
      .filter(st => samples.exists(calls(_).contains(st)))
      .map { site =>
        samples.count { s =>
          !calls(s).contains(site) && {
            val (lo, hi) = coverage(s); site.pos >= lo && site.pos <= hi
          }
        }
      }.sum
    val synth = VcfPipeline.synthesizedRefCalls(parsed, binWidth = 10000)
    assert(synth.count() == expectedSynth)

    // grouped sites (+1: the probe locus) and cohort allele frequency
    val grouped = VcfPipeline.sampleGroups(parsed, binWidth = 10000)
    val calledSites = distinctSites.filter(st => samples.exists(calls(_).contains(st)))
    assert(grouped.count() == calledSites.size + 1)

    val freqs = VcfPipeline.variants(parsed, binWidth = 10000)
      .select(col("pos"), col("freq")).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Float]("freq")).toMap
    calledSites.foreach { site =>
      val altAlleles = samples.map(s => calls(s).get(site) match {
        case Some("1/1") => 2
        case Some("0/1") => 1
        case _           => 0
      }).sum
      val carriers = samples.count { s =>
        calls(s).contains(site) || {
          val (lo, hi) = coverage(s); site.pos >= lo && site.pos <= hi
        }
      }
      val want = (math.floor(altAlleles.toDouble / (2 * carriers) * 1e6) / 1e6).toFloat
      assert(freqs(site.pos) == want, s"freq mismatch at ${site.pos}")
    }
  }

  /** The reference's golden e2e contract replayed at fixture scale.
    *
    * Scale-down mapping (the real NA12878/91/92 cohort isn't shipped, so
    * each absolute reference count maps to the same stage's count
    * independently derived from the fixture model):
    * reference `stepsTest/gzToParquetSpec.scala:55-113` —
    * loaded 10068608 → raw body lines; parsedSamples 5689448 → parsed
    * calls (+probe +coverage); ranges 26336 → site×coverage-block
    * intersections; samples 75229 → grouped sites; rawEffects 300871 →
    * per-site effect groups; variants 75229 → final variant docs.
    * Reference `stepsTest/UMD.scala:43-82` — the pos-47080679 probe:
    * 3 parsed rows → 21 exploded effects → 7 distinct transcripts →
    * 1 grouped doc, annotated "D" after the UMD round trip (site-level
    * here — the reference keys UMD per transcript, we key per site, so
    * its 1-of-7 "D" effects becomes 1-of-N sites with umd="D").
    */
  test("six-stage cardinality contract + pos-47080679 probe (golden replay)") {
    val paths = writeCohort()

    // stage 1 — loaded: every non-header body line survives the text scan
    val loaded = spark.read.text(paths: _*)
      .filter(!col("value").startsWith("#") && length(col("value")) > 0)
    val expectedLoaded = calls.values.map(_.size).sum + 2 * samples.size
    assert(loaded.count() == expectedLoaded)

    // stage 2 — parsed: one row per call + probe + coverage block
    val parsed = VcfPipeline.qualityGate(
      VcfPipeline.ingest(spark, paths, chrom = 1)).toDF()
    assert(parsed.count() == expectedLoaded) // 1:1 at fixture scale: no multi-alt gts

    // stage 3 — interception: distinct called sites × covering blocks
    val ranges = VcfPipeline.coverageRanges(parsed)
    assert(ranges.count() == samples.size)
    val calledSites = sites.filter(st => samples.exists(calls(_).contains(st)))
    def covers(s: String, pos: Int): Boolean = {
      val (lo, hi) = coverage(s); pos >= lo && pos <= hi
    }
    val siteRows = parsed.filter(col("alt") =!= "<NON_REF>")
      .select("chrom", "pos", "ref", "alt", "indel").distinct()
    val expectedIntersect = calledSites
      .map(st => samples.count(covers(_, st.pos))).sum // probe: covered by none
    assert(VcfPipeline.intersect(siteRows, ranges, binWidth = 10000).count()
      == expectedIntersect)

    // stages 4/5/6 — sample groups, effect groups, variant docs: one row
    // per called site + the probe
    val expectedSites = calledSites.size + 1
    assert(VcfPipeline.sampleGroups(parsed, binWidth = 10000).count() == expectedSites)
    val effects = VcfPipeline.effectGroups(parsed)
    assert(effects.count() == expectedSites)
    val variants = VcfPipeline.variants(parsed, binWidth = 10000)
    assert(variants.count() == expectedSites)

    // --- the pos-47080679 probe cascade ---------------------------------
    val atProbe = parsed.filter(col("pos") === probePos)
    assert(atProbe.count() == 3) // one call per sample
    assert(atProbe.select(explode(col("effects"))).count() == 21) // 3 × 7
    val uniq = atProbe
      .select("pos", "ref", "alt", "effects", "predictions", "populations")
      .distinct()
    assert(uniq.count() == 1)
    assert(uniq.select(explode(col("effects"))).count() == 7)
    assert(atProbe.select(explode(col("effects")))
      .select("col.transcript_id").distinct().count() == 7)

    // UMD round trip: export sites, annotate the probe "Pathogenic" → "D",
    // re-ingest, left-join; every other site stays "".
    val dir = Files.createTempDirectory("umd").toFile
    VcfPipeline.writePartitioned(variants, dir.getPath + "/variants")
    val annotated = new java.io.File(dir, "annotated.txt")
    Files.write(annotated.toPath,
      s"NB_LINES header to skip\n1\t$probePos\t$probeRef\t$probeAlt\tPathogenic\n".getBytes)
    val umd = UmdAnnotation.parseAnnotated(spark, annotated.getPath)
    val joined = UmdAnnotation.joinAnnotations(
      spark.read.parquet(dir.getPath + "/variants"), umd)
    assert(joined.count() == expectedSites)
    assert(joined.filter(col("umd") === "D").count() == 1)
    assert(joined.filter(col("umd") === "").count() == expectedSites - 1)
    val probeDoc = joined.filter(col("pos") === probePos)
    assert(probeDoc.select(explode(col("effects"))).count() == 7)
    // cohort freq at the probe: 3 het calls over 3 carriers → 0.5
    assert(probeDoc.select("freq").head.getFloat(0) == 0.5f)
  }
}
