package perfbench

import java.io.{BufferedWriter, File, FileWriter}

/** Size of one synthetic cohort. */
final case class CohortShape(
    samples: Int,
    sites: Int,
    /** percent of (sample, site) pairs that carry a call line */
    callPct: Int)

/** What the pipeline must produce for a cohort, derived without Spark. */
final case class CohortExpectation(
    linesIn: Long,
    parserRows: Long,
    parsedRows: Long,
    ranges: Long,
    sites: Long,
    calls: Long,
    pairs: Long,
    explodedEffects: Long,
    /** pos -> (freq, number of distinct effects) at spot-checked sites */
    probes: Map[Int, (Float, Int)])

/** Seeded gVCF cohort generator and its independent model.
  *
  * Every property of every line is a pure splitmix64 function of
  * (seed, tag, sample, site), in the style of `CohortGoldenScaleSpec`, so
  * the model re-derives each stage's row count, the interval-join pairs
  * and per-site `freq` without sharing code with the pipeline's parser or
  * Column expressions.
  *
  * Layout per sample: call lines at its called sites, and `<NON_REF>`
  * blocks covering everything between them. A gap opens one block, and
  * every site cell the sample does not call splits it further (GQ bands);
  * each block passes or fails the quality gate on its own, so a site not
  * called by a sample is covered by it exactly when the block that spans
  * the site's position passes.
  *
  * The ratios follow the reference trio's measured cardinalities
  * (BASELINE.md: 10,068,608 raw rows -> 5,689,448 parsed, 75,229 sites,
  * 300,871 effects): about 56% of body lines pass the gate, and a site
  * carries 1 to 7 distinct effects, 4 on average. The reference has tens
  * of block lines per call; this cohort has about four (see [[MaxSplits]]).
  */
final class Cohort(seed: Long, shape: CohortShape) {
  import Cohort._

  private def h(tag: Long, s: Long, i: Long): Long =
    mix(mix(mix(seed * 0x2545F4914F6CDD1DL + tag) + s) + i)
  /** uniform in [0, n) */
  private def u(tag: Int, s: Int, i: Int, n: Int): Int =
    ((h(tag, s, i) >>> 1) % n).toInt

  val regionEnd: Int = 100 * shape.sites + 100
  /** in [100 i + 11, 100 i + 90]: every gap between two lines, and the
    * bounds 100 i of a slice, leave room for a block */
  def pos(i: Int): Int = 100 * i + 11 + u(1, 0, i, 80)
  private def refIdx(i: Int): Int = u(2, 0, i, 4)
  def ref(i: Int): String = Bases(refIdx(i))
  def alt(i: Int): String =
    if (u(3, 0, i, 97) == 0) ref(i) + "T"
    else Bases((refIdx(i) + 1 + u(4, 0, i, 3)) % 4)
  private def alt2(i: Int): String = Bases((refIdx(i) + 2) % 4) + "G"

  /** Line kind of sample `s` at site `i`. */
  def kind(s: Int, i: Int): Int =
    if (u(5, s, i, 100) >= shape.callPct) NoLine
    else {
      val r = u(6, s, i, 100)
      if (r < 8) Gated
      else if (r < 12) Multi
      else if (u(7, s, i, 3) == 0) Hom
      else Het
    }
  /** the block of sample `s` that starts at position `start` */
  def blockPasses(s: Int, start: Int): Boolean = u(8, s, start, 100) < BlockPassPct
  /** Where the blocks of a sample that does not call site cell `i` split:
    * never at the cell's first base, so a block never starts where the
    * file's leading block does. */
  def splits(s: Int, i: Int): Seq[Int] =
    (1 to u(9, s, i, MaxSplits + 1)).map(m => 100 * i + 10 * m + 1)
  /** distinct transcripts in the site's ANN */
  def transcripts(i: Int): Int = 1 + u(10, 0, i, 7)

  def sampleName(s: Int): String = f"S$s%05d"

  /** ANN on every site; dbNSFP, CADD and ClinVar only where an effect is
    * HIGH or MODERATE, the coding changes those sources score. */
  private def info(i: Int): String = {
    val a = alt(i)
    val effects = (0 until transcripts(i)).map(t => Effects(u(11, t, i, Effects.length)))
    val ann = effects.zipWithIndex.map { case ((eff, imp), t) =>
      s"$a|$eff|$imp|GENE${i % 5000}|ENSG${i % 5000}|transcript|" +
        f"ENST${i * 8L + t}%011d|protein_coding|${t + 1}/9|c.${pos(i)}A>G|" +
        s"p.X${t}Y|${t * 3 + 1}/900|${t * 3 + 1}/600|${t + 1}/200||"
    }
    // a second, lower-impact entry for transcript 0: deduped by the parser
    val dup =
      if (u(12, 0, i, 2) == 0)
        Seq(s"$a|intron_variant|MODIFIER|GENE${i % 5000}|ENSG${i % 5000}|" +
          f"transcript|ENST${i * 8L}%011d|protein_coding|1/9|c.1A>G|p.=|1/900|1/600|1/200||")
      else Nil
    val sift = u(13, 0, i, 1000)
    val annInfo = s"DP=30;ANN=${(ann ++ dup).mkString(",")}"
    if (!effects.exists { case (_, imp) => imp == "HIGH" || imp == "MODERATE" }) annInfo
    else annInfo + ";" +
      s"dbNSFP_SIFT_pred=D,T;dbNSFP_SIFT_score=0.${sift}1,0.5;" +
      s"dbNSFP_Polyphen2_HVAR_pred=B,D;dbNSFP_Polyphen2_HVAR_score=0.1,0.9${sift % 10};" +
      "dbNSFP_MutationTaster_pred=N,D;dbNSFP_GERP___RS=4.5;" +
      s"CADD13_PHRED=1${sift % 10}.5;dbNSFP_1000Gp1_AF=0.00${sift}3;" +
      s"ExAC_AF=0.000${sift}7;CLNSIG=${if (sift % 3 == 0) "5" else "2"};CLNACC=RCV$sift"
  }

  private def callLine(s: Int, i: Int, k: Int): String = {
    val head = s"1\t${pos(i)}\trs$i\t${ref(i)}\t"
    k match {
      case Het => head + s"${alt(i)},<NON_REF>\t.\t.\t${info(i)}\t$CallFmt\t0/1:10,20:30:80:99,0,12"
      case Hom => head + s"${alt(i)},<NON_REF>\t.\t.\t${info(i)}\t$CallFmt\t1/1:0,30:30:80:99,60,0"
      case Gated =>
        // alternate low-GQ and low-DP failures
        if (u(14, s, i, 2) == 0) head + s"${alt(i)},<NON_REF>\t.\t.\tDP=30\t$CallFmt\t0/1:10,20:30:12:99,0,12"
        else head + s"${alt(i)},<NON_REF>\t.\t.\tDP=5\t$CallFmt\t0/1:2,3:5:80:99,0,12"
      case _ =>
        head + s"${alt(i)},${alt2(i)},<NON_REF>\t.\t.\tDP=30\t$CallFmt\t1/2:5,10,15:30:80:99,0,12,0,9,40"
    }
  }

  private def blockLine(s: Int, lo: Int, hi: Int): String = {
    val minDp = if (blockPasses(s, lo)) 20 else 5
    s"1\t$lo\t.\tN\t<NON_REF>\t.\t.\tEND=$hi\t$BlockFmt\t0/0:25:60:$minDp:0,60,900"
  }

  /** Write one gVCF file per sample into `dir`; returns their paths. */
  def write(dir: File, suffix: String = ".chr1.g.vcf"): Seq[String] = {
    dir.mkdirs()
    (0 until shape.samples).map { s =>
      val f = new File(dir, sampleName(s) + suffix)
      writeSample(f, s, 0, shape.sites)
      f.getPath
    }
  }

  /** One sample's lines over sites [from, until): the unit the stream
    * workload drops as one file. */
  def writeSample(f: File, s: Int, from: Int, until: Int): Unit = {
    val w = new BufferedWriter(new FileWriter(f), 1 << 20)
    try {
      w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t")
      w.write(sampleName(s)); w.write('\n')
      var lo = 100 * from + 1
      var i = from
      while (i < until) {
        kind(s, i) match {
          case NoLine =>
            splits(s, i).foreach { at =>
              w.write(blockLine(s, lo, at - 1)); w.write('\n')
              lo = at
            }
          case k =>
            w.write(blockLine(s, lo, pos(i) - 1)); w.write('\n')
            w.write(callLine(s, i, k)); w.write('\n')
            lo = pos(i) + 1
        }
        i += 1
      }
      w.write(blockLine(s, lo, if (until == shape.sites) regionEnd else 100 * until))
      w.write('\n')
    } finally w.close()
  }

  /** The model: one pass over the site grid with each sample's open block. */
  def expect(probeEvery: Int = 997): CohortExpectation =
    expectRange(0 until shape.samples, 0, shape.sites, probeEvery)

  /** The files of `samples`, each over sites [from, until). */
  def expectRange(samples: Range, from: Int, until: Int,
      probeEvery: Int = 997): CohortExpectation = {
    val n = samples.size
    // start of each sample's open block
    val open = Array.fill(n)(100 * from + 1)
    var lines, parserRows, parsedRows, ranges, sites, calls, pairs, exploded = 0L
    val probes = Map.newBuilder[Int, (Float, Int)]
    // a block is counted when it opens: each is written exactly once
    def block(s: Int, start: Int): Unit = {
      open(s) = start
      lines += 1; parserRows += 1
      if (blockPasses(samples(s), start)) { parsedRows += 1; ranges += 1 }
    }
    lines += 2L * n // two header lines per file
    (0 until n).foreach(s => block(s, open(s)))
    var i = from
    while (i < until) {
      var altAlleles = 0
      var passCalls = 0
      var covered = 0
      var s = 0
      while (s < n) {
        kind(samples(s), i) match {
          case NoLine =>
            var cover = open(s)
            splits(samples(s), i).foreach { at =>
              block(s, at)
              if (at <= pos(i)) cover = at
            }
            if (blockPasses(samples(s), cover)) covered += 1
          case k =>
            lines += 1
            k match {
              case Het => parserRows += 1; passCalls += 1; altAlleles += 1
              case Hom => parserRows += 1; passCalls += 1; altAlleles += 2
              case Gated => parserRows += 1
              case _ => parserRows += 2
            }
            block(s, pos(i) + 1)
        }
        s += 1
      }
      if (passCalls > 0) {
        sites += 1
        calls += passCalls
        pairs += covered
        val fx = transcripts(i)
        exploded += passCalls.toLong * fx
        if (i % probeEvery == 0) {
          val carriers = passCalls + covered
          probes += pos(i) ->
            ((math.floor(altAlleles.toDouble / (2 * carriers) * 1e6) / 1e6).toFloat, fx)
        }
      }
      i += 1
    }
    parsedRows += calls
    CohortExpectation(lines, parserRows, parsedRows, ranges, sites, calls, pairs,
      exploded, probes.result())
  }
}

object Cohort {
  /** Percent of `<NON_REF>` blocks that pass the quality gate: with the
    * calls' own failures (8% low GQ or DP, 4% multi-allelic) it puts about
    * 56% of body lines through the gate, the reference trio's ratio. */
  val BlockPassPct = 49
  /** At most this many extra block boundaries in a site cell a sample does
    * not call (one on average), so about four block lines per call: far
    * below the reference's tens, which would make one pass too long for a
    * benchmark run. */
  val MaxSplits = 2
  val NoLine = 0; val Het = 1; val Hom = 2; val Gated = 3; val Multi = 4
  private val Bases = Vector("A", "C", "G", "T")
  private val CallFmt = "GT:AD:DP:GQ:PL"
  private val BlockFmt = "GT:DP:GQ:MIN_DP:PL"
  private val Effects = Vector(
    "missense_variant" -> "MODERATE", "synonymous_variant" -> "LOW",
    "stop_gained" -> "HIGH", "splice_region_variant" -> "LOW",
    "frameshift_variant" -> "HIGH", "upstream_gene_variant" -> "MODIFIER")

  /** splitmix64 finalizer */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
