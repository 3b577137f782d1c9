package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Dedup, IntervalJoin, Retrieval, Similarity}
import graft.sources.Tables

/** Physical-plan assertions (SURVEY.md §4 scale posture): filters reach
  * the parquet scan, projections prune columns, dimension joins
  * broadcast, and no operator degenerates into a cartesian product.
  * These guard the 100-TB shape of the plans, not just their results.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private def planOf(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("filter + projection push into the parquet scan") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushdown:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"missing column pruning:\n$plan")
  }

  test("dimension joins broadcast (no shuffle of the small side)") {
    val plan = planOf(SparkEntry.queries("q5_nation_revenue")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("interval join stays an equi-join on the bin key") {
    val plan = planOf(SparkEntry.queries("j2_interval_join")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("jaccard dedup never goes quadratic in the plan") {
    val plan = planOf(Dedup.ngramJaccardPairs(
      Tables.documents(spark, dir), "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("interval jaccard / reciprocal-overlap joins are exactly-once: no distinct exchange") {
    // owner-bin attribution means a multi-bin pair is emitted by exactly
    // one shared bin — the plans must carry NO deduplicating aggregate
    // between the bin join and the arithmetic (an aggregate keyed on both
    // sides' coordinates/ids is the distinct's physical signature)
    val pj = planOf(SparkEntry.queries("j18_interval_jaccard")(spark, dir))
    val jaccardKeyLines = pj.split("\n").filter(_.contains("Keys"))
    assert(!jaccardKeyLines.exists(l => l.contains("as_") && l.contains("bs")),
      s"jaccard plan still deduplicates pair rows:\n$pj")
    val pr = planOf(SparkEntry.queries("j16_reciprocal_overlap")(spark, dir))
    val roKeyLines = pr.split("\n").filter(_.contains("Keys"))
    assert(!roKeyLines.exists(l => l.contains("a_id") && l.contains("b_id")),
      s"reciprocal-overlap plan still deduplicates pair rows:\n$pr")
    assert(!pj.contains("CartesianProduct") && !pr.contains("CartesianProduct"))
  }

  test("decontamination membership test broadcasts the benchmark set") {
    val plan = planOf(SparkEntry.queries("d9_decontaminate")(spark, dir))
    // the corpus-shingle -> benchmark-shingle probe must be map-side
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast probe:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$plan")
  }

  test("ivf-pq search gates on the cell key, no cartesian scoring") {
    val plan = planOf(SparkEntry.queries("v13_ivf_pq")(spark, dir))
    // the whole point over plain pqTopK: the ADC scoring join is an
    // equi-join on the coarse cell, not a cross join over the corpus
    assert(plan.contains("BroadcastHashJoin"), s"no cell-gated join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian scoring:\n$plan")
  }

  test("bloom decontamination probes scan-side before any join") {
    val plan = planOf(SparkEntry.queries("d15_bloom_decontam")(spark, dir))
    // the collected filter must land as a constant might_contain predicate
    // in the corpus shingle stream — BEFORE the exact verify join
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$plan")
  }

  test("curation composite fuses all signals into one join-free pass") {
    val plan = planOf(SparkEntry.queries("c1_corpus_curation")(spark, dir))
    assert(!plan.contains("Join"), s"curation pipeline should not join:\n$plan")
  }

  test("embedding near-dup blocks via equi-join, no nested-loop") {
    val plan = planOf(SparkEntry.queries("d5_embed_neardup")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"embedding near-dup degenerated to all-pairs:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("semantic dedup blocks on the cluster key, no nested-loop") {
    val plan = planOf(SparkEntry.queries("d8_semdedup")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup degenerated to all-pairs:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  // formatted plans list each operator in the tree AND the details
  // section — count the "(n) Exchange" detail headers, once per operator
  private def exchangeCount(plan: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(plan).length

  test("repetition metrics are one shuffle-free scan-side kernel pass") {
    val plan = planOf(SparkEntry.queries("t8_repetition")(spark, dir))
    assert(exchangeCount(plan) == 0,
      s"expected 0 exchanges (fused gram_repetition kernel), got ${exchangeCount(plan)}:\n$plan")
    assert(plan.contains("gram_repetition"),
      s"expected the fused gram_repetition kernel in the plan:\n$plan")
  }

  test("funnel is two user-keyed aggregations, no join") {
    val plan = planOf(SparkEntry.queries("w6_funnel")(spark, dir))
    assert(exchangeCount(plan) == 2,
      s"expected 2 exchanges (user fold, step rollup), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"funnel grew a join:\n$plan")
  }

  test("windowed funnel keeps the two-aggregation no-join shape") {
    val plan = planOf(SparkEntry.queries("w8_funnel_window")(spark, dir))
    assert(exchangeCount(plan) == 2,
      s"expected 2 exchanges (user DP fold, step rollup), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"windowed funnel grew a join:\n$plan")
  }

  test("session paths regroup by (user, session) without a new exchange") {
    val plan = planOf(SparkEntry.queries("w10_session_paths")(spark, dir))
    // user-window shuffle + final path rollup only: the (u, sid) session
    // aggregate must be satisfied by the existing user partitioning
    assert(exchangeCount(plan) == 2,
      s"expected 2 exchanges (user window, path rollup), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"session paths grew a join:\n$plan")
  }

  test("conversion times are a single user-keyed aggregation, no join") {
    val plan = planOf(SparkEntry.queries("w9_time_to_convert")(spark, dir))
    assert(exchangeCount(plan) == 1,
      s"expected 1 exchange (user fold), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"conversion times grew a join:\n$plan")
  }

  test("retention is one corpus-sized shuffle (user day-set), no join") {
    val plan = planOf(SparkEntry.queries("w7_retention")(spark, dir))
    assert(exchangeCount(plan) == 2,
      s"expected 2 exchanges (day-set agg, cohort rollup), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"retention grew a join:\n$plan")
  }

  test("sequence packing is one shuffle on the stream key") {
    val plan = planOf(SparkEntry.queries("t9_pack")(spark, dir))
    assert(exchangeCount(plan) == 1,
      s"expected 1 exchange, got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("interval join with large range side uses the bin equi-join") {
    import spark.implicits._
    val pts = Seq((5L, 1L)).toDF("pos", "pid")
    val rng = Seq((0L, 10L, 1L)).toDF("lo", "hi", "rid")
    val plan = planOf(
      IntervalJoin.pointInRange(pts, rng, "pos", "lo", "hi", 16, hiInclusive = true))
    // equi-join on __graft bin key with range residual as join filter
    assert(plan.contains("graft_pbin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      s"bin key join missing:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("partition pruning on the (chrom, band) layout") {
    import spark.implicits._
    import graft.vcf.{SampleCall, Variant, VcfParser, VcfPipeline}
    val parsed = Seq(
      Variant(1, 150, 150, "G", "A", indel = false,
        SampleCall("0/1", 20, 45, "", "", multiallelic = false, "S1", diploid = true),
        Nil, VcfParser.emptyPredictions, VcfParser.emptyPopulations),
      Variant(2, 31000077, 31000077, "C", "T", indel = false,
        SampleCall("1/1", 25, 70, "", "", multiallelic = false, "S1", diploid = true),
        Nil, VcfParser.emptyPredictions, VcfParser.emptyPopulations)
    ).toDS()
    val dest = java.nio.file.Files.createTempDirectory("prune").toString + "/t"
    VcfPipeline.writePartitioned(parsed.toDF(), dest)
    val q = spark.read.parquet(dest).filter($"chrom" === 2 && $"band" === 1)
    val plan = planOf(q)
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
    assert(q.count() == 1)
    // pruned read touches one partition directory only
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("chrom=1"))
  }

  test("whole-stage codegen covers the pricing rollup") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    df.collect() // AQE only shows codegen spans in the final executed plan
    val plan = planOf(df)
    // formatted explain marks whole-stage-codegen operators with '*'
    assert(plan.contains("* HashAggregate"), s"no codegen span:\n$plan")
  }

  test("PQ encode is a fused projection inside codegen, no join") {
    val df = SparkEntry.queries("v5_pq_recon")(spark, dir)
    df.collect()
    val plan = planOf(df)
    // the fused expression keeps the plan inside whole-stage codegen (the
    // unrolled argmin tree used to blow janino's method limit and fall
    // back to interpreted eval) and encoding stays join-free
    assert(plan.contains("nearest_sub_centroids"), s"fused argmin missing:\n$plan")
    assert(plan.contains("* Project"), s"encode outside codegen:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"PQ encode must not join:\n$plan")
  }

  test("perceptual image dedup blocks on hash chunks, no nested-loop") {
    val df = SparkEntry.queries("m2_image_neardup")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"image near-dup must block, not cross-join:\n$plan")
  }

  test("PII scrub is a pure scan-side projection") {
    val df = SparkEntry.queries("t11_pii_redact")(spark, dir)
    val plan = planOf(df)
    assert(exchangeCount(plan) == 0, s"redaction must not shuffle:\n$plan")
  }

  test("chunking is shuffle-free (explode + slice per row)") {
    val df = SparkEntry.queries("t12_chunk")(spark, dir)
    val plan = planOf(df)
    assert(exchangeCount(plan) == 0, s"chunking must not shuffle:\n$plan")
  }

  test("standardize re-attaches the d per-dim moments by broadcast") {
    val df = SparkEntry.queries("v7_standardize")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"moments must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("covariance is a one-pass Gram: nothing corpus-sized in the final plan") {
    val df = SparkEntry.queries("v8_pca_cov")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"covariance must stay equi/broadcast-joined:\n$plan")
    // the corpus pass lives behind the checkpointed Gram moments (d²+d
    // rows); downstream only broadcast re-attachment of the first
    // moments remains — zero shuffle exchanges
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpointed Gram moment scan:\n$plan")
    assert(exchangeCount(plan) == 0,
      s"covariance finish must not shuffle (moments are d²-sized):\n$plan")
  }

  test("exact-substring spans: two hash shuffles, gram strings never shuffled") {
    val df = SparkEntry.queries("d11_exact_substr")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"span detection must not cross-join:\n$plan")
    // gram hashing happens scan-side: at most the Guards.spread
    // repartition (r13 — parallelizes the sliding-gram hashing off an
    // unsplittable single-row-group scan; no-op at real scale), the gh
    // window, the id window and the final agg move data
    assert(exchangeCount(plan) <= 4, s"too many shuffles:\n$plan")
  }

  test("segment dedup never goes quadratic (window + group-by only)") {
    val df = SparkEntry.queries("d10_segment_dedup")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"segment dedup must not cross-join:\n$plan")
  }

  test("epoch shuffle is one codegen projection, zero exchanges") {
    val plan = planOf(SparkEntry.queries("s5_shard_shuffle")(spark, dir))
    assert(!plan.contains("Exchange"), s"epoch shuffle must not shuffle:\n$plan")
    assert(plan.contains("* Project"), s"not codegen'd:\n$plan")
  }

  test("bm25 runs off one materialized compact pass, joins broadcast") {
    val plan = planOf(SparkEntry.queries("t15_bm25")(spark, dir))
    // the corpus is tokenized once into a checkpointed (id, len, hits)
    // frame; every consumer reads that, not the parquet scan
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"bm25 consumers re-scan the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"df/stats not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d21 combined jaccard+containment: one materialized index feeds a " +
      "hash self-join — no cartesian, no sort-merge, no second shingle pass") {
    val plan = planOf(SparkEntry.queries("d21_jaccard_containment")(spark, dir))
    // the shingle index is localCheckpointed once; both self-join sides
    // read the materialized RDD, not a re-tokenized parquet subtree
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"index not materialized once:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"self-join not shuffle-hash (broadcast would driver-collect the " +
        s"index):\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("r11 additions: no cartesian, no corpus-keyed windows, term " +
      "counts stay aggregates") {
    import org.apache.spark.sql.execution.window.WindowExec
    def winKeys(q: String): Seq[String] = SparkEntry.queries(q)(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w.partitionSpec.map(_.sql).mkString(",") }
    // t39/t40 term counts are map-side-combined aggregates — a
    // term-keyed window would sort a stop word on one reducer
    assert(winKeys("t39_keyness").isEmpty)
    assert(winKeys("t40_lexical_richness").isEmpty)
    // w24's only window is (user, type)-keyed — bounded per key
    val w24 = winKeys("w24_interarrival")
    assert(w24.nonEmpty && w24.forall(_.contains("u")), w24)
    // no cartesian anywhere in the new plans (dim fan-outs are
    // broadcast nested-loop by construction, never CartesianProduct)
    for (q <- Seq("t39_keyness", "t40_lexical_richness",
        "w24_interarrival", "s14_neyman_allocation", "c20_license_scan",
        "g10_adamic_adar", "ml2_naive_bayes", "e23_multiclass_report",
        "m11_wav_meta", "d21_jaccard_containment", "e24_bootstrap_ci",
        "e25_bootstrap_delta", "g11_cooccur_lift", "v20_cosine_hist",
        "m12_zip_meta", "w25_growth_accounting", "t41_vocab_growth")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("r12 additions: no cartesian, term/corpus counts stay aggregates, " +
      "windows only on bounded keys") {
    import org.apache.spark.sql.execution.window.WindowExec
    def winKeys(q: String): Seq[String] = SparkEntry.queries(q)(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w.partitionSpec.map(_.sql).mkString(",") }
    // corpus-level term counts are map-side-combined aggregates
    assert(winKeys("t42_freq_spectrum").isEmpty)
    assert(winKeys("t43_dispersion").isEmpty)
    assert(winKeys("t44_sttr").isEmpty)
    assert(winKeys("g12_rich_club").isEmpty)
    assert(winKeys("g13_reciprocity").isEmpty)
    assert(winKeys("ml3_linreg").isEmpty)
    // w26's only window is user-keyed (bounded per user); e27's grid
    // window rides the |d|-value grid (score-space-sized, never corpus)
    val w26 = winKeys("w26_entropy_rate")
    assert(w26.nonEmpty && w26.forall(_.contains("u")), w26)
    // w27's windows ride the lifetime grid (observation-days-sized)
    // after a per-user min/max aggregate — never a corpus sort
    for (q <- Seq("t42_freq_spectrum", "t43_dispersion", "t44_sttr",
        "w26_entropy_rate", "e26_fleiss_kappa", "e27_wilcoxon",
        "g12_rich_club", "g13_reciprocity", "ml3_linreg",
        "m13_tar_meta", "w27_survival", "m14_webdataset_pairing",
        "w28_fano_factor", "g14_avg_neighbor_degree",
        "e28_kendall_tau", "t45_term_jsd", "d22_cluster_histogram")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("per-term global counts are aggregates, not windows (no hot-key sort)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // windows partitioned by the term key would sort a stop word's whole
    // posting list on one reducer; only doc-key windows (bounded per doc)
    // are allowed in these plans
    def windowKeys(q: String): Seq[String] = SparkEntry.queries(q)(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w.partitionSpec.map(_.sql).mkString(",") }
    assert(windowKeys("t10_unigram_logprob").isEmpty)
    assert(windowKeys("s3_dsir_weights").isEmpty)
    // t7 keeps its per-doc rank window; d2 its per-doc n-gram lead window
    assert(windowKeys("t7_tfidf").forall(_.contains("id")))
    assert(windowKeys("d2_ngram_jaccard").forall(_.contains("id")))
  }

  test("spearman's global rank windows run over value GRIDS, not raw rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the tie-count cumsum is a single-partition window by construction
    // (global order) — tolerable ONLY because its input is the distinct-
    // value grid, never the item table; every window must sit above an
    // aggregate (the aucBinary bounded-grid envelope)
    val wins = SparkEntry.queries("e16_spearman")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: BaseAggregateExec => a }.isDefined,
        s"rank window reads raw rows, not the value grid:\n$w")
    }
  }

  test("KS drift's CDF windows run over the value grid, not raw rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // same envelope as the spearman rank windows: a global-order window
    // is tolerable only above the distinct-value aggregate
    val wins = SparkEntry.queries("c18_ks_drift")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: BaseAggregateExec => a }.isDefined,
        s"CDF window reads raw rows, not the value grid:\n$w")
    }
  }

  test("corpus merge broadcasts the increment, never full-outer-shuffles") {
    val plan = planOf(SparkEntry.queries("c4_corpus_merge")(spark, dir))
    assert(!plan.contains("FullOuter"),
      s"full-outer join cannot broadcast — corpus would shuffle+sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"increment not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled:\n$plan")
  }

  test("containment pairs inherit the jaccard skeleton: no quadratic join, reused exchange") {
    val df = Dedup.containmentPairs(
      Tables.documents(spark, dir), "doc_id", "text")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join:\n$plan")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "self-join sides recompute the shingle pipeline")
  }

  test("token-budget selection: row-level window only on the boundary bucket") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = SparkEntry.queries("c6_token_budget")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    // the unpartitioned cumulative runs at construction over the
    // <= `buckets` checkpointed totals; the final plan's only windows
    // are row-level and keyed on bucket (the boundary slice)
    val (global, keyed) = ws.partition(_.partitionSpec.isEmpty)
    assert(global.isEmpty ||
      global.forall(_.child.collect { case a: BaseAggregateExec => a }.nonEmpty),
      s"unpartitioned window over raw rows:\n${global.mkString("\n")}")
    assert(keyed.nonEmpty &&
      keyed.forall(_.partitionSpec.map(_.sql).mkString(",").contains("bucket")),
      s"window keys: ${keyed.map(_.partitionSpec.map(_.sql))}")
  }

  test("rank fusion and recall move only top-k rows: no joins beyond the inputs") {
    import spark.implicits._
    val l = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("q_id", "c_id", "rank")
    val fused = planOf(Retrieval.rrfFuse(Seq(l, l), "q_id", "c_id", "rank"))
    assert(!fused.contains("Join"), s"rrfFuse joins its lists:\n$fused")
    val rec = planOf(Similarity.recallAtK(l, l, k = 2))
    assert(!rec.contains("CartesianProduct") &&
      !rec.contains("BroadcastNestedLoopJoin"), s"quadratic recall join:\n$rec")
  }

  test("classifier scoring is a shuffle-free scan projection; ranking metrics never go quadratic") {
    import spark.implicits._
    val m = Classifier.LinearModel(0.1, Array(0.2, 0.3), lr = 0.5, grid = 12)
    val df = Seq((1L, 0.5, 0.6)).toDF("id", "x1", "x2")
    val p = planOf(Classifier.score(df, Seq("x1", "x2"), m))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"scoring should ride the scan:\n$p")
    val ranked = Seq((1L, 10L, 1)).toDF("q_id", "c_id", "rank")
    val judged = Seq((1L, 10L, 2)).toDF("q_id", "c_id", "rel")
    val mp = planOf(Retrieval.rankingMetrics(ranked, judged, k = 5))
    assert(!mp.contains("CartesianProduct") &&
      !mp.contains("BroadcastNestedLoopJoin"), s"quadratic metrics join:\n$mp")
  }

  test("attribution range join keys on user_id, never a time cross product") {
    val plan = planOf(SparkEntry.queries("st2_attribution_join")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"attribution join degenerated to a cross product:\n$plan")
  }

  test("dedup self-joins read one materialized index, not two pipeline runs") {
    val df = Dedup.ngramJaccardPairs(
      Tables.documents(spark, dir), "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the index is localCheckpoint'd before the self-join, so BOTH sides
    // must read the materialized RDD — the tokenize/window/dedup pipeline
    // (its Generate/explode node) must be absent from the join plan
    // entirely, whether or not exchange reuse fired
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD") ||
      plan.contains("ReusedExchange"),
      s"self-join does not read the materialized index:\n$plan")
    assert(!plan.contains("Generate"),
      s"shingle pipeline re-runs inside the self-join plan:\n$plan")
  }

  test("gumbel top-k: the global window runs over k rows, never the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("s4_gumbel_topk")(spark, dir).queryExecution
    // orderBy+limit must plan as a distributed top-k, not a global sort
    assert(qe.sparkPlan.toString.contains("TakeOrderedAndProject"),
      s"top-k is a full sort:\n${qe.sparkPlan}")
    // any unpartitioned window (the rank assignment) must sit above the
    // limit, so its input cardinality is k — a refactor that hoists it
    // below the limit would single-partition-sort the corpus
    qe.sparkPlan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        assert(w.child.collectFirst {
            case p if p.getClass.getSimpleName.contains("TakeOrdered") ||
              p.getClass.getSimpleName.contains("GlobalLimit") => p
          }.nonEmpty,
          s"unpartitioned window below the limit:\n$w")
      }
  }

  test("auc: the global rank window runs over the distinct score grid, not rows") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = SparkEntry.queries("e3_auc")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(ws.nonEmpty, "expected the Mann-Whitney cumulative window")
    // the window's input must be the (score -> cnt, pos) aggregate —
    // grid-bounded by the classifier's score quantization — never the
    // raw scored corpus
    ws.foreach { w =>
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"unpartitioned window over raw scored rows:\n$w")
    }
  }

  test("lexicon scoring is a shuffle-free scan projection") {
    val plan = planOf(SparkEntry.queries("t26_lexicon_score")(spark, dir))
    assert(exchangeCount(plan) == 0,
      s"expected 0 exchanges (map-literal kernel), got ${exchangeCount(plan)}:\n$plan")
  }

  test("url dedup: one aggregate exchange, no window, no join") {
    val plan = planOf(SparkEntry.queries("d17_url_dedup")(spark, dir))
    assert(exchangeCount(plan) == 1,
      s"expected exactly 1 exchange (struct-max argmax), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("ccnet tiers: the tertile window runs over the histogram, never documents") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val ws = SparkEntry.queries("t24_ccnet_buckets")(spark, dir)
      .queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "expected the histogram cumulative window")
    // every window input must be the (lang, nll) histogram aggregate —
    // grid-bounded — not the per-document scored table
    ws.foreach { w =>
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"tertile window over raw documents:\n$w")
    }
  }

  test("group split is a shuffle-free scan projection") {
    val plan = planOf(SparkEntry.queries("s9_group_split")(spark, dir))
    assert(exchangeCount(plan) == 0,
      s"expected 0 exchanges (md5 bucket projection), got ${exchangeCount(plan)}:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("ngram novelty: one shingle window + one doc regroup, no self-join") {
    val plan = planOf(SparkEntry.queries("t27_ngram_novelty")(spark, dir))
    // a join would mean the shingle stream is evaluated twice (the d2
    // double-evaluation failure mode); the df count must be a window
    assert(!plan.contains("Join"), s"unexpected self-join:\n$plan")
    assert(exchangeCount(plan) == 2,
      s"expected 2 exchanges (shingle window + doc agg), got ${exchangeCount(plan)}:\n$plan")
  }

  test("zipf fit: distributed top-k, rank window only over the top rows") {
    val plan = planOf(SparkEntry.queries("t28_zipf_slope")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a distributed top-k, not a global sort:\n$plan")
    // the only window input is the policy-bounded top-k, never the vocab
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = SparkEntry.queries("t28_zipf_slope")(spark, dir)
      .queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "expected the bounded rank window")
    ws.foreach { w =>
      assert(w.child.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s"rank window not fed by the top-k:\n$w")
    }
  }

  test("q18: the HAVING set broadcasts into the orders join") {
    val plan = planOf(SparkEntry.queries("q18_big_spenders")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for the filtered order set:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dim-sized sides must not sort-merge at this sf:\n$plan")
  }

  test("curriculum / depth / nearest: no window operators anywhere") {
    // all three replace the textbook global/per-chrom window with a
    // range-shuffle + offsets (s8, j10) or a bin argmin (j11); a window
    // creeping back in would be the single-reducer regression
    for (q <- Seq("s8_curriculum", "j10_interval_depth",
        "j11_nearest_interval")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"$q grew a window:\n$plan")
    }
  }

  test("scan-side text ops stay zero-exchange projections") {
    // t29/t30/t31 are the ingest projections every other text op sits
    // on — ONE exchange anywhere in these plans means someone added a
    // shuffle to a per-row computation
    for (q <- Seq("t29_html_extract", "t31_mojibake")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), s"$q grew a shuffle:\n$plan")
      assert(!plan.contains("Window"), s"$q grew a window:\n$plan")
    }
    // t30 adds only the generator (explode), still shuffle-free
    val t30 = SparkEntry.queries("t30_sentence_split")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!t30.contains("Exchange"), s"t30 grew a shuffle:\n$t30")
  }

  test("interval subtraction and liftover never go non-equi") {
    for (q <- Seq("j13_interval_subtract", "j14_liftover")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q nested loop:\n$plan")
    }
    // the liftover chain is dimension-sized: its join must broadcast
    val j14 = planOf(SparkEntry.queries("j14_liftover")(spark, dir))
    assert(j14.contains("BroadcastHashJoin"), s"chain not broadcast:\n$j14")
  }

  test("preference pairs and rate anomaly carry no corpus-wide window") {
    // h3's argmax is a struct-extreme aggregate — a window would be the
    // per-prompt-sort regression; w12's window is per-type and
    // calendar-bounded, so it must PARTITION (never a global sort)
    val h3 = SparkEntry.queries("h3_preference_pairs")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!h3.contains("Window"), s"h3 grew a window:\n$h3")
    import org.apache.spark.sql.execution.window.WindowExec
    val ws = SparkEntry.queries("w12_rate_anomaly")(spark, dir)
      .queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"w12 window lost its type partitioning:\n$w"))
  }

  test("deterministic top-k TPC-H cuts plan as TakeOrderedAndProject") {
    for (q <- Seq("q3b_shipping_priority", "q10_returned_items")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q lost the top-k plan (global sort?):\n$plan")
    }
  }

  test("multi-touch: both windows share one conversion-id exchange, " +
      "filters reach the events scans") {
    val plan = planOf(SparkEntry.queries("w14_multi_touch")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    // rank + partition-size windows must ride the SAME cid exchange —
    // a second hashpartitioning(cid) means a refactor split them
    assert("hashpartitioning\\(cid".r.findAllIn(plan).size == 1,
      s"expected one cid exchange shared by both windows:\n$plan")
    // conversion/touch type filters belong in the parquet scans
    assert(plan.contains("EqualTo(event_type,purchase)"),
      s"conversion filter not pushed:\n$plan")
    assert(plan.contains("In(event_type"),
      s"touch filter not pushed:\n$plan")
  }

  test("margin mining: broadcast grid gate, windows partitioned by id") {
    val plan = planOf(SparkEntry.queries("v16_margin_mining")(spark, dir))
    // the dense grid is the INTENDED broadcast form (small side
    // broadcast); an unbroadcast cartesian would be the scale bug
    assert(!plan.contains("CartesianProduct"),
      s"grid degenerated into an unbroadcast cartesian:\n$plan")
    // downstream of the checkpointed k-neighborhood slice: equi joins
    // only (the sum tables join back on l_id/r_id)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"post-checkpoint stage should be equi joins only:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort belongs here:\n$plan")
  }

  test("code quality and FIM stay zero-exchange scan projections") {
    for (q <- Seq("t35_code_quality", "t36_fim_split")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), s"$q grew a shuffle:\n$plan")
      assert(!plan.contains("Window"), s"$q grew a window:\n$plan")
    }
  }

  test("skip-gram pairs: spread + fan-out scan-side, one count exchange") {
    val plan = planOf(
      SparkEntry.queries("t37_skipgram_pairs")(spark, dir))
    // two exchanges by design since r13: the Guards.spread repartition
    // (parallelizes the tokenize/fan-out off an unsplittable
    // single-row-group scan — a no-op at real scale) plus the pair
    // count; the fan-out itself still never shuffles
    assert(exchangeCount(plan) == 2,
      s"skip-grams: spread + pair count exchanges only:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs here:\n$plan")
  }

  test("triangles: equi wedge join + semi closure, never a cartesian") {
    val plan = planOf(SparkEntry.queries("g5_triangles")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop:\n$plan")
  }

  test("chat validation: lag window and rollup share one exchange") {
    val plan = planOf(
      SparkEntry.queries("c13_chat_validate")(spark, dir))
    assert(exchangeCount(plan) == 1,
      s"conversation regroup must reuse the window partitioning:\n$plan")
  }

  test("bleu: gram fan-outs scan-side, equi count-join, no window") {
    val plan = planOf(SparkEntry.queries("e11_bleu")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bleu must stay equi-keyed:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs here:\n$plan")
  }

  test("chrF: the bleu shape — equi clip join, no window, no cartesian") {
    val plan = planOf(SparkEntry.queries("e20_chrf")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"chrF must stay equi-keyed:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs here:\n$plan")
  }

  test("backoff trigram: five equi count-joins, no token window") {
    val plan = planOf(
      SparkEntry.queries("t38_backoff_trigram")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // exactly ONE nested-loop join is sanctioned: the one-row (total, V)
    // broadcast — the t10/t17 scalar-totals idiom; the five count joins
    // must all stay hash-keyed
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r
      .findAllMatchIn(plan).length == 1,
      s"only the one-row totals broadcast may nested-loop:\n$plan")
    assert(!plan.contains("Window"),
      s"counts come from aggregates, never a token window:\n$plan")
  }

  test("cross-source overlap: fp-equi pair join, never a cartesian") {
    val plan = planOf(
      SparkEntry.queries("d20_cross_source_overlap")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay fingerprint-keyed:\n$plan")
  }

  test("autocorrelation: all lag leads share ONE window exec") {
    val plan = planOf(
      SparkEntry.queries("w22_autocorrelation")(spark, dir))
    // six lead() columns over the same (type, bucket) spec must plan as
    // a single Window operator per union branch — not one per lag
    val windows = """\(\d+\) Window""".r.findAllIn(plan).length
    assert(windows <= 1,
      s"expected the lag leads to share one Window, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("genome windows: bin-equi joins only, no distinct exchange") {
    val plan = planOf(
      SparkEntry.queries("j20_genome_windows")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"window joins must stay (chrom, i)-equi:\n$plan")
  }

  test("systematic resample: sharded prefix windows, no global sort " +
      "of the corpus") {
    val plan = planOf(
      SparkEntry.queries("s13_systematic_resample")(spark, dir))
    // the only unpartitioned window runs over the SHARD table
    // (corpus/shardSize rows); the corpus window is shard-partitioned
    assert(plan.contains("Window"), s"expected windows:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
  test("r13 one-row stat reads (e29/e30/ml4/w29) never leave the " +
      "rollup-plus-broadcast class") {
    for (q <- Seq("e29_cochran_q", "e30_cliffs_delta", "ml4_ridge",
        "w29_benford")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q shuffled a one-row/grid side:\n$plan")
      assert(!plan.contains("Window"), s"$q window:\n$plan")
    }
  }

  test("t46 burstiness: two aggregate exchanges, no join, no window") {
    val plan = planOf(SparkEntry.queries("t46_burstiness")(spark, dir))
    assert(exchangeCount(plan) <= 2, s"t46 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"t46 join:\n$plan")
    assert(!plan.contains("Window"), s"t46 window:\n$plan")
  }

  test("d23 CDC dedup: equi-joins on the chunk hash only, never a " +
      "cartesian or nested loop") {
    val plan = planOf(SparkEntry.queries("d23_cdc_dedup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"d23:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"d23:\n$plan")
  }

  test("g15 modularity: label joins stay equi, no cartesian beyond " +
      "the one-row broadcast combine") {
    val plan = planOf(SparkEntry.queries("g15_modularity")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"g15:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BuildRight"), s"g15:\n$plan")
  }

  test("h5 query likelihood: the term spine broadcasts; no window; " +
      "no sort-merge against the corpus") {
    val plan = planOf(SparkEntry.queries("h5_lm_retrieval")(spark, dir))
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("Broadcast"), s"h5:\n$plan")
    assert(!plan.contains("Window"), s"h5:\n$plan")
  }

  test("v21 silhouette: one fused scan projection + one aggregate " +
      "exchange — the whole distance matrix never materializes") {
    val plan = planOf(SparkEntry.queries("v21_silhouette")(spark, dir))
    assert(exchangeCount(plan) <= 1, s"v21 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"v21 join:\n$plan")
  }

  test("s15 kfold: one count exchange + a dim-sized broadcast back-join") {
    val plan = planOf(SparkEntry.queries("s15_kfold")(spark, dir))
    assert(!plan.contains("SortMergeJoin"), s"s15:\n$plan")
    assert(!plan.contains("Window"), s"s15:\n$plan")
  }

  test("m15 tiff walk is a shuffle-free typed scan pass") {
    val plan = planOf(SparkEntry.queries("m15_tiff_meta")(spark, dir))
    assert(exchangeCount(plan) == 0, s"m15 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"m15 join:\n$plan")
  }

  test("r13 one-row stat reads batch 2 (e31/e33): pure rollups — no " +
      "join, no window") {
    for (q <- Seq("e31_mcc", "e33_cohens_d")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Join"), s"$q join:\n$plan")
      assert(!plan.contains("Window"), s"$q window:\n$plan")
    }
  }

  test("e32 friedman: block-partitioned rank windows, one-row " +
      "broadcast combines only — no shuffled join") {
    val plan = planOf(SparkEntry.queries("e32_friedman")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"e32:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"e32:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BuildRight"), s"e32:\n$plan")
  }

  test("ml5 stump: value-grid windows and equi joins, the only " +
      "nested-loop the broadcast class dim") {
    val plan = planOf(SparkEntry.queries("ml5_stump")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"ml5:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BuildRight"), s"ml5:\n$plan")
  }

  test("w30 nelson-aalen: w27's grid-window class — one-row horizon " +
      "broadcast, no shuffled join") {
    val plan = planOf(SparkEntry.queries("w30_nelson_aalen")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"w30:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"w30:\n$plan")
  }

  test("g16 transitivity: inherits the g5 triangle joins — equi only, " +
      "never cartesian") {
    val plan = planOf(SparkEntry.queries("g16_transitivity")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"g16:\n$plan")
  }

  test("t47 good-turing: aggregate chain + broadcast spine, lead " +
      "window over the maxR spine only") {
    val plan = planOf(SparkEntry.queries("t47_good_turing")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"t47:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"t47:\n$plan")
  }

  test("m16 webp walk is a shuffle-free typed scan pass") {
    val plan = planOf(SparkEntry.queries("m16_webp_meta")(spark, dir))
    assert(exchangeCount(plan) == 0, s"m16 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"m16 join:\n$plan")
  }

  test("v22 jl and h6 rocchio: broadcast-query candidate scans (the " +
      "cosineTopK class); any equi join is top-k-sized") {
    // The corpus-sized work is the candidate scan against the
    // BROADCAST query/expanded-query side (BNLJ BuildRight). The
    // recall/feedback tails equi-join k-bounded tables — the static
    // plan may pick SMJ there (AQE broadcasts at runtime), which is
    // fine; what must never appear is a cartesian or a build-left
    // nested loop over the corpus.
    for (q <- Seq("v22_jl_recall", "h6_rocchio")) {
      val plan = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin Cross BuildRight"),
        s"$q lost the broadcast candidate scan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin Cross BuildLeft"),
        s"$q nested-loops with the corpus broadcast:\n$plan")
    }
  }

  test("e34 kruskal-wallis: value-grid windows + one-row broadcast " +
      "combines, no corpus-sized rank window") {
    val plan = planOf(SparkEntry.queries("e34_kruskal_wallis")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"e34:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"e34:\n$plan")
  }

  test("w31 lorenz: count-grid window + broadcast decile spine range " +
      "join — never a per-key sort") {
    val plan = planOf(SparkEntry.queries("w31_lorenz")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"w31:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"w31:\n$plan")
  }

  test("g17 edge support: the g5 triangle joins + one map-side edge " +
      "count, equi only") {
    val plan = planOf(SparkEntry.queries("g17_edge_support")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"g17:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"g17:\n$plan")
  }

  test("h7 jm retrieval: the h5 posting-list posture — broadcast term " +
      "spine, no shuffled join") {
    val plan = planOf(SparkEntry.queries("h7_jm_retrieval")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"h7:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"h7:\n$plan")
  }

  test("e35 nemenyi: the friedman window class + a k×k broadcast pair " +
      "join, nothing shuffled") {
    val plan = planOf(SparkEntry.queries("e35_nemenyi")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"e35:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"e35:\n$plan")
  }

  test("g18 bfs: frontier rounds are equi joins + anti joins, never a " +
      "cartesian") {
    val plan = planOf(SparkEntry.queries("g18_bfs_distances")(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"g18:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"g18:\n$plan")
  }

  test("t48 code-switch: scan-side sentence explode + two rollups, " +
      "no join at all") {
    val plan = planOf(SparkEntry.queries("t48_code_switch")(spark, dir))
    assert(!plan.contains("Join"), s"t48:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"t48:\n$plan")
  }
}
