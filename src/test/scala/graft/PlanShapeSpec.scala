package graft

import org.apache.spark.sql.execution.ExplainMode

/** Regression locks on the SCALE-CRITICAL physical-plan shapes — the
  * properties EXPLAIN.md documents as the reason each operator survives a
  * 100 TB scale-up. A refactor that silently reintroduces a window argmin,
  * a driver collect, or an unpushed filter should fail HERE, not in a
  * production profile.
  */
class PlanShapeSpec extends TestBase {

  /** The executed physical plan's nodes (adaptive stages unwrapped),
    * after running `df` once so the adaptive plan settles. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    df.collect()
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    nodes(df.queryExecution.executedPlan)
  }

  /** The order-2 LM scoring lock shared by the plain and lang-keyed
    * forms: every join broadcasts (the vocabulary-scale tables and the
    * totals — a BroadcastNestedLoopJoin when unkeyed), nothing
    * sort-merges, and the lag-context Window appears exactly once. */
  private def assertLmScoringJoins(scored: org.apache.spark.sql.DataFrame)
      : Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    val all = executedNodes(scored)
    val joins = all.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }, "every model/totals join must broadcast at fixture scale:\n" +
        joins.map(_.simpleString(200)).mkString("\n"))
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]), "no SortMergeJoin")
    val windows = all.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"want one Window, got ${windows.size}")
  }

  private def planOf(name: String): String = {
    val q = SparkEntry.catalog.find(_.name == name).get
    q.build(spark, sf("sf0.001")).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: filter + projection reach the parquet scan") {
    val p = planOf("q02_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_discount"),
      "filter must push into the scan")
    assert(!p.contains("l_comment"), "projection must prune unused columns")
  }

  test("q04: bounded dimension join is broadcast, not shuffled") {
    val p = planOf("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q46: bloom pre-filter sits on the probe side BEFORE the join") {
    val p = planOf("q46_bloom_join")
    // The UDF filter must be a CHILD of the join (pre-join, on the probe
    // scan) — that ordering IS the shuffle reduction. Formatted plans
    // render root-first, so a child Filter prints AFTER the join line; a
    // post-join Filter would print before it.
    val joinAt = p.indexOf("Join")
    val filterAt = p.indexOf("Filter")
    assert(joinAt > 0 && filterAt > joinAt,
      "bloom pre-filter must execute below the join, not above it")
    assert(p.contains("HashAggregate"), "aggregate must be partial+final")
  }

  test("sim_topk_brute: top-k plans as TakeOrderedAndProject, no global sort") {
    val p = planOf("sim_topk_brute")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("sim_ivf_topk: cell assignment is expression-only — no window, no extra join") {
    val p = planOf("sim_ivf_topk")
    assert(!p.contains("Window"), "argmin must not plan as a window")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("cur_drift: one exploded scan per side — no per-feature rescans, no cross joins") {
    val p = planOf("cur_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the PSI totals must ride the feature window, not a cross join")
    assert(p.contains("Generate"),
      "all features must ride ONE exploded (feature, bin) pass per side")
    // formatted mode names each scan twice (tree + details): 2 sides → ≤ 4
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"per-feature corpus rescans crept back in ($scans)")
  }

  test("sim_drift: cell assignment is expression-only on both sides — no cartesian") {
    val p = planOf("sim_drift")
    assert(!p.contains("CartesianProduct"),
      "occupancy must come from the argmax expression, not a centroid join")
  }

  test("dd_simhash_pairs: band-blocked self-join with NO corpus broadcast") {
    val p = planOf("dd_simhash_pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      // toy scale may legitimately size-broadcast; the guard is that we
      // never HINT a broadcast of the signature table (plan carries no
      // explicit broadcast hint node)
      !p.contains("ResolvedHint"))
  }

  test("dd_decontaminate: eval shingles broadcast as a LeftSemi build side") {
    val p = planOf("dd_decontaminate")
    assert(p.contains("LeftSemi"), "contamination check must be a semi join")
  }

  test("dd_substring_decon: eval fingerprints broadcast LeftSemi; corpus never shuffles") {
    val p = planOf("dd_substring_decon")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "eval fps must broadcast into a semi join")
  }

  test("dd_exact_decon: eval windows broadcast into LeftSemis; corpus never shuffles by hash") {
    // the catalog row checkpoints its result, so inspect the operator's
    // own plan with eager materialization off
    spark.conf.set("graft.eagerRelease", "false")
    try {
      val d = Tables(spark, sf("sf0.001"), "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val p = graft.operators.Dedup
        .exactContaminationSpans(d.where("doc_id >= 5"), d.where("doc_id < 5"))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert("BroadcastHashJoin LeftSemi".r.findAllIn(p).size >= 2,
        "both the hash pre-filter and the exact window verify must broadcast the eval side")
    } finally spark.conf.set("graft.eagerRelease", "true")
  }

  test("exactCrossDupIndexed: the index scan streams through a broadcast of the batch") {
    spark.conf.set("graft.eagerRelease", "false")
    try {
      val d = Tables(spark, sf("sf0.001"), "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val idx = java.nio.file.Files.createTempDirectory("psl-xwin").toString
      graft.operators.Dedup.buildExactWindowIndex(d.where("doc_id < 100"), idx)
      val p = graft.operators.Dedup
        .exactCrossDupIndexed(spark, idx, d.where("doc_id >= 100 AND doc_id < 120"))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("BroadcastHashJoin"),
        "the batch windows must broadcast so the index is only streamed")
    } finally spark.conf.set("graft.eagerRelease", "true")
  }

  test("txt_bm25 / sim_hybrid_rrf: top-k stages plan as TakeOrderedAndProject") {
    assert(planOf("txt_bm25").contains("TakeOrderedAndProject"))
    assert(planOf("sim_hybrid_rrf").contains("TakeOrderedAndProject"))
  }

  test("sim_hybrid_indexed: fused plan is index-only — no corpus text scan, pushed probes") {
    import org.apache.spark.sql.functions._
    val dirSf = sf("sf0.001")
    val docs = Tables(spark, dirSf, "documents")
    val e = Tables(spark, dirSf, "embeddings")
    val q = e.where(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .head().getSeq[Double](0)
    val bmIdx = java.nio.file.Files.createTempDirectory("psl-hybrid-bm").toString
    graft.operators.Retrieval.buildBm25Index(docs, bmIdx)
    val annIdx = java.nio.file.Files.createTempDirectory("psl-hybrid-pq").toString
    graft.operators.Similarity.buildIvfPqIndex(e, annIdx)
    val bm = graft.operators.Retrieval.bm25IndexedTopK(
      spark, bmIdx, Seq("spark", "window", "merge"), 20)
    val ann = graft.operators.Similarity.ivfPqTopK(e, annIdx, q, 20)
      .withColumnRenamed("vec_id", "doc_id")
    val fused = graft.operators.Retrieval.rrfFuse(Seq(
        (bm, Seq(col("score").desc, col("doc_id"))),
        (ann, Seq(col("sim").desc, col("doc_id")))),
      idCol = "doc_id", k = 10)
    val p = fused.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // no documents.parquet scan anywhere: the lexical side reads ONLY the
    // postings index (the ADC ranking ran inside ivfPqTopK against the
    // partition-pruned codes layout — asserted by the sim_ivfpq rows)
    assert(!p.contains("documents"), s"corpus text scan leaked into the fused plan:\n$p")
    // the term predicate reaches the postings scan as a pushed filter
    assert(p.contains("In(term"), s"term filter must push into the postings scan:\n$p")
    // the rescore touches embeddings only through the pushed candidate IN
    assert(p.contains("In(vec_id"), s"rescore must reach embeddings as a pushed IN:\n$p")
  }

  test("winnowedFingerprints: one projection, zero exchanges before consumers") {
    import spark.implicits._
    val d = Seq((1L, "some text long enough to produce a few character grams here"))
      .toDF("doc_id", "text")
    val p = graft.operators.Dedup.winnowedFingerprints(d).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"),
      "per-doc fingerprinting must be pure projection work — no shuffle")
    assert(!p.contains("Window "), "window minima must be array ops, not a Window sort")
  }

  test("q30: TopK aggregator plans partial + final (ObjectHashAggregate)") {
    val p = planOf("q30_topk_agg")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("sim_sq_topk: quantized rank + exact rescore is two top-k passes, no shuffle") {
    val p = planOf("sim_sq_topk")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "both the candidate stage and the rescore must plan as top-k")
    assert(!p.contains("Exchange"),
      "scalar-quantized ANN must not shuffle — scan + expressions + top-k merges only")
  }

  test("sim_pq_topk: PQ encode + ADC rank is expression-only — two top-k passes, no shuffle") {
    val p = planOf("sim_pq_topk")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "both the ADC candidate stage and the rescore must plan as top-k")
    assert(!p.contains("Exchange"),
      "PQ ANN must not shuffle — codebooks are plan literals, codes are expressions")
    assert(!p.contains("Window") && !p.contains("Join"),
      "per-subspace argmin must be the struct-max expression, not a window or join")
  }

  test("dd_semantic: cell self-join shuffles on cell only; assignment is expression-only") {
    val p = planOf("dd_semantic")
    assert(!p.contains("CartesianProduct"), "within-cell pairing must be an equi-join")
    assert(!p.contains("Window"), "cell assignment must not window-sort")
  }

  test("evt_cdc: snapshot states come from ONE aggregate — no window, no state join") {
    val p = planOf("evt_cdc")
    assert(!p.contains("Window"), "snapshot states must come from max_by, not windows")
    // the only join is the 1-row broadcast of the derived bounds — the two
    // as-of states must NOT meet through a shuffled join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "snapshot diff must not join the two states")
  }

  test("dd_cross_neardup: no cartesian, capped via broadcast anti, pruned via semi") {
    // eagerRelease=false: inspect the LAZY plan — the operator's default
    // eager checkpoint would collapse the explain to an RDD scan.
    spark.conf.set("graft.eagerRelease", "false")
    val p = try planOf("dd_cross_neardup")
    finally spark.conf.unset("graft.eagerRelease")
    assert(!p.contains("CartesianProduct"),
      "cross-corpus candidates must come from the (band, sig) equi-join")
    assert(p.contains("LeftAnti"),
      "bucket cap must plan as an anti-join against the oversized-bucket list")
    assert(p.contains("LeftSemi"),
      "shingle sets must be candidate-pruned before the intersection join")
  }

  test("editSimilarity: text bodies stay OUT of the per-pair distinct") {
    // The r7 re-keying contract: the distinct that memoizes the DP runs on
    // (ha, hb) hash keys only — a regression that groups on the text
    // columns again would ship every candidate pair's two bodies through
    // the heaviest exchange of the chain (k²-inflated in dup-dense
    // corpora).
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val plan = graft.operators.Dedup.editSimilarity(docs, pairs)
      .queryExecution.optimizedPlan.toString
    // Every Aggregate in the plan (the pair-distinct, the candidate-doc
    // distinct, the text-table dedup) must group on ids/hashes, never on a
    // raw text column.
    val aggKeyLists = "Aggregate \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(aggKeyLists.nonEmpty, s"expected Aggregate nodes in:\n$plan")
    aggKeyLists.foreach { keys =>
      assert(!keys.contains("text#") && !keys.contains("ta#") && !keys.contains("tb#"),
        s"distinct groups on a text body column: [$keys]")
    }
    // levenshtein must still be computed (the DP survives the re-keying)
    assert(plan.contains("levenshtein"))
  }

  test("lay_zorder: both box predicates push into the layout scan") {
    // The Z-order claim needs the reader to actually consult footer stats:
    // both columns' range predicates must reach the parquet scan as
    // PushedFilters (row-group pruning), and the write side must cluster
    // each file on its own Z-value range without a global sort.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.LinkedBlockingQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.analyzed.output.map(_.name).mkString(",") -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (p, seen) = try {
      val p = planOf("lay_zorder")
      // listener events arrive in order: once the marker query is seen,
      // every execution of the layout write has been delivered
      spark.range(1).select(lit(1).as("lay_z_marker")).collect()
      p -> Iterator.continually(plans.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e._1 != "lay_z_marker").map(_._2).toVector
    } finally spark.listenerManager.unregister(listener)
    val scanAt = p.indexOf("/tmp/graft-lay-z-")
    assert(scanAt > 0, "query must read the rewritten layout")
    assert(p.contains("GreaterThanOrEqual(l_partkey,100)") &&
      p.contains("LessThanOrEqual(l_suppkey,40)"),
      s"both box predicates must push into the layout scan:\n${p.take(1500)}")
    // the write the row just ran: sorts within each file, never globally,
    // and never range-shuffles (file bounds are quantiles)
    val nodes = seen.flatMap(_.collectWithSubqueries { case n => n })
      .flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case n => n }
        case n => Seq(n)
      }
    val sorts = nodes.collect { case s: SortExec => s }
    assert(sorts.nonEmpty && sorts.forall(!_.global),
      s"layout write must sort within files only: ${sorts.map(_.simpleString(200))}")
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, "layout write must not range-partition")
    // and each file holds one contiguous, disjoint slice of the curve:
    // the rows read back carry the Z-value the write ranked them by
    val zDir = p.substring(scanAt).takeWhile(c => c != ']' && c != ',')
    val zc = Seq("l_partkey", "l_suppkey")
    val ranges = graft.operators.Layout
      .withZValue(spark.read.parquet(zDir), zc)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("_z")).as("lo"), max(col("_z")).as("hi"))
      .orderBy(col("lo")).collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1, s"expected several layout files in $zDir")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file Z-ranges overlap: ${ranges.toSeq}")
    }
  }

  test("scoreAgainstLmIndex: one batch scan, model joins broadcast, no train rescan") {
    import org.apache.spark.sql.functions._
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("psl-lm").toString
    graft.operators.LangModel.buildLmIndex(d.where("doc_id < 300"), s"$dir/m")
    val p = graft.operators.LangModel
      .scoreAgainstLmNIndex(s"$dir/m", d.where("doc_id >= 300"), 2, ml = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the batch is scanned exactly once (token stream built by array
    // zip, never a token-table self-join that would rescan it)
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      s"batch must be scanned exactly once:\n${p.take(1500)}")
    // the training corpus itself is nowhere in the plan — scoring reads
    // ONLY the persisted count tables
    assert(p.contains("unigrams") && p.contains("bigrams"),
      "scoring must read the persisted model tables")
    // vocabulary-scale model tables broadcast into the scoring joins at
    // this scale (shuffle is legitimate only when they outgrow the
    // broadcast threshold); the context counts come from one lag Window
    assertLmScoringJoins(graft.operators.LangModel
      .scoreAgainstLmNIndex(s"$dir/m", d.where("doc_id >= 300"), 2,
        ml = false))
  }

  test("scoreAgainstLmMlIndex: one batch scan, lang-keyed model joins " +
      "broadcast, no train rescan") {
    import org.apache.spark.sql.functions._
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val dir = java.nio.file.Files.createTempDirectory("psl-lmml").toString
    graft.operators.LangModel.buildLmIndex(d.where("doc_id < 300"), s"$dir/m",
        ml = true)
    val p = graft.operators.LangModel
      .scoreAgainstLmNIndex(s"$dir/m", d.where("doc_id >= 300"), 2, ml = true)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      s"batch must be scanned exactly once:\n${p.take(1500)}")
    assert(p.contains("unigrams") && p.contains("bigrams"),
      "scoring must read the persisted lang-keyed count tables")
    assertLmScoringJoins(graft.operators.LangModel
      .scoreAgainstLmNIndex(s"$dir/m", d.where("doc_id >= 300"), 2,
        ml = true))
  }

  test("cur_release: the calibrated per-lang chain stays pinned — bounded " +
      "scan count, no cartesian, no per-reference corpus re-derivation") {
    // r17 regression lock: the unpinned calibrated chain re-derived the
    // count tables per join reference and the flag table per consumer —
    // 64 parquet scans / 42 joins at fixture scale. The pinned form
    // (uni/bi/cuts/flag-table localCheckpoints) holds ~28 scans (the
    // corpus is a 4-stratum union, so one logical reference = 4 scans).
    // the prediction-keyed twin rides the identical pinned kernel (one
    // extra codegen'd langIdPred projection per corpus) — same bound;
    // the ORDER-5 twin (r19) pins its five count tables + cuts + flag
    // table eagerly, so its final plan holds ZERO live parquet scans —
    // trivially inside the bound, and the no-cartesian lock still bites
    Seq("cur_release", "cur_release_ided", "cur_release5",
        "cur_release5_ided").foreach { name =>
      val q = ModelQueries.all.find(_.name == name).get
      val p = q.build(spark, sf("sf0.001")).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans <= 32,
        s"$name plan re-derivation regressed: $scans parquet scans " +
          s"(pinned form holds ~28)")
      assert(!p.contains("CartesianProduct"),
        s"no cartesian anywhere in the release funnel ($name)")
    }
  }
  test("release5 scoring: each count table joined once, no context-table " +
      "joins, one Window sharing the scoring aggregate's exchange") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{SparkPlan, window}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.operators.{Curation, LangModelMl}
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val toked = LangModelMl.tokenizedMl(d.where("doc_id < 300"))
      .localCheckpoint(true)
    // pinned like release5's, so the plan under test is the scorer alone
    val tables = (1 to 5).map(k =>
      LangModelMl.gramCountsMlFromTs(toked, k).localCheckpoint(true))
    val scored = Curation.release5Scores(toked, tables,
      d.where("doc_id >= 300"))
    scored.collect() // settle the adaptive plan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    val all = nodes(scored.queryExecution.executedPlan)
    val joins = all.collect { case j: BaseJoinExec => j }
    // 5 count tables + the per-lang totals; the join form added n−1 = 4
    // context-table joins (10)
    assert(joins.size == 6, s"want 6 joins, got ${joins.size}:\n" +
      joins.map(_.simpleString(200)).mkString("\n"))
    // a context lookup would key on ctx… without the scored token w
    val keys = joins.map(_.leftKeys.flatMap(_.references.map(_.name)).toSet)
    assert(keys.count(_ == Set("lang")) == 1 && keys.count(_("w")) == 5,
      s"want 5 count-table joins on w + the totals on lang, got $keys")
    val windows = all.collect { case w: window.WindowExec => w }
    assert(windows.size == 1, s"want one Window, got ${windows.size}")
    // walk from the scoring aggregate down to the Window: no shuffle
    def reachesWindowUnshuffled(p: SparkPlan): Boolean = p match {
      case _: window.WindowExec => true
      case _: ShuffleExchangeLike => false
      case _ => kids(p).exists(reachesWindowUnshuffled)
    }
    val scoring = all.collect {
      case a: HashAggregateExec if a.output.exists(_.name == "xent") => a
    }
    assert(scoring.nonEmpty && scoring.forall(reachesWindowUnshuffled),
      "no Exchange may sit between the lag Window and the scoring aggregate")
  }

  test("CrossIndexSession.scoreBatch: the edge plan scans checkpoints — " +
      "no cached relation, no join keyed on the shingle key") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.operators.Dedup
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-edgeplan")
      .resolve("index").toString
    Dedup.buildCrossNearDupIndex(d.where("doc_id < 40"), dir)
    val batch = d.where("doc_id < 10").select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    // every SQL execution in order; the edge set is scoreBatch's last
    val plans = new java.util.concurrent.LinkedBlockingQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.analyzed.output.map(_.name).mkString(",") -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val session = Dedup.openCrossIndexSession(spark, dir)
    spark.listenerManager.register(listener)
    val seen = try {
      session.scoreBatch(batch, 0.8)
      // listener events arrive in order: once the marker query is seen,
      // every scoreBatch execution has been delivered
      spark.range(1).select(lit(1).as("edge_plan_marker")).collect()
      Iterator.continually(plans.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(p => p != null && p._1 != "edge_plan_marker").toVector
    } finally {
      spark.listenerManager.unregister(listener)
      session.close()
    }
    val edgePlan = seen.filter(_._1 == "doc_a,doc_b").last._2
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    val all = nodes(edgePlan)
    val cached = all.collect { case c: InMemoryTableScanExec => c }
    assert(cached.isEmpty, s"edge plan reads ${cached.size} cached relations")
    val skJoins = all.collect {
      case j: BaseJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "sk")) => j
    }
    assert(skJoins.isEmpty, "edge plan joins on the shingle key:\n" +
      skJoins.map(_.simpleString(200)).mkString("\n"))
    assert(all.exists(_.isInstanceOf[RDDScanExec]),
      "the batch-scale frames must be read as checkpoint scans")
  }

  test("near-dup scorers: no join keyed on the shingle key in any plan — " +
      "pairs score by key-set intersection") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.operators.Dedup
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpus = d.where("doc_id < 60")
    val batch = d.where("doc_id < 20").select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-skjoin")
      .resolve("index").toString
    Dedup.buildCrossNearDupIndex(corpus, dir)
    // every node, through adaptive stages and into the persisted
    // intermediates the lazy plan scans
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    // lazy plans: the default eager checkpoint would hide the chain
    spark.conf.set("graft.eagerRelease", "false")
    try {
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "nearDupScores" -> (() => Dedup.nearDupScores(corpus)),
        "containmentDedup" -> (() => Dedup.containmentDedup(corpus)),
        "containmentDedupGated" -> (() => Dedup.containmentDedupGated(corpus)),
        "crossNearDup" -> (() => Dedup.crossNearDup(corpus, batch)),
        "crossNearDupIndexed" -> (() => Dedup.crossNearDupIndexed(spark, dir, batch))
      ).foreach { case (name, op) =>
        val df = op()
        df.collect()
        val all = nodes(df.queryExecution.executedPlan)
        assert(all.exists(_.isInstanceOf[BaseJoinExec]), s"$name: no join at all?")
        val skJoins = all.collect {
          case j: BaseJoinExec
              if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "sk")) => j
        }
        assert(skJoins.isEmpty, s"$name joins on the shingle key:\n" +
          skJoins.map(_.simpleString(200)).mkString("\n"))
      }
    } finally {
      spark.conf.unset("graft.eagerRelease")
      spark.catalog.clearCache()
    }
  }
}
