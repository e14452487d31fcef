package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed round-9 curation pipeline — the embedding-space sibling of
  * `Dedup.dedupFirstPipeline`'s minhash chain: model-based quality gate
  * (`TextAnalysis.lrQuality`) → SemDeDup semantic dedup over the survivors
  * (`Similarity.semanticDedup`) → temperature flattening of the deduped
  * corpus (`Sampling.temperatureSample`), reported as a per-stratum funnel
  * `(lang, n_gated, n_semantic, n_final)`.
  *
  * Every stage is the declared operator — this module only wires them, so
  * the scale story is the stages' own: per-row gate (no shuffle), one
  * cell-keyed self-join bounded by the rep prelude, one metadata-scale
  * count + broadcast-threshold filter. The funnel output is three
  * map-side-combined aggregates left-joined on the stratum (stage k's
  * strata are a subset of stage k−1's, so left joins + coalesce(0) lose
  * nothing).
  */
object Curation {

  /** Novelty-weighted curation of an ARRIVING batch against a standing
    * corpus — the dedup-aware sampling composition `windowNovelty` exists
    * for (the value signal of the r11 exact-substring family, now
    * consumed): LR quality gate → window-novelty floor vs the standing
    * corpus (0 = verbatim corpus content drops; wrapper-text spam around
    * copied passages scores mid-range and drops below the floor; genuinely
    * new text scores ~1 and survives) → temperature rebalance of the
    * survivors' language mixture. Returns per-lang funnel counts
    * `(lang, n_gated, n_novel, n_final)`.
    *
    * Stage order is the cost order: the per-row gate runs first so the
    * window projection (the expensive stage — L bytes of hashing per doc
    * char) only pays for gate survivors; the novelty probe is
    * `windowNovelty`'s single batch-side pass against the corpus's
    * DISTINCT window keys (no fan-out join); the rebalance is a
    * metadata-scale threshold broadcast + pure-row-property hash filter.
    * Nothing here re-pairs or re-scans the standing corpus beyond the one
    * distinct-keys stream. */
  def noveltyFunnel(standing: DataFrame, batch: DataFrame,
      noveltyFloor: Double = 0.5, L: Int = 40): DataFrame =
    noveltyFunnelFrom(batch, noveltyFloor,
      g => Dedup.windowNovelty(standing, g, L))

  /** [[noveltyFunnel]] probing a prebuilt exact-window INDEX
    * ([[graft.operators.Dedup.buildExactWindowIndex]]) instead of
    * recomputing the standing corpus's window keys — the per-arrival
    * shape [[graft.streaming.Streams]]'s novelty loop runs: gate →
    * [[graft.operators.Dedup.windowNoveltyIndexed]] (index streamed,
    * own-micro-batch partition excluded for replay exactness) →
    * temperature rebalance. `L` comes from the index manifest, so a
    * probe can never hash with a different window length than the
    * index. */
  def noveltyFunnelIndexed(indexDir: String, batch: DataFrame,
      noveltyFloor: Double = 0.5,
      excludeIngestBatch: Option[Long] = None): DataFrame =
    noveltyFunnelFrom(batch, noveltyFloor,
      g => Dedup.windowNoveltyIndexed(batch.sparkSession, indexDir, g,
        excludeIngestBatch))

  /** [[noveltyFunnelIndexed]] over a cached
    * [[graft.operators.Dedup.WindowIndexSession]] — the streaming loop's
    * form (same funnel body, session-backed scorer). */
  def noveltyFunnelSession(session: Dedup.WindowIndexSession,
      batch: DataFrame, noveltyFloor: Double = 0.5,
      excludeIngestBatch: Option[Long] = None): DataFrame =
    noveltyFunnelFrom(batch, noveltyFloor,
      g => Dedup.windowNoveltySession(session, g, excludeIngestBatch))

  /** The shared funnel body: LR gate → novelty floor over the given
    * scorer → temperature rebalance → per-lang counts. One code path for
    * the batch and indexed/streaming forms, so they cannot drift. */
  private def noveltyFunnelFrom(batch: DataFrame, noveltyFloor: Double,
      score: DataFrame => DataFrame): DataFrame = {
    val gate = TextAnalysis.lrQuality(batch)
      .where(col("pass") === 1)
      .join(batch.select(col("doc_id"), col("lang"), col("text")), "doc_id")
      .select(col("doc_id"), col("lang"), col("text"))
    val novel = gate.join(
        score(gate.select(col("doc_id"), col("text")))
          .where(col("novelty") >= noveltyFloor)
          .select(col("doc_id")),
        "doc_id")
      .select(col("doc_id"), col("lang"))
    val fin = Sampling.temperatureSample(novel, col("lang"), col("doc_id"))
    def countBy(df: DataFrame, as: String): DataFrame =
      df.groupBy(col("lang")).agg(count(lit(1)).as(as))
    countBy(gate, "n_gated")
      .join(countBy(novel, "n_novel"), Seq("lang"), "left")
      .join(countBy(fin, "n_final"), Seq("lang"), "left")
      .select(col("lang"), col("n_gated"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(col("n_final"), lit(0L)).as("n_final"))
  }

  /** Per-stratum funnel over `docs(doc_id, lang, text, …)` and
    * `embs(vec_id, embedding)` with `doc_id == vec_id` row identity. */
  def funnel(docs: DataFrame, embs: DataFrame,
      threshold: Double = 0.9, nCells: Int = 16): DataFrame = {
    val gate = TextAnalysis.lrQuality(docs)
      .where(col("pass") === 1)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"))
    val gatedVecs = gate
      .join(embs.select(col("vec_id"), col("embedding")),
        gate("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val semKept = Similarity.semanticDedup(gatedVecs, threshold, nCells)
      .where(col("kept") === 1)
      .join(gate, col("vec_id") === gate("doc_id"))
      .select(col("vec_id"), col("lang"))
    val fin = Sampling.temperatureSample(semKept, col("lang"), col("vec_id"))
    def countBy(df: DataFrame, as: String): DataFrame =
      df.groupBy(col("lang")).agg(count(lit(1)).as(as))
    countBy(gate, "n_gated")
      .join(countBy(semKept, "n_semantic"), Seq("lang"), "left")
      .join(countBy(fin, "n_final"), Seq("lang"), "left")
      .select(col("lang"), col("n_gated"),
        coalesce(col("n_semantic"), lit(0L)).as("n_semantic"),
        coalesce(col("n_final"), lit(0L)).as("n_final"))
  }

  /** Distribution-DRIFT monitor between a standing corpus and an arriving
    * batch — the monitoring rung every growing-corpus pipeline here feeds
    * (cross-corpus dedup, BM25 append, streaming novelty) but nothing yet
    * measured: per declared feature, the Population Stability Index
    * `PSI = Σ_bins (p − q) · ln(p / q)` of the batch's bin distribution
    * `p` against the standing corpus's `q`, with add-one smoothing over
    * the union-bin table so a bin present on only one side contributes a
    * finite, deterministic term instead of ±∞. One row per feature:
    * `(feature, n_bins, psi)`. Published monitoring folklore reads
    * PSI < 0.1 as stable, 0.1–0.25 as drifting, > 0.25 as shifted — the
    * returned value is the raw index; thresholds belong to the caller.
    *
    * Scale shape: ONE corpus scan per side for ALL features — each row
    * explodes to its (feature, bin) pairs and one map-side-combined count
    * aggregate reduces them to the bin table; everything after (the
    * full-outer bin alignment, the per-feature totals window, the PSI
    * roll-up) runs at bin cardinality, metadata-scale. No corpus-scale
    * join or window anywhere, no per-feature rescans.
    *
    * Determinism: per-bin contributions quantize to integers (×10⁶,
    * round-half-up) before the final sum — the [[TextAnalysis.lrTrain]]
    * gradient discipline — so the cross-bin accumulation is order-free
    * exact integer arithmetic and the one `ln` per bin is absorbed by the
    * quantization; the result rounds to 6. Bin values compare as strings
    * inside one engine only (labels never cross engines — the oracle
    * groups its own native values, and any injective rendering partitions
    * rows identically). */
  def drift(standing: DataFrame, batch: DataFrame,
      features: Seq[(String, Column)]): DataFrame = {
    requireFeatures(features)
    psiFromCounts(binCounts(standing, features, "cs"),
      binCounts(batch, features, "cb"))
  }

  private def requireFeatures(features: Seq[(String, Column)]): Unit = {
    require(features.nonEmpty, "drift needs at least one feature")
    val dups = features.groupBy(_._1).collect { case (n, fs) if fs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate drift feature names ${dups.toSeq.sorted.mkString(", ")} — " +
        "two expressions under one name would silently double-count its bins")
  }

  /** One corpus scan → the (feature, bin) count table for all features.
    *
    * Bin rendering is `N` for NULL, `V<value>` otherwise — injective over
    * values INCLUDING null, so a nullable feature forms exactly one null
    * bin that ALIGNS across the two sides of [[psiFromCounts]]'s
    * full-outer join (a bare cast would render null as a null join key,
    * which never matches itself, splitting one non-drifting null bin into
    * two phantom one-sided bins and inflating PSI). [[driftFeatureSql]]
    * mirrors the same rendering. The rendered bin IS the persisted
    * format of every drift index (the `V` prefix lands in the stored
    * count tables), so an index persisted under the pre-sentinel
    * raw-cast rendering never joins these bins — EVERY bin would split
    * into one-sided phantoms, for every feature, nullable or not. That
    * is why drift indexes carry a format marker
    * ([[requireIndexFormat]]): old layouts fail loudly instead of
    * silently inflating PSI; rebuild them with [[buildDriftIndex]]. */
  private def binCounts(df: DataFrame, features: Seq[(String, Column)],
      as: String): DataFrame =
    df.select(explode(array(features.map { case (name, bin) =>
        struct(lit(name).as("feature"),
          when(bin.isNull, lit("N"))
            .otherwise(concat(lit("V"), bin.cast("string"))).as("bin"))
      }: _*)).as("fb"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
      .agg(count(lit(1)).as(as))

  /** The PSI roll-up over two bin-count tables — everything here runs at
    * bin cardinality (metadata-scale). */
  private def psiFromCounts(standing: DataFrame, batch: DataFrame): DataFrame = {
    val j = standing
      .join(batch, Seq("feature", "bin"), "full_outer")
      .select(col("feature"), coalesce(col("cs"), lit(0L)).as("cs"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val byF = org.apache.spark.sql.expressions.Window.partitionBy(col("feature"))
    val p = (col("cb") + lit(1.0)) / (col("tb") + col("nb"))
    val q = (col("cs") + lit(1.0)) / (col("ts") + col("nb"))
    j.select(col("feature"), col("cs"), col("cb"),
        sum(col("cs")).over(byF).as("ts"), sum(col("cb")).over(byF).as("tb"),
        count(lit(1)).over(byF).as("nb"))
      .groupBy(col("feature"))
      .agg(first(col("nb")).as("n_bins"),
        round(sum(round((p - q) * log(p / q) * lit(1000000)).cast("long")) /
          lit(1000000.0), 6).as("psi"))
      .orderBy(col("feature"))
  }

  /** Persist the standing corpus's per-feature bin HISTOGRAMS — the drift
    * monitor's standing state. One corpus scan total ([[drift]]'s
    * binCounts); the artifact is the bin table itself (bin cardinality,
    * metadata-scale), written as the `ingest=-1` seed partition so
    * [[appendToDriftIndex]] can grow it additively. Per-arrival probes
    * ([[driftAgainstIndex]], [[graft.streaming.Streams.driftMonitor]])
    * never rescan the standing corpus. Feature NAMES are stored with the
    * counts and contract-checked at probe time; the bin EXPRESSIONS are
    * the caller's contract, keyed by those names (an expression can't be
    * persisted — redeclaring a name with different binning is the one
    * misuse this can't catch, so keep feature definitions in one place). */
  def buildDriftIndex(standing: DataFrame, features: Seq[(String, Column)],
      dir: String): Unit = {
    requireFeatures(features)
    binCounts(standing, features, "cs")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/ingest=-1")
    // Marker LAST: a build that crashed before finishing never carries
    // one, and probes refuse markerless layouts instead of reading a
    // half-written (or pre-sentinel-rendering) index.
    writeFormatMarker(standing.sparkSession, dir)
  }

  /** Persisted drift-index layout version. 2 = the null-sentinel bin
    * rendering (`N`/`V<value>`, [[binCounts]]); version 1 (bare-cast
    * bins) predates the marker entirely — its indexes have no marker
    * file and are refused at probe/append/purge time, because v1 bins
    * never join v2 bins and the mismatch would read as silent PSI
    * inflation on every feature rather than an error. */
  private val driftFormatVersion = 2
  private val formatMarkerName = "_GRAFT_DRIFT_FORMAT"

  private def writeFormatMarker(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, formatMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$driftFormatVersion\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Fail-loud layout gate for every drift-index read path: a missing or
    * mismatched marker means the stored bins were rendered under a
    * different (or unknown) scheme and would full-outer-join the probe's
    * bins as disjoint phantoms — the one failure mode that looks like
    * drift instead of looking like an error. Metadata-scale: one FS
    * stat + a ≤16-byte read. */
  private def requireIndexFormat(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, formatMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"drift index at $dir has no $formatMarkerName marker — it was " +
        "built by a pre-format-v2 engine (bare-cast bins) or its build " +
        "never completed; rebuild it with buildDriftIndex (probing it " +
        "would silently inflate PSI on every feature)")
    val in = fs.open(p)
    val stored =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    require(stored == driftFormatVersion.toString,
      s"drift index at $dir is layout v$stored; this engine reads " +
        s"v$driftFormatVersion — rebuild it with buildDriftIndex")
  }

  /** GROW the standing histograms by an arriving batch — histograms are
    * count-additive, so growth is one batch scan plus a bin-cardinality
    * write; the standing corpus is never rescanned and existing index
    * partitions are never rewritten. The batch lands as its own
    * `ingest=<id>` partition (batchId-keyed overwrite → a crash-replayed
    * micro-batch rewrites its own partition with identical data, the
    * noveltyIngest discipline); probes sum across partitions at read,
    * still bin-scale work. Fails loudly if the batch's feature names
    * don't match the index's. */
  def appendToDriftIndex(batch: DataFrame, features: Seq[(String, Column)],
      dir: String, ingestBatch: Long): Unit = {
    require(ingestBatch >= 0,
      s"ingest batch id $ingestBatch is negative — -1 is the seed partition")
    requireIndexFormat(batch.sparkSession, dir)
    requireIndexFeatures(batch.sparkSession.read.parquet(dir), dir, features)
    binCounts(batch, features, "cs")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/ingest=$ingestBatch")
  }

  /** Calibrated drift GATE over a PSI table ([[drift]] /
    * [[driftAgainstIndex]] output) — the actionable rung the raw index
    * lacks: per feature, band the PSI against thresholds into `stable`
    * (< warn), `drifting` ([warn, shift)), or `shifted` (≥ shift). The
    * defaults are the published monitoring folklore (0.1 / 0.25);
    * `thresholds` overrides per feature name (a high-cardinality feature
    * legitimately tolerates more PSI than a 3-bin one). One
    * metadata-scale projection — the input is already bin-cardinality.
    * Fails loudly on a malformed override (warn ≥ shift); an override
    * key naming no input feature is inert — the gate output lists every
    * feature with its band, so a missing override is visible there. */
  def driftGate(psi: DataFrame, warn: Double = 0.1, shift: Double = 0.25,
      thresholds: Map[String, (Double, Double)] = Map.empty): DataFrame = {
    require(warn < shift, s"warn $warn must be < shift $shift")
    thresholds.foreach { case (f, (w, sh)) =>
      require(w < sh, s"feature $f: warn $w must be < shift $sh")
    }
    val warnC = thresholds.foldLeft(lit(warn)) { case (acc, (f, (w, _))) =>
      when(col("feature") === f, lit(w)).otherwise(acc)
    }
    val shiftC = thresholds.foldLeft(lit(shift)) { case (acc, (f, (_, sh))) =>
      when(col("feature") === f, lit(sh)).otherwise(acc)
    }
    psi.select(col("feature"), col("n_bins"), col("psi"),
      when(col("psi") < warnC, lit("stable"))
        .when(col("psi") < shiftC, lit("drifting"))
        .otherwise(lit("shifted")).as("band"))
  }

  /** The [[driftGate]] banding as DuckDB SQL over a PSI-bearing SELECT —
    * thresholds (including per-feature overrides) must be rendered
    * identically on both sides (literal doubles compared against the
    * 6-rounded psi). */
  def driftGateSql(psiSql: String, warn: Double = 0.1, shift: Double = 0.25,
      thresholds: Map[String, (Double, Double)] = Map.empty): String = {
    def bandCase(w: Double, sh: Double): String =
      s"CASE WHEN psi < $w THEN 'stable' WHEN psi < $sh THEN 'drifting' " +
        "ELSE 'shifted' END"
    val banded = thresholds.toSeq.sortBy(_._1).foldRight(bandCase(warn, shift)) {
      case ((f, (w, sh)), acc) =>
        s"CASE WHEN feature = '$f' THEN ${bandCase(w, sh)} ELSE $acc END"
    }
    s"""SELECT feature, n_bins, psi, $banded AS band
       | FROM ($psiSql)""".stripMargin
  }

  /** PURGE docs from the standing histograms — the takedown verb of the
    * drift family ([[graft.operators.Purge]] module overview): histograms
    * are COUNT-ADDITIVE, so removal is one scan of the purged rows and a
    * bin-cardinality write of NEGATED counts as a `purge` delta partition
    * (`ingest=-(2 + purgeId)` — the id space below the build's -1 seed);
    * probes sum across partitions unchanged and see exactly the
    * histograms of a corpus that never held the docs. Nothing standing
    * is rescanned or rewritten, and a replayed purge (same purgeId, same
    * rows) overwrites its own partition idempotently.
    *
    * The caller supplies the PURGED ROWS (with their feature columns),
    * not ids: histograms hold no per-doc state to subtract from, and a
    * takedown pipeline deletes the rows from the corpus store anyway —
    * pass the same rows here first. Fails loudly (and removes its delta)
    * if the subtraction would drive any bin negative: that means the
    * claimed rows were never counted into this index, and a silently
    * negative bin would poison every later PSI. */
  def purgeFromDriftIndex(purgedRows: DataFrame,
      features: Seq[(String, Column)], dir: String, purgeId: Long): Unit = {
    require(purgeId >= 0, s"purge id $purgeId is negative")
    requireFeatures(features)
    val spark = purgedRows.sparkSession
    requireIndexFormat(spark, dir)
    requireIndexFeatures(spark.read.parquet(dir), dir, features)
    val part = s"$dir/ingest=${-(2 + purgeId)}"
    binCounts(purgedRows, features, "cs")
      .select(col("feature"), col("bin"), (-col("cs")).as("cs"))
      .repartition(1)
      .write.mode("overwrite").parquet(part)
    // bin-cardinality validation read — metadata-scale, like every probe
    val neg = spark.read.parquet(dir)
      .groupBy(col("feature"), col("bin")).agg(sum(col("cs")).as("c"))
      .where(col("c") < 0).limit(1).collect()
    if (neg.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(part)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      throw new IllegalArgumentException(
        s"purgeFromDriftIndex: purging would drive bin ${neg.head} negative " +
          s"— the claimed rows were never (all) counted into $dir; delta " +
          "removed, index unchanged")
    }
  }

  /** Fold a drift index's accumulated `ingest=` partitions (grown batch
    * deltas AND negated purge deltas alike) into one re-summed seed
    * partition (−1) — the append-side compaction verb: histograms are
    * count-additive, so the fold is one bin-cardinality aggregation, and
    * bins whose total reached zero (fully departed via purge deltas)
    * drop, matching [[driftAgainstIndex]]'s read-time discipline exactly
    * — probe results are identical before and after (spec-pinned).
    * Two-phase commit via [[Purge.rewritePartitions]]; the format marker
    * is untouched. Streaming caveat for [[graft.streaming.Streams
    * .driftMonitor]]`(grow = true)` state (Layout.compactKeyed's):
    * compact only while the stream is stopped and past its last
    * checkpoint commit — a crash-replayed grown micro-batch would
    * re-append counts the base already holds and could no longer
    * exclude its own partition from its replay probe. */
  def compactDriftIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    requireIndexFormat(spark, dir)
    Purge.repairPartitionRewrite(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest=")).sorted
    if (parts.size <= 1) return // already a single seed
    val folded = spark.read.parquet(parts.map(p => s"$dir/$p"): _*)
      .groupBy(col("feature"), col("bin")).agg(sum(col("cs")).as("cs"))
      .where(col("cs") > 0)
      .repartition(1)
    val repl: Seq[(String, Option[DataFrame])] =
      ("ingest=-1" -> Some(folded)) +:
        parts.filter(_ != "ingest=-1").map(p => p -> Option.empty[DataFrame])
    Purge.rewritePartitions(spark, dir, repl)
  }

  /** PSI of an arriving batch against the PERSISTED standing histograms —
    * the per-arrival form: one scan of the BATCH (all features at once),
    * one metadata-scale read of the index, nothing standing-corpus-scale
    * anywhere. Fails loudly if the probe's declared feature names don't
    * exactly match the index's (a probe binning features the index never
    * counted — or missing one it did — would silently compare different
    * monitors). */
  def driftAgainstIndex(indexDir: String, batch: DataFrame,
      features: Seq[(String, Column)],
      excludeIngestBatch: Option[Long] = None): DataFrame = {
    requireFeatures(features)
    requireIndexFormat(batch.sparkSession, indexDir)
    val raw = batch.sparkSession.read.parquet(indexDir)
    requireIndexFeatures(raw, indexDir, features)
    // own-partition exclusion (replay exactness): a crash-replayed grown
    // micro-batch must never score against counts it appended itself
    val visible = excludeIngestBatch match {
      case Some(id) => raw.where(col("ingest") =!= id)
      case None => raw
    }
    // sum across ingest partitions — bin-cardinality work. Bins whose
    // total reaches ZERO (every member purged via purgeFromDriftIndex's
    // negated deltas) drop: a never-seen bin and a fully-departed bin
    // must read identically, or purged histograms would diverge from
    // recounted-without ones by phantom zero bins.
    val idx = visible.groupBy(col("feature"), col("bin"))
      .agg(sum(col("cs")).as("cs"))
      .where(col("cs") > 0)
    psiFromCounts(idx, binCounts(batch, features, "cb"))
  }

  /** The probe/append feature contract: names must exactly match the
    * index's. Metadata-scale action (distinct feature names, never bins). */
  private def requireIndexFeatures(idx: DataFrame, dir: String,
      features: Seq[(String, Column)]): Unit = {
    val have = idx.select(col("feature")).distinct()
      .collect().map(_.getString(0)).toSet
    val want = features.map(_._1).toSet
    require(have == want,
      s"drift index at $dir covers features ${have.toSeq.sorted} but " +
        s"the probe declares ${want.toSeq.sorted} — rebuild the index or " +
        "align the probe (bin expressions are keyed by these names)")
  }

  /** Oracle SQL replaying [[drift]] for one feature as a SELECT (callers
    * UNION ALL the features and ORDER BY outside). `binExpr` must be the
    * DuckDB rendering of the feature's bin expression; `standingSql` /
    * `batchSql` the two corpus terms. Mirrors [[binCounts]]'s null-safe
    * bin rendering (`N` / `V<value>`) so a nullable feature's null bin
    * aligns across the FULL JOIN instead of splitting (USING(bin) never
    * matches null to null, same as the engine-side Seq-join). */
  def driftFeatureSql(feature: String, binExpr: String,
      standingSql: String, batchSql: String): String = {
    val binKey = s"CASE WHEN ($binExpr) IS NULL THEN 'N' " +
      s"ELSE 'V' || CAST($binExpr AS VARCHAR) END"
    s"""SELECT '$feature' AS feature, n_bins, round(raw, 6) AS psi FROM (
       |  SELECT CAST(count(*) AS BIGINT) AS n_bins,
       |    sum(CAST(round(((cb+1.0)/(tb+nb) - (cs+1.0)/(ts+nb)) *
       |      ln(((cb+1.0)/(tb+nb)) / ((cs+1.0)/(ts+nb))) * 1000000)
       |      AS BIGINT)) / 1000000.0 AS raw
       |  FROM (
       |    SELECT coalesce(cs, 0) AS cs, coalesce(cb, 0) AS cb,
       |      sum(coalesce(cs, 0)) OVER () AS ts,
       |      sum(coalesce(cb, 0)) OVER () AS tb,
       |      count(*) OVER () AS nb
       |    FROM (SELECT $binKey AS bin, count(*) AS cs
       |          FROM $standingSql GROUP BY 1) s
       |    FULL JOIN (SELECT $binKey AS bin, count(*) AS cb
       |          FROM $batchSql GROUP BY 1) b USING (bin)
       |  ) j)""".stripMargin
  }

  /** END-TO-END release funnel (r16, re-based PER-LANGUAGE in r17): the
    * composition a corpus RELEASE actually runs, gate-first (cheapest
    * row properties first):
    *   1. LR quality gate ([[TextAnalysis.lrQuality]] pass) — pure
    *      projection;
    *   2. per-language statistical LM gate — each document scored under
    *      its OWN language's order-2 model ([[LangModelMl.pplNMl]])
    *      against that language's CALIBRATED cut
    *      ([[LangModelMl.cutsFromSelfScores]]:
    *      train self-score mean + `offsetMicro`, exact integer
    *      micro-units — the CCNet shape) with the EXPLICIT zero-token
    *      policy: a quality survivor with no token under the
    *      Unicode-aware class PASSES THROUGH and is counted in
    *      `n_zero_tok`, never silently dropped;
    *   3. typed PII redaction ([[Pii.redact]]; finding density reported,
    *      docs NOT dropped — redaction is the remedy);
    *   4. exact dedup over the REDACTED text ([[Dedup.exact]]) — two
    *      docs differing only in their PII spans collapse, because the
    *      release artifact is the redacted text.
    * Output per language: n_in → n_quality → (n_zero_tok pass-throughs
    * and n_unmodeled not-assessable residue, both among quality
    * survivors) → n_lm → n_pii_docs (informational, among LM survivors)
    * → n_unique. Every stage is the already-proven
    * operator — this row pins the COMPOSITION's exact semantics, not
    * new kernels. */
  def release(corpus: DataFrame, lmTrain: DataFrame,
      offsetMicro: Long): DataFrame =
    releaseN(corpus, lmTrain, offsetMicro, 2)

  /** The release funnel RE-BASED on the ORDER-5 per-language model (r19
    * — CCNet's production KenLM order, composed end to end): identical
    * stages, but the statistical gate scores every document under its
    * own language's 5-gram Stupid Backoff model and the per-lang cuts
    * calibrate on the train corpus's ORDER-5 self-scores (which sit
    * LOWER than order-2 — deeper contexts are attested in-corpus — so
    * the offset is its own measured constant, not order-2's: EXPLAIN.md
    * "Round 19: the release funnel on the order-5 per-language model"). */
  def release5(corpus: DataFrame, lmTrain: DataFrame,
      offsetMicro: Long): DataFrame =
    releaseN(corpus, lmTrain, offsetMicro, 5)

  /** The release funnel at model order `n` — ONE body for every order
    * ([[release]] runs it at 2, [[release5]] at 5): `n` vocabulary-scale
    * count tables pinned eagerly, then ONE scoring pass over the train
    * self-scores and the corpus ([[release5Scores]]), pinned once: the
    * cuts come from side 0, the corpus scores from side 1, and
    * [[releaseWith]] runs the funnel. */
  private def releaseN(corpus: DataFrame, lmTrain: DataFrame,
      offsetMicro: Long, n: Int): DataFrame = {
    // the train corpus is tokenized ONCE (r19 shared-tokenization seam):
    // an order-n chain consumes the token arrays n + 1 times (n gram
    // tables + the self-score stream), and re-running the regex
    // tokenizer per consumer was the dominant measured cost (MicroTime:
    // 36 -> 21 s warm at sf0.1). One row per train doc — the reference
    // corpus, not the release corpus, so the pin is train-scale.
    // CORPUS-scale pins go DISK_ONLY (r19 follow-up): the token arrays
    // and the deep-order gram tables grow with the corpus, not the
    // vocabulary — an order-5 table is near one row per token position
    // (count-1 tail), and pinning them on-heap starved execution memory
    // at 10x sf0.1 under the 8g harness heap (UNABLE_TO_ACQUIRE_MEMORY
    // in the score aggregate). DISK_ONLY blocks live outside the
    // unified pool (re-reads ride the OS page cache), which is exactly
    // the executor-local-spill shape a 1000-executor run needs; the
    // uni/bi tables stay memory-resident (genuinely vocabulary-scale).
    val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val toked = LangModelMl.tokenizedMl(lmTrain).localCheckpoint(true, disk)
    // the gram aggregates are independent reads of the (eagerly
    // materialized) tokenized frame — overlap them (guide §2.6) instead
    // of paying n sequential stage tails. Width 2, NOT n: these are
    // CORPUS-scale aggregates (the count-1 tail makes an order-5 table
    // near one row per token position), and five concurrent deep
    // aggregates exhausted the execution pool at 10× sf0.1 under the
    // 8 g harness heap (UNABLE_TO_ACQUIRE_MEMORY — measured this round;
    // width 2 keeps the straggler-tail overlap and passes 10×).
    // NOT two-level/salted (r20 negative result, measured): re-aggregating
    // the order-4/5 tables as (gsalt, lang, gram) partials then exact
    // finals — the guide §2.5 skew prescription — heap-OOM'd at 10×/8 g
    // on its first rep, while this one-level form passed 3 consecutive
    // reps (160–171 s). A deep-order table is count-1-tail (near one row
    // per token position), so the salted first level emits ≈ its input
    // and the extra exchange + second aggregate only ADD peak state;
    // there is no hot-key reducer to split — the hash of the full
    // (lang, w1..wk) key already spreads. The salted form is deleted;
    // EXPLAIN.md keeps the measurement.
    val tables = Par.run((1 to n).map(k => () =>
      if (k <= 2) LangModelMl.gramCountsMlFromTs(toked, k).localCheckpoint(true)
      else LangModelMl.gramCountsMlFromTs(toked, k).localCheckpoint(true, disk)),
      maxThreads = 2)
    releaseWith(corpus, scoreable => {
      // pinned: the cuts and the corpus scores both read it. DISK_ONLY —
      // one narrow row per train + corpus doc (the flag-table argument)
      val scored = release5Scores(toked, tables, scoreable)
        .localCheckpoint(true, disk)
      (scored.where(col("side") === 1),
        LangModelMl.cutsFromSelfScores(scored.where(col("side") === 0),
          offsetMicro))
    })
  }

  /** The release funnel's one scoring pass, unpinned: the tokenized
    * train frame (`side = 0`) and the scoreable corpus docs (`side = 1`)
    * through one chain at the order of `tables` (lowest first) — (side,
    * doc_id, lang, xent). `side` keeps a train doc and a corpus doc
    * sharing a doc_id apart ([[LangModel.scoreStreamN]]'s
    * one-sequence-per-key precondition). */
  private[graft] def release5Scores(toked: DataFrame, tables: Seq[DataFrame],
      scoreable: DataFrame): DataFrame = {
    val sides = toked.select(lit(0).as("side"), col("*")).unionAll(
      LangModelMl.tokenizedMl(scoreable).select(lit(1).as("side"), col("*")))
    LangModelMl.scoreStreamNMlFromTs(sides, tables, tables.size)
      .select(col("side"), col("doc_id"), col("lang"), col("xent"))
  }

  /** THE pinned release kernel against a pluggable per-language scorer
    * (r19 — one kernel, every model order): `scorer` maps the
    * quality-surviving scoreable docs (doc_id, text, lang) to their
    * (doc_id, xent) under each doc's own language's model and the
    * per-lang cuts (lang, cut_micro) — fixed for the stream monitors,
    * derived in the scoring pass for [[release]]/[[release5]]. All
    * release rows — column-keyed, prediction-keyed, streaming, order-2
    * and order-5 — ride THIS function, so the funnel semantics can never
    * fork by entry point. Pure function of its inputs: one batch scan +
    * vocabulary-scale model joins. */
  private[graft] def releaseWith(corpus: DataFrame,
      scorer: DataFrame => (DataFrame, DataFrame)): DataFrame = {
    val flagged = corpus.select(col("doc_id"), col("text"), col("lang"),
      (TextAnalysis.lrScore() >= 0.5).cast("int").as("q_pass"),
      LangModelMl.zeroTok(col("text")).as("zt"))
    val (scores, cuts) = scorer(
        flagged.where(col("q_pass") === 1 && col("zt") === 0)
          .select(col("doc_id"), col("text"), col("lang")))
    val st = flagged.join(scores.select(col("doc_id"), col("xent")),
        Seq("doc_id"), "left")
      // null-safe on lang, matching releaseSql's IS NOT DISTINCT FROM —
      // see the LangModelMl.gateMl cut-join note (r18)
      .join(broadcast(cuts.withColumnRenamed("lang", "lang_cut")),
        col("lang") <=> col("lang_cut"), "left")
      .drop("lang_cut")
      .withColumn("lm_kept",
        (col("q_pass") === 1 && (col("zt") === 1 ||
          (col("xent").isNotNull &&
            round(col("xent") * 1e6).cast("long") <= col("cut_micro"))))
          .cast("int"))
      // redaction + finding flag fold into the SAME projection. The
      // dedup downstream only ever consumes md5(redacted text) — the
      // keep set groups by the digest, never the text — so the flag
      // table carries the 32-byte DIGEST, not the redacted text itself
      // (r19 optimization round, guide §2.3/§8: every post-decision
      // stage operates on a lightweight proxy; the checkpoint below
      // shrinks from corpus-bytes to ~flag-width per row while the
      // grouping stays byte-identical — md5 over the same strings).
      .withColumn("rh",
        when(col("lm_kept") === 1, md5(Pii.redactText(col("text")))))
      .withColumn("has_pii",
        when(col("lm_kept") === 1, Pii.anyPii(col("text"))).otherwise(0))
      .drop("text")
      // the flag table feeds BOTH the dedup keep set and the funnel —
      // pinned so the gate/score/redact chain over the corpus runs ONCE
      // (the r16 collapse kept the chain cheap enough to recompute, the
      // per-lang calibrated chain is not). DISK_ONLY: corpus-CARDINALITY
      // (narrow flags + digest now, no text), so its blocks stay out of
      // the unified pool — re-reads ride the OS page cache (r19)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val keeps = st.where(col("lm_kept") === 1)
      .groupBy(col("rh")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("is_keep"))
    st.join(keeps, Seq("doc_id"), "left")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_in"),
        sum(col("q_pass").cast("long")).as("n_quality"),
        sum((col("q_pass") === 1 && col("zt") === 1).cast("long"))
          .as("n_zero_tok"),
        // quality survivors with tokens whose lang has NO trained model —
        // not kept (can't be assessed), but COUNTED: the funnel's one
        // remaining residue made explicit, never a silent drop
        sum((col("q_pass") === 1 && col("zt") === 0 && col("xent").isNull)
          .cast("long")).as("n_unmodeled"),
        sum(col("lm_kept").cast("long")).as("n_lm"),
        sum(col("has_pii").cast("long")).as("n_pii_docs"),
        sum(coalesce(col("is_keep"), lit(0)).cast("long")).as("n_unique"))
  }

  /** Persist the calibrated per-lang cuts for the streaming release
    * funnel (r18; SHAPE-AWARE r19): the train corpus self-scored under
    * the PERSISTED `tok=ml` model at `modelDir` — at the model's OWN
    * marker-declared order, so an `order=5` layout calibrates on order-5
    * self-scores (CCNet's production gate) and an order-2 layout on
    * order-2 ones — per-lang exact-integer-micro means + offset,
    * a one-row-per-language parquet at `cutsDir`, the artifact
    * [[graft.streaming.Streams.releaseMonitor]] reads once per run.
    * Calibration is a one-time (re)run whenever the standing model is
    * rebuilt; the monitor itself never rescans the train corpus. */
  def writeReleaseCuts(lmTrain: DataFrame, modelDir: String,
      offsetMicro: Long, cutsDir: String): Unit = {
    val sess = LangModel.openLmSession(lmTrain.sparkSession, modelDir)
    try {
      require(sess.ml,
        s"writeReleaseCuts: the model at $modelDir is the plain-tokenizer " +
          "layout — release cuts are per-language (tok=ml)")
      LangModelMl.cutsFromSelfScores(sess.score(lmTrain), offsetMicro)
        .coalesce(1).write.mode("overwrite").parquet(cutsDir)
    } finally sess.close()
  }

  /** PREDICTION-KEYED release funnel (r18): a real CCNet pipeline runs
    * langid FIRST and keys the per-language models, cuts and funnel on
    * the PREDICTION — `cur_release` trusting the corpus's `lang` column
    * was the r17 verdict's gap: a mislabeled document would train and
    * gate under the wrong language's model. This re-keys BOTH the train
    * corpus and the release corpus by [[TextAnalysis.langIdPred]] (one
    * codegen'd projection each — script rules first, word-profile argmax
    * else) and runs the IDENTICAL [[release]] composition, so the funnel
    * rows are per PREDICTED language and a Han document claiming
    * `lang='en'` is trained, cut and gated as zh. */
  def releaseIded(corpus: DataFrame, lmTrain: DataFrame,
      offsetMicro: Long): DataFrame = {
    def keyed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      TextAnalysis.langIdPred(col("text")).as("lang"))
    release(keyed(corpus), keyed(lmTrain), offsetMicro)
  }

  /** The FULL CCNet production composition (r19): langid FIRST
    * ([[TextAnalysis.langIdPred]] keys both corpora), then the ORDER-5
    * per-language model and its order-5-calibrated cuts — the keying ×
    * order matrix's last cell ([[releaseIded]] is keyed × order-2,
    * [[release5]] column-keyed × order-5). Same pinned kernel. */
  def releaseIded5(corpus: DataFrame, lmTrain: DataFrame,
      offsetMicro: Long): DataFrame = {
    def keyed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      TextAnalysis.langIdPred(col("text")).as("lang"))
    release5(keyed(corpus), keyed(lmTrain), offsetMicro)
  }

  private def keyedSql(sql: String, alias: String) =
    s"""(SELECT doc_id, text, ${TextAnalysis.langIdExprSql()} AS lang
       |  FROM $sql $alias)""".stripMargin

  /** Oracle for [[releaseIded]]: [[releaseSql]] over both corpora with
    * `lang` replaced by the inlined [[TextAnalysis.langIdExprSql]]
    * prediction. */
  def releaseIdedSql(corpusSql: String, trainSql: String,
      offsetMicro: Long): String =
    releaseSql(keyedSql(corpusSql, "ki"), keyedSql(trainSql, "kt"),
      offsetMicro)

  /** Oracle for [[releaseIded5]]: the order-5 funnel oracle over the
    * prediction-keyed corpora. */
  def releaseIded5Sql(corpusSql: String, trainSql: String,
      offsetMicro: Long): String =
    release5Sql(keyedSql(corpusSql, "ki"), keyedSql(trainSql, "kt"),
      offsetMicro)

  /** Oracle for [[release]]: the LR pass formula, the [[LangModelMl
    * .pplMlSql]] chain over the train corpus (self-scores → calibrated
    * per-lang cuts) and over the scoreable quality survivors, the
    * zero-token pass-through, the inlined redaction / any-finding
    * expressions, and the md5 keep-min dedup — all composed as one
    * statement. `corpusSql` / `trainSql` are BOTH parenthesized
    * (doc_id, text, lang) SELECTs. */
  def releaseSql(corpusSql: String, trainSql: String,
      offsetMicro: Long): String =
    releaseSqlWith(corpusSql, trainSql, offsetMicro, LangModelMl.pplMlSql)

  /** Oracle for [[release5]]: the identical funnel statement with both
    * scoring chains replayed through the generic ORDER-5 lang-keyed
    * recursion ([[LangModel.pplNSqlGeneric]]) — one oracle body, every
    * model order (r19). */
  def release5Sql(corpusSql: String, trainSql: String,
      offsetMicro: Long): String =
    releaseSqlWith(corpusSql, trainSql, offsetMicro,
      (tr, sc) => LangModel.pplNSqlGeneric(tr, sc, 5, ml = true))

  private def releaseSqlWith(corpusSql: String, trainSql: String,
      offsetMicro: Long, ppl: (String, String) => String): String =
    s"""WITH corpus AS (SELECT * FROM $corpusSql c),
       | q AS (SELECT doc_id, text, lang FROM corpus
       |  WHERE ${TextAnalysis.lrScoreExprSql()} >= 0.5),
       | selfsc AS (
       |  ${ppl(trainSql, trainSql)}
       | ),
       | cuts AS (${LangModelMl.cutsSqlOver("selfsc", offsetMicro)}),
       | lmsc AS (
       |  ${ppl(trainSql,
            s"(SELECT doc_id, text, lang FROM q WHERE ${LangModelMl.zeroTokExprSql()} = 0)")}
       | ),
       | lmk AS (SELECT q.* FROM q
       |         LEFT JOIN lmsc ON q.doc_id = lmsc.doc_id
       |         LEFT JOIN cuts cc ON cc.lang IS NOT DISTINCT FROM q.lang
       |         WHERE ${LangModelMl.zeroTokExprSql("q.text")} = 1
       |            OR (lmsc.xent IS NOT NULL AND
       |                CAST(round(lmsc.xent * 1000000) AS BIGINT) <= cc.cut_micro)),
       | red AS (SELECT doc_id, lang, ${Pii.redactExprSql()} AS rtext,
       |                ${Pii.anyPiiExprSql()} AS has_pii
       |         FROM lmk),
       | keeps AS (SELECT CAST(min(doc_id) AS BIGINT) AS keep_id
       |           FROM red GROUP BY md5(rtext)),
       | uniq AS (SELECT r.lang FROM red r JOIN keeps k ON r.doc_id = k.keep_id)
       | SELECT c.lang, CAST(count(*) AS BIGINT) AS n_in,
       |   coalesce((SELECT CAST(count(*) AS BIGINT) FROM q WHERE q.lang IS NOT DISTINCT FROM c.lang), 0) AS n_quality,
       |   coalesce((SELECT CAST(count(*) AS BIGINT) FROM q WHERE q.lang IS NOT DISTINCT FROM c.lang AND ${LangModelMl.zeroTokExprSql("q.text")} = 1), 0) AS n_zero_tok,
       |   coalesce((SELECT CAST(count(*) AS BIGINT) FROM q LEFT JOIN lmsc ON q.doc_id = lmsc.doc_id
       |             WHERE q.lang IS NOT DISTINCT FROM c.lang
       |               AND ${LangModelMl.zeroTokExprSql("q.text")} = 0
       |               AND lmsc.xent IS NULL), 0) AS n_unmodeled,
       |   coalesce((SELECT CAST(count(*) AS BIGINT) FROM lmk WHERE lmk.lang IS NOT DISTINCT FROM c.lang), 0) AS n_lm,
       |   coalesce((SELECT CAST(sum(has_pii) AS BIGINT) FROM red WHERE red.lang IS NOT DISTINCT FROM c.lang), 0) AS n_pii_docs,
       |   coalesce((SELECT CAST(count(*) AS BIGINT) FROM uniq WHERE uniq.lang IS NOT DISTINCT FROM c.lang), 0) AS n_unique
       | FROM corpus c GROUP BY c.lang ORDER BY c.lang""".stripMargin
}
