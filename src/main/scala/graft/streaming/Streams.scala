package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is batch-only MapReduce
  * (SURVEY §2.2 "Streaming: none"), so this whole module is engine
  * extension surface, in two parts:
  *
  *   - the declared event-stream operators over the `events` table shape
  *     (`TESTDATA.md`, SURVEY §2.2): watermarks, tumbling/sliding windows,
  *     session windows, stateful `dropDuplicates` and late-data discard.
  *     Each windowed aggregation has a *batch twin* in `StreamQueries`
  *     that the DuckDB oracle checks; the streaming plans themselves run
  *     end-to-end (file source → availableNow trigger → memory sink) in
  *     `StreamingSpec`, asserting stream results equal the batch twin —
  *     the t1-smoke strategy from SURVEY §5;
  *   - the `foreachBatch` loops over a document or media stream that run
  *     a batch operator per micro-batch against standing state (ingest,
  *     monitors, the curation and signature-dedup loops and their
  *     takedowns), each behind a catalog row or perfbench workload.
  */
object Streams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory/glob of events parquet.
    *
    * Streaming requires an explicit schema, but the data of record has
    * shipped `ts` three ways across regenerations (TIMESTAMP(NANOS),
    * plain int64 nanos, timestamp[us] with no UTC flag → TIMESTAMP_NTZ).
    * Sniff one footer batch-side — a metadata-only read, valid at any
    * scale — and normalize to TimestampType exactly like `Tables`. All
    * files under one stream path must share the sniffed form (the parquet
    * source contract anyway). */
  def eventsStream(spark: SparkSession, pathGlob: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Start-before-first-file: an empty source directory can't be sniffed
    // (no footer) and a zero-match GLOB raises path-not-found — both are
    // the same operational state, so fall back to the explicit
    // nanos-as-long schema — the shipped form the sniff exists to
    // normalize — and start an idle stream.
    val fileSchema =
      try spark.read.parquet(pathGlob).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("Unable to infer schema") ||
              e.getMessage.contains("Path does not exist") ||
              e.getCondition == "PATH_NOT_FOUND" =>
          StructType(eventSchema.map(f =>
            if (f.name == "ts") f.copy(dataType = LongType) else f))
      }
    val raw = spark.readStream.schema(fileSchema).parquet(pathGlob)
    fileSchema("ts").dataType match {
      case LongType => // nanos-as-long; integer div: ns > 2^53
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // session tz is pinned UTC: lossless
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour counts with a 10-minute watermark: late events beyond
    * the watermark are dropped, finalized windows are emitted exactly once
    * (append mode). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 6).as("v"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"), col("v"))

  /** Sliding 1-hour windows every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"))

  /** Session windows: 30-minute inactivity gap per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"), col("n_events"))

  /** Stateful exact dedup on event_id within the watermark horizon —
    * state is bounded by the watermark, so memory is O(events per horizon),
    * not O(stream length). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id", "ts")

  /** Document-stream schema (`TESTDATA.md` `documents`). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory/glob of documents parquet —
    * the arriving-corpus side of the streaming dedup operators. */
  def documentsStream(spark: SparkSession, pathGlob: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(documentSchema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r).parquet(pathGlob)
  }

  /** Right-size shuffle parallelism to the MICRO-BATCH for the duration
    * of one foreachBatch body — the r15 loop-overhead shave (EXPLAIN.md
    * "Round 15: inside the streaming micro-batch"):
    * a 10-doc curation batch runs ~80 Spark jobs, and at the session's
    * 32 shuffle partitions most stages are 32 near-empty tasks whose
    * scheduling IS the batch's cost (interleaved A/B: ~8.6→5.7 s cold,
    * 5.1–6.7→4.3–4.8 s warm at 1 partition, identical results — every
    * operator in these loops is partition-count-invariant and
    * spec-pinned so). The size signal is the LARGER of the batch's INPUT
    * partition count (file-source batches get ~1 partition per small
    * file / maxPartitionBytes slice) and `standingParts`, the caller's
    * standing-state scan parallelism ([[standingScanParts]]) — several
    * bodies shuffle STANDING-scale data (capBuckets over the stored
    * bucket table, appendToBm25Index's full-vocabulary df merge,
    * incrementalClusters' labels join), and capping those at a tiny
    * batch's partition count would collapse corpus-scale reduces to one
    * task (single-task OOM / throughput cliff at real scale — the r16
    * ADVICE finding). Both signals read from plans without running a
    * job; a big batch or corpus keeps the session's full parallelism, so
    * this stays a floor-trim, not a throughput cap. The conf is
    * session-scoped state: set/restore brackets the body (the
    * eagerRelease discipline) and these loops own their session while a
    * batch runs. */
  private def withBatchParallelism[T](batch: Dataset[org.apache.spark.sql.Row],
      standingParts: => Int = 0)(
      body: => T): T = {
    val spark = batch.sparkSession
    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    val cap = prev.flatMap(_.toIntOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val parts = math.max(1, math.min(cap,
      math.max(batch.rdd.getNumPartitions, standingParts)))
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
  }

  /** Refuse a micro-batch that carries a doc_id twice: two documents
    * under one id always mean corrupt input, and the LM loops score one
    * token sequence per doc_id ([[graft.operators.LangModel.pplN]]'s
    * precondition — two docs sharing an id would interleave in the
    * scoring window and read each other's counts). One Spark action over
    * the batch's ids; the message names the lowest repeated id, worded
    * as [[curationLoop]]'s guard. */
  private def requireUniqueIds(b: DataFrame, batchId: Long): Unit = {
    val dup = b.groupBy(col("doc_id")).count().where(col("count") > 1)
      .agg(min(col("doc_id").cast("long"))).head()
    require(dup.isNullAt(0),
      s"batch $batchId carries duplicate doc_id ${dup.getLong(0)}")
  }

  /** Standing-state size signal for [[withBatchParallelism]]: the max
    * scan parallelism across the given parquet dirs, read from the plan
    * (file listing only, no job). A path that doesn't exist yet (first
    * batch of a fresh loop) or isn't readable as parquet contributes
    * nothing — this is a parallelism hint, and the body's own reads
    * fail loudly on genuinely broken state. */
  private def standingScanParts(spark: SparkSession, paths: String*): Int =
    paths.foldLeft(0) { (acc, s) =>
      val p = new org.apache.hadoop.fs.Path(s)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) acc
      else math.max(acc,
        scala.util.Try(spark.read.parquet(s).rdd.getNumPartitions).getOrElse(0))
    }

  /** Streaming EXACT-substring ingest: per micro-batch of arriving
    * documents,
    *   1. probe the standing window INDEX for verbatim ≥L-char overlap
    *      (`Dedup.exactCrossDupIndexed`, excluding this micro-batch's own
    *      partition — see replay note);
    *   2. CUT the matched spans (`Dedup.removeSpans`) and write the
    *      cleaned docs under the batchId-keyed dir
    *      `keepDir/micro_batch=<id>` (overwrite — replays converge);
    *   3. grow the index with the batch's own windows
    *      (`appendToExactWindowIndex` into partition
    *      `ingest_batch=<batchId>`, overwrite — replays converge), so
    *      every LATER batch also dedups against this one.
    *
    * Semantics: arrival order is precedence — standing corpus beats
    * batch 0 beats batch 1 … exactly the "first occurrence keeps" rule
    * `exactSubstringSpans` applies by doc_id within one corpus. Within a
    * micro-batch, docs are cut only against everything EARLIER (batch-
    * internal duplication is the batch operator's job — run
    * `exactSubstringSpans` downstream if arrivals can self-duplicate).
    * The union of per-batch outputs therefore equals the sequential
    * batch computation over the same arrival partition (StreamingSpec
    * asserts the equivalence).
    *
    * Replay exactness (foreachBatch is at-least-once): both writes are
    * batchId-keyed overwrites, and the probe EXCLUDES the index
    * partition this batch id owns — a replayed batch can never
    * self-match the windows its failed attempt already appended, so a
    * replay produces byte-identical output instead of cutting the whole
    * batch to shreds. The index must be owned by this single loop
    * (ingest_batch ids are the stream's batch ids — don't interleave
    * batch-API appends). */
  def exactDedupIngest(
      docs: DataFrame,
      indexDir: String,
      keepDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE window-index session per loop run (r16): manifest read once,
    // standing window keys cached and folded in place per append, probe
    // exclusion as a cache-column filter.
    val index = graft.operators.Dedup.openWindowIndexSession(
      docs.sparkSession, indexDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch,
          standingScanParts(batch.sparkSession, s"$indexDir/windows")) {
        val b = batch.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val spans = graft.operators.Dedup
            .exactCrossDupSession(index, b, excludeIngestBatch = Some(batchId))
          graft.operators.Dedup.removeSpans(b, spans)
            .write.mode("overwrite").parquet(s"$keepDir/micro_batch=$batchId")
          index.append(b, ingestBatch = batchId)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => index.close())
    query
  }

  /** Streaming BM25-index ingest: each arriving micro-batch of documents
    * is appended to a standing [[graft.operators.Retrieval.buildBm25Index]]
    * index — postings land as the batch's own `batch=<id>` partition, df
    * and (n_docs, sum_dl) roll forward as a new committed version — so a
    * retrieval service queries an index that is never more than one
    * micro-batch stale, without ever re-tokenizing the standing corpus.
    *
    * Replay exactness (foreachBatch is at-least-once): ingest batch ids
    * are the stream's batch ids (≥ 0, disjoint from the batch API's
    * negative ids); a replayed batch is detected by its id already being
    * committed, overwrites its own postings partition with the identical
    * data, and leaves df/stats alone — they already include it
    * (`appendToBm25Index`'s replay branch; StreamingSpec asserts
    * stream == one-shot build end to end). The index must be owned by
    * this single loop — don't interleave batch-API appends. */
  def bm25Ingest(
      docs: DataFrame,
      indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE index session per loop run (r16): the version chain the append
    // re-read from the filesystem every micro-batch — df, stats,
    // takedown tables, the batches listing, and the postings-wide
    // id-collision scan — is cached and rolled forward in memory; the
    // loop's documented single-writer ownership is what makes it sound.
    val index = graft.operators.Retrieval.openBm25Session(
      docs.sparkSession, indexDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch,
          standingScanParts(batch.sparkSession, s"$indexDir/postings")) {
        index.append(batch.select(col("doc_id"), col("text")), batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => index.close())
    query
  }

  /** Streaming NOVELTY curation — `Curation.noveltyFunnelSession` run as
    * an ingest loop (the batch operator's `batch` argument was always
    * "arriving" by design; this wires the arrival). Per micro-batch of
    * documents:
    *   1. run the indexed novelty funnel against the standing window
    *      index (gate → novelty floor → temperature rebalance), EXCLUDING
    *      this micro-batch's own index partition, and write the per-lang
    *      funnel counts under `funnelDir/micro_batch=<id>` (overwrite);
    *   2. grow the window index with the FULL batch's windows
    *      (`appendToExactWindowIndex` into `ingest_batch=<id>`,
    *      overwrite), so every LATER batch's novelty is measured against
    *      this one too.
    * The full batch grows the index — not just gate survivors — because
    * novelty is a property of what EXISTS, not of what was curated: text
    * that arrived is no longer novel to later arrivals whether or not
    * the quality gate kept it (the standing corpus the seed indexes was
    * never quality-gated either).
    *
    * Semantics: batch k is scored against standing ∪ batches 0..k−1, so
    * the per-batch funnels equal the SEQUENTIAL batch computation —
    * `Curation.noveltyFunnel` with the standing corpus grown by each
    * earlier batch (StreamingSpec asserts this end to end, and the
    * driver's `cur_novelty_stream` oracle replays it in SQL).
    *
    * Replay exactness (foreachBatch is at-least-once): both writes are
    * batchId-keyed overwrites, and the probe excludes the index
    * partition this batch id owns — a replayed batch can never match
    * its failed attempt's own append, so replays are byte-identical.
    * The index must be owned by this single loop (`exactDedupIngest`'s
    * contract: stream ids ≥ 0, disjoint from batch-API appends). */
  def noveltyIngest(
      docs: DataFrame,
      indexDir: String,
      funnelDir: String,
      checkpointDir: String,
      noveltyFloor: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery = {
    val index = graft.operators.Dedup.openWindowIndexSession(
      docs.sparkSession, indexDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch,
          standingScanParts(batch.sparkSession, s"$indexDir/windows")) {
        val b = batch.select(col("doc_id"), col("lang"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          graft.operators.Curation
            .noveltyFunnelSession(index, b, noveltyFloor,
              excludeIngestBatch = Some(batchId))
            .write.mode("overwrite").parquet(s"$funnelDir/micro_batch=$batchId")
          index.append(b.select(col("doc_id"), col("text")),
            ingestBatch = batchId)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => index.close())
    query
  }

  /** Streaming distribution-DRIFT monitoring: per micro-batch, the PSI of
    * the arriving docs' feature distributions against the PERSISTED
    * standing histograms (`Curation.buildDriftIndex`), written to
    * `driftDir/micro_batch=<id>` — the observability loop beside the
    * ingest loops (`exactDedupIngest`/`bm25Ingest`/`noveltyIngest`): same
    * micro-batch cadence, but it only OBSERVES, so there is no state to
    * grow and nothing to keep replay-consistent beyond the output itself.
    *
    * Replay-exact by construction: each batch's rows land as a
    * batchId-keyed overwrite, so a crash-replayed micro-batch rewrites its
    * own partition with identical data. Per-batch cost is one batch scan
    * (all features at once) + a bin-scale index read — the standing
    * corpus is never touched.
    *
    * `grow = false` (default): pure observer against a FIXED baseline.
    * `grow = true`: after scoring, the batch's bin counts fold into the
    * index (`Curation.appendToDriftIndex` — count-additive, batchId-keyed
    * partition), so batch k scores against standing ∪ batches 0..k−1 (the
    * noveltyIngest discipline; the probe excludes the batch's OWN
    * partition, so a crash replay scores identically). */
  def driftMonitor(docs: DataFrame, indexDir: String, driftDir: String,
      checkpointDir: String,
      features: Seq[(String, org.apache.spark.sql.Column)],
      grow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch) {
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          graft.operators.Curation
            .driftAgainstIndex(indexDir, b, features,
              excludeIngestBatch = if (grow) Some(batchId) else None)
            .write.mode("overwrite").parquet(s"$driftDir/micro_batch=$batchId")
          if (grow)
            graft.operators.Curation
              .appendToDriftIndex(b, features, indexDir, batchId)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming n-gram LM quality scoring with a model that LEARNS the
    * stream: per micro-batch, every arriving doc's cross-entropy under
    * the persisted Stupid Backoff model (`LangModel.buildLmIndex` seed),
    * written to `scoresDir/micro_batch=<id>`; the batch's own counts
    * then fold into the model (`LangModel.appendToLmIndex` —
    * count-additive, batchId-keyed delta partition). Batch k scores
    * against seed ∪ batches 0..k−1, the noveltyIngest discipline.
    *
    * Replay-exact (foreachBatch is at-least-once): the score write is a
    * batchId-keyed overwrite and the probe EXCLUDES the model partition
    * this batch id owns, so a crash-replayed batch scores against
    * exactly the state its failed attempt saw and rewrites identical
    * bytes. Per-batch cost: one batch scan + vocabulary-scale model
    * reads — the seed corpus is never rescanned. The model must be
    * owned by this single loop (batch-API appends use disjoint ids), and
    * a batch carrying a doc_id twice is refused before anything is
    * scored or appended. */
  def lmIngest(docs: DataFrame, modelDir: String, scoresDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE model session per loop run (r19, the bm25Ingest discipline):
    // the per-batch dir-based scorer re-listed, re-repaired and
    // re-folded every count table from parquet once per micro-batch;
    // the session loads once and rolls the cache forward as the loop
    // appends — scores are row-identical (SessionSpec).
    val model = graft.operators.LangModel.openLmSession(
      docs.sparkSession, modelDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch) {
        val b = batch.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          requireUniqueIds(b, batchId)
          model.score(b, excludeIngestBatch = Some(batchId))
            .write.mode("overwrite").parquet(s"$scoresDir/micro_batch=$batchId")
          model.append(b, batchId)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => model.close())
    query
  }

  /** Per-language twin of [[lmIngest]] (r17): the persisted model is the
    * `tok=ml` lang-keyed layout, every arriving doc scores under its OWN
    * language's standing model, and the batch's per-lang counts fold in.
    * Same replay contract: batchId-keyed score overwrite + own-partition
    * exclusion; [[graft.operators.LangModel.appendToLmIndex]] reads the
    * marker and counts per-language automatically. */
  def lmMlIngest(docs: DataFrame, modelDir: String, scoresDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE model session per loop run (r19) — see lmIngest; the session
    // reads the tok=ml marker once per run and scores per language.
    val model = graft.operators.LangModel.openLmSession(
      docs.sparkSession, modelDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch) {
        val b = batch.select(col("doc_id"), col("text"), col("lang"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          requireUniqueIds(b, batchId)
          model.score(b, excludeIngestBatch = Some(batchId))
            .write.mode("overwrite").parquet(s"$scoresDir/micro_batch=$batchId")
          model.append(b, batchId)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => model.close())
    query
  }

  /** The release funnel's STREAMING twin (r18; session-cached and
    * SHAPE-AWARE r19): per micro-batch, the CALIBRATED per-language
    * funnel of arriving documents against the PERSISTED `tok=ml` model
    * and persisted per-lang cuts
    * ([[graft.operators.Curation.writeReleaseCuts]]) — LR quality gate →
    * per-lang LM gate at the model's OWN marker-declared order (an
    * `order=5` layout runs CCNet's production 5-gram gate; zero-token
    * pass-through counted) → typed PII redaction density → exact dedup
    * over the redacted text WITHIN the batch — written to
    * `outDir/micro_batch=<id>`. A pure OBSERVER beside [[piiMonitor]]:
    * the model and cuts are standing artifacts this loop never mutates,
    * so the batchId-keyed overwrite alone makes crash replays
    * byte-identical — and they load ONCE per run through an
    * [[graft.operators.LangModel.LmSession]] (the r18 form re-read and
    * re-REPAIRED the model from parquet inside every micro-batch — the
    * r18 ADVICE "observer that can mutate" wart; the session repairs
    * once at open, before the stream starts). Per-batch cost: one batch
    * scan + vocabulary-scale model joins + the within-batch dedup
    * aggregate. A batch carrying a doc_id twice is refused. */
  def releaseMonitor(docs: DataFrame, modelDir: String, cutsDir: String,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    releaseMonitorWith(docs, modelDir, cutsDir, outDir, checkpointDir,
      keyByPrediction = false)

  /** [[releaseMonitor]] KEYED ON THE PREDICTION (r19): a real ingest
    * stream has no trustworthy `lang` column, so the operational loop
    * keys every arriving document on [[graft.operators.TextAnalysis
    * .langIdPred]] — one extra codegen'd projection per batch — and
    * gates it in its PREDICTED language's lane against cuts persisted
    * per predicted language (feed [[graft.operators.Curation
    * .writeReleaseCuts]] the prediction-keyed train corpus, and build
    * the `tok=ml` model over it, so model, cuts and funnel all share
    * the key — the batch-side [[graft.operators.Curation.releaseIded]]
    * discipline, streamed). The arriving `lang` column, if any, never
    * enters the computation. */
  def releaseMonitorIded(docs: DataFrame, modelDir: String, cutsDir: String,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    releaseMonitorWith(docs, modelDir, cutsDir, outDir, checkpointDir,
      keyByPrediction = true)

  private def releaseMonitorWith(docs: DataFrame, modelDir: String,
      cutsDir: String, outDir: String, checkpointDir: String,
      keyByPrediction: Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val model = graft.operators.LangModel.openLmSession(spark, modelDir)
    require(model.ml,
      s"releaseMonitor: the model at $modelDir is the plain-tokenizer " +
        "layout — the release funnel is per-language (tok=ml)")
    val cuts = spark.read.parquet(cutsDir).localCheckpoint(true)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch) {
          val b =
            if (keyByPrediction)
              batch.select(col("doc_id"), col("text"),
                graft.operators.TextAnalysis.langIdPred(col("text"))
                  .as("lang"))
            else batch.select(col("doc_id"), col("text"), col("lang"))
          requireUniqueIds(b, batchId)
          graft.operators.Curation
            .releaseWith(b, sb => (model.score(sb), cuts))
            .write.mode("overwrite").parquet(s"$outDir/micro_batch=$batchId")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(spark, query, () => model.close())
    query
  }

  /** Streaming PII prevalence monitoring: per micro-batch, the typed
    * findings report of the arriving docs ([[graft.operators.Pii.stats]]
    * by `by`), written to `statsDir/micro_batch=<id>` — the release-gate
    * observability loop beside [[driftMonitor]]: it only OBSERVES, so
    * there is no state to grow and the batchId-keyed overwrite alone
    * makes crash replays byte-identical. Per-batch cost is one batch
    * scan (regex projections + one aggregate). */
  def piiMonitor(docs: DataFrame, statsDir: String, checkpointDir: String,
      by: String = "source"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch) {
          graft.operators.Pii.stats(batch.toDF(), by)
            .write.mode("overwrite").parquet(s"$statsDir/micro_batch=$batchId")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Seed the standing state for `curationLoop`: the corpus's near-dup
    * index (`Dedup.buildCrossNearDupIndex`), its initial labeling
    * (`Dedup.clusterDedupFirst` at the same gate) as labels version v-1
    * — the snapshot the first micro-batch reads — and the seed's PAIR
    * EVIDENCE as `edges/v-1` (r15: the labeling alone cannot support an
    * exact takedown — a purged doc may be the only bridge between two
    * groups, and only pair evidence can re-solve the split; the edge
    * set is output-scale, the same rows the labeling was folded from,
    * and [[purgeCurationState]] consumes it). */
  def seedCurationState(corpus: DataFrame, indexDir: String,
      labelsDir: String, threshold: Double): Unit = {
    graft.operators.Dedup.buildCrossNearDupIndex(corpus, indexDir)
    // ONE chain serves both seed artifacts: the gated pair set is the
    // evidence AND the labeling is its connected components
    // (clusterDedupFirst == CC over the gated pairs — the dd_cluster
    // theorem; equal-text groups enter as identity-scored 1.0 pairs, so
    // nothing is lost to the pair form)
    val pairs = graft.operators.Dedup.nearDupScores(corpus)
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    pairs.write.mode("overwrite").parquet(s"$labelsDir/edges/v-1")
    graft.operators.Dedup.connectedComponents(pairs)
      .write.mode("overwrite").parquet(s"$labelsDir/v-1")
  }

  /** TAKEDOWN of a doc-id set from the curation loop's STANDING STATE —
    * the streaming face of the r15 purge lifecycle, run OWNER-ONLY while
    * the stream is stopped (every purge here is; restart from the
    * checkpoint afterwards):
    *   1. the LSH index purges (`Dedup.purgeFromCrossNearDupIndex`) so
    *      no future batch can match a purged doc;
    *   2. the TOUCHED edge sets among `edges/v*` (seed + per-batch fold
    *      evidence; found by one narrow incident-pair scan — untouched
    *      versions are never read again or rewritten) rewrite minus
    *      purged-incident pairs under the two-phase marker, so a
    *      crash-REPLAYED batch re-folds from evidence that no longer
    *      knows the docs;
    *   3. BOTH retained label snapshots re-solve via
    *      [[graft.operators.Purge.purgeFromClusters]] over the purged
    *      evidence (cut-vertex-exact: components split when a purged doc
    *      was their only bridge) and rewrite in place — the newest is
    *      what probes read, the predecessor is what crash recovery falls
    *      back to, so every recovery path sees purged state;
    *   4. the ids land in `labelsDir/registry` (append-only;
    *      [[curationLoop]] refuses a NEW batch carrying an ever-purged
    *      id — re-ingesting taken-down content is the failure mode a
    *      registry exists to stop; a crash-REPLAYED batch committed
    *      before the purge instead recomputes its edges, labels fold,
    *      and index append over the batch MINUS the registry, so even
    *      a purge citing an in-flight batch's docs survives restart —
    *      replayed raw rows can never resurrect a registered id).
    * After the purge, the loop's state equals one seeded and grown
    * WITHOUT the docs (StreamingSpec pins it end to end, including a
    * post-purge batch arriving after restart). Edge sets accumulate
    * O(total fold evidence) — the storage price of exact streaming
    * takedown; re-seed via [[seedCurationState]] over the surviving
    * corpus to compact. */
  def purgeCurationState(spark: SparkSession, indexDir: String,
      labelsDir: String, docIds: DataFrame): Unit = {
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint(true)
    // logical tombstone + immediate compaction: the loop is stopped for
    // the purge anyway (owner-only), and its collision/replay guards read
    // the shingle_keys dataset directly, so the physical half runs now
    // rather than deferred
    graft.operators.Dedup.purgeFromCrossNearDupIndex(spark, indexDir, ids)
    graft.operators.Dedup.compactCrossNearDupIndex(spark, indexDir)
    purgeLoopState(spark, labelsDir, ids, "seedCurationState")
  }

  /** [[purgeCurationState]]'s image twin: takedown of an image-id set
    * from [[imageDedupLoop]]'s standing state — dHash index
    * ([[graft.operators.Multimodal.purgeFromDHashIndex]]), fold-edge
    * evidence, both retained label snapshots, registry. Same owner-only
    * stream-stopped discipline; same purged == grown-without contract
    * (StreamingSpec). */
  def purgeImageDedupState(spark: SparkSession, indexDir: String,
      labelsDir: String, docIds: DataFrame): Unit = {
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint(true)
    graft.operators.Multimodal.purgeFromDHashIndex(spark, indexDir, ids)
    purgeLoopState(spark, labelsDir, ids, "seedImageDedupState")
  }

  /** [[purgeImageDedupState]]'s AUDIO twin: takedown from
    * [[audioDedupLoop]]'s standing state — fingerprint index
    * ([[graft.operators.Multimodal.purgeFromAudioFpIndex]]) plus the
    * shared loop-state body. */
  def purgeAudioDedupState(spark: SparkSession, indexDir: String,
      labelsDir: String, docIds: DataFrame): Unit = {
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint(true)
    graft.operators.Multimodal.purgeFromAudioFpIndex(spark, indexDir, ids)
    purgeLoopState(spark, labelsDir, ids, "seedAudioDedupState")
  }

  /** Shared loop-state purge body (steps 2–4 of the takedown scaladoc):
    * edge-evidence rewrite, both-snapshot re-solve, registry append. */
  private def purgeLoopState(spark: SparkSession, labelsDir: String,
      ids: DataFrame, seedOp: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(labelsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edgeRoot = new org.apache.hadoop.fs.Path(s"$labelsDir/edges")
    require(fs.exists(edgeRoot),
      s"no edge evidence under $labelsDir/edges — the loop state predates " +
        s"the r15 takedown layout; re-seed with $seedOp")
    // Repair BEFORE listing (the rewritePartitions entry discipline): a
    // prior purge that crashed mid-roll-forward leaves a version dir
    // deleted with its replacement still staged — listing that layout
    // would silently drop the version's edges from purgedEdges and the
    // label re-solve, and the touched-only branch below might never call
    // rewritePartitions (whose own entry repair would otherwise save us).
    graft.operators.Purge.repairPartitionRewrite(spark, s"$labelsDir/edges")
    val edgeDirs = fs.listStatus(edgeRoot).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v")).sortBy(_.getName)
    // TOUCHED-ONLY rewrite (the Purge module's own discipline — r16): one
    // narrow scan over all edge versions finds which version dirs hold
    // purged-incident pairs, riding the file-path metadata column; only
    // those stage and swap. Untouched versions are never read again,
    // staged, or rewritten — loop-state takedown I/O scales with touched
    // evidence, not total standing evidence.
    val idsA = broadcast(ids.withColumnRenamed("doc_id", "doc_a"))
    val idsB = broadcast(ids.withColumnRenamed("doc_id", "doc_b"))
    val allEdges = spark.read.schema("doc_a LONG, doc_b LONG")
      .parquet(edgeDirs.map(_.toString): _*)
      .select(col("doc_a"), col("doc_b"),
        col("_metadata.file_path").as("fp"))
    val touchedVers = allEdges.join(idsA, Seq("doc_a"), "left_semi")
      .select(col("fp"))
      .unionAll(allEdges.join(idsB, Seq("doc_b"), "left_semi").select(col("fp")))
      .distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getParent.getName)
      .toSet
    val touchedDirs = edgeDirs.filter(p => touchedVers.contains(p.getName))
    if (touchedDirs.nonEmpty) {
      val replacements = touchedDirs.map { p =>
        val remaining = spark.read.schema("doc_a LONG, doc_b LONG")
          .parquet(p.toString)
          .join(idsA, Seq("doc_a"), "left_anti")
          .join(idsB, Seq("doc_b"), "left_anti")
          .select(col("doc_a"), col("doc_b"))
        // SWAP even when the rewrite empties a version: later reads (this
        // method's own purgedEdges, replay folds) enumerate every version
        // dir, so a DROP would break them — an empty edge set is a
        // legitimate version state.
        p.getName -> Some(remaining)
      }
      graft.operators.Purge.rewritePartitions(spark, s"$labelsDir/edges",
        replacements)
    }
    val purgedEdges = spark.read.schema("doc_a LONG, doc_b LONG")
      .parquet(edgeDirs.map(_.toString): _*)
    // both retained snapshots rewrite (newest = probe truth, predecessor
    // = crash fallback); localCheckpoint so the plan doesn't race its own
    // overwrite
    committedSnapshots(spark, labelsDir)._2.foreach { snap =>
      val purged = graft.operators.Purge.purgeFromClusters(
        spark.read.schema("doc_id LONG, cluster_id LONG").parquet(snap.toString),
        purgedEdges, ids)
        .localCheckpoint(true)
      purged.write.mode("overwrite").parquet(snap.toString)
    }
    // append-only registry: duplicates collapse at read, a replayed purge
    // converges
    ids.write.mode("append").parquet(s"$labelsDir/registry")
  }

  /** THE streaming curation loop — the production composition every
    * increment operator in this engine exists for. Per micro-batch of
    * arriving documents:
    *   1. score the batch against the STANDING corpus via the prebuilt
    *      index (`crossNearDupIndexed` ≥ threshold) and against itself
    *      (`nearDupScores` ≥ threshold) — the standing corpus is never
    *      re-paired;
    *   2. fold the new edges into the standing labeling
    *      (`incrementalClusters`) — untouched components never move;
    *   3. write the labeling as snapshot `labelsDir/v<batchId>` and ONLY
    *      THEN append the batch to the index — a batch never matches
    *      itself.
    * Labels follow `clusterDedupFirst`'s convention: only docs with dup
    * evidence appear; an absent doc is unique so far (and can still be
    * labeled by a LATER batch's edge — the spec's cross-batch dups
    * exercise exactly that).
    *
    * Preconditions and bounds, stated plainly:
    *   - doc_ids must be GLOBALLY unique across corpus and every batch.
    *     The cross SCORERS tolerate overlapping id spaces, but this loop
    *     feeds their output into one shared label/index graph, where a
    *     collision silently merges unrelated documents — so each batch
    *     fails fast on within-batch duplicate ids, and a batch's FIRST
    *     delivery is additionally checked against the index (a shuffle-
    *     free broadcast semi-join over the index's id column). Replays —
    *     detected by their own committed snapshot — skip the index check,
    *     since they legitimately collide with their prior append.
    *   - the batch-equality claim holds while bucket caps don't bind:
    *     each increment caps its own buckets, so a boilerplate text
    *     accumulating past `maxBucket` ACROSS increments diverges from
    *     the union-wide cap a from-scratch run applies (EXPLAIN.md
    *     §Dedup-first documents the same boundary for the operators).
    *   - snapshots are pruned to the newest committed version plus its
    *     predecessor (all crash recovery ever needs), so state is
    *     O(labeling), not O(batches × labeling).
    * After N batches, `labelsDir/v<N-1>` equals `clusterDedupFirst` over
    * corpus ∪ all batches (StreamingSpec asserts this end to end): the
    * cross/within decomposition is complete because earlier batches are
    * in the index when later ones arrive.
    *
    * Crash discipline: snapshots are versioned BY BATCH ID, and the
    * reader takes the newest _SUCCESS-committed version, so a mid-write
    * crash falls back to the previous snapshot and the replayed batch
    * recomputes it — convergent, because `incrementalClusters` over
    * already-folded edges is a fixpoint and index appends dedup at probe
    * time (`writeIndexSide`). */
  def curationLoop(
      docs: DataFrame,
      indexDir: String,
      labelsDir: String,
      threshold: Double,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE scorer session per loop run (r16, VERDICT r15 #3): the standing
    // bucket side and the index manifest are cached across micro-batches
    // (the loop owns the index while it runs — cache invalidation is the
    // session's own append), and each batch's cross + within scoring and
    // index append share one per-doc batch row instead of three chains.
    val scorer = graft.operators.Dedup.openCrossIndexSession(
      docs.sparkSession, indexDir)
    val query = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch,
          standingScanParts(batch.sparkSession,
            s"$indexDir/buckets", s"$indexDir/shingle_keys")) {
        val spark = batch.sparkSession
        val b = batch.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prevEager = spark.conf.getOption("graft.eagerRelease")
        spark.conf.set("graft.eagerRelease", "true")
        try {
          // The index and registry guards below apply ONLY to a batch's
          // FIRST delivery: a committed v<batchId> snapshot marks a replay,
          // and a replayed batch legitimately collides with its own prior
          // index append (foreachBatch is at-least-once); replays rely on
          // probe-side dedup instead.
          val replay = committedSnapshots(spark, labelsDir)._2
            .exists(_.getName == s"v$batchId")
          val regPath = new org.apache.hadoop.fs.Path(s"$labelsDir/registry")
          val registry =
            if (!regPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(regPath)) None
            else Some(spark.read.schema("doc_id LONG").parquet(regPath.toString))
          // The guards, in firing order, run as ONE Spark action: each
          // contributes its lowest offending id under its own tag.
          //   0: a duplicate id WITHIN the batch always means corrupt input
          //      (two different docs would silently merge under one id);
          //   1: an already-indexed id, probed on the session's 8-bytes-
          //      per-DOC id cache against a broadcast of the batch's ids;
          //   2: an id in the takedown registry (purgeCurationState) —
          //      re-ingesting taken-down content is exactly what the
          //      registry exists to stop. Replays of pre-purge batches are
          //      exempt and converge through the purged-batch filter below.
          val ids = b.select(col("doc_id").cast("long").as("doc_id"))
          val dups = ids.groupBy(col("doc_id")).count().where(col("count") > 1)
          val checks =
            if (replay) Seq(0 -> dups)
            else Seq(0 -> dups, 1 -> scorer.indexedIds()
                .join(broadcast(ids), Seq("doc_id"), "left_semi")) ++
              registry.map(r => 2 -> ids.join(broadcast(r), Seq("doc_id"), "left_semi"))
          val hit = checks
            .map { case (tag, d) => d.select(lit(tag).as("guard"), col("doc_id")) }
            .reduce(_ unionAll _)
            .groupBy(col("guard")).agg(min(col("doc_id")))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          require(!hit.contains(0),
            s"batch $batchId carries duplicate doc_id ${hit(0)}")
          require(!hit.contains(1),
            s"batch $batchId reuses already-indexed doc_id ${hit(1)}: " +
              "curationLoop requires globally unique doc_ids")
          require(!hit.contains(2),
            s"batch $batchId carries doc_id ${hit(2)}, which was purged from " +
              "this state — re-ingesting a taken-down doc is refused " +
              "(new id required if intentional)")
          // A REPLAY may postdate a purge that cited docs from this very
          // batch (stream crashed mid-batch, takedown ran, restart
          // replays). Recomputing edges / labels / the index append from
          // the raw batch rows would silently resurrect taken-down
          // content in every standing artifact — so replays compute over
          // the batch MINUS the registry (the BM25 replay discipline:
          // purged state wins over replayed input), converging to
          // exactly what purgeCurationState left behind. New batches hit
          // the loud refusal above instead, so the anti-join only ever
          // drops rows on replay.
          val bLive = registry match {
            case Some(r) if replay => b.join(broadcast(r), Seq("doc_id"), "left_anti")
            case _ => b
          }
          val labels = readLatestLabels(spark, labelsDir)
          // Fused scorer (CrossIndexSession): cross-vs-index, within-batch
          // and the index append share one per-doc batch row, and
          // the standing bucket side comes from the session cache instead
          // of a per-batch parquet re-scan. Edge-set identity with the
          // unfused pair (crossNearDupIndexed ∪ thresholded nearDupScores)
          // is the session's contract.
          val score = scorer.scoreBatch(bLive, threshold)
          // fold evidence persists BEFORE the labels fold consumes it
          // (r15 takedown layout: purgeCurationState re-solves from these
          // edge sets; a crash between the two writes replays both —
          // batchId-keyed overwrites converge)
          val newEdges = score.edges
          newEdges.write.mode("overwrite")
            .parquet(s"$labelsDir/edges/v$batchId")
          graft.operators.Dedup
            .incrementalClusters(labels, newEdges)
            .write.mode("overwrite").parquet(s"$labelsDir/v$batchId")
          scorer.append(score)
          pruneLabelSnapshots(spark, labelsDir)
        } finally {
          prevEager match {
            case Some(v) => spark.conf.set("graft.eagerRelease", v)
            case None => spark.conf.unset("graft.eagerRelease")
          }
          b.unpersist(false); ()
        }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(docs.sparkSession, query, () => scorer.close())
    query
  }

  /** Run `release` when `query` terminates (success or failure) — the hook
    * that keeps a loop's session-scoped caches from outliving the loop. */
  private def releaseOnTermination(
      spark: SparkSession,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      release: () => Unit): Unit =
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            release()
            spark.streams.removeListener(this)
          }
      })

  /** _SUCCESS-committed labels snapshots under `labelsDir`, oldest first —
    * the Hadoop FS API, so the loop's state discipline is
    * filesystem-portable. */
  private def committedSnapshots(spark: SparkSession,
      labelsDir: String): (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.Path]) = {
    val path = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path),
      s"no labels state at $labelsDir — seed it first (seedCurationState / " +
        "seedImageDedupState)")
    val versions = fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("v") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .sortBy(_.getName.drop(1).toLong)
    (fs, versions)
  }

  /** Newest committed labels snapshot under `labelsDir`. */
  private[streaming] def readLatestLabels(spark: SparkSession, labelsDir: String): DataFrame = {
    val (_, versions) = committedSnapshots(spark, labelsDir)
    require(versions.nonEmpty,
      s"no committed labels snapshot under $labelsDir — run seedCurationState first")
    spark.read.schema("doc_id LONG, cluster_id LONG").parquet(versions.last.toString)
  }

  /** Keep the newest committed snapshot plus its predecessor (all crash
    * recovery can ever need), delete the rest — state stays O(labeling),
    * not O(batches × labeling). */
  private def pruneLabelSnapshots(spark: SparkSession, labelsDir: String): Unit = {
    val (fs, versions) = committedSnapshots(spark, labelsDir)
    versions.dropRight(2).foreach(p => fs.delete(p, true))
  }

  /** Streaming maintenance of a KEYED Z-ordered layout
    * ([[graft.operators.Layout.initKeyedLayout]]): each arriving
    * micro-batch curve-clusters with the layout's persisted scaling and
    * lands as its OWN `batch=<id>` partition — the stream is the
    * compactor, and every later scan of the layout root prunes on the
    * same curve (old and new files alike are curve boxes).
    *
    * Delivery: foreachBatch is at-least-once, but each micro-batch
    * OVERWRITES its own keyed partition, so a crash replay rewrites the
    * same files instead of duplicating them — exactly-once effective
    * with no transactional table format (the batchId-keyed sink
    * discipline, same as the near-dup sinks above, enforced by the
    * layout directory structure itself).
    *
    * Scale: per-batch cost is one codegen'd projection + one range
    * shuffle of THE BATCH only; the standing layout is never read or
    * rewritten. Partition count grows with stream lifetime — fold
    * accumulated `batch=` partitions with
    * [[graft.operators.Layout.compactKeyed]], the classic compaction
    * cadence. Compact only while the stream is STOPPED (or provably
    * past its last checkpoint commit): folding a partition whose
    * micro-batch the checkpoint has not committed means a post-crash
    * replay re-appends rows the compacted base already holds — the one
    * duplication mode the keyed-overwrite discipline cannot absorb
    * (the swap itself is crash-safe via `repairKeyed`'s marker
    * protocol; this constraint is about WHEN to start one, and is the
    * coordination a transactional table format would internalize). */
  def layoutMaintainer(
      docs: DataFrame,
      layoutRoot: String,
      filesPerBatch: Int,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Layout.appendZOrderedKeyed(
          batch, layoutRoot, s"batch=${batchId + 1}", filesPerBatch)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Media-stream schema ([[graft.operators.MediaRow]]). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mime", StringType),
    StructField("content", org.apache.spark.sql.types.BinaryType)))

  /** File-source stream over a directory/glob of media parquet — the
    * arriving-images side of the streaming image-dedup loop. */
  def mediaStream(spark: SparkSession, pathGlob: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(mediaSchema)
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r).parquet(pathGlob)
  }

  /** Seed the standing state for [[imageDedupLoop]]: the corpus's dHash
    * index ([[graft.operators.Multimodal.buildDHashIndex]]) and its
    * initial near-dup labeling ([[graft.operators.Multimodal
    * .clusterImages]]), written as labels version v-1 — the snapshot the
    * first micro-batch reads ([[seedCurationState]]'s image twin). */
  def seedImageDedupState(corpus: org.apache.spark.sql.Dataset[graft.operators.MediaRow],
      indexDir: String, labelsDir: String, maxHamming: Int = 3): Unit = {
    graft.operators.Multimodal.buildDHashIndex(corpus, indexDir)
    // one decode+pair pass serves both seed artifacts (the
    // seedCurationState discipline): evidence = the Hamming pairs,
    // labeling = their connected components (clusterImages' definition)
    val pairs = graft.operators.Multimodal.nearDupImages(corpus, maxHamming)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    pairs.write.mode("overwrite").parquet(s"$labelsDir/edges/v-1")
    graft.operators.Dedup.connectedComponents(pairs)
      .write.mode("overwrite").parquet(s"$labelsDir/v-1")
  }

  /** [[seedImageDedupState]]'s AUDIO twin: fingerprint index
    * ([[graft.operators.Multimodal.buildAudioFpIndex]]), seed pair
    * evidence, seed labeling — the standing state [[audioDedupLoop]]
    * reads. */
  def seedAudioDedupState(corpus: org.apache.spark.sql.Dataset[graft.operators.MediaRow],
      indexDir: String, labelsDir: String, maxHamming: Int = 3): Unit = {
    graft.operators.Multimodal.buildAudioFpIndex(corpus, indexDir)
    val pairs = graft.operators.Multimodal.nearDupAudio(corpus, maxHamming)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    pairs.write.mode("overwrite").parquet(s"$labelsDir/edges/v-1")
    graft.operators.Dedup.connectedComponents(pairs)
      .write.mode("overwrite").parquet(s"$labelsDir/v-1")
  }

  /** THE streaming image-dedup loop — [[curationLoop]]'s discipline on
    * the image modality. Per micro-batch of arriving images:
    *   1. probe the batch against the STANDING dHash index
    *      (`crossNearDupImagesIndexed`, EXCLUDING this batch id's own
    *      partition — a replay must never match its failed attempt's
    *      append) and against itself (`nearDupImages`) — the standing
    *      corpus is never re-paired and never re-DECODED (the index is
    *      8 bytes/image);
    *   2. fold the new Hamming edges into the standing labeling
    *      (`incrementalClusters`) — untouched components never move;
    *   3. write the labeling as snapshot `labelsDir/v<batchId>` and only
    *      then append the batch's hashes to the index (a batch never
    *      matches itself; within-batch pairs came from step 1's self
    *      probe).
    * After N batches, `labelsDir/v<N-1>` equals `clusterImages` over
    * corpus ∪ all batches (StreamingSpec asserts this end to end): the
    * cross/within decomposition is complete because earlier batches'
    * hashes are in the index when later ones arrive, and CC over star
    * edges ∪ new pairs equals CC over the union pair set.
    *
    * Replay exactness: the index append is a batchId-keyed overwrite,
    * the probe excludes the batch's own partition, labels version by
    * batch id with `_SUCCESS`-committed reads, and `incrementalClusters`
    * over already-folded edges is a fixpoint — the same crash discipline
    * as [[curationLoop]], including snapshot pruning (newest + one). */
  def imageDedupLoop(
      media: DataFrame,
      indexDir: String,
      labelsDir: String,
      checkpointDir: String,
      maxHamming: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    sigDedupLoop(media, indexDir, labelsDir, checkpointDir, maxHamming,
      m => graft.operators.Multimodal.dHash64(m)
        .select(col("doc_id"), col("phash").as("sigint")),
      sigCol = "phash", loopName = "imageDedupLoop", noun = "image")

  /** [[imageDedupLoop]]'s AUDIO twin — the same generic signature loop
    * over [[graft.operators.Multimodal.audioFingerprint64]] and the
    * audio fp index: per micro-batch one decode+fingerprint pass feeds
    * the cross probe, the self probe, and the index append; labels fold
    * incrementally with persisted edge evidence; replays are
    * partition-excluded; takedown via [[purgeAudioDedupState]]. The
    * modality matrix closes: text, image, and audio each run the full
    * ladder (pairs → cross → index → stream → purge) on shared
    * machinery. */
  def audioDedupLoop(
      media: DataFrame,
      indexDir: String,
      labelsDir: String,
      checkpointDir: String,
      maxHamming: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    sigDedupLoop(media, indexDir, labelsDir, checkpointDir, maxHamming,
      m => graft.operators.Multimodal.audioFingerprint64(m)
        .select(col("doc_id"), col("afp").as("sigint")),
      sigCol = "afp", loopName = "audioDedupLoop", noun = "clip")

  private def sigDedupLoop(
      media: DataFrame,
      indexDir: String,
      labelsDir: String,
      checkpointDir: String,
      maxHamming: Int,
      sigOf: org.apache.spark.sql.Dataset[graft.operators.MediaRow] => DataFrame,
      sigCol: String,
      loopName: String,
      noun: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // ONE signature session per loop run (the CrossIndexSession pattern):
    // the standing 8-byte/doc hash table is read once and maintained in
    // place as batches land, so per-batch probes stop re-listing and
    // re-scanning the partition tree; the replay own-batch exclusion
    // becomes a filter over the cached ingest_batch column.
    val sigIndex = graft.operators.Multimodal.openSigIndexSession(
      media.sparkSession, indexDir, sigCol)
    val query = media.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        withBatchParallelism(batch,
          standingScanParts(batch.sparkSession, s"$indexDir/hashes")) {
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.select(col("doc_id"), col("mime"), col("content"))
          .as[graft.operators.MediaRow]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          requireUniqueIds(b.toDF(), batchId)
          // First-delivery id-collision guard against the standing index
          // (broadcast semi-join over the hash table's id column — the
          // curationLoop guard verbatim); replays legitimately collide
          // with their own prior append and rely on partition exclusion.
          val replay = committedSnapshots(spark, labelsDir)._2
            .exists(_.getName == s"v$batchId")
          val regPath = new org.apache.hadoop.fs.Path(s"$labelsDir/registry")
          val regFs = regPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!replay) {
            val collisions = sigIndex.sigs(None).select(col("doc_id"))
              .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
              .limit(1).collect()
            require(collisions.isEmpty,
              s"batch $batchId reuses already-indexed doc_id ${collisions.head.getLong(0)}: " +
                s"$loopName requires globally unique doc_ids")
            // takedown registry (purgeImageDedupState): the curationLoop
            // refusal verbatim — a NEW batch carrying an ever-purged id
            // is refused; pre-purge replays converge via the purged-batch
            // filter below
            if (regFs.exists(regPath)) {
              val resurrected = b.select(col("doc_id"))
                .join(broadcast(spark.read.schema("doc_id LONG")
                  .parquet(regPath.toString)), Seq("doc_id"), "left_semi")
                .limit(1).collect()
              require(resurrected.isEmpty,
                s"batch $batchId carries doc_id ${resurrected.headOption
                  .map(_.getLong(0)).getOrElse(-1L)}, which was purged from " +
                  s"this state — re-ingesting a taken-down $noun is refused " +
                  "(new id required if intentional)")
            }
          }
          // Replay takedown discipline (curationLoop verbatim): a replay
          // postdating a purge that cited this batch's docs recomputes
          // edges / labels / the index partition over the batch MINUS
          // the registry — never resurrecting a taken-down signature.
          val bLive =
            if (replay && regFs.exists(regPath))
              b.join(broadcast(spark.read.schema("doc_id LONG")
                  .parquet(regPath.toString)), Seq("doc_id"), "left_anti")
                .as[graft.operators.MediaRow]
            else b
          val labels = readLatestLabels(spark, labelsDir)
          // One decode+fingerprint pass over the batch feeds all three
          // consumers (cross probe, self probe, index append) — the
          // batch's payloads are decoded exactly once per micro-batch.
          val hb = sigOf(bLive)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val cross = graft.operators.Dedup.simhashCrossPairs(
                sigIndex.sigs(excludeIngestBatch = Some(batchId))
                  .select(col("doc_id"), col(sigCol).as("sigint")),
                hb, maxHamming)
              .select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b"))
            val within = graft.operators.Dedup.simhashPairs(hb, maxHamming)
              .select(col("doc_a"), col("doc_b"))
            // fold evidence persists for the takedown ladder (curationLoop
            // discipline): batchId-keyed overwrite, replays converge
            val newEdges = cross.unionAll(within).localCheckpoint(true)
            newEdges.write.mode("overwrite")
              .parquet(s"$labelsDir/edges/v$batchId")
            graft.operators.Dedup
              .incrementalClusters(labels, newEdges)
              .write.mode("overwrite").parquet(s"$labelsDir/v$batchId")
            hb.select(col("doc_id"), col("sigint").as(sigCol))
              .write.mode("overwrite")
              .parquet(s"$indexDir/hashes/ingest_batch=$batchId")
            sigIndex.extend(
              hb.select(col("doc_id"), col("sigint").as(sigCol)), batchId)
          } finally { hb.unpersist(false); () }
          pruneLabelSnapshots(spark, labelsDir)
        } finally { b.unpersist(false); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    releaseOnTermination(media.sparkSession, query, () => sigIndex.close())
    query
  }
}
