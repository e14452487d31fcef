package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** t1 smoke for the Structured Streaming surface (SURVEY §5.1): every
  * streaming plan runs end-to-end (file source → availableNow → memory
  * sink) and matches its batch twin over the same bounded input. */
class StreamingSpec extends TestBase {

  // The file-stream source requires a *directory* (its production shape);
  // stage the single test parquet into one.
  private lazy val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }
  private lazy val batchEvents = Tables(spark, sf(), "events")

  /** Final watermark with slack: append-mode streams only emit windows the
    * watermark has closed, so the batch side is filtered to windows whose
    * end is safely behind `max(ts) - delay` (30s slack absorbs the
    * millisecond truncation of event-time stats). */
  private lazy val safeWatermark: java.sql.Timestamp = {
    val maxTs = batchEvents.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    new java.sql.Timestamp(maxTs.getTime - (10 * 60 + 30) * 1000L)
  }

  /** streamed rows are all correct, and every surely-finalized batch window
    * was emitted. */
  private def assertStreamMatchesFinalized(streamed: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, endCol: String): Unit = {
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty, "stream emitted a row batch doesn't have")
    val finalized = batch.where(col(endCol) <= lit(safeWatermark))
    assert(finalized.exceptAll(streamed).isEmpty, "stream missed a finalized window")
  }

  test("tumbling window stream == batch twin (finalized windows)") {
    val streamed = Streams.runToCompletion(spark,
      Streams.tumblingCounts(Streams.eventsStream(spark, eventsPath)),
      "t_tumbling")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 6).as("v"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"), col("v"))
    assertStreamMatchesFinalized(streamed, batch, "win_end")
  }

  test("sliding window stream == batch twin (finalized windows)") {
    val streamed = Streams.runToCompletion(spark,
      Streams.slidingCounts(Streams.eventsStream(spark, eventsPath)),
      "t_sliding")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"))
    assertStreamMatchesFinalized(streamed, batch, "win_end")
  }

  test("session window stream == batch twin (finalized sessions)") {
    val streamed = Streams.runToCompletion(spark,
      Streams.sessionCounts(Streams.eventsStream(spark, eventsPath)),
      "t_sessions")
    val batch = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"), col("n_events"))
    assertStreamMatchesFinalized(streamed, batch, "sess_end")
  }

  test("late data beyond the watermark is dropped") {
    // One running query, two file drops: the first advances the watermark
    // to max(ts) - 10min; the second is one event 70min behind it — that
    // event must NOT appear in any finalized window.
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"), dir.resolve("b1.parquet"))
    val q = Streams.tumblingCounts(Streams.eventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("t_late").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("t_late").count()

      val maxTs = batchEvents.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val lateTs = new java.sql.Timestamp(maxTs.getTime - 70 * 60 * 1000L)
      import spark.implicits._
      // the appended file must carry ts in the same physical form as the
      // staged data of record (the stream schema was sniffed from it)
      val fileTsType = spark.read.parquet(s"${sf()}/events.parquet").schema("ts").dataType
      val lateTsCol = fileTsType match {
        case org.apache.spark.sql.types.LongType => lit(lateTs.getTime * 1000000L)
        case t => lit(lateTs).cast(t)
      }
      Seq((999999L, 1L, "late_evt", 1.0, "{}"))
        .toDF("event_id", "user_id", "event_type", "value", "props")
        .withColumn("ts", lateTsCol)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(dir.resolve("b2.parquet").toString)
      q.processAllAvailable()

      val emitted = spark.table("t_late")
      assert(emitted.where(col("event_type") === "late_evt").isEmpty,
        "an event behind the watermark must be discarded")
      assert(emitted.count() >= afterB1)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    val streamed = Streams.runToCompletion(spark,
      Streams.clickPurchaseJoin(Streams.eventsStream(spark, eventsPath)),
      "t_ssjoin")
    val clicks = batchEvents.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = batchEvents.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("purchase_ts"), col("value"))
    assert(streamed.count() > 0)
    // inner stream-stream join emits matches as both sides arrive; over a
    // bounded input every batch match must be emitted exactly once
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful dedup keeps all distinct event ids") {
    val streamed = Streams.runToCompletion(spark,
      Streams.dedupStream(Streams.eventsStream(spark, eventsPath)),
      "t_dedup")
    assert(streamed.count() == batchEvents.dropDuplicates("event_id", "ts").count())
  }

  test("streaming writes to a parquet file sink with checkpointing") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-fsink")
    val q = Streams.dedupStream(Streams.eventsStream(spark, eventsPath))
      .writeStream.format("parquet")
      .option("path", outDir.resolve("data").toString)
      .option("checkpointLocation", outDir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.parquet(outDir.resolve("data").toString)
    assert(back.count() == batchEvents.dropDuplicates("event_id", "ts").count())
  }

  test("mapGroupsWithState running totals converge to the batch aggregate") {
    val streamed = Streams.runToCompletion(spark,
      Streams.runningUserTotals(Streams.eventsStream(spark, eventsPath)).toDF(),
      "t_state", OutputMode.Update())
    // final state per user (last update) must equal the batch group-by
    val finalState = streamed.groupBy("user_id")
      .agg(max(col("n")).as("n"))
    val batch = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finalState.exceptAll(batch).isEmpty && batch.exceptAll(finalState).isEmpty)
  }

  test("dropDuplicatesWithinWatermark collapses re-deliveries with jittered timestamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jitter")
    val base = 1700000000L * 1000000000L // epoch nanos
    val m = 60L * 1000000000L
    Seq(
      (1L, base, 10L, "click", 1.0, "{}"),
      (1L, base + m, 10L, "click", 1.0, "{}"),      // re-delivery, ts jitter +1min
      (2L, base + 2 * m, 11L, "view", 2.0, "{}"),
      (2L, base + 2 * m, 11L, "view", 2.0, "{}"),   // exact re-delivery
      (3L, base + 3 * m, 12L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir.resolve("events.parquet").toString)
    val got = Streams.runToCompletion(spark,
      Streams.dedupJittered(Streams.eventsStream(spark,
        dir.resolve("events.parquet").toString)),
      "t_jitter")
    // 5 inputs, 3 distinct event_ids — the jittered duplicate collapses
    // even though dropDuplicates("event_id", "ts") would keep it
    assert(got.select("event_id").distinct().count() == 3)
    assert(got.count() == 3)
  }

  test("stream-static join enriches every event, matches the batch join") {
    // static dim derived from the batch side: user → cohort
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(4))))
    val streamed = Streams.runToCompletion(spark,
      Streams.enrichWithStatic(Streams.eventsStream(spark, eventsPath), dim)
        .select("event_id", "user_id", "cohort"),
      "t_static_join")
    val batch = batchEvents.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "cohort")
    assert(streamed.count() == batchEvents.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("flatMapGroupsWithState deltas converge to the batch aggregate") {
    val streamed = Streams.runToCompletion(spark,
      Streams.userTotalDeltas(Streams.eventsStream(spark, eventsPath)).toDF(),
      "t_deltas", OutputMode.Append())
    val finalState = streamed.groupBy("user_id").agg(max(col("n")).as("n"))
    val batch = batchEvents.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finalState.exceptAll(batch).isEmpty && batch.exceptAll(finalState).isEmpty)
  }

  /** Stage a dataframe as one flat parquet file in `dir` (the file-stream
    * source lists files, not Spark output directories). */
  private def dropAsFile(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-drop")
    df.coalesce(1).write.parquet(tmp.resolve("d").toString)
    val part = java.nio.file.Files.list(tmp.resolve("d"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.copy(part, dir.resolve(name))
  }

  test("eventsStream: start-before-first-file — empty dir AND zero-match glob both idle-start") {
    // Both spellings of "no data yet" must fall back to the explicit
    // nanos-as-long schema and hand back a streaming frame with the
    // normalized TimestampType ts, not throw at sniff time.
    val empty = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val fromEmpty = Streams.eventsStream(spark, empty)
    assert(fromEmpty.isStreaming &&
      fromEmpty.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val fromGlob = Streams.eventsStream(spark, s"$empty/sub/*.parquet")
    assert(fromGlob.isStreaming &&
      fromGlob.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("layoutMaintainer: micro-batches land as keyed curve partitions; replay is idempotent") {
    import graft.operators.Layout
    val zc = Seq("l_partkey", "l_suppkey")
    val li = Tables(spark, sf(), "lineitem")
    val base = li.where(col("l_orderkey") % 2 === 0)
    val odd = li.where(col("l_orderkey") % 2 === 1)
    val drop1 = odd.where(col("l_partkey") % 2 === 0)
    val drop2 = odd.where(col("l_partkey") % 2 === 1)
    val root = java.nio.file.Files.createTempDirectory("graft-lay-s").toString + "/z"
    Layout.initKeyedLayout(base, zc, root, files = 8)
    val inDir = java.nio.file.Files.createTempDirectory("graft-lay-in")
    dropAsFile(drop1, inDir, "b1.parquet")
    dropAsFile(drop2, inDir, "b2.parquet")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lay-ck").toString
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    Streams.layoutMaintainer(stream, root, filesPerBatch = 2, ckpt)
      .awaitTermination()
    val back = spark.read.parquet(root)
    // partition discovery surfaces the batch key; base=0, drops own 1..N
    assert(back.select("batch").distinct().count() >= 3)
    val cols = li.columns
    assert(back.select(cols.map(col): _*)
      .groupBy(cols.map(col): _*).count()
      .except(li.groupBy(cols.map(col): _*).count()).isEmpty,
      "layout root must hold exactly base ∪ all micro-batches")
    // every partition's files are curve boxes: the trailing predicate
    // still prunes across old AND new files
    val (read, total) = Layout.filesOverlapping(
      Layout.fileRanges(spark, root, zc), Map("l_suppkey" -> (5.0, 20.0)))
    assert(read < total, s"grown keyed layout must prune: $read/$total")
    // at-least-once replay: re-delivering a micro-batch overwrites its own
    // partition — row count is unchanged (exactly-once effective)
    val n = back.count()
    Layout.appendZOrderedKeyed(drop1, root, "batch=1", files = 2)
    assert(spark.read.parquet(root).count() == n,
      "replayed micro-batch must overwrite, not duplicate")
  }

  test("foreachBatch near-dedup stream: micro-batch union == one-shot batch operator") {
    // Cross-only semantics make micro-batch boundaries invisible: each
    // arriving doc is scored against the standing corpus independently, so
    // the union over N micro-batches must equal one batch call on the
    // union. Two file drops + maxFilesPerTrigger=1 force >= 2 micro-batches.
    val corpus = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val arriving1 = corpus.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))       // near-dups
    val arriving2 = corpus.where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select((col("doc_id") + 2000).as("doc_id"),
        upper(col("text")).as("text"))                       // disjoint shingles
    // The file source lists FILES, not Spark output directories — stage
    // each drop as a single flat parquet file (the eventsPath pattern).
    val inDir = java.nio.file.Files.createTempDirectory("graft-neardup-in")
    dropAsFile(arriving1, inDir, "b1.parquet")
    dropAsFile(arriving2, inDir, "b2.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-neardup-out")
    val (matchDir, keepDir) =
      (out.resolve("matches").toString, out.resolve("keeps").toString)

    // The staged files carry only (doc_id, text); the library reader's
    // wider document schema null-pads the absent columns, which the
    // dedup path never touches.
    val stream = Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1)
    val q = Streams.nearDupAgainstCorpus(stream, corpus, threshold = 0.5,
      matchDir, keepDir, out.resolve("ckpt").toString)
    q.awaitTermination()

    val matches = spark.read.parquet(matchDir)
    val keeps = spark.read.parquet(keepDir)
    // Multi-micro-batch execution actually happened (else the equivalence
    // claim is vacuous): every doc lands in matches or keeps tagged with
    // its micro-batch, so the union must carry >= 2 distinct batch ids.
    assert(matches.select("micro_batch")
      .unionAll(keeps.select("micro_batch")).distinct().count() >= 2)
    val oneShot = graft.operators.Dedup
      .crossNearDup(corpus, arriving1.unionAll(arriving2), threshold = 0.5)
    val streamedPairs = matches.select("batch_id", "corpus_id", "jaccard")
    assert(streamedPairs.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamedPairs).isEmpty,
      "per-micro-batch union must equal the one-shot batch result")
    // keeps = exactly the arriving docs with no match ≥ threshold; the
    // upper-cased drop (disjoint shingles) must survive in full.
    val matchedIds = matches.select(col("batch_id")).distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val keptIds = keeps.select(col("doc_id"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val allIds = (0L until 10L).map(_ + 1000).toSet ++ (10L until 20L).map(_ + 2000)
    assert((matchedIds & keptIds).isEmpty && (matchedIds | keptIds) == allIds)
    assert((10L until 20L).map(_ + 2000).toSet.subsetOf(keptIds))

    // The index-probing variant over the same drops must emit the same
    // matches — the corpus side loaded from a prebuilt index instead of
    // recomputed per micro-batch.
    val idxDir = out.resolve("index").toString
    graft.operators.Dedup.buildCrossNearDupIndex(corpus, idxDir)
    val matchDir2 = out.resolve("matches2").toString
    val stream2 = Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1)
    val q2 = Streams.nearDupAgainstIndex(stream2, idxDir, threshold = 0.5,
      matchDir2, out.resolve("keeps2").toString, out.resolve("ckpt2").toString)
    q2.awaitTermination()
    val viaIndex = spark.read.parquet(matchDir2).select("batch_id", "corpus_id", "jaccard")
    assert(viaIndex.exceptAll(streamedPairs).isEmpty &&
      streamedPairs.exceptAll(viaIndex).isEmpty,
      "index-probing stream must equal the corpus-recompute stream")
  }

  test("exactDedupIngest: arrival-order precedence; union == sequential batch computation") {
    import graft.operators.Dedup
    import spark.implicits._
    val standing = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 50)
    val passage = standing.where(col("doc_id") === 3).head().getString(1).substring(0, 100)
    val fresh = "the quick brown fox jumps over the lazy dog while seventeen " +
      "wombats debate quantum economics in a parliament of owls"
    val b1 = Seq(
      (5000L, "b1 lead " + passage + " b1 tail"), // cut vs STANDING
      (5001L, fresh)                              // novel -> kept whole, indexed
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (6000L, "b2 lead " + fresh.substring(0, 60) + " b2 tail"), // only the GROWN index sees this
      (6001L, "completely novel second batch document with nothing in common at all here")
    ).toDF("doc_id", "text")

    val inDir = java.nio.file.Files.createTempDirectory("graft-xingest-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-xingest-out")
    val idxDir = out.resolve("index").toString
    val keepDir = out.resolve("keeps").toString
    Dedup.buildExactWindowIndex(standing, idxDir)

    val q = Streams.exactDedupIngest(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, keepDir, out.resolve("ckpt").toString)
    q.awaitTermination()

    val got = spark.read.parquet(keepDir)
    assert(got.select("micro_batch").distinct().count() >= 2,
      "two file drops at maxFilesPerTrigger=1 must yield >= 2 micro-batches")
    // sequential batch twin: each arrival cut against everything EARLIER
    val clean1 = Dedup.removeSpans(b1, Dedup.exactCrossDupSpans(standing, b1))
    val clean2 = Dedup.removeSpans(b2,
      Dedup.exactCrossDupSpans(standing.unionAll(b1), b2))
    val want = clean1.unionAll(clean2)
    val gotRows = got.select("doc_id", "clean_text")
    assert(gotRows.exceptAll(want).isEmpty && want.exceptAll(gotRows).isEmpty,
      "streamed union must equal the sequential batch computation")
    // the cuts prove precedence: 5000 lost the standing passage, 6000
    // lost the batch-1 passage (so the index genuinely grew mid-stream),
    // 5001/6001 kept whole
    val byId = gotRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(5000L) == "b1 lead  b1 tail")
    assert(byId(5001L) == fresh)
    assert(byId(6000L) == "b2 lead  b2 tail")
    assert(byId(6001L).startsWith("completely novel"))
  }

  test("bm25Ingest: stream-grown index == one-shot build; micro-batch ids committed") {
    import graft.operators.Retrieval
    val docs = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val standing = docs.where(col("doc_id") >= 100)
    val inDir = java.nio.file.Files.createTempDirectory("graft-bm25ingest-in")
    dropAsFile(docs.where(col("doc_id") < 50), inDir, "b1.parquet")
    dropAsFile(docs.where(col("doc_id") >= 50 && col("doc_id") < 100),
      inDir, "b2.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-bm25ingest-out")
    val idxDir = out.resolve("index").toString
    Retrieval.buildBm25Index(standing, idxDir)

    val q = Streams.bm25Ingest(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, out.resolve("ckpt").toString)
    q.awaitTermination()

    val fullDir = out.resolve("full").toString
    Retrieval.buildBm25Index(docs, fullDir)
    for (terms <- Seq(Seq("spark", "merge"), Seq("window"))) {
      val streamed = Retrieval.bm25IndexedTopK(spark, idxDir, terms, 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oneShot = Retrieval.bm25IndexedTopK(spark, fullDir, terms, 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(streamed == oneShot, s"terms $terms: streamed != one-shot")
    }
    // both micro-batch ids committed (two file drops at maxFilesPerTrigger=1)
    val vDirs = new java.io.File(idxDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    assert(vDirs.length == 2, s"expected 2 surviving versions, got ${vDirs.toSeq}")
    val batches = new java.io.File(idxDir, "postings").listFiles().map(_.getName).sorted
    assert(batches.toSeq == Seq("batch=-1", "batch=0", "batch=1"),
      s"postings partitions: ${batches.toSeq}")
  }

  test("noveltyIngest: per-batch funnels == sequential; batch-0 growth cuts batch-1 novelty") {
    import graft.operators.{Curation, Dedup}
    val d = Tables(spark, sf(), "documents")
    val standing = d.select(col("doc_id"), col("text")).where(col("doc_id") < 60)
    val b1 = d.where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select((col("doc_id") + 600000).as("doc_id"), col("lang"),
        upper(col("text")).as("text"))
      .unionAll(d.where(col("doc_id") >= 20 && col("doc_id") < 25)
        .select((col("doc_id") + 700000).as("doc_id"), col("lang"), col("text")))
    // b2: exact copies of b1's upper-cased content (novel vs the seed,
    // non-novel ONLY because batch 0 grew the index) plus genuinely new
    val b2 = d.where(col("doc_id") >= 10 && col("doc_id") < 15)
      .select((col("doc_id") + 900000).as("doc_id"), col("lang"),
        upper(col("text")).as("text"))
      .unionAll(d.where(col("doc_id") >= 40 && col("doc_id") < 50)
        .select((col("doc_id") + 950000).as("doc_id"), col("lang"),
          upper(col("text")).as("text")))
    val st = java.nio.file.Files.createTempDirectory("graft-novingest")
    val idxDir = st.resolve("index").toString
    val funnelDir = st.resolve("funnel").toString
    Dedup.buildExactWindowIndex(standing, idxDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-novingest-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    val q = Streams.noveltyIngest(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, funnelDir, st.resolve("ckpt").toString)
    q.awaitTermination()
    val cols = Seq("micro_batch", "lang", "n_gated", "n_novel", "n_final")
    val got = spark.read.parquet(funnelDir)
      .select(col("micro_batch").cast("long").as("micro_batch"), col("lang"),
        col("n_gated"), col("n_novel"), col("n_final"))
    // sequential twin: batch k scored against standing ∪ earlier batches
    val want1 = Curation.noveltyFunnel(standing, b1)
      .withColumn("micro_batch", lit(0L))
    val want2grown = Curation.noveltyFunnel(
        standing.unionAll(b1.select(col("doc_id"), col("text"))), b2)
      .withColumn("micro_batch", lit(1L))
    val want = want1.unionAll(want2grown).select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed funnels must equal the sequential batch computation")
    // growth proof: without batch 0's windows the copies would count novel
    val ungrown = Curation.noveltyFunnel(standing, b2)
      .agg(sum(col("n_novel"))).collect()(0).getLong(0)
    val grown = want2grown.agg(sum(col("n_novel"))).collect()(0).getLong(0)
    assert(ungrown > grown,
      s"batch-0 index growth must reduce batch-1 novelty ($ungrown vs $grown)")
  }

  test("driftMonitor: per-batch PSI == the batch drift form; feature contract is checked") {
    import graft.operators.Curation
    val d = Tables(spark, sf(), "documents")
    val standing = d.where(col("doc_id") < 40)
    val b1 = d.where(col("doc_id") >= 40 && col("doc_id") < 50)
    val b2 = d.where(col("doc_id") >= 50 && col("doc_id") < 60)
    val features = Seq(
      "chars" -> floor(length(col("text")) / lit(256)),
      "lang" -> col("lang"))
    val st = java.nio.file.Files.createTempDirectory("graft-driftmon")
    val idxDir = st.resolve("index").toString
    Curation.buildDriftIndex(standing, features, idxDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-driftmon-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    val q = Streams.driftMonitor(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, st.resolve("drift").toString, st.resolve("ckpt").toString,
      features)
    q.awaitTermination()
    val cols = Seq("micro_batch", "feature", "n_bins", "psi")
    val got = spark.read.parquet(st.resolve("drift").toString)
      .select(col("micro_batch").cast("long").as("micro_batch"),
        col("feature"), col("n_bins"), col("psi"))
    // the monitor only observes — each batch scores against the SAME
    // standing histograms, so the sequential twin is the plain batch form
    val want = Curation.drift(standing, b1, features)
      .withColumn("micro_batch", lit(0L))
      .unionAll(Curation.drift(standing, b2, features)
        .withColumn("micro_batch", lit(1L)))
      .select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed PSI must equal the batch drift computation per micro-batch")
    // a probe whose declared features don't match the index fails loudly
    val err = intercept[IllegalArgumentException] {
      Curation.driftAgainstIndex(idxDir, b1,
        Seq("chars" -> floor(length(col("text")) / lit(256))))
    }
    assert(err.getMessage.contains("rebuild the index"), err.getMessage)
  }

  test("driftMonitor(grow): batch k scores vs standing ∪ batches 0..k−1; growth == recompute") {
    import graft.operators.Curation
    val d = Tables(spark, sf(), "documents")
    val standing = d.where(col("doc_id") < 40)
    val b1 = d.where(col("doc_id") >= 40 && col("doc_id") < 50)
    val b2 = d.where(col("doc_id") >= 50 && col("doc_id") < 60)
    val features = Seq(
      "chars" -> floor(length(col("text")) / lit(256)),
      "lang" -> col("lang"))
    val st = java.nio.file.Files.createTempDirectory("graft-driftgrow")
    val idxDir = st.resolve("index").toString
    Curation.buildDriftIndex(standing, features, idxDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-driftgrow-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    val q = Streams.driftMonitor(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, st.resolve("drift").toString, st.resolve("ckpt").toString,
      features, grow = true)
    q.awaitTermination()
    val cols = Seq("micro_batch", "feature", "n_bins", "psi")
    val got = spark.read.parquet(st.resolve("drift").toString)
      .select(col("micro_batch").cast("long").as("micro_batch"),
        col("feature"), col("n_bins"), col("psi"))
    // sequential twin: batch 0 vs standing; batch 1 vs standing ∪ batch 0
    val want = Curation.drift(standing, b1, features)
      .withColumn("micro_batch", lit(0L))
      .unionAll(Curation.drift(standing.unionAll(b1), b2, features)
        .withColumn("micro_batch", lit(1L)))
      .select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "grown streamed PSI must equal the sequential recompute per batch")
    // replay exactness: re-probing batch 2 with its own partition excluded
    // scores identically to the pre-append state (the crash-replay path)
    val replay = Curation.driftAgainstIndex(idxDir, b2, features,
      excludeIngestBatch = Some(1L))
    val fresh = Curation.drift(standing.unionAll(b1), b2, features)
    assert(replay.exceptAll(fresh).isEmpty && fresh.exceptAll(replay).isEmpty,
      "own-partition exclusion must make a replayed probe exact")
  }

  test("curation loop: streamed increments converge to the batch-pipeline labeling") {
    import graft.operators.Dedup
    val corpus = Tables(spark, sf(), "documents").where(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    // two drops: near-copies of docs < 10; then exact re-copies of the
    // first five of THOSE (cross-batch dups) plus fresh upper-cased docs
    val b1 = corpus.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val b2 = corpus.where(col("doc_id") < 5)
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
      .unionAll(corpus.where(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 3000).as("doc_id"), upper(col("text")).as("text")))
    val st = java.nio.file.Files.createTempDirectory("graft-curation")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedCurationState(corpus, idxDir, lblDir, threshold = 0.8)
    val inDir = java.nio.file.Files.createTempDirectory("graft-curation-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    val q = Streams.curationLoop(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, threshold = 0.8, st.resolve("ckpt").toString)
    q.awaitTermination()
    // retention: newest snapshot + its predecessor survive, the seed is
    // pruned once two newer committed versions exist
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v-1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v0")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v1")))
    // the final snapshot equals the from-scratch batch pipeline over the
    // whole accumulated corpus — regardless of micro-batch order, because
    // earlier batches are in the index when later ones arrive
    val got = spark.read.parquet(s"$lblDir/v1")
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect().toSet
    val expected = Dedup.clusterDedupFirst(
        corpus.unionAll(b1).unionAll(b2), minJaccard = Some(0.8))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect().toSet
    assert(got == expected,
      "streamed curation state must equal the batch-mode labeling")
    // the index absorbed both batches (scored-then-appended, never self)
    val indexed = spark.read.parquet(s"$idxDir/shingle_keys")
      .select("doc_id").distinct().count()
    assert(indexed == corpus.count() + b1.count() + b2.count())

    // At-least-once replay, end to end: re-run the WHOLE stream with a
    // fresh checkpoint against the existing state — every batch is now a
    // replay (its snapshot exists, its ids are indexed). The loop must
    // not trip its own collision guard, must converge to the same
    // labeling, and the double-appended index must still probe clean.
    val q2 = Streams.curationLoop(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, threshold = 0.8, st.resolve("ckpt-replay").toString)
    q2.awaitTermination()
    val replayed = spark.read.parquet(s"$lblDir/v1")
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .collect().toSet
    assert(replayed == expected, "replaying every batch must be a fixpoint")
    assert(spark.read.parquet(s"$idxDir/shingle_keys")
      .select("doc_id").distinct().count() == indexed)
  }

  test("curation loop takedown: purged state == seeded-and-grown-without; registry refuses re-ingest") {
    import graft.operators.Dedup
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    val corpus = Tables(spark, sf(), "documents").where(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val b1 = corpus.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val b2 = corpus.where(col("doc_id") < 5)
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val st = java.nio.file.Files.createTempDirectory("graft-curation-purge")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedCurationState(corpus, idxDir, lblDir, threshold = 0.8)
    val inDir = java.nio.file.Files.createTempDirectory("graft-curation-purge-in")
    dropAsFile(b1, inDir, "b1.parquet")
    dropAsFile(b2, inDir, "b2.parquet")
    Streams.curationLoop(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, threshold = 0.8, st.resolve("ckpt").toString)
      .awaitTermination()

    // takedown: a corpus doc with near-dup copies (3), a batch doc
    // (1003), and a pairless corpus doc (15)
    import spark.implicits._
    val purged = Seq(3L, 1003L, 15L)
    // touched-only discipline (r16): edge versions holding no
    // purged-incident pair must never be staged or swapped — the dir
    // mtime pins it, because a rewrite replaces the directory wholesale
    val untouchedVers = new java.io.File(s"$lblDir/edges").listFiles()
      .filter(_.getName.startsWith("v"))
      .filter { d =>
        spark.read.schema("doc_a LONG, doc_b LONG").parquet(d.toString)
          .where(col("doc_a").isin(purged: _*) ||
            col("doc_b").isin(purged: _*)).isEmpty
      }
    val untouchedMtimes = untouchedVers.map(d => d.getName -> d.lastModified()).toMap
    Streams.purgeCurationState(spark, idxDir, lblDir,
      purged.toDF("doc_id"))
    untouchedVers.foreach(d => assert(d.lastModified() == untouchedMtimes(d.getName),
      s"untouched edge version ${d.getName} must not be rewritten by a purge"))
    val survivors = corpus.unionAll(b1).unionAll(b2)
      .where(!col("doc_id").isin(purged: _*))
    val got = spark.read.parquet(s"$lblDir/v1").as[(Long, Long)](enc)
      .collect().toSet
    val want = Dedup.clusterDedupFirst(survivors, minJaccard = Some(0.8))
      .as[(Long, Long)](enc).collect().toSet
    assert(got == want,
      s"purged streaming labels must equal grown-without: got $got want $want")
    // the index and the edge evidence know nothing of the purged ids
    assert(spark.read.parquet(s"$idxDir/shingle_keys")
      .where(col("doc_id").isin(purged: _*)).count() == 0)
    assert(spark.read.schema("doc_a LONG, doc_b LONG")
      .parquet(s"$lblDir/edges")
      .where(col("doc_a").isin(purged: _*) ||
        col("doc_b").isin(purged: _*)).count() == 0)

    // crash-replay resurrection guard (the r16 ADVICE-high scenario): a
    // purge cites a doc from an already-committed batch (1003 ∈ b1),
    // then a restart replays EVERY batch (fresh checkpoint). Replays
    // recompute their edges, labels fold, and index append over the
    // batch MINUS the registry, so the purged doc must not reappear in
    // any standing artifact.
    Streams.curationLoop(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, threshold = 0.8, st.resolve("ckpt-replay").toString)
      .awaitTermination()
    assert(spark.read.parquet(s"$idxDir/shingle_keys")
      .where(col("doc_id").isin(purged: _*)).count() == 0,
      "a crash-replayed batch must not resurrect purged shingles")
    assert(spark.read.schema("doc_a LONG, doc_b LONG")
      .parquet(s"$lblDir/edges")
      .where(col("doc_a").isin(purged: _*) ||
        col("doc_b").isin(purged: _*)).count() == 0,
      "a crash-replayed batch must not resurrect purged edge evidence")
    assert(spark.read.parquet(s"$lblDir/v1").as[(Long, Long)](enc)
      .collect().toSet == want,
      "replay against purged state must be a labeling fixpoint")

    // continuation: a post-purge batch folds against purged state and
    // the final labeling equals the from-scratch one over survivors∪b3
    val b3 = corpus.where(col("doc_id") >= 5 && col("doc_id") < 8)
      .select((col("doc_id") + 4000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    dropAsFile(b3, inDir, "b3.parquet")
    Streams.curationLoop(
      Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, threshold = 0.8, st.resolve("ckpt").toString)
      .awaitTermination()
    val after = spark.read.parquet(s"$lblDir/v2").as[(Long, Long)](enc)
      .collect().toSet
    val wantAfter = Dedup.clusterDedupFirst(survivors.unionAll(b3),
        minJaccard = Some(0.8))
      .as[(Long, Long)](enc).collect().toSet
    assert(after == wantAfter,
      "post-purge growth must keep matching the built-without labeling")

    // registry: a NEW batch resubmitting a purged id is refused loudly
    val bad = corpus.where(col("doc_id") === 3L)
      .select(col("doc_id"), col("text"))
    dropAsFile(bad, inDir, "b4.parquet")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.curationLoop(
        Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
        idxDir, lblDir, threshold = 0.8, st.resolve("ckpt").toString)
        .awaitTermination()
    }
    assert(ex.getMessage.contains("purged"), ex.getMessage)

    // the other first-delivery refusals, each batch on a fresh checkpoint
    // (so it is batch 0, whose snapshot v0 is pruned by now: a first
    // delivery). A batch tripping several guards reports the first in
    // firing order: duplicate id, already-indexed id, registry hit.
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v0")))
    def refusal(name: String, rows: org.apache.spark.sql.DataFrame): String = {
      val in = java.nio.file.Files.createTempDirectory(s"graft-curation-$name")
      dropAsFile(rows, in, s"$name.parquet")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.curationLoop(
          Streams.documentsStream(spark, in.toString, maxFilesPerTrigger = 1),
          idxDir, lblDir, threshold = 0.8, st.resolve(s"ckpt-$name").toString)
          .awaitTermination()
      }.getMessage
    }
    val indexed = corpus.where(col("doc_id") === 20L) // indexed, never purged
    val dupMsg = refusal("dup", Seq(6000L -> "fresh words one two three",
        6000L -> "other words four five six").toDF("doc_id", "text")
      .unionAll(indexed).unionAll(bad))
    assert(dupMsg.contains("batch 0 carries duplicate doc_id 6000"), dupMsg)
    val idxMsg = refusal("indexed", indexed.unionAll(bad))
    assert(idxMsg.contains("batch 0 reuses already-indexed doc_id 20: " +
      "curationLoop requires globally unique doc_ids"), idxMsg)
  }

  test("loop takedown repairs a crashed edge rewrite BEFORE listing evidence") {
    import graft.operators.Dedup
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    import spark.implicits._
    val corpus = Tables(spark, sf(), "documents").where(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
      .unionAll(Tables(spark, sf(), "documents").where(col("doc_id") < 10)
        .select((col("doc_id") + 1000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text")))
    val st = java.nio.file.Files.createTempDirectory("graft-curation-crash")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedCurationState(corpus, idxDir, lblDir, threshold = 0.8)
    // simulate a purge that crashed mid-roll-forward on the edges root:
    // live v-1 deleted, its replacement still staged, marker committed —
    // a listing taken NOW would silently miss every v-1 edge
    val edges = s"$lblDir/edges"
    val fs = new org.apache.hadoop.fs.Path(edges)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$edges/_graft_purging"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$edges/v-1"),
      new org.apache.hadoop.fs.Path(s"$edges/_graft_purging/v-1")))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$edges/_graft_purge"), true)
    out.write("SWAP v-1\n".getBytes("UTF-8")); out.close()
    // purge an id that touches nothing: without the pre-listing repair
    // the touched-only branch never runs, v-1 stays lost, and the label
    // re-solve drops every seed edge
    Streams.purgeCurationState(spark, idxDir, lblDir, Seq(999999L).toDF("doc_id"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$edges/v-1")),
      "the crashed rewrite must roll forward before evidence is read")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$edges/_graft_purge")))
    val got = spark.read.parquet(s"$lblDir/v-1").as[(Long, Long)](enc)
      .collect().toSet
    val want = Dedup.clusterDedupFirst(corpus, minJaccard = Some(0.8))
      .as[(Long, Long)](enc).collect().toSet
    assert(got == want,
      "labels re-solved during the purge must still see every v-1 edge")
  }

  test("audioDedupLoop: streamed labels == from-scratch CC; takedown mirrors the image loop") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    def variants(rows: Seq[(Long, Long, Int, Int)]) =
      Multimodal.syntheticAudioVariants(rows.toDF("doc_id", "key", "gain", "retouch"))
    val standingRows = (0L until 16L).map(k => (k, k, 1, 0))
    val b1Rows = (0L until 6L).map(k => (k + 100L, k, 2, 0))
    // the dropout of key 7... key 7 is standing-only here; use key 3's
    // dropout — wait, dropout index 25 needs >= 26 samples: key 3 has
    // ch=2, frames=13 -> 26 samples, idx 25 valid (the last sample)
    val b2Rows = Seq((200L, 3L, 1, 25))
    val standing = variants(standingRows)
    val st = java.nio.file.Files.createTempDirectory("graft-audioloop")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedAudioDedupState(standing, idxDir, lblDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-audioloop-in")
    dropAsFile(variants(b1Rows).toDF(), inDir, "b1.parquet")
    dropAsFile(variants(b2Rows).toDF(), inDir, "b2.parquet")
    Streams.audioDedupLoop(
      Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, st.resolve("ckpt").toString)
      .awaitTermination()
    val got = spark.read.parquet(s"$lblDir/v1").as[(Long, Long)](enc)
      .collect().toSet
    val all = variants(standingRows ++ b1Rows ++ b2Rows)
    val want = Dedup.connectedComponents(
        Multimodal.nearDupAudio(all).select(col("doc_a"), col("doc_b")))
      .as[(Long, Long)](enc).collect().toSet
    assert(got == want, s"streamed audio labels must equal from-scratch CC: got $got want $want")
    // takedown through the shared machinery
    val purged = Seq(3L)
    Streams.purgeAudioDedupState(spark, idxDir, lblDir, purged.toDF("doc_id"))
    val after = spark.read.parquet(s"$lblDir/v1").as[(Long, Long)](enc)
      .collect().toSet
    val survivors = variants(
      (standingRows ++ b1Rows ++ b2Rows).filterNot(r => purged.contains(r._1)))
    val wantAfter = Dedup.connectedComponents(
        Multimodal.nearDupAudio(survivors).select(col("doc_a"), col("doc_b")))
      .as[(Long, Long)](enc).collect().toSet
    assert(after == wantAfter,
      s"purged audio labels must equal grown-without: got $after want $wantAfter")
    assert(Multimodal.standingAudioFps(spark, idxDir)
      .where(col("doc_id").isin(purged: _*)).count() == 0)
  }

  test("image loop takedown: purged state == seeded-and-grown-without; registry refuses re-ingest") {
    import graft.operators.Multimodal
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    def variants(rows: Seq[(Long, Long, Int, Int)]) =
      Multimodal.syntheticImageVariants(rows.toDF("doc_id", "key", "delta", "spot"))
    val standingRows = (0L until 16L).map(i => (i, i, 0, 0))
    val b1Rows = (0L until 6L).map(i => (i + 100L, i, 1, 0))
    val standing = variants(standingRows)
    val b1 = variants(b1Rows)
    val st = java.nio.file.Files.createTempDirectory("graft-imgpurge")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedImageDedupState(standing, idxDir, lblDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-imgpurge-in")
    dropAsFile(b1.toDF(), inDir, "b1.parquet")
    Streams.imageDedupLoop(
      Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, st.resolve("ckpt").toString)
      .awaitTermination()
    // takedown: a standing original with a twin (3), a pairless standing
    // image (9), and a BATCH image (101 ∈ b1) — the last exercises the
    // crash-replay resurrection guard below
    val purged = Seq(3L, 9L, 101L)
    Streams.purgeImageDedupState(spark, idxDir, lblDir, purged.toDF("doc_id"))
    val survivors = variants(
      (standingRows ++ b1Rows).filterNot(r => purged.contains(r._1)))
    val got = spark.read.parquet(s"$lblDir/v0").as[(Long, Long)](enc)
      .collect().toSet
    val want = Multimodal.clusterImages(survivors)
      .as[(Long, Long)](enc).collect().toSet
    assert(got == want, s"purged image labels must equal grown-without: got $got want $want")
    assert(Multimodal.standingDHashes(spark, idxDir)
      .where(col("doc_id").isin(purged: _*)).count() == 0)
    // crash-replay resurrection guard: replay the whole stream (fresh
    // checkpoint) against the purged state — the replayed batch
    // recomputes its index partition, edges, and labels over the batch
    // MINUS the registry, so the purged batch image (101) must not
    // reappear anywhere
    Streams.imageDedupLoop(
      Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, st.resolve("ckpt-replay").toString)
      .awaitTermination()
    assert(Multimodal.standingDHashes(spark, idxDir)
      .where(col("doc_id").isin(purged: _*)).count() == 0,
      "a crash-replayed batch must not resurrect purged hashes")
    assert(spark.read.parquet(s"$lblDir/v0").as[(Long, Long)](enc)
      .collect().toSet == want,
      "replay against purged state must be a labeling fixpoint")
    // registry refusal on a NEW batch resubmitting a purged id
    dropAsFile(variants(Seq((3L, 3L, 0, 0))).toDF(), inDir, "b2.parquet")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.imageDedupLoop(
        Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
        idxDir, lblDir, st.resolve("ckpt").toString)
        .awaitTermination()
    }
    assert(ex.getMessage.contains("purged"), ex.getMessage)
  }

  test("imageDedupLoop: streamed labels == from-scratch clusterImages; replay is a fixpoint") {
    import graft.operators.Multimodal
    import spark.implicits._
    val standingRows = (0L until 16L).map(i => (i, i, 0, 0))
    val b1Rows = (0L until 6L).map(i => (i + 100L, i, 1, 0))
    // batch 2 plants a genuine cross-BATCH edge: 210 is a second delta
    // twin of key 0, whose only ≤-Hamming-3 partners are standing 0 and
    // b1's twin 100 — the (210, 100) pair exists only because batch 1's
    // hashes were appended to the index before batch 2 arrived. 200 is
    // the spot retouch of key 6 (pairs with standing 6, cross).
    val b2Rows = Seq((200L, 6L, 0, 50), (210L, 0L, 1, 0))
    val standing = Multimodal.syntheticImageVariants(
      standingRows.toDF("doc_id", "key", "delta", "spot"))
    val b1 = Multimodal.syntheticImageVariants(
      b1Rows.toDF("doc_id", "key", "delta", "spot"))
    val b2 = Multimodal.syntheticImageVariants(
      b2Rows.toDF("doc_id", "key", "delta", "spot"))
    val st = java.nio.file.Files.createTempDirectory("graft-imgloop")
    val (idxDir, lblDir) = (st.resolve("index").toString, st.resolve("labels").toString)
    Streams.seedImageDedupState(standing, idxDir, lblDir)
    val inDir = java.nio.file.Files.createTempDirectory("graft-imgloop-in")
    dropAsFile(b1.toDF(), inDir, "b1.parquet")
    dropAsFile(b2.toDF(), inDir, "b2.parquet")
    val q = Streams.imageDedupLoop(
      Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, st.resolve("ckpt").toString)
    q.awaitTermination()
    // retention: seed pruned once two newer committed versions exist
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v-1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(lblDir, "v1")))
    val got = spark.read.parquet(s"$lblDir/v1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Multimodal.clusterImages(Multimodal.syntheticImageVariants(
        (standingRows ++ b1Rows ++ b2Rows).toDF("doc_id", "key", "delta", "spot")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      "streamed image labels must equal the from-scratch clusterImages labeling")
    // the cross-BATCH edge landed: b2's twin 210 labels into 0's component,
    // a pair that exists only because b1's twin 100 was already indexed
    assert(got(210L) == 0L && got(100L) == 0L)
    // index absorbed both batches
    assert(Multimodal.standingDHashes(spark, idxDir).count() ==
      standing.count() + b1.count() + b2.count())
    // at-least-once replay, end to end: fresh checkpoint, same state —
    // every batch replays; own-partition exclusion + fixpoint folds must
    // converge to the identical labeling
    val q2 = Streams.imageDedupLoop(
      Streams.mediaStream(spark, inDir.toString, maxFilesPerTrigger = 1),
      idxDir, lblDir, st.resolve("ckpt-replay").toString)
    q2.awaitTermination()
    val replayed = spark.read.parquet(s"$lblDir/v1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == expected, "replaying every batch must be a fixpoint")
    assert(Multimodal.standingDHashes(spark, idxDir).count() ==
      standing.count() + b1.count() + b2.count())
  }

  test("cdcStream: two-batch emissions == SnapshotDiff between the same as-of points") {
    import graft.operators.SnapshotDiff
    import spark.implicits._
    val bounds = SnapshotDiff.defaultBounds(batchEvents).head()
    val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-stream")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    dropAsFile(batchEvents.where(unix_micros(col("ts")) < t0).select(cols.map(col): _*),
      dir, "b1.parquet")
    val schema = batchEvents.select(cols.map(col): _*).schema
    val q = Streams.cdcStream(
        spark.readStream.schema(schema).parquet(dir.toString))
      .writeStream.format("memory").queryName("t_cdc").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("t_cdc").collect().toSeq
      // batch 1 cold-starts every pre-t0 key as an insert
      assert(b1.forall(_.getString(1) == "insert"))
      assert(b1.size == batchEvents.where(unix_micros(col("ts")) < t0)
        .select("user_id").distinct().count())

      dropAsFile(batchEvents.where(unix_micros(col("ts")) >= t0).select(cols.map(col): _*),
        dir, "b2.parquet")
      q.processAllAvailable()
      val b2 = spark.table("t_cdc").collect().toSeq.diff(b1)
      // keys the second batch touched report exactly the batch-operator
      // classification; untouched keys are its `unchanged` rows (silent
      // here by framework contract) — so compare the non-unchanged sets
      val streamed = b2.filter(_.getString(1) != "unchanged")
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
        .toMap
      val batch = SnapshotDiff.diff(
          batchEvents.crossJoin(broadcast(SnapshotDiff.defaultBounds(batchEvents))),
          col("user_id"), col("t0"), col("t1"))
        .where(col("change").isin("insert", "update"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
        .toMap
      assert(streamed == batch,
        s"streamed CDC must equal the batch operator: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("cdcStream: tombstones delete; replayed stale events cannot regress state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-tomb")
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double)]): Unit =
      dropAsFile(rows.toDF("event_id", "tsus", "user_id", "event_type", "value")
        .select(col("event_id"), timestamp_micros(col("tsus")).as("ts"),
          col("user_id"), col("event_type"), col("value")), dir, name)
    write("b1.parquet", Seq((1L, 1000000L, 7L, "click", 1.0)))
    val schema = spark.read.parquet(dir.resolve("b1.parquet").toString).schema
    val q = Streams.cdcStream(
        spark.readStream.schema(schema).parquet(dir.toString),
        tombstone = Some("gone"))
      .writeStream.format("memory").queryName("t_cdc_tomb").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      write("b2.parquet", Seq((2L, 2000000L, 7L, "gone", 0.0)))
      q.processAllAvailable()
      val rows = spark.table("t_cdc_tomb").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      assert(rows.contains((7L, "insert", null, "click")))
      assert(rows.contains((7L, "delete", "click", null)), s"got $rows")
      // replay an OLDER event: max-merged state keeps the tombstone, and a
      // dead-before/dead-after key emits nothing
      write("b3.parquet", Seq((1L, 1000000L, 7L, "click", 1.0)))
      q.processAllAvailable()
      assert(spark.table("t_cdc_tomb").count() == 2,
        "a stale replay must not resurrect a tombstoned key")
    } finally q.stop()
  }

  test("releaseMonitor: per-batch funnel == batch kernel against the " +
      "same persisted model/cuts; fresh-checkpoint replay is a fixpoint") {
    import graft.operators.{Curation, LangModel}
    val d = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val train = d.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val b0 = d.where(col("doc_id") % 3 === 1 && col("doc_id") < 200)
    val b1 = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 200)
    val st = java.nio.file.Files.createTempDirectory("graft-relmon")
    val inDir = java.nio.file.Files.createTempDirectory("graft-relmon-in")
    dropAsFile(b0, inDir, "b0.parquet")
    dropAsFile(b1, inDir, "b1.parquet")
    LangModel.buildLmMlIndex(train, s"$st/model")
    Curation.writeReleaseCuts(train, s"$st/model", 255000L, s"$st/cuts")
    def run(ckpt: String) = {
      val q = Streams.releaseMonitor(
        Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
        s"$st/model", s"$st/cuts", s"$st/rel", s"$st/$ckpt")
      q.awaitTermination()
    }
    run("ckpt")
    val got = spark.read.parquet(s"$st/rel")
    assert(got.select("micro_batch").distinct().count() == 2)
    // per batch == the batch-side kernel over the same persisted tables
    val (uni, bi) = LangModel.readModelMl(spark, s"$st/model")
    val cuts = spark.read.parquet(s"$st/cuts")
    Seq(0 -> b0, 1 -> b1).foreach { case (id, b) =>
      val want = Curation.releaseAgainst(
        b.select(col("doc_id"), col("text"), col("lang")), uni, bi, cuts)
      val g = got.where(col("micro_batch") === id)
        .select(want.columns.map(col): _*)
      assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
        s"micro-batch $id must equal the batch kernel")
    }
    // at-least-once replay, end to end: a fresh checkpoint re-delivers
    // EVERY batch; the pure observer's batchId-keyed overwrite (standing
    // model/cuts never mutate) must be a fixpoint
    val before = got.orderBy("micro_batch", "lang").collect().toSeq
    run("ckpt-replay")
    assert(spark.read.parquet(s"$st/rel")
      .orderBy("micro_batch", "lang").collect().toSeq == before,
      "replaying every batch must rewrite identical funnel rows")
  }

  test("releaseMonitorIded: arrivals keyed on langIdPred — a mislabeled " +
      "Han stratum arriving MID-STREAM gates in the zh lane; per-batch " +
      "funnel == the keyed batch kernel; fresh-checkpoint replay is a " +
      "fixpoint") {
    import graft.operators.{Curation, LangModel, TextAnalysis}
    val hanAlphabet = (0 until 26).map(i => (0x4e00 + i).toChar).mkString
    val d = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"),
        TextAnalysis.langIdPred(col("text")).as("lang"))
    val train = keyed(d.where(col("doc_id") % 3 === 0))
    val b0 = d.where(col("doc_id") % 3 === 1 && col("doc_id") < 200)
    // batch 1 carries the MISLABELED stratum: real Han text whose lang
    // column claims 'en' — the monitor must ignore the claim entirely
    val mislabeled = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 60)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz", hanAlphabet)
          .as("text"),
        lit("en").as("lang"), col("source"), col("n_chars"))
    val b1 = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 200)
      .unionAll(mislabeled)
    val st = java.nio.file.Files.createTempDirectory("graft-relmon-ided")
    val inDir = java.nio.file.Files.createTempDirectory("graft-relmon-ided-in")
    dropAsFile(b0, inDir, "b0.parquet")
    dropAsFile(b1, inDir, "b1.parquet")
    LangModel.buildLmMlIndex(train, s"$st/model")
    Curation.writeReleaseCuts(train, s"$st/model", 255000L, s"$st/cuts")
    def run(ckpt: String) = {
      val q = Streams.releaseMonitorIded(
        Streams.documentsStream(spark, inDir.toString, maxFilesPerTrigger = 1),
        s"$st/model", s"$st/cuts", s"$st/rel", s"$st/$ckpt")
      q.awaitTermination()
    }
    run("ckpt")
    val got = spark.read.parquet(s"$st/rel")
    assert(got.select("micro_batch").distinct().count() == 2)
    // per batch == the batch-side kernel over the PREDICTION-KEYED batch
    val (uni, bi) = LangModel.readModelMl(spark, s"$st/model")
    val cuts = spark.read.parquet(s"$st/cuts")
    Seq(0 -> b0, 1 -> b1).foreach { case (id, b) =>
      val want = Curation.releaseAgainst(keyed(b), uni, bi, cuts)
      val g = got.where(col("micro_batch") === id)
        .select(want.columns.map(col): _*)
      assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
        s"micro-batch $id must equal the keyed batch kernel")
    }
    // the mislabeled docs appear in batch 1's zh lane (never an en lane
    // inflation): zh n_in grows by exactly the stratum size vs the
    // keyed batch WITHOUT the stratum
    val zhWithout = Curation.releaseAgainst(
        keyed(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 200)),
        uni, bi, cuts)
      .where(col("lang") === "zh").select("n_in")
      .collect().headOption.map(_.getLong(0)).getOrElse(0L)
    val zhWith = got.where(col("micro_batch") === 1 && col("lang") === "zh")
      .select("n_in").collect().headOption.map(_.getLong(0)).getOrElse(0L)
    assert(zhWith == zhWithout + mislabeled.count(),
      "every mislabeled Han doc must gate in the PREDICTED zh lane")
    // fresh-checkpoint replay fixpoint (pure observer, keyed projection
    // is deterministic)
    val before = got.orderBy("micro_batch", "lang").collect().toSeq
    run("ckpt-replay")
    assert(spark.read.parquet(s"$st/rel")
      .orderBy("micro_batch", "lang").collect().toSeq == before,
      "replaying every batch must rewrite identical funnel rows")
  }
}
