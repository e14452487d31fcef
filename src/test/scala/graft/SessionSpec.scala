package graft

import graft.operators.{Dedup, Multimodal, Retrieval}
import org.apache.spark.sql.functions._

/** In-session RETRY convergence of the r16 loop sessions: the streaming
  * loops' end-to-end replay tests (StreamingSpec) replay batches through
  * FRESH sessions (a restart reloads caches from parquet), but a
  * foreachBatch retry after a task failure re-invokes the body on the
  * SAME session — the path these tests pin: a doubled append/extend must
  * leave each cache equal to the parquet state it mirrors. */
class SessionSpec extends TestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("WindowIndexSession: a retried append converges; cache == parquet; probes == dir-based") {
    val corpus = docs(1L -> ("alpha bravo charlie delta echo foxtrot golf " * 3),
      2L -> ("one two three four five six seven eight nine ten eleven " * 3))
    val st = java.nio.file.Files.createTempDirectory("graft-wsession")
    val dir = s"$st/index"
    Dedup.buildExactWindowIndex(corpus, dir, L = 20)
    val s = Dedup.openWindowIndexSession(spark, dir)
    val b1 = docs(101L -> ("november oscar papa quebec romeo sierra tango " * 3))
    s.append(b1, 0L)
    s.append(b1, 0L) // foreachBatch retry: same id, same rows
    val cached = s.standingWindows(None).as[Long].collect().sorted.toSeq
    val stored = spark.read.parquet(s"$dir/windows")
      .select(col("m")).as[Long].collect().sorted.toSeq
    assert(cached == stored, "retried append must leave cache == parquet")
    // exclusion parity with the dir-based probe
    val probe = docs(201L -> ("november oscar papa quebec romeo sierra tango " * 3))
    val viaSession = Dedup.exactCrossDupSession(s, probe, Some(0L))
      .collect().map(_.toSeq).toSet
    val viaDir = Dedup.exactCrossDupIndexed(spark, dir, probe, Some(0L))
      .collect().map(_.toSeq).toSet
    assert(viaSession == viaDir, "session probe must equal the dir-based probe")
    s.close()
  }

  test("SigIndexSession: a retried extend replaces, never duplicates; exclusion == standing read") {
    val media = Multimodal.syntheticImages(
      (0L until 8L).toDF("doc_id").select(col("doc_id")))
    val st = java.nio.file.Files.createTempDirectory("graft-sigsession")
    val dir = s"$st/index"
    Multimodal.buildDHashIndex(media, dir)
    val s = Multimodal.openSigIndexSession(spark, dir, "phash")
    val b = Multimodal.dHash64(Multimodal.syntheticImages(
        (100L until 104L).toDF("doc_id").select(col("doc_id"))))
      .select(col("doc_id"), col("phash"))
    // keyed overwrite + extend, twice (the retry)
    b.write.mode("overwrite").parquet(s"$dir/hashes/ingest_batch=0")
    s.extend(b, 0L)
    b.write.mode("overwrite").parquet(s"$dir/hashes/ingest_batch=0")
    s.extend(b, 0L)
    val cached = s.sigs(None).as[(Long, Long)].collect().sorted.toSeq
    val stored = Multimodal.standingSigs(spark, dir, "phash", None)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(cached == stored, "retried extend must replace, not duplicate")
    // own-batch exclusion parity
    val exCached = s.sigs(Some(0L)).as[(Long, Long)].collect().sorted.toSeq
    val exStored = Multimodal.standingSigs(spark, dir, "phash", Some(0L))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(exCached == exStored)
    s.close()
  }

  test("Bm25Session: a resubmitted batch id takes the replay branch; a changed doc set is refused") {
    val corpus = docs(1L -> "spark scala parquet", 2L -> "duckdb oracle parquet")
    val st = java.nio.file.Files.createTempDirectory("graft-bmsession")
    val dir = s"$st/index"
    Retrieval.buildBm25Index(corpus, dir)
    val s = Retrieval.openBm25Session(spark, dir)
    val b = docs(10L -> "spark catalyst codegen", 11L -> "tungsten shuffle spark")
    s.append(b, 0L)
    val q1 = Retrieval.bm25IndexedTopK(spark, dir, Seq("spark"), 10)
      .collect().map(_.toSeq).toSeq
    s.append(b, 0L) // replay: postings-only, version chain untouched
    val q2 = Retrieval.bm25IndexedTopK(spark, dir, Seq("spark"), 10)
      .collect().map(_.toSeq).toSeq
    assert(q1 == q2, "a replayed append must leave probe results unchanged")
    // a DIFFERENT doc set under a committed id is refused loudly
    val ex = intercept[IllegalArgumentException] {
      s.append(docs(99L -> "entirely different"), 0L)
    }
    assert(ex.getMessage.contains("different doc set"), ex.getMessage)
    // and the session keeps serving new batches afterwards
    s.append(docs(20L -> "one more spark batch"), 1L)
    val grown = Retrieval.bm25IndexedTopK(spark, dir, Seq("spark"), 10).count()
    assert(grown == 4L, s"expected 4 spark docs, got $grown")
    s.close()
  }

  test("LmSession: scores row-identical to the dir-based entry points at " +
      "every shape; append rolls the cache forward; replay exclusion == " +
      "liveTable's partition filter") {
    import graft.operators.LangModel
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // plain order-2: session == scoreAgainstLmIndex, before and after grow
    val st = java.nio.file.Files.createTempDirectory("graft-lmsession")
    val train = docs(1L -> "the quick brown fox jumps", 2L -> "the slow red fox rests")
    val probe = docs(10L -> "the quick fox", 11L -> "a brand new doc")
    LangModel.buildLmIndex(train, s"$st/m2")
    val s2 = LangModel.openLmSession(spark, s"$st/m2")
    assert(rows(s2.score(probe)) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/m2", probe, 2, ml = false)),
      "fresh session must equal the dir-based scorer")
    val b0 = docs(20L -> "quick quick brown fox")
    s2.append(b0, 0L)
    assert(rows(s2.score(probe)) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/m2", probe, 2, ml = false)),
      "after append the rolled-forward cache must equal the re-read layout")
    // replay exclusion: a FRESH session over a layout already holding
    // batch 0 must subtract it on demand — equal to liveTable's filter
    val s2b = LangModel.openLmSession(spark, s"$st/m2")
    assert(rows(s2b.score(probe, excludeIngestBatch = Some(0L))) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/m2", probe, 2, ml = false,
        excludeIngestBatch = Some(0L))),
      "exclusion through the cache must equal the partition filter")
    // and a retried append (same id) leaves the cache untouched
    s2b.append(b0, 0L)
    assert(rows(s2b.score(probe)) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/m2", probe, 2, ml = false)),
      "a replayed append must not double-fold the cache")
    s2.close(); s2b.close()
    // lang-keyed order-2 and order-5: shape dispatch picks the per-lang
    // scorer the non-session entry points use
    def ldocs(rows2: (Long, String, String)*) =
      rows2.toDF("doc_id", "text", "lang")
    val mtr = ldocs((1L, "the quick brown fox", "en"), (2L, "uno dos tres cuatro", "es"))
    val mpr = ldocs((10L, "the brown fox", "en"), (11L, "dos tres", "es"))
    LangModel.buildLmIndex(mtr, s"$st/mml", ml = true)
    val sml = LangModel.openLmSession(spark, s"$st/mml")
    assert(sml.ml && sml.order == 2)
    assert(rows(sml.score(mpr)) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/mml", mpr, 2, ml = true)))
    sml.close()
    LangModel.buildLmIndex(mtr, s"$st/mml5", 5, ml = true)
    val sml5 = LangModel.openLmSession(spark, s"$st/mml5")
    assert(sml5.order == 5)
    assert(rows(sml5.score(mpr)) ==
      rows(LangModel.scoreAgainstLmNIndex(s"$st/mml5", mpr, 5, ml = true)))
    sml5.close()
  }
}
