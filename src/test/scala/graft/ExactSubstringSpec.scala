package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class ExactSubstringSpec extends TestBase {

  import spark.implicits._

  private val base = "0123456789abcdefghijABCDEFGHIJ" // 30 distinct chars

  test("exactSubstringSpans: the globally-first occurrence is kept, the copy is spanned") {
    val docs = Seq(
      (0L, base),
      // chars 3..22 replicate base[0,20): windows (L=10) at pos 3..13
      (1L, "XX" + base.substring(0, 20) + "YYYYYYYY"),
      (2L, "completely unrelated text zzz")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, L = 10)
      .orderBy("doc_id", "span_start").as[(Long, Long, Long)].collect()
    // doc0 is globally first for every shared window -> no spans there;
    // doc1's 11 marked positions (3..13) merge into ONE span [3, 23)
    assert(got.toSeq == Seq((1L, 3L, 23L)), s"got ${got.toSeq}")
  }

  test("exactSubstringSpans: an exact text copy spans its WHOLE document (dedup-first)") {
    val other = "some other distinct text entirely!"
    val docs = Seq(
      (3L, base),  // representative (min doc_id)
      (9L, base),  // exact copy -> full-doc span, no window work
      (11L, base), // second copy
      (20L, other)
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, L = 10)
      .orderBy("doc_id", "span_start").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((9L, 1L, 31L), (11L, 1L, 31L)), s"got ${got.toSeq}")
  }

  test("exactSubstringSpans: within-doc repetition marks the LATER occurrence") {
    val p = "qwertyuiop12" // 12 chars
    val doc = p + "MIDDLEFILLER" + p // second p duplicated vs first
    val got = Dedup.exactSubstringSpans(Seq((7L, doc)).toDF("doc_id", "text"), L = 10)
      .as[(Long, Long, Long)].collect()
    // windows in the second p: positions 25..27 (1-based, len 36, L=10)
    assert(got.toSeq == Seq((7L, 25L, 37L)), s"got ${got.toSeq}")
  }

  test("exactSubstringSpans: far-apart marked runs stay separate spans") {
    // repeat-free fillers (every char distinct) so the only duplicated
    // windows are the planted base / base.reverse regions
    val filler1 = "klmnopqrstuvwxyzKLMNOPQRSTUVWXYZ!@#$%^&*"
    val docs = Seq(
      (0L, base + "unique-mid-0" + base.reverse),
      (1L, base + filler1 + base.reverse), // two dup regions, 40 chars apart
      (2L, "zero one two three four five six")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, L = 10)
      .where(col("doc_id") === 1).orderBy("span_start")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 2, s"expected two separate spans, got ${got.toSeq}")
    assert(got(0)._2 == 1L && got(0)._3 == 31L, s"got ${got.toSeq}")
    assert(got(1)._2 == 71L && got(1)._3 == 101L, s"got ${got.toSeq}")
  }

  test("exactSubstringSpans: a block shared by more docs than any bucket cap spans every non-first doc once") {
    // 1500 otherwise-distinct docs share one 74-char leading block — past
    // the pair scorers' maxBucket of 1000, where they must drop the bucket.
    // Group-then-mark needs no cap: each doc after the first carries
    // exactly one span starting at position 1, and doc 0 keeps its text.
    val n = 1500L
    val block = "SHARED-BOILERPLATE-BLOCK-ABCDEFGHIJKLMNOPQRSTUVWXYZ-0123456789-COMMON-HDR "
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(block), md5(col("id").cast("string")), lit(" "),
        md5((col("id") + 7).cast("string"))).as("text"))
    val leading = Dedup.exactSubstringSpans(docs, L = 40)
      .where(col("span_start") === 1)
      .select(col("doc_id"), col("span_end")).as[(Long, Long)].collect()
    assert(leading.length == n - 1)
    assert(leading.map(_._1).toSet == (1L until n).toSet)
    assert(leading.forall(_._2 > block.length), "a leading span must cover the whole block")
  }

  test("removeSpans: cuts exactly the spanned chars, start/end/no-span edges included") {
    val docs = Seq(
      (0L, "abcdefghij"),
      (1L, "abcdefghij"),
      (2L, "no spans here")
    ).toDF("doc_id", "text")
    val spans = Seq(
      (0L, 1L, 4L),   // leading span: keep "defghij"
      (0L, 8L, 11L),  // trailing span: keep nothing after
      (1L, 5L, 7L)    // middle span: "abcd" + "ghij"
    ).toDF("doc_id", "span_start", "span_end")
    val got = Dedup.removeSpans(docs, spans)
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got.toSeq == Seq((0L, "defg"), (1L, "abcdghij"), (2L, "no spans here")),
      s"got ${got.toSeq}")
  }

  test("exactContaminationSpans: every eval-matching occurrence marked, copies expanded") {
    val evalDoc = "THE-EVAL-ANSWER-KEY-PASSAGE-0123456789xyz" // 41 chars
    val ev = Seq((0L, evalDoc)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "aaaa " + evalDoc + " bbbb"),       // embeds the full passage
      (11L, "clean document with nothing shared here at all"),
      (12L, "aaaa " + evalDoc + " bbbb"),       // exact copy of 10 -> same spans
      (13L, evalDoc)                             // IS the eval text
    ).toDF("doc_id", "text")
    val got = Dedup.exactContaminationSpans(corpus, ev, L = 40)
      .orderBy("doc_id", "span_start").as[(Long, Long, Long)].collect()
    // embedded at pos 6..46: windows 6 and 7 match (41-char passage has
    // two 40-windows), span [6, 47); doc 13 spans its whole 41 chars
    assert(got.toSeq == Seq((10L, 6L, 47L), (12L, 6L, 47L), (13L, 1L, 42L)),
      s"got ${got.toSeq}")
    // removeSpans cuts the leakage
    val cleaned = Dedup.removeSpans(corpus, got.toSeq.toDF("doc_id", "span_start", "span_end"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(cleaned.map(_._2).toSeq ==
      Seq("aaaa  bbbb", "clean document with nothing shared here at all",
        "aaaa  bbbb", ""))
  }

  test("exactCrossDupSpans: batch cut against the standing corpus only") {
    val s0 = base + "abcdefghijklmno" // 45 chars
    val standing = Seq((0L, s0), (1L, "unrelated standing content here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "XYZ" + base + "QRSTUVWX"),          // embeds base -> one span
      (101L, s0),                                  // exact standing copy -> full span
      (102L, "totally different fresh batch line"),
      (103L, "totally different fresh batch line") // batch-internal dup: NOT marked
    ).toDF("doc_id", "text")
    val got = Dedup.exactCrossDupSpans(standing, batch, L = 10)
      .orderBy("doc_id", "span_start").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((100L, 4L, 34L), (101L, 1L, 46L)), s"got ${got.toSeq}")
  }

  test("window index: grown == rebuilt == recompute; append genuinely extends coverage") {
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val corpusA = d.where(col("doc_id") < 250)
    val batchB = d.where(col("doc_id") >= 250)
    // probe embeds one passage from each half: only the grown index can
    // see the B-half passage
    def passage(s: String) = s.substring(0, math.min(80, s.length))
    val aText = corpusA.where(col("doc_id") === 3).head().getString(1)
    val bText = batchB.where(col("doc_id") === 400).head().getString(1)
    assert(aText.length >= 40 && bText.length >= 40)
    val probe = Seq(
      (900L, "lead filler " + passage(aText) + " tail filler"),
      (901L, "lead filler " + passage(bText) + " tail filler"),
      (902L, "nothing shared with anything at all here")
    ).toDF("doc_id", "text")

    val root = java.nio.file.Files.createTempDirectory("xwin").toString
    Dedup.buildExactWindowIndex(corpusA, s"$root/idx", L = 40)
    val aOnly = Dedup.exactCrossDupIndexed(spark, s"$root/idx", probe)
      .as[(Long, Long, Long)].collect().toSet
    assert(aOnly.exists(_._1 == 900L) && !aOnly.exists(_._1 == 901L),
      s"A-only index must see only the A passage: $aOnly")
    Dedup.appendToExactWindowIndex(batchB, s"$root/idx")
    val grown = Dedup.exactCrossDupIndexed(spark, s"$root/idx", probe)
      .as[(Long, Long, Long)].collect().toSet
    // grown == rebuilt-from-scratch == inline recompute
    Dedup.buildExactWindowIndex(corpusA.unionAll(batchB), s"$root/idx2", L = 40)
    val rebuilt = Dedup.exactCrossDupIndexed(spark, s"$root/idx2", probe)
      .as[(Long, Long, Long)].collect().toSet
    val recompute = Dedup.exactCrossDupSpans(corpusA.unionAll(batchB), probe, L = 40)
      .as[(Long, Long, Long)].collect().toSet
    assert(grown == rebuilt && rebuilt == recompute,
      s"grown=$grown rebuilt=$rebuilt recompute=$recompute")
    assert(grown.exists(_._1 == 900L) && grown.exists(_._1 == 901L) &&
      !grown.exists(_._1 == 902L))
    // a replayed append (duplicate index rows) must not change the result
    Dedup.appendToExactWindowIndex(batchB, s"$root/idx")
    val replayed = Dedup.exactCrossDupIndexed(spark, s"$root/idx", probe)
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == grown, "duplicate index rows must be harmless")
  }

  test("windowNovelty: 0 for verbatim corpus content, 1 for new text, copies inherit") {
    val standing = Seq((0L, base + base.reverse)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + base.reverse),                       // verbatim -> 0.0
      (11L, "a wholly new batch document right here"),  // novel -> 1.0
      (12L, "a wholly new batch document right here"),  // exact copy of 11
      (13L, base + "ZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZ")    // half shared
    ).toDF("doc_id", "text")
    val got = Dedup.windowNovelty(standing, batch, L = 10)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(10L)._4 == 0.0 && got(10L)._2 == got(10L)._3)
    assert(got(11L)._4 == 1.0 && got(11L)._3 == 0L)
    assert(got(12L) == got(11L).copy(_1 = 12L))
    assert(got(13L)._4 > 0.0 && got(13L)._4 < 1.0)
  }

  test("windowNoveltyIndexed == recompute form; duplicate index keys never double-count") {
    val standing = Seq((0L, base + base.reverse)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + base.reverse),
      (11L, "a wholly new batch document right here"),
      (13L, base + "ZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZ")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-novidx").toString
    Dedup.buildExactWindowIndex(standing, s"$root/idx", L = 10)
    val want = Dedup.windowNovelty(standing, batch, L = 10)
      .orderBy("doc_id").collect().toSeq
    val got = Dedup.windowNoveltyIndexed(spark, s"$root/idx", batch)
      .orderBy("doc_id").collect().toSeq
    assert(got == want, s"indexed=$got recompute=$want")
    // re-append the same corpus: every key now appears TWICE in the index;
    // a novelty count (unlike a span probe) would read double without the
    // (doc_id, pos) dedup — the result must not move
    Dedup.appendToExactWindowIndex(standing, s"$root/idx")
    val dup = Dedup.windowNoveltyIndexed(spark, s"$root/idx", batch)
      .orderBy("doc_id").collect().toSeq
    assert(dup == want, "duplicate index keys must not double-count matches")
    // the forced shuffle-hash fallback (oversized-batch path) agrees too
    val (sWins, l) = Dedup.loadWindowIndex(spark, s"$root/idx", None)
    val sh = Dedup.windowNoveltyFrom(spark, sWins, l, batch, maxChars = 1)
      .orderBy("doc_id").collect().toSeq
    assert(sh == want, "shuffle-hash fallback must agree with broadcast path")
  }

  test("window_md5: matches the SQL 15-hex-prefix universe exactly") {
    graft.functions.GraftFunctions.ensure(spark)
    val L = 12
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("πρό "), md5(col("id").cast("string"))).as("text"))
    val native = docs.select(col("doc_id"),
      posexplode(expr(s"window_md5(text, $L)")))
      .select(col("doc_id"), col("pos"), col("col").as("m"))
    val sqlForm = docs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${L - 1}), " +
          s"p -> cast(conv(substring(md5(substring(text, p, $L)), 1, 15), 16, 10) as bigint))")))
      .select(col("doc_id"), col("pos"), col("col").as("m"))
    assert(native.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(native).isEmpty,
      "window_md5 must be bit-identical to the conv(md5-prefix) SQL form")
  }

  test("window_hash64 + char_windows: native kernels match the SQL forms, multibyte included") {
    graft.functions.GraftFunctions.ensure(spark)
    val L = 10
    // random texts with multibyte prefixes and planted shared tails
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("αβγ déjà 文字 "), md5(col("id").cast("string")),
        lit(" tail "), md5((col("id") % 7).cast("string"))).as("text"))
    // char_windows at every position == transform+substring exactly
    val mismatch = docs.select(
        expr(s"char_windows(text, sequence(CAST(1 AS BIGINT), " +
          s"CAST(length(text) - ${L - 1} AS BIGINT)), $L)").as("native"),
        expr(s"transform(sequence(1, length(text) - ${L - 1}), " +
          s"p -> substring(text, p, $L))").as("sqlf"))
      .where(col("native") =!= col("sqlf"))
    assert(mismatch.isEmpty, "char_windows must equal per-position substring")
    // window_hash64: one hash per position, and EQUAL windows never hash
    // apart (the no-false-negative contract the pre-filter rests on)
    val sized = docs.select((length(col("text")) - (L - 1)).as("want"),
      expr(s"size(window_hash64(text, $L))").as("got"))
    assert(sized.where(col("want") =!= col("got")).isEmpty)
    val hw = docs
      .select(col("doc_id"), posexplode(expr(s"window_hash64(text, $L)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("h"))
    val wins = docs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${L - 1}), p -> substring(text, p, $L))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("win"))
    val split = hw.join(wins, Seq("doc_id", "p"))
      .groupBy("win").agg(countDistinct(col("h")).as("nh"))
      .where(col("nh") =!= 1)
    assert(split.isEmpty, "equal windows must always hash equal")
    // short text -> empty array; truncated out-of-range char_windows clamp
    assert(spark.sql(s"SELECT size(window_hash64('abc', $L)) s").head().getInt(0) == 0)
    assert(spark.sql(s"SELECT char_windows('abcde', array(CAST(4 AS BIGINT)), $L) w")
      .head().getSeq[String](0) == Seq("de"))
  }

  test("spans + clean on the real corpus: disjoint in-bounds spans; cut length adds up") {
    val docs = Tables(spark, sf("sf0.01"), "documents")
    val spans = Dedup.exactSubstringSpans(docs, L = 40).persist()
    // spans are within bounds, at least L wide, and pairwise disjoint
    val bad = spans.join(docs, "doc_id")
      .where((col("span_start") < 1)
        || (col("span_end") > length(col("text")) + 1)
        || (col("span_end") - col("span_start") < 40))
    assert(bad.isEmpty, "every span must be in-bounds and >= L wide")
    val overlap = spans.as("a").join(spans.as("b"),
      col("a.doc_id") === col("b.doc_id") &&
        col("a.span_start") < col("b.span_start") &&
        col("b.span_start") < col("a.span_end"))
    assert(overlap.isEmpty, "merged spans must be pairwise disjoint")
    // clean length = original length - total cut, for every doc
    val cut = spans.groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start")).as("cut"))
    val mismatch = Dedup.removeSpans(docs, spans)
      .join(docs, "doc_id").join(cut, Seq("doc_id"), "left")
      .where(length(col("clean_text")) =!=
        length(col("text")) - coalesce(col("cut"), lit(0L)))
    assert(mismatch.isEmpty, "clean text length must equal original minus cut")
    // and the cut is non-trivial on this template-dense corpus
    assert(spans.count() > 0, "expected duplicated spans in the corpus")
    spans.unpersist()
  }

  test("appendToExactWindowIndex: batch-API auto ids never collide with stream batch ids") {
    import org.apache.hadoop.fs.Path
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("xwin-ids").toString
    val idx = s"$root/idx"
    Dedup.buildExactWindowIndex(d.where(col("doc_id") < 100), idx, L = 40)
    // two batch-API appends take ids BELOW the build seed -1
    Dedup.appendToExactWindowIndex(d.where(col("doc_id") >= 100 &&
      col("doc_id") < 150), idx)
    Dedup.appendToExactWindowIndex(d.where(col("doc_id") >= 150 &&
      col("doc_id") < 200), idx)
    val fs = new Path(idx).getFileSystem(spark.sessionState.newHadoopConf())
    def ids = fs.listStatus(new Path(s"$idx/windows")).toSeq
      .map(_.getPath.getName.stripPrefix("ingest_batch=").toLong).sorted
    assert(ids == Seq(-3L, -2L, -1L), s"auto ids must descend below -1: $ids")
    // a stream attaching later claims id 0 WITHOUT touching appended keys,
    // and its self-exclusion probe still sees the batch-API contribution
    val bTxt = d.where(col("doc_id") === 120).head().getString(1)
    val probe = Seq((900L, "xx " + bTxt.substring(0, 60) + " yy"))
      .toDF("doc_id", "text")
    Dedup.appendToExactWindowIndex(probe, idx, ingestBatch = 0L)
    assert(ids == Seq(-3L, -2L, -1L, 0L), s"stream id 0 must be free: $ids")
    val spans = Dedup.exactCrossDupIndexed(spark, idx, probe,
      excludeIngestBatch = Some(0L)).as[(Long, Long, Long)].collect()
    assert(spans.nonEmpty,
      "probe excluding its own stream batch must still match batch-API keys")
    // negative explicit ids are reserved — fail fast, not silently remap
    intercept[IllegalArgumentException] {
      Dedup.appendToExactWindowIndex(probe, idx, ingestBatch = -1L)
    }
    ()
  }

  test("buildExactWindowIndex: interrupted rebuild fails probes loudly, rerun completes") {
    import org.apache.hadoop.fs.Path
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 120)
    val root = java.nio.file.Files.createTempDirectory("xwin-crash").toString
    val idx = s"$root/idx"
    val fs = new Path(idx).getFileSystem(spark.sessionState.newHadoopConf())
    Dedup.buildExactWindowIndex(d, idx, L = 40)
    val aTxt = d.where(col("doc_id") === 3).head().getString(1)
    val probe = Seq((900L, "xx " + aTxt.substring(0, 60) + " yy"))
      .toDF("doc_id", "text")
    val want = Dedup.exactCrossDupIndexed(spark, idx, probe)
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    // crash window: rebuild (to a DIFFERENT L) died after the live
    // manifest was dropped — probes and appends must fail loudly on the
    // missing manifest, never hash with a stale L and match nothing
    assert(fs.delete(new Path(s"$idx/manifest"), true))
    intercept[Exception] { Dedup.exactCrossDupIndexed(spark, idx, probe).count() }
    intercept[Exception] { Dedup.appendToExactWindowIndex(probe, idx) }
    // crash window: rebuild died BEFORE touching the live index — the
    // orphaned _stage must not shadow it, and the rerun discards it
    Dedup.buildExactWindowIndex(d, idx, L = 40)
    fs.mkdirs(new Path(s"$idx/_stage/windows/ingest_batch=-1"))
    val again = Dedup.exactCrossDupIndexed(spark, idx, probe)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == want, s"live index must serve through an orphaned stage")
    Dedup.buildExactWindowIndex(d, idx, L = 40)
    assert(!fs.exists(new Path(s"$idx/_stage")), "rerun must clear the stage")
    assert(Dedup.exactCrossDupIndexed(spark, idx, probe)
      .as[(Long, Long, Long)].collect().toSet == want)
  }

  test("exactCrossDupIndexed: an oversized batch demotes broadcast to a shuffle join") {
    val d = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("xwin-bcast").toString
    val idx = s"$root/idx"
    Dedup.buildExactWindowIndex(d.where(col("doc_id") < 100), idx, L = 40)
    val aTxt = d.where(col("doc_id") === 3).head().getString(1)
    val probe = Seq(
      (900L, "xx " + aTxt.substring(0, 60) + " yy"),
      (901L, "nothing shared with anything at all here ok")
    ).toDF("doc_id", "text")
    val want = Dedup.exactCrossDupIndexed(spark, idx, probe)
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    // the guard FORCES a shuffle-hash join on the probe join (the batch
    // window table is a computed relation whose stats could mis-estimate
    // back into a broadcast); the prelude's own tiny joins may still
    // auto-broadcast, so the lock is ShuffledHashJoin presence: absent by
    // default (everything broadcasts), present once the batch exceeds the
    // threshold
    val (sWins, l) = Dedup.loadWindowIndex(spark, idx, None)
    def demotedProbe() = Dedup.exactCrossDupFrom(spark, sWins, l, probe, maxChars = 10)
    spark.conf.set("graft.eagerRelease", "false") // inspect the REAL plan
    try {
      assert(!Dedup.exactCrossDupIndexed(spark, idx, probe)
        .queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
        "under-threshold batch must broadcast the probe join")
      val demotedPlan = demotedProbe().queryExecution.executedPlan.toString
      assert(demotedPlan.contains("ShuffledHashJoin"),
        s"over-threshold batch must demote the probe join to a " +
          s"shuffle-hash join:\n$demotedPlan")
    } finally spark.conf.set("graft.eagerRelease", "true")
    val demoted = demotedProbe()
    assert(demoted.as[(Long, Long, Long)].collect().toSet == want,
      "shuffle fallback must produce the identical spans")
  }
}
