package graft

import graft.operators.LangModel
import org.apache.spark.sql.functions._

class LangModelSpec extends TestBase {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("ppl: hand-computed Stupid Backoff scores on a tiny corpus") {
    // train: "a b a b" + "a c" → uni a:3 b:2 c:1 (N=6, V=3);
    // bi: (a,b):2 (b,a):1 (a,c):1
    val train = docs(1L -> "a b a b", 2L -> "a c")
    // score "a b": p(a)=uni add-one=(3+1)/9, p(b|a)=2/3
    val got = LangModel.pplN(train, docs(10L -> "a b"), 2)
      .select("n_tokens", "n_oov", "n_backoff", "xent").as[(Long, Long, Long, Double)]
      .collect().head
    val expect = -(math.log10(4.0 / 9) + math.log10(2.0 / 3)) / 2
    assert(got._1 == 2 && got._2 == 0 && got._3 == 0)
    assert(math.abs(got._4 - BigDecimal(expect).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("ppl: OOV and unseen-bigram backoff counted and scored as declared") {
    val train = docs(1L -> "a b a b", 2L -> "a c")
    // "c a z": p(c)=add-one (1+1)/9; (c,a) unseen → backoff 0.4*(3+1)/9;
    // z OOV → backoff 0.4*(0+1)/9
    val got = LangModel.pplN(train, docs(10L -> "c a z"), 2)
      .select("n_tokens", "n_oov", "n_backoff", "xent").as[(Long, Long, Long, Double)]
      .collect().head
    val expect = -(math.log10(2.0 / 9) + math.log10(0.4 * 4 / 9) +
      math.log10(0.4 * 1 / 9)) / 3
    assert(got._1 == 3 && got._2 == 1 && got._3 == 2)
    assert(math.abs(got._4 - BigDecimal(expect).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("ppl: junk scores strictly above reference docs (the gate's premise)") {
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val head = d.where(col("doc_id") < 50)
    val junk = head.select(col("doc_id") + 1000000L as "doc_id",
      concat(lit("the a of to and " * 3), col("text")) as "text")
    val scored = LangModel.pplN(d, head.unionAll(junk), 2)
      .select(col("doc_id"), col("xent")).as[(Long, Double)].collect()
    val (twin, orig) = scored.partition(_._1 >= 1000000L)
    assert(orig.nonEmpty && twin.nonEmpty)
    assert(twin.map(_._2).min > orig.map(_._2).max)
  }

  test("persisted lifecycle: build == in-memory; grown == union; purge == survivors") {
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val a = d.where(col("doc_id") % 3 === 0)
    val b = d.where(col("doc_id") % 3 === 1)
    val batch = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 120)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec")
    try {
      LangModel.buildLmIndex(a, s"$tmp/m")
      def score() = LangModel.scoreAgainstLmNIndex(s"$tmp/m", batch, 2,
          ml = false)
        .orderBy("doc_id").collect().toSeq
      assert(score() == LangModel.pplN(a, batch, 2)
        .orderBy("doc_id").collect().toSeq)
      LangModel.appendToLmIndex(b, s"$tmp/m", 0L)
      assert(score() ==
        LangModel.pplN(a.unionAll(b), batch, 2)
          .orderBy("doc_id").collect().toSeq)
      LangModel.purgeFromLmIndex(b, s"$tmp/m", 0L)
      assert(score() == LangModel.pplN(a, batch, 2)
        .orderBy("doc_id").collect().toSeq)
    } finally deleteRecursively(tmp)
  }

  test("purge refuses rows never counted in, leaving the model unchanged") {
    val train = docs(1L -> "a b", 2L -> "b c")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec2")
    try {
      LangModel.buildLmIndex(train, s"$tmp/m")
      val before = LangModel.scoreAgainstLmNIndex(s"$tmp/m",
          docs(9L -> "a b c"), 2, ml = false)
        .collect().toSeq
      intercept[IllegalArgumentException] {
        LangModel.purgeFromLmIndex(docs(5L -> "a b b b b"), s"$tmp/m", 1L)
      }
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m", docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq == before)
      // unigram bag balances but bigram orientation differs: "b a" was
      // never trained, and the mismatch MUST be caught on the bigram
      // table, not slip through the unigram check
      intercept[IllegalArgumentException] {
        LangModel.purgeFromLmIndex(docs(6L -> "b a"), s"$tmp/m", 2L)
      }
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m", docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq == before)
    } finally deleteRecursively(tmp)
  }

  test("purge is replay-idempotent: a re-run with the same purgeId converges") {
    // the Takedown recovery contract: an orchestration that crashed after
    // this family committed re-runs END TO END — the same purge must
    // validate against the state its first attempt saw (own-partition
    // exclusion), not double-count its own committed delta and throw
    val train = docs(1L -> "a b", 2L -> "b c", 3L -> "c a")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec7")
    try {
      LangModel.buildLmIndex(train, s"$tmp/m")
      // doc 3 contributes the ONLY 'c a' bigram — a naive revalidation
      // of the retry would see it at -1
      LangModel.purgeFromLmIndex(docs(3L -> "c a"), s"$tmp/m", 0L)
      val after = LangModel.scoreAgainstLmNIndex(s"$tmp/m",
          docs(9L -> "a b c"), 2, ml = false)
        .collect().toSeq
      LangModel.purgeFromLmIndex(docs(3L -> "c a"), s"$tmp/m", 0L) // retry
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m", docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq == after)
      assert(after == LangModel.pplN(train.where(col("doc_id") =!= 3L),
        docs(9L -> "a b c"), 2).collect().toSeq)
    } finally deleteRecursively(tmp)
  }

  test("compaction folds delta partitions; scores identical; zeroed n-grams drop") {
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val a = d.where(col("doc_id") % 3 === 0)
    val b = d.where(col("doc_id") % 3 === 1)
    val batch = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 120)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec3")
    try {
      LangModel.buildLmIndex(a, s"$tmp/m")
      LangModel.appendToLmIndex(b, s"$tmp/m", 0L)
      LangModel.purgeFromLmIndex(b.where(col("doc_id") < 200), s"$tmp/m", 0L)
      val before = LangModel.scoreAgainstLmNIndex(s"$tmp/m", batch, 2,
          ml = false)
        .orderBy("doc_id").collect().toSeq
      def parts(sub: String) =
        new java.io.File(s"$tmp/m/$sub").listFiles().map(_.getName)
          .count(_.startsWith("ingest="))
      assert(parts("unigrams") == 3 && parts("bigrams") == 3)
      LangModel.compactLmIndex(spark, s"$tmp/m")
      assert(parts("unigrams") == 1 && parts("bigrams") == 1)
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m", batch, 2, ml = false)
        .orderBy("doc_id").collect().toSeq == before)
      // no negative or zero counts survive the fold
      assert(spark.read.parquet(s"$tmp/m/unigrams")
        .where(col("c") <= 0).count() == 0)
    } finally deleteRecursively(tmp)
  }

  test("mooreLewis: in-domain docs selected, out-domain twins rejected") {
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val spam = "the a of to and " * 3
    val out = d.select(col("doc_id") + 1000000L as "doc_id",
      concat(lit(spam), col("text")) as "text")
    val batch = d.unionAll(out)
    val got = LangModel.mooreLewis(d, out, batch, cut = 0.2)
      .select(col("doc_id"), col("xent_in"), col("xent_out"), col("delta"),
        col("selected"))
      .as[(Long, Double, Double, Double, Int)].collect()
    assert(got.nonEmpty)
    // delta is exactly the difference of the per-model rounded scores
    got.foreach { case (_, xi, xo, dl, _) =>
      assert(math.abs(dl - BigDecimal(xi - xo).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    val (twin, orig) = got.partition(_._1 >= 1000000L)
    assert(orig.forall(_._5 == 1) && twin.forall(_._5 == 0))
  }

  test("lmIngest loop: batch k scores against seed ∪ batches 0..k−1, exactly") {
    val d = Tables(spark, sf(), "documents")
    val seed = d.where(col("doc_id") % 4 === 0)
    val b0 = d.where(col("doc_id") % 4 === 1)
    val b1 = d.where(col("doc_id") % 4 === 2)
    val st = java.nio.file.Files.createTempDirectory("graft-lm-loop")
    val in = java.nio.file.Files.createTempDirectory("graft-lm-loop-in")
    try {
      LangModel.buildLmIndex(seed.select(col("doc_id"), col("text")), s"$st/m")
      def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-lm-stage")
        df.coalesce(1).write.parquet(s"$tmp/d")
        val part = new java.io.File(s"$tmp/d").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath, in.resolve(name))
        deleteRecursively(tmp)
      }
      stage(b0, "b0.parquet")
      stage(b1, "b1.parquet")
      val q = graft.streaming.Streams.lmIngest(
        graft.streaming.Streams.documentsStream(spark, in.toString,
          maxFilesPerTrigger = 1),
        s"$st/m", s"$st/scores", s"$st/ckpt")
      q.awaitTermination()
      val got = spark.read.parquet(s"$st/scores")
        .select(col("micro_batch").cast("long"), col("doc_id"), col("xent"))
        .orderBy("micro_batch", "doc_id").collect().toSeq
      def seq(train: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame, mb: Long) =
        LangModel.pplN(train.select(col("doc_id"), col("text")),
            batch.select(col("doc_id"), col("text")), 2)
          .select(lit(mb).as("micro_batch"), col("doc_id"), col("xent"))
      val want = seq(seed, b0, 0L).unionAll(seq(seed.unionAll(b0), b1, 1L))
        .orderBy("micro_batch", "doc_id").collect().toSeq
      assert(got == want)
      // the model kept learning: both batches' counts are in the store
      val uni = LangModel.readModel(spark, s"$st/m", 1, ml = false).head
      val wantUni = LangModel.gramCounts(
        seed.unionAll(b0).unionAll(b1).select(col("doc_id"), col("text")), 1)
      assert(uni.orderBy("w").collect().toSeq ==
        wantUni.orderBy("w").collect().toSeq)
    } finally { deleteRecursively(st); deleteRecursively(in) }
  }

  test("pruneLmIndex: hand-computed min-count cut; pruned n-grams score as unseen") {
    // train "a a a b b c": uni a:3 b:2 c:1; bi (a,a):2 (a,b):1 (b,b):1 (b,c):1.
    // minCount 2 keeps uni {a:3, b:2} (N=5, V=2) and bi {(a,a):2}.
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec6")
    try {
      LangModel.buildLmIndex(docs(1L -> "a a a b b c"), s"$tmp/m")
      LangModel.pruneLmIndex(spark, s"$tmp/m", minCount = 2L)
      // score "c a b": c pruned → OOV add-one (0+1)/7;
      // (c,a) unseen → backoff 0.4*(3+1)/7; (a,b) pruned → backoff 0.4*(2+1)/7
      val got = LangModel.scoreAgainstLmNIndex(s"$tmp/m", docs(9L -> "c a b"),
          2, ml = false)
        .select("n_tokens", "n_oov", "n_backoff", "xent")
        .as[(Long, Long, Long, Double)].collect().head
      val expect = -(math.log10(1.0 / 7) + math.log10(0.4 * 4 / 7) +
        math.log10(0.4 * 3 / 7)) / 3
      assert(got._1 == 3 && got._2 == 1 && got._3 == 2)
      assert(math.abs(got._4 - BigDecimal(expect).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      // the layout is a compact single seed per table, floor enforced
      def parts(sub: String) =
        new java.io.File(s"$tmp/m/$sub").listFiles().map(_.getName)
          .count(_.startsWith("ingest="))
      assert(parts("unigrams") == 1 && parts("bigrams") == 1)
      assert(spark.read.parquet(s"$tmp/m/unigrams")
        .where(col("c") < 2).count() == 0)
    } finally deleteRecursively(tmp)
  }

  test("delta commit: crash windows repair on next read; uncommitted stages discard") {
    val train = docs(1L -> "a b a", 2L -> "b c")
    val batch = docs(9L -> "a b c d")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec5")
    val m = s"$tmp/m"
    try {
      LangModel.buildLmIndex(train, m)
      LangModel.appendToLmIndex(docs(3L -> "c a"), m, 0L)
      val healthy = LangModel.scoreAgainstLmNIndex(m, batch, 2, ml = false)
        .collect().toSeq
      // committed crash mid-roll-forward: bigram delta back in the stage,
      // marker present (unigrams already swapped in) — the exact window
      // where a bare two-write scheme would leave c(w1) without c(w1,w2)
      val fs = new org.apache.hadoop.fs.Path(m)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$m/_graft_lm_delta_stage/bigrams"))
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$m/bigrams/ingest=0"),
        new org.apache.hadoop.fs.Path(s"$m/_graft_lm_delta_stage/bigrams/ingest=0")))
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$m/_GRAFT_LM_DELTA"), true)
      out.write("unigrams/ingest=0\nbigrams/ingest=0\n".getBytes("UTF-8"))
      out.close()
      // next read repairs: scores return to the healthy state
      assert(LangModel.scoreAgainstLmNIndex(m, batch, 2, ml = false)
        .collect().toSeq == healthy)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$m/_GRAFT_LM_DELTA")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$m/_graft_lm_delta_stage")))
      // uncommitted crash: a stray stage with no marker is discarded whole
      LangModel.gramCounts(docs(7L -> "z z z"), 1).repartition(1).write
        .parquet(s"$m/_graft_lm_delta_stage/unigrams/ingest=9")
      assert(LangModel.scoreAgainstLmNIndex(m, batch, 2, ml = false)
        .collect().toSeq == healthy)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$m/_graft_lm_delta_stage")))
    } finally deleteRecursively(tmp)
  }

  test("format marker gates every read path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-spec4")
    try {
      // markerless layout (crashed build): refused
      LangModel.gramCounts(docs(1L -> "a b"), 1).write
        .parquet(s"$tmp/m/unigrams/ingest=-1")
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmNIndex(s"$tmp/m", docs(9L -> "a"), 2,
            ml = false)
      }
      intercept[IllegalArgumentException] {
        LangModel.appendToLmIndex(docs(2L -> "b"), s"$tmp/m", 0L)
      }
    } finally deleteRecursively(tmp)
  }

  test("purge ledger: a retried purge is a no-op even after compaction " +
      "folded its delta away (the crashed-takedown/compact interleave)") {
    val train = docs(1L -> "a b", 2L -> "b c", 3L -> "c a")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-ledger")
    try {
      val m = s"$tmp/m"
      LangModel.buildLmIndex(train, m)
      LangModel.purgeFromLmIndex(docs(3L -> "c a"), m, 0L)
      // compaction between the crashed orchestration and its re-run:
      // folds ingest=-2 into the seed — the own-partition exclusion
      // alone would now see nothing and double-subtract
      LangModel.compactLmIndex(spark, m)
      val after = LangModel.scoreAgainstLmNIndex(m, docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq
      LangModel.purgeFromLmIndex(docs(3L -> "c a"), m, 0L) // end-to-end retry
      assert(LangModel.scoreAgainstLmNIndex(m, docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq == after)
      assert(after == LangModel.pplN(train.where(col("doc_id") =!= 3L),
        docs(9L -> "a b c"), 2).collect().toSeq)
    } finally deleteRecursively(tmp)
  }

  test("prune-in-progress marker: an interrupted prune is FINISHED by the " +
      "next read instead of serving mixed semantics") {
    val train = docs(1L -> "a b a b a b", 2L -> "a c")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-prunemark")
    try {
      val m = s"$tmp/m"
      LangModel.buildLmIndex(train, m)
      val want = {
        val m2 = s"$tmp/m2"
        LangModel.buildLmIndex(train, m2)
        LangModel.pruneLmIndex(spark, m2, minCount = 2L)
        LangModel.scoreAgainstLmNIndex(m2, docs(9L -> "a b c"), 2, ml = false)
          .collect().toSeq
      }
      // crash simulation: the marker landed but neither fold ran
      val fs = new org.apache.hadoop.fs.Path(m)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(m, "_GRAFT_LM_PRUNE"), true)
      out.write("2\n".getBytes("UTF-8")); out.close()
      // the next read path repairs: finishes the prune, clears the marker
      assert(LangModel.scoreAgainstLmNIndex(m, docs(9L -> "a b c"), 2,
          ml = false)
        .collect().toSeq == want)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(m, "_GRAFT_LM_PRUNE")))
    } finally deleteRecursively(tmp)
  }

  test("lang-keyed ORDER-5 prune (r19): deepest-first five-table fold; an " +
      "interrupted prune is finished by the next read; pruned == " +
      "trained-with-floor per language") {
    import spark.implicits._
    def ldocs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
    // per-lang: en trains "a b c d e" ×3 + "a z" once; es a disjoint
    // vocabulary — the floor (2) prunes the once-seen z grams in en only
    val train = ldocs(
      (1L, "a b c d e", "en"), (2L, "a b c d e", "en"),
      (3L, "a b c d e", "en"), (4L, "a z", "en"),
      (5L, "uno dos tres cuatro cinco", "es"),
      (6L, "uno dos tres cuatro cinco", "es"))
    val probe = ldocs((10L, "a b c d e", "en"), (11L, "a z", "en"),
      (12L, "uno dos tres cuatro cinco", "es"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm5ml-prune")
    try {
      val m = s"$tmp/m"
      LangModel.buildLmIndex(train, m, 5, ml = true)
      val want = {
        val m2 = s"$tmp/m2"
        LangModel.buildLmIndex(train, m2, 5, ml = true)
        LangModel.pruneLmIndex(spark, m2, minCount = 2L)
        LangModel.scoreAgainstLmNIndex(m2, probe, 5, ml = true)
          .collect().map(_.toSeq).toSet
      }
      // the floor actually bit: the z-bearing probe doc scores OOV+backoff
      // under the pruned model but not under the unpruned one
      val unpruned = LangModel.scoreAgainstLmNIndex(m, probe, 5, ml = true)
        .collect().map(_.toSeq).toSet
      assert(want != unpruned, "minCount = 2 must prune the once-seen grams")
      // crash simulation: marker landed, no fold ran — the next read
      // finishes ALL FIVE lang-keyed folds (deepest first) and clears it
      val fs = new org.apache.hadoop.fs.Path(m)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(m, "_GRAFT_LM_PRUNE"), true)
      out.write("2\n".getBytes("UTF-8")); out.close()
      assert(LangModel.scoreAgainstLmNIndex(m, probe, 5, ml = true)
        .collect().map(_.toSeq).toSet == want)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(m, "_GRAFT_LM_PRUNE")))
      // and the untouched es lane survived the en-side cut intact
      assert(LangModel.scoreAgainstLmNIndex(m, probe, 5, ml = true)
        .where(col("lang") === "es").select("n_oov").as[Long]
        .collect().head == 0L)
    } finally deleteRecursively(tmp)
  }

  test("ppl3: hand-computed order-3 Stupid Backoff scores") {
    // train: "a b c" ×2, "d b e" → uni a:2 b:3 c:2 d:1 e:1 (N=9, V=5);
    // bi (a,b):2 (b,c):2 (d,b):1 (b,e):1; tri (a,b,c):2 (d,b,e):1
    val train = docs(1L -> "a b c", 2L -> "a b c", 3L -> "d b e")
    // consistent "a b c": p(a)=add-one (2+1)/14; p(b|a)=2/2;
    //   p(c|a b)=tri 2/2 = 1
    val gotC = LangModel.pplN(train, docs(10L -> "a b c"), 3)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    val expectC = -(math.log10(3.0 / 14) + 0.0 + 0.0) / 3
    assert(gotC._1 == 3 && gotC._2 == 0 && gotC._3 == 0)
    assert(math.abs(gotC._4 - BigDecimal(expectC).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // crossed "a b e": tri (a,b,e) unseen → α·p(e|b) = 0.4·(1/3);
    // the bigram model CANNOT see this (both (b,c) and (b,e) trained)
    val gotX = LangModel.pplN(train, docs(11L -> "a b e"), 3)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    val expectX = -(math.log10(3.0 / 14) + 0.0 + math.log10(0.4 / 3)) / 3
    assert(gotX._1 == 3 && gotX._2 == 0 && gotX._3 == 1)
    assert(math.abs(gotX._4 - BigDecimal(expectX).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // double backoff "a z e": (a,z) pos-2 backoff to α·uni(z)=α·1/14;
    // (a,z,e)→(z,e) unseen → α²·uni(e)=α²·2/14
    val gotZ = LangModel.pplN(train, docs(12L -> "a z e"), 3)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    val expectZ = -(math.log10(3.0 / 14) + math.log10(0.4 * 1 / 14) +
      math.log10(0.4 * 0.4 * 2 / 14)) / 3
    assert(gotZ._1 == 3 && gotZ._2 == 1 && gotZ._3 == 2)
    assert(math.abs(gotZ._4 - BigDecimal(expectZ).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("ppl3: one- and two-token docs emit exactly len(ts) rows (no " +
      "phantom padded-context row)") {
    // r17 ADVICE: the padded zip construction made the w2b array ([null,
    // null]) LONGER than a 1-token doc's token array, so zip_with padded
    // a phantom (pos=2, w=null) row — n_tokens read 2, n_oov 1. The
    // exact-length slice(concat(nulls, ts), 1, size(ts)) arrays fix it.
    val train = docs(1L -> "a b c", 2L -> "a b c", 3L -> "d b e")
    // 1 token, in-vocab: pos-1 add-one unigram only
    val got1 = LangModel.pplN(train, docs(20L -> "b"), 3)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    assert(got1._1 == 1 && got1._2 == 0 && got1._3 == 0)
    val expect1 = -math.log10(4.0 / 14)
    assert(math.abs(got1._4 - BigDecimal(expect1).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // 2 tokens: pos-1 unigram + pos-2 seen-bigram conditional (2/2 = 1)
    val got2 = LangModel.pplN(train, docs(21L -> "a b"), 3)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    assert(got2._1 == 2 && got2._2 == 0 && got2._3 == 0)
    val expect2 = -math.log10(3.0 / 14) / 2
    assert(math.abs(got2._4 - BigDecimal(expect2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("pplN: the generic order-N kernel reproduces the hand-written " +
      "order-2/3 forms exactly, and order-5 matches hand computation") {
    // expected rows captured from the hand-written order-2/3 kernels
    // (`ppl`/`ppl3`, since deleted); the generic kernel reproduced every
    // one before they went
    val t = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "f b c d g",
      4L -> "a a a b c")
    val b = docs(
      10L -> "b", // one token
      11L -> "", // empty text: no token, no row
      12L -> "a a a", // repeated token
      // "f b" is attested only as the prefix of "f b c"; "f b e" and
      // "b e" are not, so pos 3 backs off (twice at order 3)
      13L -> "f b e",
      14L -> "f c", // context "f" attested, bigram "f c" not
      15L -> "q", // one OOV token
      16L -> "A, q b!") // case, punctuation and a mid-doc OOV
    val want = Map(
      2 -> Seq((10L, 1L, 0L, 0L, 0.732394), (12L, 3L, 0L, 0L, 0.483031),
        (13L, 3L, 0L, 1L, 0.827505), (14L, 2L, 0L, 1L, 1.130334),
        (15L, 1L, 1L, 0L, 1.431364), (16L, 3L, 1L, 2L, 1.204283)),
      3 -> Seq((10L, 1L, 0L, 0L, 0.732394), (12L, 3L, 0L, 0L, 0.450728),
        (13L, 3L, 0L, 1L, 0.960152), (14L, 2L, 0L, 1L, 1.130334),
        (15L, 1L, 1L, 0L, 1.431364), (16L, 3L, 1L, 2L, 1.33693)))
    want.foreach { case (n, rows) =>
      assert(LangModel.pplN(t, b, n).orderBy("doc_id")
        .select("doc_id", "n_tokens", "n_oov", "n_backoff", "xent")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq == rows,
        s"order $n")
    }
    // the real corpus: row count and an MD5 over the ordered rows
    // ("doc_id,n_tokens,n_oov,n_backoff,xent" joined by ";"), captured
    // from the same hand-written kernels
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val train = d.where(col("doc_id") % 3 =!= 2)
    val batch = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
    assert(lmRowDigest(LangModel.pplN(train, batch, 2)) ==
      ((50, "1654ce848debcfb62cb6ad10368c8b78")))
    assert(lmRowDigest(LangModel.pplN(train, batch, 3)) ==
      ((50, "12ecba86461183a1947ffc6e4bde1631")))
    // order-5 hand computation: train "a b c d e"×2, "f b c d g" —
    // uni a:2 b:3 c:3 d:3 e:2 f:1 g:1 (N=15, V=7); all 2..4-grams of the
    // two variants; 5-grams (a,b,c,d,e):2, (f,b,c,d,g):1
    val t5 = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "f b c d g")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // consistent "a b c d e": p(a)=(2+1)/22; then every higher-order
    // conditional is 2/2 or 2/2 … = 1 at full order (zero backoff)
    val gotC = LangModel.pplN(t5, docs(10L -> "a b c d e"), 5)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    assert(gotC == ((5L, 0L, 0L,
      r6(-math.log10(3.0 / 22) / 5))))
    // crossed "a b c d g": 5-gram (a,b,c,d,g) unseen → α·p4(g|b c d)
    // = 0.4·(c(bcdg)/c(bcd)) = 0.4·(1/3); one backoff at pos 5
    val gotX = LangModel.pplN(t5, docs(11L -> "a b c d g"), 5)
      .select("n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, Long, Long, Double)].collect().head
    assert(gotX._1 == 5 && gotX._2 == 0 && gotX._3 == 1)
    val expX = -(math.log10(3.0 / 22) + math.log10(0.4 / 3)) / 5
    assert(math.abs(gotX._4 - r6(expX)) < 1e-9)
    // 1..4-token docs emit exactly len(ts) rows at order 5 (the
    // exact-length context arrays, all four prefixes)
    val short = LangModel.pplN(t5,
        docs(20L -> "b", 21L -> "a b", 22L -> "a b c", 23L -> "a b c d"), 5)
      .orderBy("doc_id").select("n_tokens").as[Long].collect().toSeq
    assert(short == Seq(1L, 2L, 3L, 4L))
    // persisted order-5 lifecycle: build+grow == direct recompute
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm5-spec")
    try {
      LangModel.buildLmIndex(t5.where(col("doc_id") <= 2), s"$tmp/m5", 5)
      LangModel.appendToLmIndex(t5.where(col("doc_id") === 3), s"$tmp/m5", 0L)
      val probe = docs(10L -> "a b c d e", 11L -> "a b c d g")
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m5", probe, 5, ml = false)
        .orderBy("doc_id").collect().toSeq ==
        LangModel.pplN(t5, probe, 5).orderBy("doc_id").collect().toSeq)
      // an order-3 layout refuses the order-5 scorer
      LangModel.buildLmIndex(t5, s"$tmp/m3", 3)
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmNIndex(s"$tmp/m3", probe, 5, ml = false)
      }
    } finally deleteRecursively(tmp)
  }

  test("pplN: lag-derived context counts reproduce the join form's rows " +
      "at orders 4 and 5") {
    // expected rows captured from the context-table-join form of
    // scoreStreamN (c_x{o} joined from the (o−1)-gram table) before the
    // lag rewrite; the lag form must reproduce every one
    val t = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "f b c d g",
      4L -> "a a a b c")
    val b = docs(
      10L -> "b", // one token: no context, no lag row
      11L -> "a a a a a", // repeated token: every context is "a…a"
      // "f b c d" is attested only as the prefix of "f b c d g"; the
      // 5-gram "f b c d e" is not, so pos 5 backs off to "b c d e"
      12L -> "f b c d e",
      13L -> "a b c d g",
      14L -> "q") // one OOV token
    val want = Map(
      4 -> Seq((10L, 1L, 0L, 0L, 0.732394), (11L, 5L, 0L, 2L, 0.550025),
        (12L, 5L, 0L, 0L, 0.261285), (13L, 5L, 0L, 0L, 0.305655),
        (14L, 1L, 1L, 0L, 1.431364)),
      5 -> Seq((10L, 1L, 0L, 0L, 0.732394), (11L, 5L, 0L, 2L, 0.629613),
        (12L, 5L, 0L, 1L, 0.340873), (13L, 5L, 0L, 1L, 0.385243),
        (14L, 1L, 1L, 0L, 1.431364)))
    want.foreach { case (n, rows) =>
      assert(LangModel.pplN(t, b, n).orderBy("doc_id")
        .select("doc_id", "n_tokens", "n_oov", "n_backoff", "xent")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq == rows,
        s"order $n")
    }
  }

  test("order-3 persisted lifecycle: grown == union; order marker gates " +
      "the entry points") {
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val a = d.where(col("doc_id") % 3 === 0)
    val b = d.where(col("doc_id") % 3 === 1)
    val batch = d.where(col("doc_id") % 3 === 2 && col("doc_id") < 120)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm3-spec")
    try {
      LangModel.buildLmIndex(a, s"$tmp/m3", 3)
      def score() = LangModel.scoreAgainstLmNIndex(s"$tmp/m3", batch, 3,
          ml = false)
        .orderBy("doc_id").collect().toSeq
      assert(score() == LangModel.pplN(a, batch, 3)
        .orderBy("doc_id").collect().toSeq)
      LangModel.appendToLmIndex(b, s"$tmp/m3", 0L) // marker says order 3
      assert(score() ==
        LangModel.pplN(a.unionAll(b), batch, 3)
          .orderBy("doc_id").collect().toSeq)
      // an order-2 layout refuses the order-3 scorer (never silently
      // scores without its trigram table)
      LangModel.buildLmIndex(a, s"$tmp/m2")
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmNIndex(s"$tmp/m2", batch, 3, ml = false)
      }
      // order-2 scoring over the order-3 layout is legal (same
      // corpus-shaped lower-order tables)
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m3", batch, 2, ml = false)
        .orderBy("doc_id").collect().toSeq ==
        LangModel.pplN(a.unionAll(b), batch, 2)
          .orderBy("doc_id").collect().toSeq)
    } finally deleteRecursively(tmp)
  }

}
