package graft

import graft.operators.LangModelMl
import org.apache.spark.sql.functions._

class LangModelMlSpec extends TestBase {

  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("tokenization: CJK chars are single tokens, latin runs lowercase, " +
      "digits are no token at all") {
    // 中文 = two Han tokens; Ab → 'ab'; 42 → nothing
    val d = docs((1L, "Ab 中文 42", "zh"))
    val uni = LangModelMl.unigramCountsMl(d)
      .orderBy("w").select("lang", "w", "c")
      .as[(String, String, Long)].collect().toSeq
    assert(uni == Seq(("zh", "ab", 1L), ("zh", "中", 1L), ("zh", "文", 1L)))
    val zt = d.select(LangModelMl.zeroTok(col("text"))).as[Int].collect().head
    assert(zt == 0)
    val zt2 = spark.range(1).select(LangModelMl.zeroTok(lit("7 42 !?")))
      .as[Int].collect().head
    assert(zt2 == 1)
  }

  test("r19 lanes: Arabic/Devanagari word runs, Thai chars; langIdPred " +
      "decisive on all three scripts") {
    import graft.operators.TextAnalysis
    // Arabic "كتاب جديد" = two word-run tokens; Devanagari "नमस्ते" = one
    // run; Thai "ไทย" = THREE char tokens (unsegmented script — the zh
    // discipline); each mixes fine with latin
    val d = docs(
      (1L, "كتاب جديد", "ar"),
      (2L, "नमस्ते ok", "hi"),
      (3L, "ไทย", "th"))
    val uni = LangModelMl.unigramCountsMl(d)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang").as[(String, Long)].collect().toSeq
    assert(uni == Seq(("ar", 2L), ("hi", 2L), ("th", 3L)),
      s"ar = 2 word runs, hi = run + 'ok', th = 3 chars; got $uni")
    // the scripts are SCORED lanes, not zero-token pass-through
    assert(d.select(LangModelMl.zeroTok(col("text"))).as[Int]
      .collect().toSeq == Seq(0, 0, 0))
    // langIdPred: each script decisive, even with latin mixed in
    val preds = d.select(TextAnalysis.langIdPred(col("text")))
      .as[String].collect().toSeq
    assert(preds == Seq("ar", "hi", "th"), preds.toString)
  }

  test("pplMl: each doc scored under ITS OWN language's model — " +
      "hand-computed, including cross-language isolation") {
    // en model: "a b" ×2 → uni a:2 b:2 (N=4, V=2); bi (a,b):2
    // zh model: "中 文"  → uni 中:1 文:1 (N=2, V=2); bi (中,文):1
    val train = docs((1L, "a b", "en"), (2L, "a b", "en"), (3L, "中文", "zh"))
    // NOTE "中文" has no space: char-level tokens 中,文 — adjacency intact
    val got = LangModelMl.pplMl(train,
        docs((10L, "a b", "en"), (11L, "中文", "zh"), (12L, "a b", "zh")))
      .orderBy("doc_id")
      .select("doc_id", "lang", "n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, String, Long, Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // en "a b": p(a)=(2+1)/6, p(b|a)=2/2
    val en = -(math.log10(3.0 / 6) + 0.0) / 2
    // zh "中文": p(中)=(1+1)/4, p(文|中)=1/1
    val zh = -(math.log10(2.0 / 4) + 0.0) / 2
    // "a b" AS zh: both OOV under the zh model — p(a)=add-one 1/4,
    // (a,b) unseen → α·1/4
    val ab_zh = -(math.log10(1.0 / 4) + math.log10(0.4 * 1 / 4)) / 2
    assert(got == Seq(
      (10L, "en", 2L, 0L, 0L, r6(en)),
      (11L, "zh", 2L, 0L, 0L, r6(zh)),
      (12L, "zh", 2L, 2L, 1L, r6(ab_zh))))
  }

  test("gateMl: calibrated per-lang cuts; zero-token pass-through; " +
      "unmodeled-lang residue visible, never silent") {
    // en train: two identical docs → self-xent identical → cut_micro =
    // that value + offset; zh train likewise
    val train = docs((1L, "a b", "en"), (2L, "a b", "en"), (3L, "中文", "zh"))
    val batch = docs(
      (10L, "a b", "en"),      // at the self-mean → kept for offset ≥ 0
      (11L, "z z z z", "en"),  // all-OOV → far above cut → dropped
      (12L, "42 7", "en"),     // ZERO tokens → pass-through, counted
      (13L, "中文", "zh"),      // at the zh self-mean → kept
      (14L, "a b", "ko"))      // unmodeled lang → residue, not kept
    val got = LangModelMl.gateMl(train, batch, offsetMicro = 10000L)
      .orderBy("lang")
      .select("lang", "n_in", "n_zero_tok", "n_scored", "n_kept")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("en", 3L, 1L, 2L, 2L),  // kept = doc10 + zero-token doc12
      ("ko", 1L, 0L, 0L, 0L),  // visible residue: in − zero − scored = 1
      ("zh", 1L, 0L, 1L, 1L)))
    // cut_micro is the exact integer mean + offset (en self-xent is the
    // same doc twice → mean == the doc's micro score)
    val enSelf = LangModelMl.pplMl(train, train.where(col("lang") === "en"))
      .select(round(col("xent") * 1e6).cast("long")).as[Long].collect().head
    val cutRow = LangModelMl.gateMl(train, batch, offsetMicro = 10000L)
      .where(col("lang") === "en").select("cut_micro").as[Long].collect().head
    assert(cutRow == enSelf + 10000L)
  }

  test("persisted per-lang lifecycle: build+grow == union recompute; " +
      "purge == survivors; the tok=ml marker gates both directions") {
    import graft.operators.LangModel
    val a = docs((1L, "a b a", "en"), (2L, "中文中", "zh"))
    val b = docs((3L, "b a", "en"), (4L, "文文", "zh"))
    val batch = docs((10L, "a b", "en"), (11L, "中文", "zh"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-ml-spec")
    try {
      LangModel.buildLmMlIndex(a, s"$tmp/m")
      def score() = LangModel.scoreAgainstLmMlIndex(s"$tmp/m", batch)
        .orderBy("doc_id").collect().toSeq
      assert(score() ==
        LangModelMl.pplMl(a, batch).orderBy("doc_id").collect().toSeq)
      LangModel.appendToLmIndex(b, s"$tmp/m", 0L) // marker says ml
      assert(score() ==
        LangModelMl.pplMl(a.unionAll(b), batch).orderBy("doc_id")
          .collect().toSeq)
      LangModel.purgeFromLmIndex(b, s"$tmp/m", 0L)
      assert(score() ==
        LangModelMl.pplMl(a, batch).orderBy("doc_id").collect().toSeq)
      // cross-reading refused BOTH ways (different tokenizers — the
      // silent-OOV trap the marker exists to prevent)
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmIndex(s"$tmp/m",
          batch.select(col("doc_id"), col("text")))
      }
      LangModel.buildLmIndex(a.select(col("doc_id"), col("text")), s"$tmp/plain")
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmMlIndex(s"$tmp/plain", batch)
      }
    } finally deleteRecursively(tmp)
  }

  test("ppl3Ml: lang-keyed order-3 — hand-computed, cross-language " +
      "isolation, exact-length 1-token stream, persisted ml3 identity") {
    import graft.operators.LangModel
    // en: the LangModelSpec ppl3 corpus; zh: a char-level trigram corpus
    val train = docs((1L, "a b c", "en"), (2L, "a b c", "en"),
      (3L, "d b e", "en"), (4L, "中文中", "zh"))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val probe = docs((10L, "a b c", "en"), (11L, "中文中", "zh"),
      (12L, "b", "en"))
    val got = LangModelMl.ppl3Ml(train, probe).orderBy("doc_id")
      .select("doc_id", "lang", "n_tokens", "n_oov", "n_backoff", "xent")
      .as[(Long, String, Long, Long, Long, Double)].collect().toSeq
    // en "a b c": uni N=9 V=5, p(a)=3/14, p(b|a)=2/2, tri p(c|a b)=2/2
    val en = -(math.log10(3.0 / 14) + 0.0 + 0.0) / 3
    // zh "中文中": uni 中:2 文:1 (N=3, V=2), p(中)=3/5, p(文|中)=1/2,
    // tri p(中|中 文)=1/1 — the zh totals PROVE isolation (en mass absent)
    val zh = -(math.log10(3.0 / 5) + math.log10(1.0 / 2) + 0.0) / 3
    // 1-token "b": exactly one row (the exact-length stream), in-vocab
    val one = -math.log10(4.0 / 14)
    assert(got == Seq(
      (10L, "en", 3L, 0L, 0L, r6(en)),
      (11L, "zh", 3L, 0L, 0L, r6(zh)),
      (12L, "en", 1L, 0L, 0L, r6(one))))
    // persisted ml3: build+grow == direct recompute; order/tok gates hold
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm3-ml-spec")
    try {
      LangModel.buildLmMl3Index(train.where(col("doc_id") <= 2), s"$tmp/m")
      LangModel.appendToLmIndex(train.where(col("doc_id") >= 3), s"$tmp/m", 0L)
      assert(LangModel.scoreAgainstLmMl3Index(s"$tmp/m", probe)
        .orderBy("doc_id").collect().toSeq ==
        LangModelMl.ppl3Ml(train, probe).orderBy("doc_id").collect().toSeq)
      // order-2 ml scoring over the ml3 layout is legal (same
      // corpus-shaped lower-order tables), like the plain form
      assert(LangModel.scoreAgainstLmMlIndex(s"$tmp/m", probe)
        .orderBy("doc_id").collect().toSeq ==
        LangModelMl.pplMl(train, probe).orderBy("doc_id").collect().toSeq)
      // the plain order-3 reader refuses the ml layout (tokenizers)
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLm3Index(s"$tmp/m",
          probe.select(col("doc_id"), col("text")))
      }
      // an order-2 ml layout refuses the order-3 ml scorer
      LangModel.buildLmMlIndex(train, s"$tmp/m2")
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmMl3Index(s"$tmp/m2", probe)
      }
    } finally deleteRecursively(tmp)
  }

  test("pplNMl: generic lang-keyed kernel == hand-written order 2/3; " +
      "order-5 ml persisted identity and tok/order gates") {
    import graft.operators.LangModel
    val train = docs((1L, "a b c d e", "en"), (2L, "a b c d e", "en"),
      (3L, "f b c d g", "en"), (4L, "中文中文中", "zh"))
    val batch = docs((10L, "a b c d e", "en"), (11L, "a b c d g", "en"),
      (12L, "中文中文中", "zh"), (13L, "b", "en"))
    assert(LangModelMl.pplNMl(train, batch, 2).orderBy("doc_id")
      .collect().toSeq ==
      LangModelMl.pplMl(train, batch).orderBy("doc_id").collect().toSeq)
    assert(LangModelMl.pplNMl(train, batch, 3).orderBy("doc_id")
      .collect().toSeq ==
      LangModelMl.ppl3Ml(train, batch).orderBy("doc_id").collect().toSeq)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm5-ml-spec")
    try {
      LangModel.buildLmMl5Index(train.where(col("doc_id") <= 2), s"$tmp/m")
      LangModel.appendToLmIndex(train.where(col("doc_id") >= 3), s"$tmp/m", 0L)
      assert(LangModel.scoreAgainstLmNIndex(s"$tmp/m", batch, 5, ml = true)
        .orderBy("doc_id").collect().toSeq ==
        LangModelMl.pplNMl(train, batch, 5).orderBy("doc_id")
          .collect().toSeq)
      // order-2 ml scoring over the ml5 layout stays legal (lower-order
      // tables are the same corpus-shaped counts)
      assert(LangModel.scoreAgainstLmMlIndex(s"$tmp/m", batch)
        .orderBy("doc_id").collect().toSeq ==
        LangModelMl.pplMl(train, batch).orderBy("doc_id").collect().toSeq)
      // the plain order-5 reader refuses the ml layout
      intercept[IllegalArgumentException] {
        LangModel.scoreAgainstLmNIndex(s"$tmp/m",
          batch.select(col("doc_id"), col("text")), 5, ml = false)
      }
    } finally deleteRecursively(tmp)
  }

  test("pplNMl: lag-derived context counts reproduce the join form's " +
      "rows at orders 4 and 5; a fused two-side pass scores each side " +
      "under its own key") {
    // expected rows captured from the context-table-join form of
    // scoreStreamN before the lag rewrite
    val train = docs((1L, "a b c d e", "en"), (2L, "a b c d e", "en"),
      (3L, "f b c d g", "en"), (4L, "中文中文中", "zh"),
      (5L, "a a a b c", "en"))
    val batch = docs(
      (10L, "b", "en"), // one token
      (11L, "a a a a a", "en"), // repeated token
      // "f b c d" attested only as the prefix of "f b c d g"
      (12L, "f b c d e", "en"),
      (13L, "中", "zh"), // one char-level token
      (14L, "中中中中中", "zh"), // repeated char-level token
      (15L, "a b c", "xx")) // unmodeled: no table row, no totals row
    type R = (Long, String, Long, Long, Long, Option[Double])
    def rows(df: org.apache.spark.sql.DataFrame): Seq[R] =
      df.orderBy("doc_id")
        .select("doc_id", "lang", "n_tokens", "n_oov", "n_backoff", "xent")
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), Option(r.get(5)).map(_ => r.getDouble(5))))
    val want: Map[Int, Seq[R]] = Map(
      4 -> Seq((10L, "en", 1L, 0L, 0L, Some(0.732394)),
        (11L, "en", 5L, 0L, 2L, Some(0.550025)),
        (12L, "en", 5L, 0L, 0L, Some(0.261285)),
        (13L, "zh", 1L, 0L, 0L, Some(0.243038)),
        (14L, "zh", 5L, 0L, 4L, Some(0.95933)),
        (15L, "xx", 3L, 3L, 2L, None)),
      5 -> Seq((10L, "en", 1L, 0L, 0L, Some(0.732394)),
        (11L, "en", 5L, 0L, 2L, Some(0.629613)),
        (12L, "en", 5L, 0L, 1L, Some(0.340873)),
        (13L, "zh", 1L, 0L, 0L, Some(0.243038)),
        (14L, "zh", 5L, 0L, 4L, Some(1.038918)),
        (15L, "xx", 3L, 3L, 2L, None)))
    want.foreach { case (n, w) =>
      assert(rows(LangModelMl.pplNMl(train, batch, n)) == w, s"order $n")
    }
    // the release5 fused pass: doc 1 on side 0 (a train self-score) and
    // doc 1 on side 1 (a different corpus text) share (doc_id, lang);
    // `side` in the grouping key keeps the two sequences apart
    val tables = (1 to 5).map(k => LangModelMl.gramCountsMl(train, k))
    val sides = LangModelMl.tokenizedMl(train.where(col("doc_id") === 1))
      .select(lit(0).as("side"), col("*"))
      .unionAll(LangModelMl.tokenizedMl(docs((1L, "f b c d e", "en")))
        .select(lit(1).as("side"), col("*")))
    val fused = LangModelMl.scoreStreamNMlFromTs(sides, tables, 5)
      .orderBy("side")
      .select("side", "doc_id", "lang", "n_tokens", "n_oov", "n_backoff",
        "xent")
      .as[(Int, Long, String, Long, Long, Long, Double)].collect().toSeq
    assert(fused == Seq((0, 1L, "en", 5L, 0L, 0L, 0.210231),
      (1, 1L, "en", 5L, 0L, 1L, 0.340873)))
  }

  test("NULL-lang strata: cut join is null-safe (IS NOT DISTINCT FROM " +
      "semantics); NULL-lang docs land in the funnel, never vanish") {
    // The oracle's cut join is IS NOT DISTINCT FROM, so a NULL-lang cut
    // row MATCHES NULL-lang batch docs; the r17 Spark equi-join dropped
    // it. The MODEL joins stay `=` on both engines, so NULL-lang docs
    // score xent = null — they surface as the unmodeled residue, with
    // the zero-token pass-through still applying.
    val train = docs((1L, "a b", null), (2L, "a b", null),
      (3L, "c d", "en"))
    val batch = docs(
      (10L, "a b", null), // tokens, but NULL lang joins no model → residue
      (11L, "42 7", null), // ZERO tokens → pass-through, counted, kept
      (12L, "c d", "en")) // normal lane unaffected
    val got = LangModelMl.gateMl(train, batch, offsetMicro = 10000L)
      .orderBy(col("lang").asc_nulls_first)
      .select("lang", "n_in", "n_zero_tok", "n_scored", "n_kept")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (null, 2L, 1L, 0L, 1L), // residue 2−1−0 = 1 visible, zero-tok kept
      ("en", 1L, 0L, 1L, 1L)))
  }

  test("the [a-z]+ trap is closed: real CJK text is SCORED, not dropped") {
    // under the old single-model tokenizer this doc had zero tokens and
    // silently vanished at the gate; under the ML class it scores
    val train = docs((1L, "中文中文", "zh"))
    val scored = LangModelMl.pplMl(train, docs((9L, "中文", "zh")))
      .select("n_tokens").as[Long].collect()
    assert(scored.toSeq == Seq(2L))
  }
}
