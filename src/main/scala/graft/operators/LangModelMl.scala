package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PER-LANGUAGE Stupid Backoff LM scoring — the CCNet shape ("CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data",
  * Wenzek et al. 2020 trains one KenLM per language and filters each
  * language's documents under its own model). [[LangModel]]'s single-model
  * form is the right kernel for a monolingual reference corpus; this form
  * keys every count table, total, and join by `lang`, so one plan trains
  * and applies all languages' models at once — no per-language driver
  * loop, no separate scans.
  *
  * Tokenization is the UNICODE-AWARE explicit class [[mlTokenClass]]:
  * lowercase ASCII runs (as [[LangModel]]) OR single CJK characters
  * (char-level, the standard unit for Chinese/Japanese LM filtering —
  * word segmentation is model-dependent and engine-unportable; character
  * unigrams/bigrams are deterministic). The class is spelled as LITERAL
  * BMP ranges, never `\p{Han}`: Java regex spells that property
  * `\p{IsHan}` while RE2 spells it `\p{Han}` — the literal range is the
  * one spelling both engines parse identically (the `Bpe.PretokRegex`
  * portability discipline).
  *
  * ZERO-TOKEN POLICY (explicit, not silent): a document with no token
  * under the class (digits-only, or a script outside it) CANNOT be
  * scored; [[gateMl]] PASSES it through with its own funnel column
  * (`n_zero_tok`) rather than dropping it — an unscorable doc is not
  * evidence of low quality, and silently losing every doc of an
  * out-of-class script is the exact failure mode the single-model
  * `[a-z]+` gate had. Docs whose `lang` has NO trained model score
  * `xent = null` and are NOT kept, but are visible in the funnel as
  * `n_in − n_zero_tok − n_scored` — counted, never silent.
  */
object LangModelMl {

  /** The explicit cross-engine token class: word RUNS of lowercase
    * ASCII, Cyrillic (U+0430–044F, the lowercase row — the stream tokenizes
    * `lower(text)`), or Hangul syllables (U+AC00–D7A3; Korean is
    * space-segmented, so eojeol runs are the word unit, like Latin —
    * both r18), Arabic (U+0600–06FF) or Devanagari (U+0900–097F) — both
    * space-segmented scripts, word runs like Latin (r19); or ONE
    * character of Han (U+4E00–U+9FFF) / Hiragana+Katakana
    * (U+3040–U+30FF) / Thai (U+0E00–0E7F) — char-level: Thai, like
    * Chinese, writes without word spaces, so the deterministic
    * cross-engine unit is the character, never a segmenter-dependent
    * word (r19). Literal ranges — see the object scaladoc. A script still
    * outside the class remains zero-token pass-through (visible in
    * `n_zero_tok`), but the r17 majors — ko spam sailing ungated
    * through the release funnel — are now scored lanes. */
  val mlTokenClass: String =
    "[a-z]+|[\u0430-\u044f]+|[\uac00-\ud7a3]+|[\u0600-\u06ff]+|" +
      "[\u0900-\u097f]+|[\u4e00-\u9fff\u3040-\u30ff\u0e00-\u0e7f]"

  private def toksMl(text: Column): Column =
    regexp_extract_all(lower(text), lit(mlTokenClass), lit(0))

  /** The multilingual tokenizer as a function value — the shared-
    * tokenization seam ([[LangModel.gramCountsFromTs]], r19). */
  private[operators] val toksMlOf: Column => Column = toksMl

  /** 0/1: the document has no token under [[mlTokenClass]]. */
  def zeroTok(text: Column): Column =
    (size(toksMl(text)) === 0).cast("int")

  /** (doc_id, lang, pos, w, w1) token stream — [[LangModel]]'s zip
    * construction with the language key carried through. */
  private def tokenStreamMl(docs: DataFrame): DataFrame = {
    val ts = toksMl(col("text"))
    docs
      .select(col("doc_id"), col("lang"), ts.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("doc_id"), col("lang"), posexplode(
        zip_with(
          col("ts"),
          concat(array(lit(null).cast("string")),
            slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0)))),
          (w, p) => struct(w.as("w"), p.as("w1")))))
      .select(col("doc_id"), col("lang"), (col("pos") + 1).as("pos"),
        col("col.w").as("w"), col("col.w1").as("w1"))
  }

  /** (doc_id, lang, pos, w, w1, w2b) token stream with TWO context
    * tokens — [[LangModel]]'s order-3 zip construction with the language
    * key carried through and the EXACT-LENGTH context arrays
    * (`slice(concat(nulls, ts), 1, size(ts))` — see the r17-ADVICE note
    * on [[LangModel]]'s tokenStream3: a padded 2-null prefix over a
    * 1-token doc emitted a phantom null row the oracle lacks). */
  private def tokenStream3Ml(docs: DataFrame): DataFrame = {
    val ts = toksMl(col("text"))
    val nul = lit(null).cast("string")
    docs
      .select(col("doc_id"), col("lang"), ts.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("doc_id"), col("lang"), posexplode(
        zip_with(
          zip_with(
            col("ts"),
            slice(concat(array(nul), col("ts")), lit(1), size(col("ts"))),
            (w, p) => struct(w.as("w"), p.as("w1"))),
          slice(concat(array(nul, nul), col("ts")), lit(1), size(col("ts"))),
          (z, p2) => struct(z.getField("w").as("w"),
            z.getField("w1").as("w1"), p2.as("w2b")))))
      .select(col("doc_id"), col("lang"), (col("pos") + 1).as("pos"),
        col("col.w").as("w"), col("col.w1").as("w1"), col("col.w2b").as("w2b"))
  }

  /** Per-language unigram counts: (lang, w, c). */
  def unigramCountsMl(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(toksMl(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))

  /** Per-language bigram counts: (lang, w1, w2, c). */
  def bigramCountsMl(docs: DataFrame): DataFrame =
    tokenStreamMl(docs).where(col("w1").isNotNull)
      .select(col("lang"), col("w1"), col("w").as("w2"))
      .groupBy(col("lang"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** Per-language trigram counts: (lang, w1, w2, w3, c) with w1 the
    * OLDEST token (r18 — the lang-keyed order-3 rung). */
  def trigramCountsMl(docs: DataFrame): DataFrame =
    tokenStream3Ml(docs).where(col("w2b").isNotNull)
      .select(col("lang"), col("w2b").as("w1"), col("w1").as("w2"),
        col("w").as("w3"))
      .groupBy(col("lang"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c"))

  /** Score every document under ITS OWN language's model — the
    * [[LangModel.scoreWith]] kernel with `lang` added to every join key
    * and the (N, V) totals computed PER LANGUAGE (a broadcast join on
    * `lang` instead of a 1-row cross join; language cardinality is
    * O(100), always broadcastable). A doc whose `lang` has no model
    * joins nothing and scores `xent = null` (see the zero-token policy
    * in the object scaladoc). Output: (doc_id, lang, n_tokens, n_oov,
    * n_backoff, xent). */
  def scoreWithMl(batch: DataFrame, uni: DataFrame, bi: DataFrame): DataFrame = {
    val tot = uni.groupBy(col("lang")).agg(
      sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val st = tokenStreamMl(batch)
      .join(bi.select(col("lang"), col("w1"), col("w2").as("w"),
          col("c").as("c_bi")),
        Seq("lang", "w1", "w"), "left")
      .join(uni.select(col("lang"), col("w").as("w1"), col("c").as("c_w1")),
        Seq("lang", "w1"), "left")
      .join(uni.select(col("lang"), col("w"), col("c").as("c_w")),
        Seq("lang", "w"), "left")
      .join(broadcast(tot), Seq("lang"), "left")
    val uniP = (coalesce(col("c_w"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("v"))
    val lp = when(col("w1").isNull, log10(uniP))
      .when(col("c_bi").isNotNull,
        log10(col("c_bi").cast("double") / col("c_w1").cast("double")))
      .otherwise(log10(lit(LangModel.alpha) * uniP))
    st.groupBy(col("doc_id"), col("lang")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("c_w").isNull, 1L).otherwise(0L)).as("n_oov"),
      sum(when(col("w1").isNotNull && col("c_bi").isNull, 1L).otherwise(0L))
        .as("n_backoff"),
      round(-sum(lp) / count(lit(1)), 6).as("xent"))
  }

  /** In-memory per-language form: train one model per `lang` on `train`,
    * score each `batch` doc under its own language's model — one plan,
    * all languages. Both frames carry (doc_id, text, lang). */
  def pplMl(train: DataFrame, batch: DataFrame): DataFrame =
    scoreWithMl(batch, unigramCountsMl(train), bigramCountsMl(train))

  /** ORDER-3 per-language scoring (r18 — the lang-keyed trigram rung,
    * CCNet's KenLM is order 5 on the same recursion):
    * [[LangModel.scoreWith3]]'s trigram → bigram → unigram Stupid
    * Backoff CASE with `lang` added to every join key and the (N, V)
    * totals per language (broadcast join — language cardinality is
    * O(100)). Same backoff semantics, same `n_backoff` definition
    * (context-bearing tokens that did not score at their full available
    * order). */
  def scoreWith3Ml(batch: DataFrame, uni: DataFrame, bi: DataFrame,
      tri: DataFrame): DataFrame = {
    val tot = uni.groupBy(col("lang")).agg(
      sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val st = tokenStream3Ml(batch)
      .join(tri.select(col("lang"), col("w1").as("w2b"), col("w2").as("w1"),
          col("w3").as("w"), col("c").as("c_tri")),
        Seq("lang", "w2b", "w1", "w"), "left")
      .join(bi.select(col("lang"), col("w1").as("w2b"), col("w2").as("w1"),
          col("c").as("c_bi12")),
        Seq("lang", "w2b", "w1"), "left")
      .join(bi.select(col("lang"), col("w1"), col("w2").as("w"),
          col("c").as("c_bi")),
        Seq("lang", "w1", "w"), "left")
      .join(uni.select(col("lang"), col("w").as("w1"), col("c").as("c_w1")),
        Seq("lang", "w1"), "left")
      .join(uni.select(col("lang"), col("w"), col("c").as("c_w")),
        Seq("lang", "w"), "left")
      .join(broadcast(tot), Seq("lang"), "left")
    val uniP = (coalesce(col("c_w"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("v"))
    val biP = col("c_bi").cast("double") / col("c_w1").cast("double")
    val lp = when(col("w1").isNull, log10(uniP))
      .when(col("w2b").isNull && col("c_bi").isNotNull, log10(biP))
      .when(col("w2b").isNull, log10(lit(LangModel.alpha) * uniP))
      .when(col("c_tri").isNotNull,
        log10(col("c_tri").cast("double") / col("c_bi12").cast("double")))
      .when(col("c_bi").isNotNull, log10(lit(LangModel.alpha) * biP))
      .otherwise(log10(lit(LangModel.alpha * LangModel.alpha) * uniP))
    st.groupBy(col("doc_id"), col("lang")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("c_w").isNull, 1L).otherwise(0L)).as("n_oov"),
      sum(when(col("w1").isNotNull &&
          ((col("w2b").isNull && col("c_bi").isNull) ||
            (col("w2b").isNotNull && col("c_tri").isNull)), 1L)
        .otherwise(0L)).as("n_backoff"),
      round(-sum(lp) / count(lit(1)), 6).as("xent"))
  }

  /** In-memory order-3 per-language form. */
  def ppl3Ml(train: DataFrame, batch: DataFrame): DataFrame =
    scoreWith3Ml(batch, unigramCountsMl(train), bigramCountsMl(train),
      trigramCountsMl(train))

  /** Generic per-language k-gram counts (lang, w1..wk, c) — the ML face
    * of [[LangModel.gramCountsFrom]] (r18, orders up to
    * [[LangModel.maxOrder]]). */
  def gramCountsMl(docs: DataFrame, k: Int): DataFrame =
    LangModel.gramCountsFrom(docs, toksMl, k, Seq("lang"))

  /** In-memory generic order-n per-language form (n ≤
    * [[LangModel.maxOrder]] — n = 5 is CCNet's production KenLM order). */
  def pplNMl(train: DataFrame, batch: DataFrame, n: Int): DataFrame =
    scoreStreamNMl(batch, (1 to n).map(k => gramCountsMl(train, k)), n)

  /** The generic order-n per-language scorer against GIVEN count tables
    * (lowest order first) — the kernel [[pplNMl]] derives its tables
    * into, and the one the order-5 release funnel
    * ([[Curation.release5]]) pins its tables through (r19). */
  private[graft] def scoreStreamNMl(batch: DataFrame, tables: Seq[DataFrame],
      n: Int): DataFrame =
    scoreStreamNMlFromTs(tokenizedMl(batch), tables, n)

  /** (doc_id, lang, ts) — the corpus tokenized ONCE for the shared-
    * tokenization consumers below (r19). */
  private[graft] def tokenizedMl(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), toksMl(col("text")).as("ts"))

  /** Per-language k-gram counts from an already-tokenized
    * [[tokenizedMl]] frame — row-identical to [[gramCountsMl]]. */
  private[graft] def gramCountsMlFromTs(toked: DataFrame, k: Int): DataFrame =
    LangModel.gramCountsFromTs(toked, k, Seq("lang"))

  /** [[scoreStreamNMl]] over an already-tokenized [[tokenizedMl]]
    * frame. Every column but `ts` passes through as part of the output
    * grouping key (a `side` tag, say — see [[LangModel.scoreStreamN]]'s
    * one-sequence-per-key precondition). */
  private[graft] def scoreStreamNMlFromTs(toked: DataFrame,
      tables: Seq[DataFrame], n: Int): DataFrame =
    LangModel.scoreStreamN(
      LangModel.tokenStreamNFromTs(toked, n,
        toked.columns.toSeq.filterNot(_ == "ts")),
      tables, Seq("lang"), n)

  /** Per-language CALIBRATED cuts: each language's threshold derives
    * from ITS OWN model's score distribution (CCNet thresholds come from
    * the reference corpus's per-language perplexity distribution — a
    * single global number is structurally wrong when zh scores ~0.9
    * where latin languages score ~1.5, measured in MlGateProbe). The
    * base is the per-lang MEAN of the train corpus self-scored under its
    * own model, computed in INTEGER MICRO-UNITS: each doc's already
    * 6-dp-rounded `xent` quantizes exactly to `round(xent·10⁶)` (a
    * BIGINT), the per-lang sum is exact integer arithmetic, and the mean
    * is one deterministic IEEE division + floor — so both engines derive
    * the IDENTICAL cut with no float-accumulation race (the PSI
    * quantize-before-sum discipline). Output: (lang, cut_micro) where
    * `cut_micro = floor(avg(xent·10⁶)) + offsetMicro`. */
  def calibratedCutsMl(train: DataFrame, uni: DataFrame, bi: DataFrame,
      offsetMicro: Long): DataFrame =
    cutsFromSelfScores(scoreWithMl(train, uni, bi), offsetMicro)

  /** The per-lang calibrated cut from an ALREADY-SCORED self-score frame
    * (doc-level `lang` + 6-dp `xent`) — the exact-integer-micro formula
    * factored out so any order's scorer calibrates identically (the
    * order-5 release funnel and the shape-aware
    * [[Curation.writeReleaseCuts]], r19). */
  def cutsFromSelfScores(scored: DataFrame, offsetMicro: Long): DataFrame =
    scored.groupBy(col("lang")).agg(
      (floor(sum(round(col("xent") * 1e6).cast("long")).cast("double") /
        count(lit(1))).cast("long") + offsetMicro).as("cut_micro"))

  /** The per-language LM GATE: calibrated per-lang cut ([[
    * calibratedCutsMl]]) plus the explicit zero-token policy. Per
    * language — `n_in` arrivals, `n_zero_tok` unscorable docs
    * (PASS-THROUGH, counted), `n_scored` docs with a score under their
    * language's model, `n_kept` = zero-token pass-throughs + scored docs
    * whose micro-unit score is at most the language's cut, and
    * `cut_micro` itself (observability — the number an audit reads).
    * Unmodeled-language docs are the visible residue
    * `n_in − n_zero_tok − n_scored` (scored nothing, kept no — counted,
    * never silent; their `cut_micro` is null). */
  def gateMl(train: DataFrame, batch: DataFrame, offsetMicro: Long): DataFrame = {
    // The model tables feed SIX join sides (three in the self-score
    // chain, three in the batch chain) and the cuts feed one more —
    // pinned eagerly (vocabulary-scale / one-row-per-lang) so Catalyst
    // reads them from memory instead of re-deriving each reference from
    // a fresh corpus scan (measured: the unpinned cur_release plan grew
    // to 64 parquet scans).
    // the two independent count aggregates overlap (guide §2.6)
    val unibi = Par.run(Seq(
      () => unigramCountsMl(train).localCheckpoint(true),
      () => bigramCountsMl(train).localCheckpoint(true)))
    val (uni, bi) = (unibi(0), unibi(1))
    val cuts = calibratedCutsMl(train, uni, bi, offsetMicro)
      .localCheckpoint(true)
    val scored = scoreWithMl(
        batch.select(col("doc_id"), col("text"), col("lang")), uni, bi)
      .select(col("doc_id"), col("xent"))
    batch.select(col("doc_id"), col("lang"),
        zeroTok(col("text")).as("zt"))
      .join(scored, Seq("doc_id"), "left")
      // NULL-SAFE cut join (r18): a NULL-lang train stratum produces a
      // NULL-keyed cut row, and the oracle matches it via IS NOT DISTINCT
      // FROM — an equi-join here would silently drop it (the one
      // Spark/oracle asymmetry the r17 verdict flagged). The MODEL joins
      // in scoreWithMl stay equi-joins on purpose: the oracle's table
      // joins use `=`, so NULL-lang docs score xent = null on BOTH sides
      // (the n_unmodeled residue).
      .join(broadcast(cuts.withColumnRenamed("lang", "lang_cut")),
        col("lang") <=> col("lang_cut"), "left")
      .drop("lang_cut")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_in"),
        sum(col("zt").cast("long")).as("n_zero_tok"),
        sum(when(col("xent").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("zt") === 1 ||
            (col("xent").isNotNull &&
              round(col("xent") * 1e6).cast("long") <= col("cut_micro")), 1L)
          .otherwise(0L)).as("n_kept"),
        min(col("cut_micro")).as("cut_micro"))
  }

  // ---- oracle SQL builders ------------------------------------------------

  /** The identical token class as a DuckDB literal (RE2 parses the same
    * literal ranges — see the object scaladoc). */
  def mlTokenClassSql: String = mlTokenClass

  /** (doc_id, lang, pos, w, w1) token stream over `corpusSql` (a
    * parenthesized (doc_id, text, lang) SELECT) — [[LangModel
    * .tokenStreamSql]] with `lang` carried and the multilingual class. */
  def tokenStreamMlSql(corpusSql: String): String =
    s"""(SELECT doc_id, lang, i.i AS pos, ts[CAST(i.i AS INT)] AS w,
       |        CASE WHEN i.i > 1 THEN ts[CAST(i.i - 1 AS INT)] END AS w1
       | FROM (SELECT doc_id, lang,
       |         regexp_extract_all(lower(text), '$mlTokenClassSql') AS ts
       |       FROM $corpusSql)
       | JOIN range(1, ${LangModel.oracleTokenBound + 1}) i(i)
       |   ON i.i <= CASE WHEN len(ts) > ${LangModel.oracleTokenBound}
       |     THEN CAST(error('tokenStreamMlSql: doc exceeds the ' ||
       |       '${LangModel.oracleTokenBound}-token oracle bound') AS BIGINT)
       |     ELSE len(ts) END)""".stripMargin

  /** Oracle replaying [[pplMl]]: per-lang count tables and totals, every
    * join keyed by lang. Callers append ORDER BY / projection. */
  def pplMlSql(trainSql: String, scoreSql: String): String =
    s"""WITH ttok AS (SELECT * FROM ${tokenStreamMlSql(trainSql)}),
       | uni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |         FROM ttok GROUP BY 1, 2),
       | bi AS (SELECT lang, w1, w AS w2, CAST(count(*) AS BIGINT) AS c
       |        FROM ttok WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
       | tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS n,
       |                CAST(count(*) AS DOUBLE) AS v FROM uni GROUP BY 1),
       | stok AS (SELECT * FROM ${tokenStreamMlSql(scoreSql)}),
       | sc AS (SELECT s.doc_id, s.lang,
       |   CASE WHEN s.w1 IS NULL
       |          THEN log10((coalesce(u2.c, 0) + 1.0) / (t.n + t.v))
       |        WHEN b.c IS NOT NULL
       |          THEN log10(b.c * 1.0 / u1.c)
       |        ELSE log10(${LangModel.alpha} *
       |               ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |   END AS lp,
       |   CASE WHEN u2.c IS NULL THEN 1 ELSE 0 END AS oov,
       |   CASE WHEN s.w1 IS NOT NULL AND b.c IS NULL THEN 1 ELSE 0 END AS bko
       |  FROM stok s
       |  LEFT JOIN bi b ON b.lang = s.lang AND b.w1 = s.w1 AND b.w2 = s.w
       |  LEFT JOIN uni u1 ON u1.lang = s.lang AND u1.w = s.w1
       |  LEFT JOIN uni u2 ON u2.lang = s.lang AND u2.w = s.w
       |  LEFT JOIN tot t ON t.lang = s.lang)
       | SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(oov) AS BIGINT) AS n_oov,
       |        CAST(sum(bko) AS BIGINT) AS n_backoff,
       |        round(-sum(lp) / count(*), 6) AS xent
       | FROM sc GROUP BY doc_id, lang""".stripMargin

  /** Order-3 twin of [[tokenStreamMlSql]]: (doc_id, lang, pos, w, w1,
    * w2b) — the two context tokens by index arithmetic, same loud
    * [[LangModel.oracleTokenBound]] guard. */
  def tokenStream3MlSql(corpusSql: String): String =
    s"""(SELECT doc_id, lang, i.i AS pos, ts[CAST(i.i AS INT)] AS w,
       |        CASE WHEN i.i > 1 THEN ts[CAST(i.i - 1 AS INT)] END AS w1,
       |        CASE WHEN i.i > 2 THEN ts[CAST(i.i - 2 AS INT)] END AS w2b
       | FROM (SELECT doc_id, lang,
       |         regexp_extract_all(lower(text), '$mlTokenClassSql') AS ts
       |       FROM $corpusSql)
       | JOIN range(1, ${LangModel.oracleTokenBound + 1}) i(i)
       |   ON i.i <= CASE WHEN len(ts) > ${LangModel.oracleTokenBound}
       |     THEN CAST(error('tokenStream3MlSql: doc exceeds the ' ||
       |       '${LangModel.oracleTokenBound}-token oracle bound') AS BIGINT)
       |     ELSE len(ts) END)""".stripMargin

  /** Oracle replaying [[ppl3Ml]]: the three per-lang count tables,
    * per-lang totals, and the order-3 backoff CASE — every join keyed by
    * lang. Callers append ORDER BY / projection. */
  def pplMl3Sql(trainSql: String, scoreSql: String): String =
    s"""WITH ttok AS (SELECT * FROM ${tokenStream3MlSql(trainSql)}),
       | uni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |         FROM ttok GROUP BY 1, 2),
       | bi AS (SELECT lang, w1, w AS w2, CAST(count(*) AS BIGINT) AS c
       |        FROM ttok WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
       | tri AS (SELECT lang, w2b AS w1, w1 AS w2, w AS w3,
       |                CAST(count(*) AS BIGINT) AS c
       |         FROM ttok WHERE w2b IS NOT NULL GROUP BY 1, 2, 3, 4),
       | tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS n,
       |                CAST(count(*) AS DOUBLE) AS v FROM uni GROUP BY 1),
       | stok AS (SELECT * FROM ${tokenStream3MlSql(scoreSql)}),
       | sc AS (SELECT s.doc_id, s.lang,
       |   CASE WHEN s.w1 IS NULL
       |          THEN log10((coalesce(u2.c, 0) + 1.0) / (t.n + t.v))
       |        WHEN s.w2b IS NULL AND b.c IS NOT NULL
       |          THEN log10(b.c * 1.0 / u1.c)
       |        WHEN s.w2b IS NULL
       |          THEN log10(${LangModel.alpha} *
       |                 ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |        WHEN tr.c IS NOT NULL
       |          THEN log10(tr.c * 1.0 / b12.c)
       |        WHEN b.c IS NOT NULL
       |          THEN log10(${LangModel.alpha} * (b.c * 1.0 / u1.c))
       |        ELSE log10(${LangModel.alpha * LangModel.alpha} *
       |               ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |   END AS lp,
       |   CASE WHEN u2.c IS NULL THEN 1 ELSE 0 END AS oov,
       |   CASE WHEN s.w1 IS NOT NULL AND
       |             ((s.w2b IS NULL AND b.c IS NULL) OR
       |              (s.w2b IS NOT NULL AND tr.c IS NULL)) THEN 1 ELSE 0
       |   END AS bko
       |  FROM stok s
       |  LEFT JOIN tri tr ON tr.lang = s.lang AND tr.w1 = s.w2b
       |    AND tr.w2 = s.w1 AND tr.w3 = s.w
       |  LEFT JOIN bi b12 ON b12.lang = s.lang AND b12.w1 = s.w2b
       |    AND b12.w2 = s.w1
       |  LEFT JOIN bi b ON b.lang = s.lang AND b.w1 = s.w1 AND b.w2 = s.w
       |  LEFT JOIN uni u1 ON u1.lang = s.lang AND u1.w = s.w1
       |  LEFT JOIN uni u2 ON u2.lang = s.lang AND u2.w = s.w
       |  LEFT JOIN tot t ON t.lang = s.lang)
       | SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(oov) AS BIGINT) AS n_oov,
       |        CAST(sum(bko) AS BIGINT) AS n_backoff,
       |        round(-sum(lp) / count(*), 6) AS xent
       | FROM sc GROUP BY doc_id, lang""".stripMargin

  /** DuckDB expression: 1 iff `textExpr` has no token under the class. */
  def zeroTokExprSql(textExpr: String = "text"): String =
    s"CASE WHEN len(regexp_extract_all(lower($textExpr), " +
      s"'$mlTokenClassSql')) = 0 THEN 1 ELSE 0 END"

  /** Oracle CTE body for [[calibratedCutsMl]] given a scored-self CTE
    * name: per-lang exact integer mean + offset. Public so composition
    * oracles ([[Curation.releaseSql]]) reuse it. */
  def cutsSqlOver(selfScored: String, offsetMicro: Long): String =
    s"""SELECT lang, CAST(floor(sum(CAST(round(xent * 1000000) AS BIGINT))
       |   * 1.0 / count(*)) AS BIGINT) + $offsetMicro AS cut_micro
       | FROM $selfScored GROUP BY 1""".stripMargin

  /** Oracle for [[gateMl]]: the per-lang scoring chain applied to BOTH
    * the train corpus (self-scores → calibrated cuts) and the batch, the
    * zero-token flag, the five-column funnel. `trainSql` / `batchSql`
    * are parenthesized (doc_id, text, lang) SELECTs. */
  def gateMlSql(trainSql: String, batchSql: String, offsetMicro: Long): String =
    s"""WITH selfsc AS (
       |  ${pplMlSql(trainSql, trainSql)}
       | ),
       | cuts AS (${cutsSqlOver("selfsc", offsetMicro)}),
       | scored AS (
       |  ${pplMlSql(trainSql, batchSql)}
       | )
       | SELECT b.lang, CAST(count(*) AS BIGINT) AS n_in,
       |        CAST(sum(${zeroTokExprSql("b.text")}) AS BIGINT) AS n_zero_tok,
       |        CAST(sum(CASE WHEN s.xent IS NOT NULL THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_scored,
       |        CAST(sum(CASE WHEN ${zeroTokExprSql("b.text")} = 1
       |                   OR (s.xent IS NOT NULL AND
       |                       CAST(round(s.xent * 1000000) AS BIGINT) <= c.cut_micro)
       |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |        min(c.cut_micro) AS cut_micro
       | FROM $batchSql b
       | LEFT JOIN scored s ON b.doc_id = s.doc_id
       | LEFT JOIN cuts c ON c.lang IS NOT DISTINCT FROM b.lang
       | GROUP BY 1 ORDER BY 1""".stripMargin
}
