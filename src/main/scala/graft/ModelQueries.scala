package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{LangModel, LangModelMl, Pii, Sampling}

/** Catalog rows for the round-16 model-based curation additions: the
  * Stupid-Backoff bigram LM quality family (CCNet-style perplexity
  * filtering with the engine's full persisted-model lifecycle) and the
  * typed PII detect/redact/stats family. Split from [[NorthStarQueries]]
  * purely to keep file sizes reviewable — same QueryDef contract.
  */
object ModelQueries {

  private val bktSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
  private def bkt = Sampling.hashBucket(col("doc_id"), 100)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def idText(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"))

  // The LM rows' corpus split: train on the md5-bucket >= 20 slice
  // (reference corpus), score the < 20 slice (arrivals) — the engine's
  // standard pure-row-property split, reproducible on any engine.
  private val lmTrainSql =
    s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 20)"
  private val lmScoreSql =
    s"(SELECT doc_id, text FROM documents WHERE $bktSql < 20)"

  /** Quality-vs-junk planted corpus for the LM gate (the txt_lr_eval
    * fixture shape): original docs ∪ stopword-spam twins. The spam
    * prefix's "of"/"to"/"and" are OUTSIDE the synthetic vocabulary, so
    * twins score heavy OOV backoff — measured xent: originals
    * 1.42–1.58, twins 1.74–2.77 at sf0.01 → the 1.65 cut separates with
    * ≥ 0.07 margin on both sides (no score near the rounded boundary). */
  private val lmSpam = "the a of to and " * 3
  private val lmGateCut = 1.65
  /** Spam prefix for the MULTILINGUAL fixtures — longer than [[lmSpam]]
    * (per-language models train on ~70-doc strata, so a twin needs more
    * junk mass to clear the per-lang calibrated cut in every language;
    * windows measured, EXPLAIN.md "Round 17: the per-language LM gate"
    * and the r18/r19 lane sections). */
  private val mlSpam = "the a of to and " * 8
  /** Per-lang calibrated-cut offset (micro-units above each language's
    * train self-score mean) for txt_lm_gate_ml — the measured window
    * (max originals-above-base vs min twins-above-base over ALL langs at
    * sf0.01 and sf0.001, EXPLAIN.md "Round 19: Arabic/Devanagari/Thai
    * lanes") contains this value with margin. */
  private val mlGateOffsetMicro = 255000L
  /** Trigram-gate cut: measured consistent ≈ 0.26, crossed ≈ 0.49 at
    * sf0.01 (the 0.699/3 trigram-backoff gap) — 0.37 splits the gap. */
  private val lm3GateCut = 0.37
  /** 5-gram-gate cut: the planted 4-symmetric corpus scores consistent
    * ≈ 0.200 (= −log10(251/2507)/5) vs crossed ≈ 0.340 (one α·½ backoff
    * at pos 5 — the 0.699/5 gap) — 0.27 splits with ~0.07 margins. */
  private val lm5GateCut = 0.27
  /** cur_release calibrated-cut offset — same measurement, PII-planted
    * fixture. */
  private val relOffsetMicro = 255000L
  /** cur_release5 calibrated-cut offset (r19): the order-5 SELF-score
    * mean sits lower than order-2 (deeper contexts are attested
    * in-corpus) while the spam twins' order-5 scores sit HIGHER above it
    * (the OOV spam prefix backs off through more α factors), so the
    * order-5 funnels carry their own measured offset (EXPLAIN.md
    * "Round 19: the release funnel on the order-5 per-language model"),
    * shared by the column-keyed and prediction-keyed rows: the `pii5`
    * arm's windows are (274802, 442203) at sf0.01 / (296372, 452683) at
    * sf0.001 and the `ided5` arm's (274802, 442203) / (348473, 452683)
    * — 395000 sits inside all four with ≥ 46k margin everywhere (the
    * binding edge is ided5@sf0.001's lower bound: prediction keying
    * pools all latin spam twins into the en lane, raising that lane's
    * twin mass and with it the floor). */
  private val rel5OffsetMicro = 395000L
  /** cur_release's zero-token stratum text: digits-only (no token under
    * the Unicode class) but LONG with healthy mean token length, so it
    * PASSES the LR quality gate and actually reaches the LM stage's
    * pass-through policy (a short digits string dies at LR and the
    * n_zero_tok column would read a vacuous 0). lr_score ~= 0.72. */
  private val relZeroTokText = "90210 842731 " * 75
  private def lmJunkPlant(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
    d.unionAll(d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(lit(lmSpam), col("text")).as("text"), col("lang")))
  }
  private val lmJunkPlantSql =
    s"""(SELECT doc_id, text, lang FROM documents
       | UNION ALL SELECT doc_id + 1000000, '$lmSpam' || text, lang
       | FROM documents)""".stripMargin

  // ---- REAL non-Latin fixture text ------------------------------------
  // The synthetic corpus's `zh` documents are ASCII (an artifact of the
  // generator), so they can't exercise a Unicode tokenizer. The ML rows
  // TRANSLITERATE them: every ASCII letter of a zh doc maps to a distinct
  // Han character (translate() is per-character and identical in Spark
  // and DuckDB), producing REAL CJK text — each former word becomes a
  // run of Han characters, which the multilingual class tokenizes
  // char-level (the standard CJK unit). Deterministic on both engines.
  private val latinAlphabet = "abcdefghijklmnopqrstuvwxyz"
  private val hanAlphabet: String =
    (0 until 26).map(i => (0x4e00 + i).toChar).mkString
  // r18: the same per-character transliteration trick plants real HANGUL
  // (U+AC00+i — Korean stays space-segmented, so each former word is an
  // eojeol run) and real CYRILLIC (U+0430+i, lowercase) strata — the two
  // scripts the r17 token class left as zero-token pass-through lanes.
  private val hangulAlphabet: String =
    (0 until 26).map(i => (0xac00 + i).toChar).mkString
  private val cyrAlphabet: String =
    (0 until 26).map(i => (0x0430 + i).toChar).mkString
  // r19: the same trick plants real ARABIC (U+0621..063A — exactly the
  // 26-letter hamza..ghain run; space-segmented word runs like Latin),
  // DEVANAGARI (U+0905+i, letters; word runs) and THAI (U+0E01+i,
  // consonants; UNSEGMENTED — the multilingual class tokenizes the lane
  // char-level, the zh discipline) strata — the r18 verdict's remaining
  // zero-token pass-through lanes become scored citizens of every ML row.
  private val arAlphabet: String =
    (0 until 26).map(i => (0x0621 + i).toChar).mkString
  private val devAlphabet: String =
    (0 until 26).map(i => (0x0905 + i).toChar).mkString
  private val thaiAlphabet: String =
    (0 until 26).map(i => (0x0e01 + i).toChar).mkString
  private def cjkOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, hanAlphabet)
  private def cjkOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$hanAlphabet')"
  private def hangulOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, hangulAlphabet)
  private def hangulOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$hangulAlphabet')"
  private def cyrOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, cyrAlphabet)
  private def cyrOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$cyrAlphabet')"
  private def arOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, arAlphabet)
  private def arOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$arAlphabet')"
  private def devOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, devAlphabet)
  private def devOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$devAlphabet')"
  private def thaiOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, latinAlphabet, thaiAlphabet)
  private def thaiOfSql(e: String): String =
    s"translate($e, '$latinAlphabet', '$thaiAlphabet')"

  /** The multilingual fixture corpus: documents with the zh stratum
    * transliterated to real Han text, PLUS planted ko (real Hangul,
    * ids +10e6), ru (real Cyrillic, +20e6), and — r19 — ar (real Arabic,
    * +30e6), hi (real Devanagari, +40e6), th (real Thai, +50e6) strata —
    * every script lane of the token class is a first-class citizen of
    * every ML row (ppl/gate/indexed/stream/release). Id blocks are 10e6
    * apart so the fixtures' derived strata (+1e6 twins, +2e6 copies,
    * +3e6 zero-token, +4e6 unmodeled) never collide across scripts. */
  private def mlDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"),
        when(col("lang") === "zh", cjkOf(col("text")))
          .otherwise(col("text")).as("text"),
        col("lang"))
      .unionAll(d.where(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          hangulOf(col("text")).as("text"), lit("ko").as("lang")))
      .unionAll(d.where(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          cyrOf(col("text")).as("text"), lit("ru").as("lang")))
      .unionAll(d.where(col("doc_id") % 5 === 3)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          arOf(col("text")).as("text"), lit("ar").as("lang")))
      .unionAll(d.where(col("doc_id") % 5 === 4)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          devOf(col("text")).as("text"), lit("hi").as("lang")))
      .unionAll(d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          thaiOf(col("text")).as("text"), lit("th").as("lang")))
  }
  private val mlDocsSql =
    s"""(SELECT doc_id,
       |   CASE WHEN lang = 'zh' THEN ${cjkOfSql("text")} ELSE text END AS text,
       |   lang FROM documents
       | UNION ALL SELECT doc_id + 10000000, ${hangulOfSql("text")}, 'ko'
       |   FROM documents WHERE doc_id % 5 = 1
       | UNION ALL SELECT doc_id + 20000000, ${cyrOfSql("text")}, 'ru'
       |   FROM documents WHERE doc_id % 5 = 2
       | UNION ALL SELECT doc_id + 30000000, ${arOfSql("text")}, 'ar'
       |   FROM documents WHERE doc_id % 5 = 3
       | UNION ALL SELECT doc_id + 40000000, ${devOfSql("text")}, 'hi'
       |   FROM documents WHERE doc_id % 5 = 4
       | UNION ALL SELECT doc_id + 50000000, ${thaiOfSql("text")}, 'th'
       |   FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  // ---- PII planting ---------------------------------------------------
  // The synthetic corpus contains no digits or '@' (verified per
  // fixture), so every finding below is planted — counts are exact by
  // construction on both engines.
  private def piiText: org.apache.spark.sql.Column = piiTextOf(col("text"))
  private def piiTextOf(base: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      base,
      when(id % 5 === 0,
        concat(lit(" contact admin"), id.cast("string"),
          lit("@example.com now"))).otherwise(""),
      when(id % 10 === 0,
        concat(lit(" cc backup"), id.cast("string"), lit("@mail.org")))
        .otherwise(""),
      when(id % 7 === 0,
        concat(lit(" node 10."), (id % 256).cast("string"), lit(".0."),
          (id % 200).cast("string"), lit(" up"))).otherwise(""),
      when(id % 11 === 0,
        concat(lit(" call +1 555 "), (lit(100) + id % 900).cast("string"),
          lit(" 2345 today"))).otherwise(""),
      when(id % 13 === 0,
        concat(lit(" or ("), (lit(200) + id % 700).cast("string"),
          lit(") 867-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(""),
      when(id % 17 === 0,
        concat(lit(" fax 555-"), (lit(100) + id % 900).cast("string"),
          lit("-"), lpad((id % 10000).cast("string"), 4, "0"), lit(" soon")))
        .otherwise(""),
      when(id % 19 === 0,
        concat(lit(" via fe80:1:2:3:4:5:6:"),
          (lit(1000) + id % 9000).cast("string"), lit(" tunnel")))
        .otherwise(""),
      when(id % 23 === 0,
        concat(lit(" ssn 123-45-"), lpad((id % 10000).cast("string"), 4, "0"),
          lit(" filed"))).otherwise(""),
      // compressed-IPv6 shapes (r18): a both-sides `::`, a leading `::1`,
      // and a trailing `fe80::` — the three compression edges
      when(id % 37 === 0,
        concat(lit(" gw 2001:db8::"), (lit(1000) + id % 9000).cast("string"),
          lit(" lo ::1 net fe80:: up"))).otherwise(""),
      when(id % 31 === 0,
        concat(lit(" card 4556 "), lpad((id % 10000).cast("string"), 4, "0"),
          lit(" 9012 3456 on file"))).otherwise(""),
      // the boundary interaction case: an IP-shaped local part — the
      // email rule (first in redaction order) must eat the WHOLE address,
      // leaving no IP finding (spec-pinned in PiiSpec)
      when(id % 29 === 0, lit(" ping 1.2.3.4@mail.com ok")).otherwise(""))
  }
  private def piiPlant(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), piiText.as("text"), col("source"))
  private def piiPlantLang(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), piiText.as("text"), col("lang"))
  private val piiTextSql = piiTextSqlOf("text")
  private def piiTextSqlOf(base: String): String =
    s"""$base ||
      |   CASE WHEN doc_id % 5 = 0
      |     THEN ' contact admin' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 10 = 0
      |     THEN ' cc backup' || CAST(doc_id AS VARCHAR) || '@mail.org'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 7 = 0
      |     THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
      |          CAST(doc_id % 200 AS VARCHAR) || ' up'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 11 = 0
      |     THEN ' call +1 555 ' || CAST(100 + doc_id % 900 AS VARCHAR) || ' 2345 today'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 13 = 0
      |     THEN ' or (' || CAST(200 + doc_id % 700 AS VARCHAR) || ') 867-' ||
      |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 17 = 0
      |     THEN ' fax 555-' || CAST(100 + doc_id % 900 AS VARCHAR) || '-' ||
      |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' soon'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 19 = 0
      |     THEN ' via fe80:1:2:3:4:5:6:' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' tunnel'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 23 = 0
      |     THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' filed'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 37 = 0
      |     THEN ' gw 2001:db8::' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' lo ::1 net fe80:: up'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 31 = 0
      |     THEN ' card 4556 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' 9012 3456 on file'
      |     ELSE '' END ||
      |   CASE WHEN doc_id % 29 = 0
      |     THEN ' ping 1.2.3.4@mail.com ok'
      |     ELSE '' END""".stripMargin
  private val piiPlantSql =
    s"""(SELECT doc_id, $piiTextSql AS text,
       |   source
       | FROM documents)""".stripMargin
  private val piiPlantLangSql =
    s"""(SELECT doc_id, $piiTextSql AS text,
       |   lang
       | FROM documents)""".stripMargin

  /** Multilingual PII plant: every [[mlDocs]] stratum's BASE text gets
    * the PII appendages AFTER the script transliteration (transliterating
    * after would eat the planted emails' a-z), so cur_release's per-lang
    * LM funnel is exercised on actual non-Latin text — zh/ko/ru included
    * (r18). */
  private def piiPlantLangMl(s: SparkSession, dir: String): DataFrame =
    mlDocs(s, dir).select(col("doc_id"), piiTextOf(col("text")).as("text"),
      col("lang"))
  private val piiPlantLangMlSql =
    s"""(SELECT doc_id,
       |   ${piiTextSqlOf("text")} AS text,
       |   lang
       | FROM $mlDocsSql m)""".stripMargin

  /** (train, corpus) of the txt_lm_gate_ml row — four strata: originals,
    * ASCII-spam twins (+1e6), digits-only zero-token docs (+3e6), and an
    * unmodeled-lang stratum (+4e6, lang 'xx'). The committed cut's
    * margins were measured on this EXACT fixture. */
  private def mlGateFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = mlDocs(s, dir)
    val corpus = d
      .unionAll(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(mlSpam), col("text")).as("text"), col("lang")))
      .unionAll(d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("7 42 90210").as("text"), col("lang")))
      .unionAll(d.where(col("doc_id") < 10)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"),
          lit("xx").as("lang")))
    (d, corpus)
  }

  /** (lmTrain, corpus) of the cur_release row — originals (PII-planted,
    * zh transliterated), spam twins (+1e6), exact copies (+2e6,
    * doc_id < 20), digits-only zero-token docs (+3e6), unmodeled-lang
    * 'xx' stratum (+4e6). */
  private def releaseFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val planted = piiPlantLangMl(s, dir)
    val corpus = planted
      .unionAll(planted.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(mlSpam), col("text")).as("text"), col("lang")))
      .unionAll(planted.where(col("doc_id") < 20)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          col("lang")))
      .unionAll(planted.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit(relZeroTokText).as("text"), col("lang")))
      .unionAll(planted.where(col("doc_id") < 10)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"),
          lit("xx").as("lang")))
    (planted, corpus)
  }

  /** (lmTrain, corpus) of the cur_release_ided row: the [[releaseFixture]]
    * plus a MISLABELED stratum (+5e6) — real Han text whose lang column
    * CLAIMS 'en'. Under prediction keying the claim is ignored: the docs
    * gate under zh (their text's language); under the column-keyed
    * cur_release they would have gated under en. Corpus-only (never
    * trained), so the train side is the releaseFixture's unchanged. */
  private[graft] def releaseIdedFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (planted, corpus) = releaseFixture(s, dir)
    val mislabeled = docs(s, dir).where(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        cjkOf(col("text")).as("text"), lit("en").as("lang"))
    (planted, corpus.unionAll(mislabeled))
  }

  /** Stage `df` as ONE flat parquet file named `name` in `dir` — the
    * file-stream source lists files, not Spark output directories (the
    * NorthStarQueries pattern). */
  private def stageAsFile(df: DataFrame,
      dir: java.nio.file.Path, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage")
    // repartition(1), NOT coalesce(1): coalesce collapses the WHOLE
    // upstream fixture pipeline (unions, meta joins, per-script
    // translate) into one task; the round-robin shuffle keeps the
    // compute parallel and only the final file write single-task. The
    // staged CONTENT (row set) is identical — downstream consumers are
    // per-batch aggregates, row order inside the file is immaterial.
    df.repartition(1).write.parquet(tmp.resolve("d").toString)
    val ls = java.nio.file.Files.list(tmp.resolve("d"))
    val part =
      try ls.filter(p => p.toString.endsWith(".parquet")).findFirst.get
      finally ls.close()
    java.nio.file.Files.copy(part, dir.resolve(name))
    deleteRecursively(tmp)
  }

  /** Fingerprint frame for LANG-KEYED standing models (r20):
    * [[NorthStarQueries.cachedArtifact]] fingerprints (doc_id, text)
    * only, and a `tok=ml` model also depends on each row's `lang` — fold
    * the language into the fingerprinted text with separators that occur
    * in neither, so a regenerated corpus that changes only language
    * labels still invalidates the cached model. */
  private def fpWithLang(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(coalesce(col("lang"), lit("␀")), lit("␞"),
        col("text")).as("text"))

  /** Standing-model fixture persisted once per testdata fingerprint
    * (r20 — the dd_cluster_increment treatment, OPTIMIZATION_r20.md §2):
    * a lifecycle row's PRE-EXISTING state (the model a production
    * deployment built long before the measured verb ran) builds once and
    * is fingerprint-guarded against data regeneration. Read-only
    * consumers (probe/score rows) use the returned dir in place;
    * mutating verbs (grow/prune/purge/compact/ingest) [[modelCopy]]
    * first. Rows whose DECLARED point is the build itself (txt_lm_ml,
    * txt_lm5_ml, …) deliberately do NOT use this. */
  private def cachedModel(dir: String, name: String,
      fp: org.apache.spark.sql.DataFrame)(build: String => Unit): String =
    s"${NorthStarQueries.cachedArtifact(dir, name, fp)(out => build(s"$out/m"))}/m"

  /** Per-run mutable instantiation of a [[cachedModel]] artifact. */
  private def modelCopy(artifactModelDir: String,
      tmp: java.nio.file.Path): String = {
    val dst = tmp.resolve("model")
    NorthStarQueries.copyRecursively(
      java.nio.file.Paths.get(artifactModelDir), dst)
    dst.toString
  }

  /** Deterministic micro-batch ORDER for parallel-staged stream inputs:
    * the file-stream source orders batches by file modification time, and
    * overlapped stagings (guide §2.6) finish in scheduler order — so
    * re-stamp the staged files with strictly increasing mtimes in the
    * declared batch order before the stream starts. */
  private def orderStaged(dir: java.nio.file.Path, names: String*): Unit = {
    val base = names.map(n =>
      java.nio.file.Files.getLastModifiedTime(dir.resolve(n)).toMillis).max
    names.zipWithIndex.foreach { case (n, i) =>
      java.nio.file.Files.setLastModifiedTime(dir.resolve(n),
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
    }
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  val all: Seq[QueryDef] = Seq(

    // ---- n-gram LM quality (CCNet-style perplexity filtering) ---------

    // Per-document cross-entropy under a Stupid Backoff bigram LM trained
    // on the reference slice — train and score in one plan; the oracle
    // replays tokenization, both count tables, and the per-token backoff
    // CASE exactly.
    QueryDef("txt_lm_ppl")(
      s"""${LangModel.pplSql(lmTrainSql, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = docs(s, dir)
      LangModel.pplN(idText(d.where(bkt >= 20)), idText(d.where(bkt < 20)), 2)
        .orderBy("doc_id")
    },

    // The LM as a quality GATE on the planted quality-vs-junk corpus:
    // per-language funnel of documents whose xent under the clean
    // reference model clears the cut. The gate compares the ROUNDED
    // score (margin >= 0.07 on both sides of 1.65 — no boundary race).
    QueryDef("txt_lm_gate")(
      LangModel.gateSql(
        "(SELECT doc_id, text FROM documents)", lmJunkPlantSql, lmGateCut)
    ) { (s, dir) =>
      LangModel.gate(idText(docs(s, dir)), lmJunkPlant(s, dir), lmGateCut)
        .orderBy("lang")
    },

    // The LM's OPERATIONAL form: model trained once and PERSISTED
    // (vocabulary-scale count tables under a format-marked layout), then
    // arrivals score against the index — one batch scan + model-table
    // joins, the training corpus never rescanned. Oracle recomputes from
    // raw: hash equality proves persisted-probe == recompute.
    QueryDef("txt_lm_indexed")(
      s"""${LangModel.pplSql(lmTrainSql, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-idx")
      LangModel.buildLmIndex(idText(d.where(bkt >= 20)), s"$tmp/model")
      val out = LangModel.scoreAgainstLmNIndex(s"$tmp/model",
          idText(d.where(bkt < 20)), 2, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The model GROWN by an arriving batch — n-gram counts are additive,
    // so growth is one batch scan landing delta partitions (the standing
    // corpus is never rescanned, existing partitions never rewritten).
    // Oracle trains on the union raw: grown == recomputed.
    QueryDef("txt_lm_grown")({
      val grownTrain =
        s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 20)"
      s"""${LangModel.pplSql(grownTrain, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-grow")
      LangModel.buildLmIndex(idText(d.where(bkt >= 40)), s"$tmp/model")
      LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
        s"$tmp/model", ingestBatch = 0L)
      val out = LangModel.scoreAgainstLmNIndex(s"$tmp/model",
          idText(d.where(bkt < 20)), 2, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // Model TAKEDOWN: departing documents' counts leave as negated delta
    // partitions — one scan of the purged rows, standing partitions never
    // rewritten; n-grams whose total reaches zero read as never-seen.
    // Oracle trains on the survivors raw: subtracted == recounted-without.
    QueryDef("txt_lm_purge")({
      val keptTrain =
        s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 20 AND $bktSql < 80)"
      s"""${LangModel.pplSql(keptTrain, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-purge")
      LangModel.buildLmIndex(idText(d.where(bkt >= 20)), s"$tmp/model")
      LangModel.purgeFromLmIndex(idText(d.where(bkt >= 80)),
        s"$tmp/model", purgeId = 0L)
      val out = LangModel.scoreAgainstLmNIndex(s"$tmp/model",
          idText(d.where(bkt < 20)), 2, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // Append-side COMPACTION of the model: the grown+purged delta
    // partitions fold into re-summed seed partitions on the two-phase
    // commit machinery; zeroed n-grams drop. Same oracle as txt_lm_purge
    // — a hash match proves the fold preserved every surviving count.
    QueryDef("txt_lm_compacted")({
      val keptTrain =
        s"(SELECT doc_id, text FROM documents WHERE ($bktSql >= 40 AND $bktSql < 80) OR ($bktSql >= 20 AND $bktSql < 40))"
      s"""${LangModel.pplSql(keptTrain, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-compact")
      // standing grown model fingerprint-cached (shared with
      // txt_lm_pruned); purge + compact MUTATE, so each run works on a
      // filesystem COPY (r20)
      val model = modelCopy(
        cachedModel(dir, "lm2-b40a20", idText(d)) { m =>
          LangModel.buildLmIndex(idText(d.where(bkt >= 40)), m)
          LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
            m, ingestBatch = 0L)
        }, tmp)
      LangModel.purgeFromLmIndex(idText(d.where(bkt >= 80)),
        model, purgeId = 0L)
      LangModel.compactLmIndex(s, model)
      val out = LangModel.scoreAgainstLmNIndex(model,
          idText(d.where(bkt < 20)), 2, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The model PRUNED for serving (KenLM-style min-count cut): fold,
    // then drop n-grams under the floor — pruned unigrams score as OOV,
    // pruned bigrams back off. The chain exercises prune-after-grow;
    // the oracle replays the cut (count floor + left-endpoint semi-join)
    // from raw. Bigrams commit before unigrams so a crash between the
    // folds can't break the conditional's denominator invariant.
    QueryDef("txt_lm_pruned")(
      s"""${LangModel.pplSql(lmTrainSql, lmScoreSql, minCount = 30L)}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-prune")
      // standing grown model fingerprint-cached (shared with
      // txt_lm_compacted); prune MUTATES, so each run prunes a COPY (r20)
      val model = modelCopy(
        cachedModel(dir, "lm2-b40a20", idText(d)) { m =>
          LangModel.buildLmIndex(idText(d.where(bkt >= 40)), m)
          LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
            m, ingestBatch = 0L)
        }, tmp)
      LangModel.pruneLmIndex(s, model, minCount = 30L)
      val out = LangModel.scoreAgainstLmNIndex(model,
          idText(d.where(bkt < 20)), 2, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // Moore–Lewis cross-entropy-difference selection (ACL 2010): every
    // candidate scored under the IN-domain model (clean originals) and
    // the OUT-domain model (the spam-prefixed twins' corpus); keep
    // delta = xent_in − xent_out ≤ 0.2. Measured: originals delta
    // −0.103..0.022, twins 0.410..2.046 at sf0.01 — the cut separates
    // with ≥ 0.18 margin on both sides. The full per-doc score table is
    // hash-checked, not just the funnel.
    QueryDef("txt_lm_select")({
      val inT = "(SELECT doc_id, text FROM documents)"
      val outT =
        s"(SELECT doc_id + 1000000 AS doc_id, '$lmSpam' || text AS text FROM documents)"
      val batch =
        s"(SELECT doc_id, text FROM $lmJunkPlantSql b)"
      s"""SELECT * FROM (
         |  ${LangModel.mooreLewisSql(inT, outT, batch, 0.2)}
         | ) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val outTrain = idText(d).select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(lmSpam), col("text")).as("text"))
      LangModel.mooreLewis(idText(d), outTrain,
          lmJunkPlant(s, dir).select(col("doc_id"), col("text")), cut = 0.2)
        .orderBy("doc_id")
    },

    // ---- per-language Unicode-aware LM (the CCNet shape) --------------

    // Per-document cross-entropy under each document's OWN language's
    // model (one plan trains and applies all five), over a corpus whose
    // zh stratum is REAL Han text (transliterated — char-level tokens).
    // The oracle replays the per-lang count tables, totals and joins.
    QueryDef("txt_lm_ml")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModelMl.pplMlSql(tr, sc)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      LangModelMl.pplNMl(d.where(bkt >= 20), d.where(bkt < 20), 2)
        .orderBy("doc_id")
    },

    // The per-language LM GATE — per-lang CALIBRATED cuts (train
    // self-score mean + offset, exact integer micro-units: zh's Han-char
    // model scores ~0.9 where latin models score ~1.5, so no single
    // global cut can be right — the CCNet per-language-threshold shape)
    // with the EXPLICIT zero-token policy, on a four-strata plant:
    // originals (kept), ASCII-spam twins (die under their own language's
    // model — for zh the spam is OOV Latin inside a Han-char model),
    // digits-only docs (ZERO TOKENS under the class — pass through,
    // counted in n_zero_tok, never silently dropped: the single-model
    // [a-z]+ gate's failure mode), and an unmodeled-lang stratum ('xx' —
    // scored nothing, kept no, visible as n_in − n_zero_tok − n_scored).
    // Offset window measured at sf0.01 AND sf0.001 (EXPLAIN.md "Round
    // 17: the per-language LM gate").
    QueryDef("txt_lm_gate_ml")({
      val corpus =
        s"""(SELECT doc_id, text, lang FROM $mlDocsSql m
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $mlDocsSql m
           | UNION ALL SELECT doc_id + 3000000, '7 42 90210', lang
           |   FROM $mlDocsSql m WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $mlDocsSql m WHERE doc_id < 10)""".stripMargin
      LangModelMl.gateMlSql(mlDocsSql, corpus, mlGateOffsetMicro)
    }) { (s, dir) =>
      val (train, corpus) = mlGateFixture(s, dir)
      LangModelMl.gateMl(train, corpus, mlGateOffsetMicro).orderBy("lang")
    },

    // The per-language model PERSISTED and GROWN (the CCNet production
    // artifact: every language's model in one lang-keyed layout riding
    // the identical delta/ledger machinery; the marker's tok=ml line
    // keeps plain and per-language layouts from ever cross-reading —
    // different tokenizers). Oracle retrains per-lang on the union raw:
    // hash equality is the grown == indexed == direct identity.
    QueryDef("txt_lm_ml_indexed")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModelMl.pplMlSql(tr, sc)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      // standing grown model persisted once per fingerprint (r20); the
      // probe is read-only, so no per-run copy
      val model = cachedModel(dir, "lmml2-b40a20", fpWithLang(d)) { m =>
        LangModel.buildLmIndex(d.where(bkt >= 40), m, ml = true)
        LangModel.appendToLmIndex(d.where(bkt >= 20 && bkt < 40),
          m, ingestBatch = 0L)
      }
      LangModel.scoreAgainstLmNIndex(model, d.where(bkt < 20), 2, ml = true)
        .orderBy("doc_id")
    },

    // TAKEDOWN of the per-language model, driver-checked THROUGH THE
    // ORCHESTRATOR (r18): departing documents leave the lang-keyed
    // tok=ml layout via Takedown.purgeEverywhere — completeness guard
    // over the deployment root (the ml layout is recognized by its own
    // format marker), audit manifest, and the documented crash recovery:
    // the WHOLE orchestration re-runs end-to-end and the applied-purge
    // ledger makes the retry a no-op. Oracle retrains per-lang on the
    // survivors raw: hash equality is purged == rebuilt-without on the
    // per-language layout.
    QueryDef("txt_lm_ml_purged")({
      val kept =
        s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20 AND $bktSql < 80)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModelMl.pplMlSql(kept, sc)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import graft.operators.Takedown
      val d = mlDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm-ml-purge")
      val tB = System.nanoTime()
      // standing model persisted once per fingerprint (r20); the takedown
      // MUTATES it, so each run purges a filesystem COPY
      val built = cachedModel(dir, "lmml2-b20", fpWithLang(d)) { m =>
        LangModel.buildLmIndex(d.where(bkt >= 20), m, ml = true)
      }
      val model = modelCopy(built, tmp)
      val departing = d.where(bkt >= 80).localCheckpoint(true)
      NorthStarQueries.fixtureSecs.put("lm-ml-purge-fixture",
        (System.nanoTime() - tB) / 1e9)
      def run() = Takedown.purgeEverywhere(s,
        departing.select(col("doc_id")),
        Seq(Takedown.LmModel(model, purgedRows = departing,
          purgeId = 0L)),
        deploymentRoot = Some(tmp.toString))
      val audit = run()
      require(audit.count() == 1, "lm_model manifest row expected")
      // crash recovery: the orchestration re-runs END-TO-END; the
      // applied-purge ledger (committed atomically inside the delta
      // marker) makes the retried family a no-op
      run().count()
      val out = LangModel.scoreAgainstLmNIndex(model,
          d.where(bkt < 20), 2, ml = true)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The per-language loop's STREAMING twin (Streams.lmMlIngest): per
    // micro-batch, arrivals score under their own language's persisted
    // model, then their per-lang counts fold in — batch k scores against
    // seed ∪ batches 0..k−1 with own-partition replay exclusion. The
    // oracle replays each batch's per-lang scoring from the raw slices.
    QueryDef("txt_lm_ml_stream")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val grown =
        s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20 OR $bktSql < 10)"
      val b0 = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 10)"
      val b1 =
        s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 10 AND $bktSql < 20)"
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, *
         |   FROM (${LangModelMl.pplMlSql(tr, b0)})
         | UNION ALL SELECT CAST(1 AS BIGINT), *
         |   FROM (${LangModelMl.pplMlSql(grown, b1)})
         | ORDER BY micro_batch, doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      // stream-schema metadata joined on the BASE id (the ko/ru strata
      // live at +10e6/+20e6 — an equi-join on doc_id would silently drop
      // them from the stream fixture, r18)
      val withMeta = d.join(docs(s, dir)
          .select(col("doc_id").as("base_id"), col("source"),
            col("n_chars")),
          d("doc_id") % 10000000L === col("base_id"))
        .select(d("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val stDir = java.nio.file.Files.createTempDirectory("graft-lmml-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-lmml-stream-in")
      val t0 = System.nanoTime()
      // seed model fingerprint-cached (shared with txt_lm_ml_purged);
      // lmMlIngest GROWS it, so each run works on a filesystem COPY —
      // copy and the two stagings overlap (guide §2.6, r20)
      graft.operators.Par.runUnit(Seq(
        () => modelCopy(cachedModel(dir, "lmml2-b20", fpWithLang(d)) { m =>
          LangModel.buildLmIndex(d.where(bkt >= 20), m, ml = true)
        }, stDir),
        () => stageAsFile(withMeta.where(bkt < 10), inDir, "b0.parquet"),
        () => stageAsFile(withMeta.where(bkt >= 10 && bkt < 20), inDir,
          "b1.parquet")))
      orderStaged(inDir, "b0.parquet", "b1.parquet")
      NorthStarQueries.fixtureSecs.put("lmml-stream-fixture",
        (System.nanoTime() - t0) / 1e9)
      val q = graft.streaming.Streams.lmMlIngest(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"$stDir/model", s"$stDir/scores", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/scores")
        .select(col("micro_batch").cast("long").as("micro_batch"),
          col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
          col("n_backoff"), col("xent"))
        .orderBy(col("micro_batch"), col("doc_id")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    },

    // ---- trigram Stupid Backoff (order 3) ------------------------------

    // Per-document cross-entropy under the ORDER-3 model — trigram →
    // bigram → unigram backoff, the published recursion. Same corpus
    // split as txt_lm_ppl, so the two rows' scores are directly
    // comparable. The score side plants ONE- and TWO-token strata:
    // exactly the doc shapes whose order-3 context arrays r17's padded
    // zip construction got wrong (a 1-token doc emitted a phantom pos-2
    // null row — n_tokens = 2 instead of 1); the oracle stream emits
    // exactly len(ts) rows, so these strata pin the exact-length fix.
    QueryDef("txt_lm3_ppl")({
      val sc =
        s"""(SELECT doc_id, text FROM documents WHERE $bktSql < 20
           | UNION ALL SELECT doc_id + 6000000, 'the' FROM documents
           |   WHERE doc_id < 5
           | UNION ALL SELECT doc_id + 7000000, 'the a' FROM documents
           |   WHERE doc_id < 5)""".stripMargin
      s"""${LangModel.ppl3Sql(lmTrainSql, sc)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val score = idText(d.where(bkt < 20))
        .unionAll(d.where(col("doc_id") < 5)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            lit("the").as("text")))
        .unionAll(d.where(col("doc_id") < 5)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            lit("the a").as("text")))
      LangModel.pplN(idText(d.where(bkt >= 20)), score, 3)
        .orderBy("doc_id")
    },

    // The order-3 model PERSISTED and GROWN: build on one slice, append
    // another (three additive count tables riding the identical delta
    // machinery), score against the index. The oracle retrains on the
    // union raw — hash equality IS the grown == indexed == direct
    // identity.
    QueryDef("txt_lm3_indexed")({
      val grownTrain =
        s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 20)"
      s"""${LangModel.ppl3Sql(grownTrain, lmScoreSql)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      // standing grown order-3 model fingerprint-cached (r20); the probe
      // is read-only, so no per-run copy
      val model = cachedModel(dir, "lm3-b40a20", idText(d)) { m =>
        LangModel.buildLmIndex(idText(d.where(bkt >= 40)), m, 3)
        LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
          m, ingestBatch = 0L)
      }
      LangModel.scoreAgainstLmNIndex(model, idText(d.where(bkt < 20)), 3,
          ml = false)
        .orderBy("doc_id")
    },

    // The order-3 model PRUNED for serving: the deepest-first three-table
    // fold+floor (trigrams → bigrams → unigrams, so no crash window can
    // null a kept n-gram's denominator one order down). Oracle replays
    // the cut on all three tables from raw.
    QueryDef("txt_lm3_pruned")(
      s"""${LangModel.ppl3Sql(lmTrainSql, lmScoreSql, minCount = 30L)}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm3-prune")
      // standing grown order-3 model fingerprint-cached (shared with
      // txt_lm3_indexed); prune MUTATES, so each run prunes a COPY (r20)
      val model = modelCopy(
        cachedModel(dir, "lm3-b40a20", idText(d)) { m =>
          LangModel.buildLmIndex(idText(d.where(bkt >= 40)), m, 3)
          LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
            m, ingestBatch = 0L)
        }, tmp)
      LangModel.pruneLmIndex(s, model, minCount = 30L)
      val out = LangModel.scoreAgainstLmNIndex(model,
          idText(d.where(bkt < 20)), 3, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The trigram's REASON TO EXIST, pinned as data: a planted corpus
    // where every adjacent pair is trained (both variants' bigrams are
    // equally frequent) but only one triple is — the bigram model scores
    // consistent and crossed docs IDENTICALLY (xent2 equal by symmetric
    // counts), the trigram separates them by a measured margin. kept3 is
    // the trigram gate's verdict.
    QueryDef("txt_lm3_gate")({
      val tr =
        """(SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'alpha beta gamma'
          |   ELSE 'delta beta epsilon' END AS text FROM documents)""".stripMargin
      val pr =
        """(SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'alpha beta gamma'
          |   ELSE 'alpha beta epsilon' END AS text FROM documents
          | WHERE doc_id < 40)""".stripMargin
      s"""WITH s2 AS (${LangModel.pplSql(tr, pr)}),
         | s3 AS (${LangModel.ppl3Sql(tr, pr)})
         | SELECT s2.doc_id, s2.xent AS xent2, s3.xent AS xent3,
         |        CAST(s3.xent <= $lm3GateCut AS INT) AS kept3
         | FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
         | ORDER BY s2.doc_id""".stripMargin
    }) { (s, dir) =>
      val base = docs(s, dir)
      val train = base.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("alpha beta gamma"))
          .otherwise(lit("delta beta epsilon")).as("text"))
      val probe = base.where(col("doc_id") < 40).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("alpha beta gamma"))
          .otherwise(lit("alpha beta epsilon")).as("text"))
      LangModel.pplN(train, probe, 2)
        .select(col("doc_id"), col("xent").as("xent2"))
        .join(LangModel.pplN(train, probe, 3)
          .select(col("doc_id"), col("xent").as("xent3")), Seq("doc_id"))
        .withColumn("kept3", (col("xent3") <= lm3GateCut).cast("int"))
        .orderBy("doc_id")
    },

    // The LANG-KEYED TRIGRAM (r18): order-3 Stupid Backoff per language
    // — the lifecycle's order × shape cross product. Build on one slice,
    // append another (three lang-keyed additive count tables riding the
    // identical delta machinery, marker `order=3` + `tok=ml`), score the
    // arrivals against the index over the real multi-script corpus
    // (Han/Hangul/Cyrillic lanes included). The oracle retrains per-lang
    // on the union raw — hash equality IS the grown == indexed == direct
    // identity on the per-language order-3 layout.
    QueryDef("txt_lm3_ml")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModelMl.pplMl3Sql(tr, sc)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm3-ml-idx")
      LangModel.buildLmIndex(d.where(bkt >= 40), s"$tmp/model", 3, ml = true)
      LangModel.appendToLmIndex(d.where(bkt >= 20 && bkt < 40),
        s"$tmp/model", ingestBatch = 0L)
      val out = LangModel.scoreAgainstLmNIndex(s"$tmp/model",
          d.where(bkt < 20), 3, ml = true)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The lang-keyed trigram's REASON TO EXIST (r18): the txt_lm3_gate
    // plant lifted per language — each of four script lanes (en latin,
    // zh Han chars, ko Hangul eojeols, ru Cyrillic words) trains its own
    // bigram-SYMMETRIC corpus (both variants' bigrams equally frequent:
    // 250/250 doc parity) where only one TRIPLE is attested. The
    // single-char word plant ('a b c' / 'd b e' transliterated per
    // script) keeps char-level zh isomorphic to the word-level lanes, so
    // each language's bigram model scores consistent and crossed probes
    // IDENTICALLY while its trigram separates them by the same measured
    // margin (~0.26 vs ~0.49 — the 0.37 cut splits the gap in EVERY
    // lane).
    QueryDef("txt_lm3_ml_gate")({
      def strataSql(crossed: Boolean): String = {
        val txt = if (crossed)
          "CASE WHEN doc_id % 2 = 0 THEN 'a b c' ELSE 'a b e' END"
        else
          "CASE WHEN doc_id % 2 = 0 THEN 'a b c' ELSE 'd b e' END"
        val guard = if (crossed) " WHERE doc_id < 40" else ""
        Seq(
          (0L, "en", (e: String) => e),
          (10000000L, "zh", cjkOfSql _),
          (20000000L, "ko", hangulOfSql _),
          (30000000L, "ru", cyrOfSql _)).map { case (off, lang, t) =>
          s"""SELECT doc_id + $off AS doc_id, ${t(txt)} AS text,
             |   '$lang' AS lang FROM documents$guard""".stripMargin
        }.mkString("(", "\n| UNION ALL ", ")")
      }
      s"""WITH s2 AS (${LangModelMl.pplMlSql(strataSql(false), strataSql(true))}),
         | s3 AS (${LangModelMl.pplMl3Sql(strataSql(false), strataSql(true))})
         | SELECT s2.doc_id, s2.lang, s2.xent AS xent2, s3.xent AS xent3,
         |        CAST(s3.xent <= $lm3GateCut AS INT) AS kept3
         | FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
         | ORDER BY s2.doc_id""".stripMargin
    }) { (s, dir) =>
      val base = docs(s, dir)
      def strata(crossed: Boolean): DataFrame = {
        val txt = if (crossed)
          when(col("doc_id") % 2 === 0, lit("a b c")).otherwise(lit("a b e"))
        else
          when(col("doc_id") % 2 === 0, lit("a b c")).otherwise(lit("d b e"))
        val src = if (crossed) base.where(col("doc_id") < 40) else base
        Seq[(Long, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
          (0L, "en", c => c),
          (10000000L, "zh", cjkOf _),
          (20000000L, "ko", hangulOf _),
          (30000000L, "ru", cyrOf _)).map { case (off, lang, t) =>
          src.select((col("doc_id") + off).as("doc_id"),
            t(txt).as("text"), lit(lang).as("lang"))
        }.reduce(_ unionAll _)
      }
      val train = strata(crossed = false)
      val probe = strata(crossed = true)
      LangModelMl.pplNMl(train, probe, 2)
        .select(col("doc_id"), col("lang"), col("xent").as("xent2"))
        .join(LangModelMl.pplNMl(train, probe, 3)
          .select(col("doc_id"), col("xent").as("xent3")), Seq("doc_id"))
        .withColumn("kept3", (col("xent3") <= lm3GateCut).cast("int"))
        .orderBy("doc_id")
    },

    // ORDER-5 — CCNet's production KenLM order (r18): the generic
    // order-N kernel (one token-stream projection + n vocabulary-scale
    // joins + the totals, one lag window; hand-written 2/3 forms are
    // spec-pinned equal to it row-for-row). In-memory plain form over
    // the standard split, with 1- and 4-token strata pinning the
    // exact-length context arrays at every prefix depth.
    QueryDef("txt_lm5_ppl")({
      val sc =
        s"""(SELECT doc_id, text FROM documents WHERE $bktSql < 20
           | UNION ALL SELECT doc_id + 6000000, 'the' FROM documents
           |   WHERE doc_id < 5
           | UNION ALL SELECT doc_id + 7000000, 'the a fast slow'
           |   FROM documents WHERE doc_id < 5)""".stripMargin
      s"""${LangModel.pplNSqlGeneric(lmTrainSql, sc, 5, ml = false)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val score = idText(d.where(bkt < 20))
        .unionAll(d.where(col("doc_id") < 5)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            lit("the").as("text")))
        .unionAll(d.where(col("doc_id") < 5)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            lit("the a fast slow").as("text")))
      LangModel.pplN(idText(d.where(bkt >= 20)), score, 5)
        .orderBy("doc_id")
    },

    // The lang-keyed ORDER-5 model PERSISTED and GROWN — the full cross
    // product (CCNet's 5-gram, one per language, on the engine's
    // lifecycle): five lang-keyed additive count tables, marker
    // `order=5` + `tok=ml`. Oracle retrains per-lang on the union raw:
    // hash equality is the grown == indexed == direct identity.
    QueryDef("txt_lm5_ml")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModel.pplNSqlGeneric(tr, sc, 5, ml = true)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm5-ml-idx")
      LangModel.buildLmIndex(d.where(bkt >= 40), s"$tmp/model", 5, ml = true)
      LangModel.appendToLmIndex(d.where(bkt >= 20 && bkt < 40),
        s"$tmp/model", ingestBatch = 0L)
      val out = LangModel.scoreAgainstLmNIndex(s"$tmp/model",
          d.where(bkt < 20), 5, ml = true)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The order-5 model PRUNED for serving: the deepest-first
    // five-table fold+floor (fivegrams → … → unigrams — tableSpecs
    // .reverse, so no crash window can null a kept n-gram's denominator
    // one order down; the corpus-shaped monotonicity c(gram) ≤
    // c(context) holds at every order). Oracle replays the floor on all
    // five tables from raw.
    QueryDef("txt_lm5_pruned")(
      s"""${LangModel.pplNSqlGeneric(lmTrainSql, lmScoreSql, 5,
            ml = false, minCount = 30L)}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm5-prune")
      // standing grown order-5 model fingerprint-cached; prune MUTATES,
      // so each run prunes a COPY (r20)
      val model = modelCopy(
        cachedModel(dir, "lm5-b40a20", idText(d)) { m =>
          LangModel.buildLmIndex(idText(d.where(bkt >= 40)), m, 5)
          LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 40)),
            m, ingestBatch = 0L)
        }, tmp)
      LangModel.pruneLmIndex(s, model, minCount = 30L)
      val out = LangModel.scoreAgainstLmNIndex(model,
          idText(d.where(bkt < 20)), 5, ml = false)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // The 5-gram's REASON TO EXIST, per language (r18): a planted
    // corpus where every 4-gram is attested for both variants (250/250
    // doc parity) but only one QUINTUPLE is — the order-4 model scores
    // consistent and crossed probes IDENTICALLY (p(e|b c d) = p(g|b c
    // d) = ½ by symmetric counts), only order 5 separates, in all four
    // script lanes.
    QueryDef("txt_lm5_gate")({
      def strataSql(crossed: Boolean): String = {
        val txt = if (crossed)
          "CASE WHEN doc_id % 2 = 0 THEN 'a b c d e' ELSE 'a b c d g' END"
        else
          "CASE WHEN doc_id % 2 = 0 THEN 'a b c d e' ELSE 'f b c d g' END"
        val guard = if (crossed) " WHERE doc_id < 40" else ""
        Seq(
          (0L, "en", (e: String) => e),
          (10000000L, "zh", cjkOfSql _),
          (20000000L, "ko", hangulOfSql _),
          (30000000L, "ru", cyrOfSql _)).map { case (off, lang, t) =>
          s"""SELECT doc_id + $off AS doc_id, ${t(txt)} AS text,
             |   '$lang' AS lang FROM documents$guard""".stripMargin
        }.mkString("(", "\n| UNION ALL ", ")")
      }
      s"""WITH s4 AS (${LangModel.pplNSqlGeneric(
            strataSql(false), strataSql(true), 4, ml = true)}),
         | s5 AS (${LangModel.pplNSqlGeneric(
            strataSql(false), strataSql(true), 5, ml = true)})
         | SELECT s4.doc_id, s4.lang, s4.xent AS xent4, s5.xent AS xent5,
         |        CAST(s5.xent <= $lm5GateCut AS INT) AS kept5
         | FROM s4 JOIN s5 ON s4.doc_id = s5.doc_id
         | ORDER BY s4.doc_id""".stripMargin
    }) { (s, dir) =>
      val base = docs(s, dir)
      def strata(crossed: Boolean): DataFrame = {
        val txt = if (crossed)
          when(col("doc_id") % 2 === 0, lit("a b c d e"))
            .otherwise(lit("a b c d g"))
        else
          when(col("doc_id") % 2 === 0, lit("a b c d e"))
            .otherwise(lit("f b c d g"))
        val src = if (crossed) base.where(col("doc_id") < 40) else base
        Seq[(Long, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
          (0L, "en", c => c),
          (10000000L, "zh", cjkOf _),
          (20000000L, "ko", hangulOf _),
          (30000000L, "ru", cyrOf _)).map { case (off, lang, t) =>
          src.select((col("doc_id") + off).as("doc_id"),
            t(txt).as("text"), lit(lang).as("lang"))
        }.reduce(_ unionAll _)
      }
      val train = strata(crossed = false)
      val probe = strata(crossed = true)
      LangModelMl.pplNMl(train, probe, 4)
        .select(col("doc_id"), col("lang"), col("xent").as("xent4"))
        .join(LangModelMl.pplNMl(train, probe, 5)
          .select(col("doc_id"), col("xent").as("xent5")), Seq("doc_id"))
        .withColumn("kept5", (col("xent5") <= lm5GateCut).cast("int"))
        .orderBy("doc_id")
    },

    // The LM loop's STREAMING twin: per micro-batch, arrivals score
    // against the persisted model, then their counts fold in — batch k
    // scores against seed ∪ batches 0..k−1 (the noveltyIngest
    // discipline; the probe excludes the batch's own partition, so a
    // crash replay scores identically). The oracle replays each batch's
    // scoring from the raw slices — hash equality proves index-probed ==
    // sequentially-recomputed per batch.
    QueryDef("txt_lm_stream")({
      val b0 = s"(SELECT doc_id, text FROM documents WHERE $bktSql < 10)"
      val grown =
        s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 20 OR $bktSql < 10)"
      val b1 =
        s"(SELECT doc_id, text FROM documents WHERE $bktSql >= 10 AND $bktSql < 20)"
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, *
         |   FROM (${LangModel.pplSql(lmTrainSql, b0)})
         | UNION ALL SELECT CAST(1 AS BIGINT), *
         |   FROM (${LangModel.pplSql(grown, b1)})
         | ORDER BY micro_batch, doc_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val stDir = java.nio.file.Files.createTempDirectory("graft-lm-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-lm-stream-in")
      val t0 = System.nanoTime()
      // seed model fingerprint-cached; lmIngest GROWS it, so each run
      // works on a filesystem COPY — copy and the two stagings overlap
      // (guide §2.6, r20)
      graft.operators.Par.runUnit(Seq(
        () => modelCopy(cachedModel(dir, "lm2-b20", idText(d)) { m =>
          LangModel.buildLmIndex(idText(d.where(bkt >= 20)), m)
        }, stDir),
        () => stageAsFile(d.where(bkt < 10), inDir, "b0.parquet"),
        () => stageAsFile(d.where(bkt >= 10 && bkt < 20), inDir,
          "b1.parquet")))
      orderStaged(inDir, "b0.parquet", "b1.parquet")
      NorthStarQueries.fixtureSecs.put("lm-stream-fixture",
        (System.nanoTime() - t0) / 1e9)
      val q = graft.streaming.Streams.lmIngest(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"$stDir/model", s"$stDir/scores", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/scores")
        .select(col("micro_batch").cast("long").as("micro_batch"),
          col("doc_id"), col("n_tokens"), col("n_oov"), col("n_backoff"),
          col("xent"))
        .orderBy(col("micro_batch"), col("doc_id")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    },

    // END-TO-END release funnel (re-based PER-LANGUAGE in r17): LR
    // quality gate → per-lang LM gate (zero-token pass-through, counted)
    // → typed PII redaction → exact dedup over the REDACTED text,
    // per-lang funnel. Corpus plants work for every stage: PII
    // appendages (redaction + finding density), the zh stratum
    // transliterated to REAL Han text (its spam twins carry ASCII spam —
    // OOV Latin under the Han-char zh model, so they die at the LM gate
    // like every other lang's twins; cut margins in LangModelSpec),
    // exact copies of the first 20 docs (collapse at dedup), digits-only
    // docs (ZERO tokens — pass the LM stage by policy, visible in
    // n_zero_tok), and an unmodeled-lang 'xx' stratum (counted in
    // n_unmodeled, not kept — the funnel's last residue made explicit).
    // The LM trains per-lang on the PLANTED originals so planted PII
    // tokens are in-vocabulary.
    QueryDef("cur_release")(
      graft.operators.Curation.releaseSql(
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10)""".stripMargin,
        s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)",
        offsetMicro = relOffsetMicro)
    ) { (s, dir) =>
      val (planted, corpus) = releaseFixture(s, dir)
      graft.operators.Curation.release(corpus, planted,
          offsetMicro = relOffsetMicro)
        .orderBy("lang")
    },

    // The release funnel KEYED ON THE PREDICTION (r18): langid runs
    // FIRST and the per-language training, calibrated cuts, and funnel
    // all key on langIdPred's output — the CCNet order; cur_release's
    // column-keyed form survives as the trusted-metadata variant. The
    // fixture adds a MISLABELED stratum (real Han text claiming
    // lang='en'): under prediction keying it gates in the zh lane — the
    // column never enters the computation, which is the point.
    QueryDef("cur_release_ided")(
      graft.operators.Curation.releaseIdedSql(
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10
           | UNION ALL SELECT doc_id + 5000000, ${cjkOfSql("text")}, 'en'
           |   FROM documents WHERE doc_id % 2 = 1)""".stripMargin,
        s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)",
        offsetMicro = relOffsetMicro)
    ) { (s, dir) =>
      val (planted, corpus) = releaseIdedFixture(s, dir)
      graft.operators.Curation.releaseIded(corpus, planted,
          offsetMicro = relOffsetMicro)
        .orderBy("lang")
    },

    // The release funnel's STREAMING twin (r18): the calibrated
    // per-lang funnel of ARRIVING docs against the persisted tok=ml
    // model + persisted cuts (Streams.releaseMonitor) — per micro-batch
    // the full composition (LR gate → per-lang LM gate with zero-token
    // pass-through → PII density → within-batch exact dedup over the
    // redacted text), batchId-keyed overwrite (pure observer — the
    // standing model/cuts never mutate, so replays are byte-identical).
    // The oracle replays each batch's funnel from the raw slices with
    // the cuts re-derived from the same train corpus: hash equality
    // proves persisted-model-probed == recomputed per batch.
    QueryDef("cur_release_stream")({
      val corpus =
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10)""".stripMargin
      val train = s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)"
      def slice(cond: String) =
        s"(SELECT doc_id, text, lang FROM $corpus c WHERE $cond)"
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, * FROM (
         |  ${graft.operators.Curation.releaseSql(
              slice(s"$bktSql < 50"), train, relOffsetMicro)})
         | UNION ALL SELECT CAST(1 AS BIGINT), * FROM (
         |  ${graft.operators.Curation.releaseSql(
              slice(s"$bktSql >= 50"), train, relOffsetMicro)})
         | ORDER BY micro_batch, lang""".stripMargin
    }) { (s, dir) =>
      val (planted, corpus) = releaseFixture(s, dir)
      // stream-schema metadata joined on the BASE id (strata offsets are
      // multiples of 1e6 below each 10e6 script block)
      val withMeta = corpus.join(docs(s, dir)
          .select(col("doc_id").as("base_id"), col("source"),
            col("n_chars")),
          corpus("doc_id") % 1000000L === col("base_id"))
        .select(corpus("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val stDir = java.nio.file.Files.createTempDirectory("graft-rel-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-rel-stream-in")
      val t0 = System.nanoTime()
      // Standing model + cuts persisted once per testdata fingerprint
      // (r20, the dd_cluster_increment treatment): releaseMonitor is a
      // PURE OBSERVER of the model/cuts (documented above — the standing
      // state never mutates), so the cached artifact is probed in place,
      // no per-run copy. Cold build cost lands in buildSecs; the two file
      // stagings overlap with the (fingerprint-checked) artifact lookup
      // (guide §2.6; fixture_sec records the overlapped wall).
      val modelRef = new java.util.concurrent.atomic.AtomicReference[String]
      graft.operators.Par.runUnit(Seq(
        () => modelRef.set(NorthStarQueries.cachedArtifact(dir,
          s"rel-model-cuts-$relOffsetMicro", fpWithLang(planted)) { out =>
            LangModel.buildLmIndex(planted, s"$out/model", ml = true)
            graft.operators.Curation.writeReleaseCuts(planted, s"$out/model",
              relOffsetMicro, s"$out/cuts")
          }),
        () => stageAsFile(withMeta.where(bkt < 50), inDir, "b0.parquet"),
        () => stageAsFile(withMeta.where(bkt >= 50), inDir, "b1.parquet")))
      orderStaged(inDir, "b0.parquet", "b1.parquet")
      NorthStarQueries.fixtureSecs.put("release-stream-fixture",
        (System.nanoTime() - t0) / 1e9)
      val q = graft.streaming.Streams.releaseMonitor(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"${modelRef.get}/model", s"${modelRef.get}/cuts",
        s"$stDir/rel", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/rel")
        .select(col("micro_batch").cast("long").as("micro_batch"),
          col("lang"), col("n_in"), col("n_quality"), col("n_zero_tok"),
          col("n_unmodeled"), col("n_lm"), col("n_pii_docs"),
          col("n_unique"))
        .orderBy(col("micro_batch"), col("lang")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    },

    // The release funnel RE-BASED ON THE ORDER-5 MODEL (r19 — CCNet's
    // production recipe composed end to end): the identical pinned
    // kernel and fixture as cur_release, but the statistical gate scores
    // under each language's 5-gram Stupid Backoff model and the per-lang
    // cuts calibrate on ORDER-5 self-scores (their own measured offset —
    // order-5 self-score distributions sit lower and tighter than
    // order-2). The oracle replays BOTH order-5 scoring chains through
    // the generic recursion — one oracle body, every order.
    QueryDef("cur_release5")(
      graft.operators.Curation.release5Sql(
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10)""".stripMargin,
        s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)",
        offsetMicro = rel5OffsetMicro)
    ) { (s, dir) =>
      val (planted, corpus) = releaseFixture(s, dir)
      graft.operators.Curation.release5(corpus, planted,
          offsetMicro = rel5OffsetMicro)
        .orderBy("lang")
    },

    // The ORDER-5 release funnel's STREAMING twin (r19): the monitor is
    // SHAPE-AWARE — pointed at a persisted `order=5 tok=ml` layout it
    // runs CCNet's production 5-gram gate per batch, with the cuts
    // calibrated (by the shape-aware writeReleaseCuts) on the persisted
    // model's own order-5 self-scores. Model + cuts load ONCE per run
    // through the LmSession; the oracle replays each batch's order-5
    // funnel from the raw slices — hash equality proves
    // persisted-5-gram-probed == recomputed per batch.
    QueryDef("cur_release5_stream")({
      val corpus =
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10)""".stripMargin
      val train = s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)"
      def slice(cond: String) =
        s"(SELECT doc_id, text, lang FROM $corpus c WHERE $cond)"
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, * FROM (
         |  ${graft.operators.Curation.release5Sql(
              slice(s"$bktSql < 50"), train, rel5OffsetMicro)})
         | UNION ALL SELECT CAST(1 AS BIGINT), * FROM (
         |  ${graft.operators.Curation.release5Sql(
              slice(s"$bktSql >= 50"), train, rel5OffsetMicro)})
         | ORDER BY micro_batch, lang""".stripMargin
    }) { (s, dir) =>
      val (planted, corpus) = releaseFixture(s, dir)
      val withMeta = corpus.join(docs(s, dir)
          .select(col("doc_id").as("base_id"), col("source"),
            col("n_chars")),
          corpus("doc_id") % 1000000L === col("base_id"))
        .select(corpus("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val stDir = java.nio.file.Files.createTempDirectory("graft-rel5-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-rel5-stream-in")
      val t0 = System.nanoTime()
      // Fingerprint-cached standing order-5 model + cuts, probed in place
      // (pure observer — see the cur_release_stream comment, r20); the
      // stagings overlap with the artifact lookup (guide §2.6).
      val modelRef = new java.util.concurrent.atomic.AtomicReference[String]
      graft.operators.Par.runUnit(Seq(
        () => modelRef.set(NorthStarQueries.cachedArtifact(dir,
          s"rel5-model-cuts-$rel5OffsetMicro", fpWithLang(planted)) { out =>
            LangModel.buildLmIndex(planted, s"$out/model", 5, ml = true)
            graft.operators.Curation.writeReleaseCuts(planted, s"$out/model",
              rel5OffsetMicro, s"$out/cuts")
          }),
        () => stageAsFile(withMeta.where(bkt < 50), inDir, "b0.parquet"),
        () => stageAsFile(withMeta.where(bkt >= 50), inDir, "b1.parquet")))
      orderStaged(inDir, "b0.parquet", "b1.parquet")
      NorthStarQueries.fixtureSecs.put("release5-stream-fixture",
        (System.nanoTime() - t0) / 1e9)
      val q = graft.streaming.Streams.releaseMonitor(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"${modelRef.get}/model", s"${modelRef.get}/cuts",
        s"$stDir/rel", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/rel")
        .select(col("micro_batch").cast("long").as("micro_batch"),
          col("lang"), col("n_in"), col("n_quality"), col("n_zero_tok"),
          col("n_unmodeled"), col("n_lm"), col("n_pii_docs"),
          col("n_unique"))
        .orderBy(col("micro_batch"), col("lang")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    },

    // The PREDICTION-KEYED release funnel's STREAMING twin (r19): a real
    // ingest stream has no trustworthy lang column, so the operational
    // monitor keys every ARRIVING doc on langIdPred and gates it in its
    // predicted language's lane — model and cuts persisted over the
    // prediction-keyed train (the cur_release_ided discipline,
    // streamed). The MISLABELED stratum (real Han text claiming
    // lang='en') arrives MID-STREAM, in batch 1 only: under prediction
    // keying it gates in the zh lane — the arriving column never enters
    // the computation. The oracle replays each batch through the
    // prediction-keyed funnel from the raw slices.
    QueryDef("cur_release_ided_stream")({
      val corpus =
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10)""".stripMargin
      val mislabeled =
        s"""(SELECT doc_id + 5000000 AS doc_id, ${cjkOfSql("text")} AS text,
           |   'en' AS lang FROM documents WHERE doc_id % 2 = 1)""".stripMargin
      val train = s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)"
      val b0 = s"(SELECT doc_id, text, lang FROM $corpus c WHERE $bktSql < 50)"
      val b1 =
        s"""(SELECT doc_id, text, lang FROM $corpus c WHERE $bktSql >= 50
           | UNION ALL SELECT doc_id, text, lang FROM $mislabeled m)""".stripMargin
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, * FROM (
         |  ${graft.operators.Curation.releaseIdedSql(b0, train, relOffsetMicro)})
         | UNION ALL SELECT CAST(1 AS BIGINT), * FROM (
         |  ${graft.operators.Curation.releaseIdedSql(b1, train, relOffsetMicro)})
         | ORDER BY micro_batch, lang""".stripMargin
    }) { (s, dir) =>
      import graft.operators.TextAnalysis
      val (planted, corpus) = releaseFixture(s, dir)
      val mislabeled = docs(s, dir).where(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          cjkOf(col("text")).as("text"), lit("en").as("lang"))
      def withMeta(df: DataFrame) = df.join(docs(s, dir)
          .select(col("doc_id").as("base_id"), col("source"),
            col("n_chars")),
          df("doc_id") % 1000000L === col("base_id"))
        .select(df("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val keyedTrain = planted.select(col("doc_id"), col("text"),
        TextAnalysis.langIdPred(col("text")).as("lang"))
      val stDir = java.nio.file.Files.createTempDirectory("graft-reli-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-reli-stream-in")
      val t0 = System.nanoTime()
      // Fingerprint-cached standing prediction-keyed model + cuts, probed
      // in place (pure observer — see the cur_release_stream comment,
      // r20); the stagings overlap with the artifact lookup (guide §2.6).
      val modelRef = new java.util.concurrent.atomic.AtomicReference[String]
      graft.operators.Par.runUnit(Seq(
        () => modelRef.set(NorthStarQueries.cachedArtifact(dir,
          s"reli-model-cuts-$relOffsetMicro", fpWithLang(keyedTrain)) { out =>
            LangModel.buildLmIndex(keyedTrain, s"$out/model", ml = true)
            graft.operators.Curation.writeReleaseCuts(keyedTrain, s"$out/model",
              relOffsetMicro, s"$out/cuts")
          }),
        () => stageAsFile(withMeta(corpus).where(bkt < 50), inDir,
          "b0.parquet"),
        () => stageAsFile(withMeta(corpus).where(bkt >= 50)
          .unionAll(withMeta(mislabeled)), inDir, "b1.parquet")))
      orderStaged(inDir, "b0.parquet", "b1.parquet")
      NorthStarQueries.fixtureSecs.put("release-ided-stream-fixture",
        (System.nanoTime() - t0) / 1e9)
      val q = graft.streaming.Streams.releaseMonitorIded(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"${modelRef.get}/model", s"${modelRef.get}/cuts",
        s"$stDir/rel", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/rel")
        .select(col("micro_batch").cast("long").as("micro_batch"),
          col("lang"), col("n_in"), col("n_quality"), col("n_zero_tok"),
          col("n_unmodeled"), col("n_lm"), col("n_pii_docs"),
          col("n_unique"))
        .orderBy(col("micro_batch"), col("lang")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    },

    // The FULL CCNet production composition (r19): langid FIRST, then
    // the ORDER-5 per-language model — the keying × order matrix's last
    // cell (cur_release_ided = keyed × order-2, cur_release5 =
    // column-keyed × order-5). The mislabeled Han-claiming-en stratum
    // gates in the zh lane under the zh 5-gram; cuts calibrate on the
    // keyed train's order-5 self-scores (same offset window as pii5 —
    // measured, EXPLAIN.md "Round 19: the release funnel on the order-5
    // per-language model", ided5 row).
    QueryDef("cur_release5_ided")(
      graft.operators.Curation.releaseIded5Sql(
        s"""(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 1000000, '$mlSpam' || text, lang
           |   FROM $piiPlantLangMlSql p
           | UNION ALL SELECT doc_id + 2000000, text, lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 20
           | UNION ALL SELECT doc_id + 3000000, repeat('90210 842731 ', 75), lang
           |   FROM $piiPlantLangMlSql p WHERE doc_id % 4 = 0
           | UNION ALL SELECT doc_id + 4000000, text, 'xx'
           |   FROM $piiPlantLangMlSql p WHERE doc_id < 10
           | UNION ALL SELECT doc_id + 5000000, ${cjkOfSql("text")}, 'en'
           |   FROM documents WHERE doc_id % 2 = 1)""".stripMargin,
        s"(SELECT doc_id, text, lang FROM $piiPlantLangMlSql p)",
        offsetMicro = rel5OffsetMicro)
    ) { (s, dir) =>
      val (planted, corpus) = releaseIdedFixture(s, dir)
      graft.operators.Curation.releaseIded5(corpus, planted,
          offsetMicro = rel5OffsetMicro)
        .orderBy("lang")
    },

    // The lang-keyed ORDER-5 model PRUNED for serving (r19 — the prune ×
    // shape × order cross product: the artifact a production CCNet gate
    // actually serves from): five lang-keyed tables fold+floor
    // DEEPEST-FIRST (fivegrams → … → unigrams — no crash window can
    // null a kept n-gram's denominator one order down; the corpus-shaped
    // monotonicity holds per language at every order). Oracle replays
    // the floor on all five lang-keyed tables from raw.
    QueryDef("txt_lm5_ml_pruned")({
      val tr = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql >= 20)"
      val sc = s"(SELECT doc_id, text, lang FROM $mlDocsSql m WHERE $bktSql < 20)"
      s"""${LangModel.pplNSqlGeneric(tr, sc, 5, ml = true, minCount = 5L)}
         | ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = mlDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-lm5-ml-prune")
      // standing grown lang-keyed order-5 model fingerprint-cached;
      // prune MUTATES, so each run prunes a COPY (r20)
      val model = modelCopy(
        cachedModel(dir, "lmml5-b40a20", fpWithLang(d)) { m =>
          LangModel.buildLmIndex(d.where(bkt >= 40), m, 5, ml = true)
          LangModel.appendToLmIndex(d.where(bkt >= 20 && bkt < 40),
            m, ingestBatch = 0L)
        }, tmp)
      LangModel.pruneLmIndex(s, model, minCount = 5L)
      val out = LangModel.scoreAgainstLmNIndex(model,
          d.where(bkt < 20), 5, ml = true)
        .orderBy("doc_id").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // SCRIPT-AWARE language ID over real CJK text — the langid face of
    // the [a-z]+ trap, pinned as a confusion matrix that carries BOTH
    // predictors: the word-profile langId classifies every Han doc as
    // 'fr' (zero profile hits → lexicographic tiebreak), the
    // script-aware langIdMl reads the script first (kana → ja decisive,
    // han → zh, else word profiles). Fixture: mlDocs (real-Han zh
    // stratum) ∪ a planted ja stratum (Han text + kana particle).
    QueryDef("txt_langid_ml")({
      val corpus =
        s"""(SELECT doc_id, text, lang FROM $mlDocsSql m
           | UNION ALL SELECT doc_id + 5000000, ${cjkOfSql("text")} || '\u306e', 'ja'
           |   FROM documents WHERE doc_id % 6 = 0)""".stripMargin
      def prof(code: String, words: Seq[String]) =
        s"SELECT doc_id, '$code' AS code, len(list_filter(ws, t -> t IN (" +
          words.map(w => s"'$w'").mkString(",") + "))) AS score FROM w"
      val scUnion = graft.operators.TextAnalysis.langProfiles
        .map { case (c, ws) => prof(c, ws) }.mkString("\n|   UNION ALL ")
      s"""WITH corpus AS (SELECT * FROM $corpus c),
         | w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
         |       FROM corpus),
         | sc AS (
         |   $scUnion),
         | p AS (SELECT doc_id, code FROM
         |         (SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY score DESC, code DESC) AS rn
         |          FROM sc) WHERE rn = 1)
         | SELECT w.lang,
         |   CASE WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.kanaClass}')) > 0 THEN 'ja'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.hangulClass}')) > 0 THEN 'ko'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.cyrillicClass}')) > 0 THEN 'ru'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.arabicClass}')) > 0 THEN 'ar'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.devanagariClass}')) > 0 THEN 'hi'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.thaiClass}')) > 0 THEN 'th'
         |        WHEN len(regexp_extract_all(w.text,
         |          '${graft.operators.TextAnalysis.hanClass}')) > 0 THEN 'zh'
         |        ELSE p.code END AS pred_lang,
         |   p.code AS pred_word,
         |   CAST(count(*) AS BIGINT) AS n
         | FROM w JOIN p ON w.doc_id = p.doc_id
         | GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
      import graft.operators.TextAnalysis
      val corpus = mlDocs(s, dir)
        .unionAll(docs(s, dir).where(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(cjkOf(col("text")), lit("\u306e")).as("text"),
            lit("ja").as("lang")))
      corpus
        .join(TextAnalysis.langIdMl(corpus), Seq("doc_id"))
        .join(TextAnalysis.langId(corpus)
          .select(col("doc_id"), col("pred_lang").as("pred_word")),
          Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"), col("pred_word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"), col("pred_word"))
    },

    // ---- index health (compaction scheduling signal) -------------------

    // WHEN to compact, as data: one metadata-scale row per partitioned
    // index family — partition/delta counts, per-side row counts, and
    // the compact_due trigger (delta partitions ≥ threshold). The
    // fixture grows three families to different depths (LM 2 deltas →
    // due; drift 1 → not due; dhash 1 → not due); the oracle recomputes
    // every deterministic number from the same raw slices (distinct
    // unigrams, distinct feature bins, item counts). The environmental
    // columns (bytes, smallest-file ratio) stay in the Scala API —
    // byte sizes aren't engine-portable.
    QueryDef("idx_health")({
      def words(cond: String) =
        s"""(SELECT CAST(count(DISTINCT w) AS BIGINT) FROM (
           |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
           |  FROM documents WHERE $cond))""".stripMargin
      def bins(cond: String) =
        s"""(SELECT CAST(count(DISTINCT FLOOR(length(text)/256)) +
           |             count(DISTINCT lang) AS BIGINT)
           |  FROM documents WHERE $cond)""".stripMargin
      s"""SELECT * FROM (
         | SELECT 'dhash' AS family, CAST(2 AS BIGINT) AS n_partitions,
         |   CAST(1 AS BIGINT) AS n_delta_partitions,
         |   CAST(16 AS BIGINT) AS n_rows_seed, CAST(8 AS BIGINT) AS n_rows_delta,
         |   CAST(0 AS INT) AS compact_due
         | UNION ALL SELECT 'drift', 2, 1,
         |   ${bins(s"$bktSql >= 20")}, ${bins(s"$bktSql < 20")}, 0
         | UNION ALL SELECT 'lm_unigrams', 3, 2,
         |   ${words(s"$bktSql >= 40")},
         |   ${words(s"$bktSql >= 20 AND $bktSql < 30")} +
         |     ${words(s"$bktSql >= 30 AND $bktSql < 40")}, 1
         |) ORDER BY family""".stripMargin
    }) { (s, dir) =>
      import graft.operators.{Curation, Multimodal, Purge}
      val d = docs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-health")
      val tB = System.nanoTime()
      LangModel.buildLmIndex(idText(d.where(bkt >= 40)), s"$tmp/lm")
      LangModel.appendToLmIndex(idText(d.where(bkt >= 20 && bkt < 30)),
        s"$tmp/lm", 0L)
      LangModel.appendToLmIndex(idText(d.where(bkt >= 30 && bkt < 40)),
        s"$tmp/lm", 1L)
      val features = Seq(
        "chars" -> floor(length(col("text")) / lit(256)),
        "lang" -> col("lang"))
      Curation.buildDriftIndex(d.where(bkt >= 20), features, s"$tmp/drift")
      Curation.appendToDriftIndex(d.where(bkt < 20), features,
        s"$tmp/drift", 0L)
      def items(lo: Int, hi: Int) = Multimodal.syntheticImageVariants(
        s.range(lo, hi).select(col("id").as("doc_id"), col("id").as("key"),
          lit(0).as("delta"), lit(0).as("spot")))
      Multimodal.buildDHashIndex(items(0, 16), s"$tmp/dh")
      Multimodal.appendToDHashIndex(items(16, 24), s"$tmp/dh", 0L)
      NorthStarQueries.fixtureSecs.put("idx-health-build",
        (System.nanoTime() - tB) / 1e9)
      val det = Seq("family", "n_partitions", "n_delta_partitions",
        "n_rows_seed", "n_rows_delta", "compact_due").map(col)
      val out = Purge
        .indexHealth(s, "lm_unigrams", s"$tmp/lm/unigrams", "ingest=", 2)
        .unionAll(Purge.indexHealth(s, "drift", s"$tmp/drift", "ingest=", 2))
        .unionAll(Purge.indexHealth(s, "dhash", s"$tmp/dh/hashes",
          "ingest_batch=", 2))
        .select(det: _*).orderBy("family").localCheckpoint(true)
      deleteRecursively(tmp)
      out
    },

    // ---- typed PII detection / redaction -------------------------------

    // Per-document typed finding counts over the planted corpus.
    QueryDef("txt_pii")(
      s"""${Pii.detectSql(s"(SELECT doc_id, text FROM $piiPlantSql p)")}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Pii.detect(piiPlant(s, dir)).orderBy("doc_id")
    },

    // Typed redaction: every planted span replaced by its category token
    // — the full redacted text is hash-compared, so a half-eaten span or
    // an engine disagreeing on match extents fails the row.
    QueryDef("txt_pii_redact")(
      s"""${Pii.redactSql(s"(SELECT doc_id, text FROM $piiPlantSql p)")}
         | ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Pii.redact(piiPlant(s, dir)).orderBy("doc_id")
    },

    // Corpus-level PII prevalence by source — the release-gate report.
    QueryDef("txt_pii_stats")(
      s"""${Pii.statsSql(piiPlantSql, "source")}
         | ORDER BY source""".stripMargin
    ) { (s, dir) =>
      Pii.stats(piiPlant(s, dir), "source").orderBy("source")
    },

    // The PII report's STREAMING twin (Streams.piiMonitor): per
    // micro-batch prevalence, batchId-keyed overwrite — a pure observer
    // beside the drift monitor, so replay exactness is the keyed write
    // alone. The oracle replays each batch's report from its raw slice.
    QueryDef("txt_pii_stream")({
      def slice(lo: Int, hi: Int) =
        s"(SELECT doc_id, text, source FROM $piiPlantSql p WHERE $bktSql >= $lo AND $bktSql < $hi)"
      s"""SELECT CAST(0 AS BIGINT) AS micro_batch, *
         |   FROM (${Pii.statsSql(slice(0, 50), "source")})
         | UNION ALL SELECT CAST(1 AS BIGINT), *
         |   FROM (${Pii.statsSql(slice(50, 100), "source")})
         | ORDER BY micro_batch, source""".stripMargin
    }) { (s, dir) =>
      val planted = piiPlant(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val stDir = java.nio.file.Files.createTempDirectory("graft-pii-stream-q")
      val inDir = java.nio.file.Files.createTempDirectory("graft-pii-stream-in")
      stageAsFile(planted.where(bkt >= 0 && bkt < 50), inDir, "b0.parquet")
      stageAsFile(planted.where(bkt >= 50 && bkt < 100), inDir, "b1.parquet")
      val q = graft.streaming.Streams.piiMonitor(
        graft.streaming.Streams.documentsStream(s, inDir.toString,
          maxFilesPerTrigger = 1),
        s"$stDir/stats", s"$stDir/ckpt")
      q.awaitTermination()
      val out = s.read.parquet(s"$stDir/stats")
        .select((Seq(col("micro_batch").cast("long").as("micro_batch"),
          col("source"), col("n_docs"), col("n_docs_pii")) ++
          Pii.patterns.map { case (cat, _) => col(s"n_$cat") } :+
          col("pii_rate")): _*)
        .orderBy(col("micro_batch"), col("source")).localCheckpoint(true)
      deleteRecursively(stDir)
      deleteRecursively(inDir)
      out
    })
}
