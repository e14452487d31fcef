package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-based bigram language model with Stupid Backoff smoothing (Brants
  * et al., "Large Language Models in Machine Translation", EMNLP 2007) —
  * the CCNet/FineWeb quality rung the LR gate ([[TextAnalysis.lrQuality]])
  * doesn't cover: score every document by its cross-entropy under a
  * reference-corpus n-gram LM and gate on the score. CCNet filters by
  * KenLM perplexity; this is the same operation with the model itself
  * trained, persisted, grown, purged and compacted inside the engine.
  *
  * Everything is integer-count arithmetic until the final per-token
  * `log10`, so the DuckDB oracle replays training AND scoring exactly
  * (per-doc sums of ~100 doubles differ across engines only in the last
  * ulps — far below the contract's `round(x, 6)`).
  *
  * Scale posture (100 TB): the model is VOCABULARY-scale, not
  * corpus-scale — training is one map-side-combined count aggregate per
  * n-gram order; scoring joins the document token stream against the
  * model tables on word keys (AQE broadcasts them when they fit, shuffles
  * otherwise — never a driver collect). Counts are additive, so the
  * persisted model gets the engine's standard index lifecycle for free:
  * grow = per-batch delta partitions, purge = negated deltas, compact =
  * one fold — the [[Curation]] drift-histogram discipline applied to an
  * n-gram table.
  */
object LangModel {

  /** Stupid Backoff discount (the published constant). */
  val alpha: Double = 0.4

  /** Per-document token bound the ORACLE SQL assumes ([[tokenStreamSql]]
    * joins `range(1, bound+1)`) — an oracle artifact, not an engine
    * limit. The SQL itself fail-louds past it (DuckDB `error()`), so a
    * fixture doc exceeding the bound breaks the row instead of silently
    * truncating the oracle side into a hash mismatch hunt. */
  val oracleTokenBound: Int = 1000

  /** Tokenization shared by train and score: lowercase alpha runs. One
    * regex both engines parse identically (Java util.regex and RE2 agree
    * on `[a-z]+`). */
  private def toks(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** (doc_id, pos, w, w1) token stream: 1-based position, `w1` = previous
    * token (null at pos 1). Built by zipping the token array against its
    * own shift — one projection, no self-join, no window shuffle. */
  private def tokenStream(docs: DataFrame): DataFrame = {
    val ts = toks(col("text"))
    docs
      .select(col("doc_id"), ts.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("doc_id"), posexplode(
        zip_with(
          col("ts"),
          concat(array(lit(null).cast("string")),
            slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0)))),
          (w, p) => struct(w.as("w"), p.as("w1")))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col.w").as("w"), col("col.w1").as("w1"))
  }

  /** Unigram counts of a corpus: (w, c). Map-side combined. */
  def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Bigram counts of a corpus: (w1, w2, c). Derived from the per-doc
    * token array (adjacent pairs), never a token-table self-join. */
  def bigramCounts(docs: DataFrame): DataFrame =
    tokenStream(docs).where(col("w1").isNotNull)
      .select(col("w1"), col("w").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** (doc_id, pos, w, w1, w2b) token stream with TWO context tokens:
    * `w1` = previous, `w2b` = two back (null while the position lacks
    * that much history). Same one-projection zip construction as
    * [[tokenStream]] — no self-join, no window shuffle.
    *
    * Context arrays are built EXACT-LENGTH — `slice(concat(nulls, ts),
    * 1, size(ts))` — never `concat(nulls, slice(ts, …))`: zip_with pads
    * the shorter array with nulls, so a 2-null prefix over a 1-token doc
    * would make the w2b array LONGER than the token array and emit a
    * phantom (w = null) row the oracle's exactly-len(ts) stream lacks
    * (r17 ADVICE, verified: a 1-token doc scored n_tokens = 2). */
  private def tokenStream3(docs: DataFrame): DataFrame = {
    val ts = toks(col("text"))
    val nul = lit(null).cast("string")
    docs
      .select(col("doc_id"), ts.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("doc_id"), posexplode(
        zip_with(
          zip_with(
            col("ts"),
            slice(concat(array(nul), col("ts")), lit(1), size(col("ts"))),
            (w, p) => struct(w.as("w"), p.as("w1"))),
          slice(concat(array(nul, nul), col("ts")), lit(1), size(col("ts"))),
          (z, p2) => struct(z.getField("w").as("w"), z.getField("w1").as("w1"),
            p2.as("w2b")))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col.w").as("w"), col("col.w1").as("w1"), col("col.w2b").as("w2b"))
  }

  /** Trigram counts of a corpus: (w1, w2, w3, c) with w1 the OLDEST
    * token — derived from the per-doc token array like [[bigramCounts]]. */
  def trigramCounts(docs: DataFrame): DataFrame =
    tokenStream3(docs).where(col("w2b").isNotNull)
      .select(col("w2b").as("w1"), col("w1").as("w2"), col("w").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c"))

  /** Per-document cross-entropy under the ORDER-3 Stupid Backoff model
    * given as count tables. Per token t_i with context (t_{i-2}, t_{i-1}):
    *   - pos 1: add-one unigram `(c+1)/(N+V)`;
    *   - pos 2: seen bigram conditional, else `α ·` unigram;
    *   - pos ≥ 3: seen trigram `c(t_{i-2} t_{i-1} t_i)/c(t_{i-2} t_{i-1})`,
    *     else `α ·` bigram conditional, else `α² ·` unigram —
    * the published Stupid Backoff recursion (Brants et al. 2007, S(w|ctx)).
    * `n_backoff` counts context-bearing tokens that did NOT score at
    * their full available order (pos 2 without its bigram, pos ≥ 3
    * without its trigram). The invariant `c(w1,w2,w3) > 0 ⇒ c(w1,w2) > 0`
    * holds because every delta is corpus-shaped (the trigram's occurrence
    * IS an occurrence of its leading bigram), so the seen-trigram
    * denominator can never be null/zero. */
  def scoreWith3(batch: DataFrame, uni: DataFrame, bi: DataFrame,
      tri: DataFrame): DataFrame = {
    val tot = uni.agg(sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val st = tokenStream3(batch)
      .join(tri.select(col("w1").as("w2b"), col("w2").as("w1"),
          col("w3").as("w"), col("c").as("c_tri")),
        Seq("w2b", "w1", "w"), "left")
      .join(bi.select(col("w1").as("w2b"), col("w2").as("w1"),
          col("c").as("c_bi12")),
        Seq("w2b", "w1"), "left")
      .join(bi.select(col("w1"), col("w2").as("w"), col("c").as("c_bi")),
        Seq("w1", "w"), "left")
      .join(uni.select(col("w").as("w1"), col("c").as("c_w1")), Seq("w1"), "left")
      .join(uni.select(col("w"), col("c").as("c_w")), Seq("w"), "left")
      .crossJoin(broadcast(tot))
    val uniP = (coalesce(col("c_w"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("v"))
    val biP = col("c_bi").cast("double") / col("c_w1").cast("double")
    val lp = when(col("w1").isNull, log10(uniP))
      .when(col("w2b").isNull && col("c_bi").isNotNull, log10(biP))
      .when(col("w2b").isNull, log10(lit(alpha) * uniP))
      .when(col("c_tri").isNotNull,
        log10(col("c_tri").cast("double") / col("c_bi12").cast("double")))
      .when(col("c_bi").isNotNull, log10(lit(alpha) * biP))
      .otherwise(log10(lit(alpha * alpha) * uniP))
    st.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("c_w").isNull, 1L).otherwise(0L)).as("n_oov"),
      sum(when(col("w1").isNotNull &&
          ((col("w2b").isNull && col("c_bi").isNull) ||
            (col("w2b").isNotNull && col("c_tri").isNull)), 1L)
        .otherwise(0L)).as("n_backoff"),
      round(-sum(lp) / count(lit(1)), 6).as("xent"))
  }

  /** In-memory order-3 form: train on `train`, score `batch`. */
  def ppl3(train: DataFrame, batch: DataFrame): DataFrame =
    scoreWith3(batch, unigramCounts(train), bigramCounts(train),
      trigramCounts(train))

  // ---- order-N generic kernel (r18) ----------------------------------
  // CCNet's production KenLM is an ORDER-5 model on the same Stupid
  // Backoff recursion the order-2/3 forms implement by hand above. The
  // generic kernel expresses any order n ≤ 5 (plain or lang-keyed) as
  // one token-stream projection + n vocabulary-scale joins + the totals,
  // one lag window and one aggregate — the hand-written order-2/3 paths
  // stay untouched (their rows pin them), and the persisted lifecycle is
  // already order- and shape-generic through tableSpecs.

  /** Highest supported n-gram order (table name space + oracle CASE). */
  val maxOrder: Int = 5

  /** α^k by REPEATED MULTIPLICATION — the same association the
    * hand-written forms use (`alpha * alpha`); `math.pow` may differ in
    * the last ulp, and the oracle interpolates this exact double. */
  private def alphaPow(k: Int): Double =
    Iterator.fill(k)(alpha).foldLeft(1.0)(_ * _)

  /** Generic exact-length token stream over an already-tokenized
    * (key…, ts) frame: (key…, pos, w, ctx1..ctx(n−1)) with ctxK = the
    * token K positions back (null while the position lacks that much
    * history). Every context array is `slice(concat(nulls, ts), 1,
    * size(ts))` — exact length, never a padded prefix (the r17-ADVICE
    * phantom-row trap). Callers tokenize once (the r19
    * shared-tokenization seam: an order-5 chain needs the token arrays
    * six times, and re-running the regex tokenizer per consumer
    * dominated the measured wall). */
  private[operators] def tokenStreamNFromTs(toked: DataFrame, n: Int,
      keyCols: Seq[String]): DataFrame = {
    require(n >= 1 && n <= maxOrder, s"order $n outside [1, $maxOrder]")
    val nul = lit(null).cast("string")
    var zipped: Column = transform(col("ts"), w => struct(w.as("w")))
    for (k <- 1 until n) {
      val prev = "w" +: (1 until k).map(i => s"ctx$i")
      val ctxK = slice(concat(array(Seq.fill(k)(nul): _*), col("ts")),
        lit(1), size(col("ts")))
      zipped = zip_with(zipped, ctxK, (z, p) =>
        struct((prev.map(f => z.getField(f).as(f)) :+ p.as(s"ctx$k")): _*))
    }
    val fields = "w" +: (1 until n).map(k => s"ctx$k")
    toked
      .where(size(col("ts")) > 0)
      .select((keyCols.map(col) :+ posexplode(zipped)): _*)
      .select((keyCols.map(col) :+ (col("pos") + 1).as("pos")) ++
        fields.map(f => col(s"col.$f").as(f)): _*)
  }

  /** Generic k-gram counts (key…, w1..wk, c) with w1 the OLDEST token —
    * k = 1 yields (key…, w, c), matching the persisted unigram table. */
  private[operators] def gramCountsFrom(docs: DataFrame,
      toksOf: Column => Column, k: Int, keyCols: Seq[String]): DataFrame =
    gramCountsFromTs(
      docs.select((keyCols.map(col) :+ toksOf(col("text")).as("ts")): _*),
      k, keyCols)

  /** [[gramCountsFrom]] over an already-tokenized (key…, ts) frame —
    * see [[tokenStreamNFromTs]]. Extra columns in `toked` (a doc id the
    * counts don't key by) pass through the stream and drop at the
    * aggregate, so one pinned frame serves every consumer. */
  private[operators] def gramCountsFromTs(toked: DataFrame, k: Int,
      keyCols: Seq[String]): DataFrame = {
    if (k == 1)
      toked.select((keyCols.map(col) :+ explode(col("ts")).as("w")): _*)
        .groupBy((keyCols :+ "w").map(col): _*).agg(count(lit(1)).as("c"))
    else {
      val st = tokenStreamNFromTs(toked, k, keyCols)
        .where(col(s"ctx${k - 1}").isNotNull)
      val renames = (1 until k).map(i => col(s"ctx${k - i}").as(s"w$i")) :+
        col("w").as(s"w$k")
      st.select((keyCols.map(col) ++ renames): _*)
        .groupBy((keyCols ++ (1 to k).map(i => s"w$i")).map(col): _*)
        .agg(count(lit(1)).as("c"))
    }
  }

  /** The generic order-n Stupid Backoff scorer over a prepared token
    * stream ([[tokenStreamNFromTs]] with the same n) and the n count
    * tables (`tables(k-1)` = the (k)-gram table, lowest order first,
    * each keyed by `key` ++ its word columns). Per token with m
    * available context tokens: the highest order o ≤ m+1 whose o-gram
    * is attested scores `α^(m+1−o) · c(gram)/c(context)`; nothing
    * attested scores `α^m ·` the add-one unigram — exactly the
    * published recursion the order-2/3 forms implement, generalized.
    * `n_backoff` counts context-bearing tokens that did not score at
    * their full available order.
    *
    * Context counts come from `lag`, not joins: the context of the
    * o-gram at position p is the (o−1)-gram at p−1 of the same
    * sequence, so `c_x{o} = lag(c_g{o−1})` and `c_x2 = lag(c_w)`. One
    * table join per order plus the totals (order 5: 5 + 1); the window
    * partitions by the output grouping key, so its exchange is the one
    * the final aggregate reuses.
    *
    * The grouping key is every stream column other than `pos`, `w` and
    * the `ctx` columns — (doc_id) plain, (doc_id, lang) per-language,
    * plus any pass-through tag such as [[Curation.release5]]'s `side`.
    * PRECONDITION: each grouping-key value names ONE token sequence
    * (one row per `pos`); two documents sharing a key would interleave
    * in the window and read each other's counts. */
  private[operators] def scoreStreamN(st0: DataFrame, tables: Seq[DataFrame],
      key: Seq[String], n: Int): DataFrame = {
    // n = 1 would leave the lp when-chain unbuilt (NullPointerException on
    // `.otherwise`) and reference an unresolvable ctx1 — fail with the
    // contract instead (mirrors pplNSqlGeneric's [2, maxOrder] bound)
    require(n >= 2 && n <= maxOrder, s"order $n outside [2, $maxOrder]")
    require(tables.size == n, s"need $n tables, got ${tables.size}")
    val streamCols = Set("pos", "w") ++ (1 until n).map(k => s"ctx$k")
    val grp = st0.columns.toSeq.filterNot(streamCols)
    val uni = tables.head
    // per-key totals: broadcast join when keyed, 1-row cross join when not
    val totAgg = Seq(sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    var st = st0
      .join(uni.select((key.map(col) :+ col("w") :+ col("c").as("c_w")): _*),
        key :+ "w", "left")
    // for each order o ≥ 2: the o-gram lookup (c_g{o})
    for (o <- 2 to n) {
      val gram = tables(o - 1).select((key.map(col) ++
        (1 until o).map(i => col(s"w$i").as(s"ctx${o - i}")) :+
        col(s"w$o").as("w") :+ col("c").as(s"c_g$o")): _*)
      st = st.join(gram, key ++ (1 until o).map(i => s"ctx$i") :+ "w", "left")
    }
    // context denominators: the previous position's lookup one order down
    val bySeq = org.apache.spark.sql.expressions.Window
      .partitionBy(grp.map(col): _*).orderBy(col("pos"))
    st = st.select((col("*") +: (2 to n).map { o =>
      lag(col(if (o == 2) "c_w" else s"c_g${o - 1}"), 1).over(bySeq)
        .as(s"c_x$o")
    }): _*)
    // the totals join AFTER the window: a broadcast keeps the window's
    // partitioning, and (n, v) stay off the window exchange
    st =
      if (key.isEmpty)
        st.crossJoin(broadcast(uni.agg(totAgg.head, totAgg.tail: _*)))
      else
        st.join(broadcast(
          uni.groupBy(key.map(col): _*).agg(totAgg.head, totAgg.tail: _*)),
          key, "left")
    val uniP = (coalesce(col("c_w"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("v"))
    // branch on available context m (ctx{m+1} null ⇒ exactly m, i.e.
    // pos ≤ m+1 — the stream's exact-length context arrays), then inside
    // each branch try orders m+1 down to 2, else backed-off uni. Branching
    // on pos lets the token and context columns drop before the window
    // exchange.
    def chainFor(m: Int): Column = {
      val base = log10(lit(alphaPow(m)) * uniP)
      // descending order chain (when-chains evaluate in order, so the
      // highest attested order wins)
      var e: Column = null
      for (o <- (m + 1) to 2 by -1) {
        val f = alphaPow(m + 1 - o)
        val ratio = col(s"c_g$o").cast("double") / col(s"c_x$o").cast("double")
        val v = if (f == 1.0) log10(ratio) else log10(lit(f) * ratio)
        e = if (e == null) when(col(s"c_g$o").isNotNull, v)
            else e.when(col(s"c_g$o").isNotNull, v)
      }
      if (e == null) base else e.otherwise(base)
    }
    def ctxAtMost(m: Int): Column = col("pos") <= m + 1
    var lp: Column = null
    for (m <- 0 until (n - 1)) {
      lp = if (lp == null) when(ctxAtMost(m), chainFor(m))
           else lp.when(ctxAtMost(m), chainFor(m))
    }
    val lpFull = lp.otherwise(chainFor(n - 1))
    // highest-available-order gram absent ⇒ backoff (m ≥ 1 only)
    var bko: Column = when(ctxAtMost(0), 0L)
    for (m <- 1 until (n - 1))
      bko = bko.when(ctxAtMost(m),
        when(col(s"c_g${m + 1}").isNull, 1L).otherwise(0L))
    val bkoFull = bko.otherwise(
      when(col(s"c_g$n").isNull, 1L).otherwise(0L))
    st.groupBy(grp.map(col): _*).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("c_w").isNull, 1L).otherwise(0L)).as("n_oov"),
      sum(bkoFull).as("n_backoff"),
      round(-sum(lpFull) / count(lit(1)), 6).as("xent"))
  }

  /** Plain in-memory order-n form (n ≤ [[maxOrder]]): train the n count
    * tables on `train`, score `batch` through the generic recursion. */
  def pplN(train: DataFrame, batch: DataFrame, n: Int): DataFrame =
    scoreDocsN(batch, (1 to n).map(k => gramCountsFrom(train, toks, k, Nil)),
      n, ml = false)

  /** Score (doc_id, text) docs — (doc_id, text, lang) when `ml` — at
    * order n against given count tables, lowest order first. */
  private def scoreDocsN(batch: DataFrame, tables: Seq[DataFrame], n: Int,
      ml: Boolean): DataFrame =
    if (ml) LangModelMl.scoreStreamNMl(batch, tables, n)
    else scoreStreamN(tokenStreamNFromTs(batch.select(col("doc_id"),
      toks(col("text")).as("ts")), n, Seq("doc_id")), tables, Nil, n)

  /** Per-document cross-entropy under the Stupid Backoff bigram model
    * given explicitly as count tables — the pure scoring kernel shared by
    * the in-memory and persisted-index forms.
    *
    * Per token t_i: the first token and any token whose preceding bigram
    * is unseen score the add-one unigram `(c(t_i)+1)/(N+V)` (times
    * [[alpha]] in the backoff case); a seen bigram scores the conditional
    * `c(t_{i-1} t_i)/c(t_{i-1})`. Output per doc: token count, OOV count,
    * backoff count, `xent = round(-avg log10 p, 6)` (lower = more like
    * the reference corpus). */
  def scoreWith(batch: DataFrame, uni: DataFrame, bi: DataFrame): DataFrame = {
    // 1-row totals ride a broadcast cross join (scalar metadata, the
    // engine's standard pattern for corpus-level constants).
    val tot = uni.agg(sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val st = tokenStream(batch)
      .join(bi.select(col("w1"), col("w2").as("w"), col("c").as("c_bi")),
        Seq("w1", "w"), "left")
      .join(uni.select(col("w").as("w1"), col("c").as("c_w1")), Seq("w1"), "left")
      .join(uni.select(col("w"), col("c").as("c_w")), Seq("w"), "left")
      .crossJoin(broadcast(tot))
    val uniP = (coalesce(col("c_w"), lit(0L)).cast("double") + 1.0) /
      (col("n") + col("v"))
    val lp = when(col("w1").isNull, log10(uniP))
      .when(col("c_bi").isNotNull,
        log10(col("c_bi").cast("double") / col("c_w1").cast("double")))
      .otherwise(log10(lit(alpha) * uniP))
    st.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("c_w").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("w1").isNotNull && col("c_bi").isNull, 1L).otherwise(0L))
          .as("n_backoff"),
        round(-sum(lp) / count(lit(1)), 6).as("xent"))
  }

  /** In-memory form: train on `train`, score `batch` — two aggregates and
    * the scoring join chain in one plan. */
  def ppl(train: DataFrame, batch: DataFrame): DataFrame =
    scoreWith(batch, unigramCounts(train), bigramCounts(train))

  /** Gate form: keep documents whose cross-entropy under the reference
    * model is at most `maxXent`, reporting the per-language funnel
    * (n_in → n_kept) — the CCNet head/middle/tail-style cut as one
    * composable verb. The gate compares the ROUNDED score so both
    * engines cut on the same number. */
  def gate(train: DataFrame, batch: DataFrame, maxXent: Double): DataFrame = {
    val scored = ppl(train, batch.select(col("doc_id"), col("text")))
    batch.join(scored.select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_in"),
        sum(when(col("xent").isNotNull && col("xent") <= maxXent, 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis,
    * "Intelligent Selection of Language Model Training Data", ACL 2010):
    * score every candidate under an IN-domain model and an OUT-domain
    * model, keep documents whose difference `xent_in − xent_out` clears
    * the cut — the standard trick for mining a huge general corpus for
    * in-domain-like training data. Both scores come from [[scoreWith]],
    * so the whole thing is two vocabulary-scale model joins over one
    * batch scan; the difference is computed from the ROUNDED per-model
    * scores, so both engines select on identical numbers. */
  def mooreLewis(inTrain: DataFrame, outTrain: DataFrame, batch: DataFrame,
      cut: Double): DataFrame = {
    val inScore = ppl(inTrain, batch)
      .select(col("doc_id"), col("xent").as("xent_in"))
    val outScore = ppl(outTrain, batch)
      .select(col("doc_id"), col("xent").as("xent_out"))
    inScore.join(outScore, Seq("doc_id"))
      .select(col("doc_id"), col("xent_in"), col("xent_out"),
        round(col("xent_in") - col("xent_out"), 6).as("delta"))
      .withColumn("selected",
        (col("delta") <= cut).cast("int"))
  }

  /** Oracle for [[mooreLewis]]: two ppl chains joined on doc_id.
    * `inTrainSql` / `outTrainSql` / `batchSql` are parenthesized
    * (doc_id, text) SELECTs. Callers append ORDER BY. */
  def mooreLewisSql(inTrainSql: String, outTrainSql: String,
      batchSql: String, cut: Double): String =
    s"""WITH insc AS (
       |  ${pplSql(inTrainSql, batchSql)}
       | ),
       | outsc AS (
       |  ${pplSql(outTrainSql, batchSql)}
       | )
       | SELECT i.doc_id, i.xent AS xent_in, o.xent AS xent_out,
       |        round(i.xent - o.xent, 6) AS delta,
       |        CAST(round(i.xent - o.xent, 6) <= $cut AS INT) AS selected
       | FROM insc i JOIN outsc o ON i.doc_id = o.doc_id""".stripMargin

  // ---- persisted model lifecycle (the drift-index discipline) ------------

  /** Persisted layout version. 1 = alpha-run tokens, per-order count
    * tables under `unigrams/ingest=<id>` + `bigrams/ingest=<id>`
    * (+ `trigrams/ingest=<id>` when the marker declares `order=3`). */
  private val lmFormatVersion = 1
  val formatMarkerName = "_GRAFT_LM_FORMAT"

  /** Persisted-model shape: n-gram order plus whether the layout is the
    * PER-LANGUAGE form (tables keyed by `lang`, tokenized by
    * [[LangModelMl.mlTokenClass]] — a DIFFERENT tokenizer, so the marker
    * must keep the two layouts from ever cross-reading: scoring a plain
    * model through the ML reader would silently mark everything OOV,
    * the exact looks-like-drift trap the marker exists to prevent). */
  private case class Shape(order: Int, ml: Boolean)

  /** The count tables of a model shape with their key columns, lowest
    * order first (ML tables carry the leading `lang` key). Order ≤
    * [[maxOrder]] (r18: fourgrams/fivegrams — CCNet's KenLM order). */
  private val gramTableNames =
    Seq("unigrams", "bigrams", "trigrams", "fourgrams", "fivegrams")

  private def tableSpecs(shape: Shape): Seq[(String, Seq[String])] = {
    require(shape.order >= 1 && shape.order <= maxOrder,
      s"model order ${shape.order} outside [1, $maxOrder]")
    val base = (1 to shape.order).map { k =>
      gramTableNames(k - 1) ->
        (if (k == 1) Seq("w") else (1 to k).map(i => s"w$i"))
    }
    if (shape.ml) base.map { case (sub, keys) => (sub, "lang" +: keys) }
    else base
  }

  private def writeFormatMarker(spark: SparkSession, dir: String,
      shape: Shape): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, formatMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val tok = if (shape.ml) "tok=ml\n" else ""
    try out.write(
      s"$lmFormatVersion\norder=${shape.order}\n$tok".getBytes("UTF-8"))
    finally out.close()
  }

  /** Fail-loud layout gate on every read path — a model written under a
    * different tokenizer or table scheme must error, not silently score
    * everything as OOV (the failure mode that looks like drift in the
    * xent distribution instead of looking like a bug). Returns the
    * model's shape. */
  private def requireFormat(spark: SparkSession, dir: String): Shape = {
    val p = new org.apache.hadoop.fs.Path(dir, formatMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"LM model at $dir has no $formatMarkerName marker — not an engine " +
        "LM layout (or its build never completed); rebuild with buildLmIndex")
    val lines = readSmallFile(fs, p).map(_.trim)
    require(lines.headOption.contains(lmFormatVersion.toString),
      s"LM model at $dir is layout v${lines.headOption.getOrElse("?")}; " +
        s"this engine reads v$lmFormatVersion — rebuild it with buildLmIndex")
    Shape(
      lines.collectFirst { case l if l.startsWith("order=") =>
        l.stripPrefix("order=").toInt
      }.getOrElse(2),
      lines.contains("tok=ml"))
  }

  private def requireShape(spark: SparkSession, dir: String,
      want: Shape): Unit = {
    val got = requireFormat(spark, dir)
    require(got == want,
      s"LM model at $dir is order-${got.order}" +
        s"${if (got.ml) " per-language" else ""}; this entry point reads " +
        s"order-${want.order}${if (want.ml) " per-language" else ""} " +
        "models — use the matching build/score functions")
  }

  // ---- two-phase delta commit --------------------------------------------
  // A model mutation writes TWO tables (unigram + bigram deltas); a crash
  // between two bare writes would leave them inconsistent — c(w1) reduced
  // while c(w1,w2) isn't, so a seen-bigram conditional can exceed 1 and
  // xent silently skews (the "looks like drift instead of a bug" failure
  // the format marker exists to prevent). So every grow/purge stages both
  // deltas, commits via an atomic marker, and rolls forward; every read
  // path repairs first (the Purge.rewritePartitions discipline, local to
  // this layout because its partitions span two subdirectories).

  private val deltaMarkerName = "_GRAFT_LM_DELTA"
  private val deltaStageName = "_graft_lm_delta_stage"
  private val purgeLedgerName = "_GRAFT_LM_PURGES"
  private val pruneMarkerName = "_GRAFT_LM_PRUNE"

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
      .filter(_.nonEmpty)
    finally in.close()
  }

  /** Write-replace a small control file in ONE atomic step. The
    * delete-then-rename form had a crash window (r17 ADVICE) in which the
    * live file was gone and the tmp not yet renamed — for the applied-
    * purge ledger that would permanently lose every earlier purge id (the
    * marker replay re-appends only the in-flight one), re-opening the
    * exact double-subtract the ledger exists to prevent. FileContext's
    * rename(OVERWRITE) replaces the destination atomically (POSIX rename
    * semantics), so there is no window with neither file live. */
  private def writeSmallFileAtomic(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Applied-purge LEDGER: the set of purge ids whose deltas have
    * committed. The ledger — not the presence of the purge's own delta
    * partition — is what makes a RETRIED purge a no-op, because
    * [[compactLmIndex]]/[[pruneLmIndex]] may legally fold that partition
    * into the seed between a crashed takedown orchestration and its
    * end-to-end re-run (the own-partition exclusion would then see
    * nothing and the retry would silently double-subtract). The ledger
    * entry is appended DURING marker roll-forward, before the marker
    * deletes, so every crash window replays through it. */
  private def appliedPurgeIds(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, purgeLedgerName)
    if (!fs.exists(p)) Set.empty
    else readSmallFile(fs, p).map(_.trim.toLong).toSet
  }

  private def rollForwardDelta(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, lines: Seq[String]): Unit = {
    val rels = lines.filterNot(_.startsWith("purge="))
    rels.foreach { rel =>
      val staged = new org.apache.hadoop.fs.Path(s"$dir/$deltaStageName/$rel")
      val live = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      // idempotent: staged absent ⇒ this table already swapped in
      if (fs.exists(staged)) {
        fs.delete(live, true)
        require(fs.rename(staged, live),
          s"LM delta roll-forward: rename $staged -> $live failed")
      }
    }
    // ledger append precedes marker delete: a crash between them re-runs
    // this (set-union append, idempotent); a crash before it re-runs the
    // renames as no-ops and still lands the ledger entry
    lines.collectFirst { case l if l.startsWith("purge=") =>
      l.stripPrefix("purge=").trim.toLong
    }.foreach { id =>
      val ids = appliedPurgeIds(fs, dir) + id
      writeSmallFileAtomic(fs, new org.apache.hadoop.fs.Path(dir, purgeLedgerName),
        ids.toSeq.sorted.map(_.toString))
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir, deltaMarkerName), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, deltaStageName), true)
    ()
  }

  /** Every-read-path repair: the delta commit's own marker PLUS any
    * crashed [[Purge.rewritePartitions]] fold on either table root
    * ([[compactLmIndex]]/[[pruneLmIndex]] commit through it — a compact
    * interrupted after its seed SWAP but before its delta DROPs would
    * otherwise double-count the un-dropped deltas on every score until
    * the next owner op), PLUS an in-flight prune marker: a crash between
    * [[pruneLmIndex]]'s bigram and unigram folds leaves a half-applied
    * cut (invariant-safe but mixed N/V semantics), so the marker makes
    * the next reader FINISH the prune instead of serving mixed tables
    * until someone happens to re-run it. All metadata-scale (fs stats)
    * on the healthy path. */
  private def repairAll(spark: SparkSession, dir: String): Unit = {
    repairDelta(spark, dir)
    val (fs, _) = fsOf(spark, dir)
    gramTableNames.foreach { sub =>
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub")))
        Purge.repairPartitionRewrite(spark, s"$dir/$sub")
    }
    val pm = new org.apache.hadoop.fs.Path(dir, pruneMarkerName)
    if (fs.exists(pm)) {
      val minCount = readSmallFile(fs, pm).head.trim.toLong
      pruneFolds(spark, dir, minCount)
      fs.delete(pm, false)
      ()
    }
  }

  /** Finish (marker present) or discard (marker absent) an interrupted
    * delta commit. Idempotent; a no-op on a healthy layout; runs at the
    * head of every read/mutate path. */
  private def repairDelta(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    if (!fs.exists(root)) return
    val marker = new org.apache.hadoop.fs.Path(dir, deltaMarkerName)
    if (fs.exists(marker)) {
      rollForwardDelta(fs, dir, readSmallFile(fs, marker))
    } else {
      fs.delete(new org.apache.hadoop.fs.Path(dir, deltaMarkerName + ".tmp"), false)
      fs.delete(new org.apache.hadoop.fs.Path(dir, deltaStageName), true)
      ()
    }
  }

  /** Size-scaled count-table write: range-partitioned on the word key so
    * a real web corpus's billion-row bigram table lands as many files
    * (AQE coalesces the range shuffle by SIZE — the closed fixture
    * vocabulary still writes one file, a 100× vocabulary writes many,
    * measured in LmProbe's vocab arm) and later model joins stay
    * term-prunable via parquet min/max stats — the Retrieval postings
    * discipline. */
  private def byWordRange(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartitionByRange(keys.map(col): _*)

  /** Stage every delta table, commit atomically, roll forward. BatchId-
    * keyed rels make replays converge (delete-live-then-rename rewrites
    * identical bytes). A purge delta carries its ledger line inside the
    * commit marker, so the applied-purge ledger updates atomically with
    * the commit itself. */
  private def writeDeltas(deltas: Seq[(String, Seq[String], DataFrame)],
      dir: String, ingestId: Long, purgeId: Option[Long] = None): Unit = {
    val spark = deltas.head._3.sparkSession
    val (fs, _) = fsOf(spark, dir)
    repairDelta(spark, dir)
    val rels = deltas.map { case (sub, _, _) => s"$sub/ingest=$ingestId" }
    // Stage writes are pre-commit (the marker rename below is the commit
    // point), so their order is free: first alone (materializes the
    // order-≥4 shared tokenized frame once), the rest overlapped
    // (guide §2.6).
    val stages = deltas.zip(rels).map { case ((_, keys, df), rel) => () =>
      byWordRange(df, keys).write.mode("overwrite")
        .parquet(s"$dir/$deltaStageName/$rel")
    }
    stages.head()
    Par.runUnit(stages.tail, maxThreads = 3)
    // atomic marker = THE commit point (tmp + rename)
    val lines = rels ++ purgeId.map(id => s"purge=$id").toSeq
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/$deltaMarkerName.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, deltaMarkerName)),
      s"LM delta commit-marker rename failed at $dir")
    rollForwardDelta(fs, dir, lines)
  }

  /** The count tables of `docs` for a model shape, aligned with
    * [[tableSpecs]] (the ML forms' per-language counts come from
    * [[LangModelMl]]; tableSpecs already adds the leading `lang` key to
    * every order's table — the lifecycle is order- AND shape-generic,
    * r18 adds the lang-keyed trigram cell of the cross product). */
  private def countTables(docs: DataFrame, shape: Shape): Seq[DataFrame] =
    if (shape.order <= 3)
      (1 to shape.order).map { k =>
        (shape.ml, k) match {
          // orders 1–3 keep their hand-written derivations (their rows
          // pin the plans) — identical column names and counts either way
          case (false, 1) => unigramCounts(docs)
          case (false, 2) => bigramCounts(docs)
          case (false, 3) => trigramCounts(docs)
          case (true, 1) => LangModelMl.unigramCountsMl(docs)
          case (true, 2) => LangModelMl.bigramCountsMl(docs)
          case (true, _) => LangModelMl.trigramCountsMl(docs)
        }
      }
    else {
      // order ≥ 4: ONE tokenization for every table (r19 — the
      // per-table derivation re-ran the regex tokenizer `order` times
      // over the corpus, the dominant measured cost of an order-5
      // build); the pinned frame is one row per doc (token arrays),
      // checkpoint blocks GC-reclaimed after the caller materializes
      val keyCols = if (shape.ml) Seq("lang") else Seq.empty[String]
      val toksOf: Column => Column =
        if (shape.ml) LangModelMl.toksMlOf else toks
      // LAZY checkpoint: the first table's materialization tokenizes and
      // caches; the remaining orders read blocks — no standalone
      // materialization pass before the writes
      // DISK_ONLY: the frame is corpus-scale (one token array per doc)
      // and its consumers are sequential table writes — blocks stay out
      // of the unified memory pool, re-reads ride the OS page cache
      val toked = docs
        .select((keyCols.map(col) :+ toksOf(col("text")).as("ts")): _*)
        .localCheckpoint(false,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      (1 to shape.order).map(k => gramCountsFromTs(toked, k, keyCols))
    }

  /** Train and persist the model: count tables land under seed partitions
    * (`ingest=-1`), marker written LAST so a crashed build is refused by
    * every probe rather than scoring against half a vocabulary. */
  def buildLmIndex(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(2, ml = false))

  /** Order-3 form of [[buildLmIndex]]: one extra vocabulary-scale count
    * table (`trigrams/`), same marker/lifecycle machinery. */
  def buildLm3Index(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(3, ml = false))

  /** PER-LANGUAGE form of [[buildLmIndex]] (the CCNet production
    * artifact: every language's model in one lang-keyed layout):
    * `standing` carries (doc_id, text, lang); tables are
    * (lang, w…, c) under the identical delta/ledger/prune machinery.
    * The marker records `tok=ml`, so plain and per-language layouts can
    * never cross-read (different tokenizers — the silent-OOV trap). */
  def buildLmMlIndex(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(2, ml = true))

  /** Lang-keyed ORDER-3 form of [[buildLmMlIndex]] (r18): three
    * lang-keyed count tables under the identical delta/ledger/prune
    * machinery, marker `order=3` + `tok=ml`. */
  def buildLmMl3Index(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(3, ml = true))

  /** ORDER-5 forms (r18 — CCNet's production KenLM order): five additive
    * count tables (to `fivegrams/`) riding the identical lifecycle. */
  def buildLm5Index(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(5, ml = false))

  /** Lang-keyed order-5 form of [[buildLm5Index]]. */
  def buildLmMl5Index(standing: DataFrame, dir: String): Unit =
    buildIndex(standing, dir, Shape(5, ml = true))

  private def buildIndex(standing: DataFrame, dir: String, shape: Shape): Unit = {
    val spark = standing.sparkSession
    // Independent per-table writes overlap (guide §2.6); the FIRST write
    // runs alone so the order-≥4 path's shared lazy-checkpointed
    // tokenized frame (countTables) materializes exactly once before
    // concurrent readers touch it. Crash safety is unchanged: the marker
    // below is the commit point and is written only after ALL tables
    // land, so write order among tables was never load-bearing.
    val writes = tableSpecs(shape).zip(countTables(standing, shape)).map {
      case ((sub, keys), df) => () =>
        byWordRange(df, keys).write.mode("overwrite")
          .parquet(s"$dir/$sub/ingest=-1")
    }
    // width 3 — the 10×-measured calibration for THIS site (r19 sweep:
    // txt_lm5_ml 22.3 s warm at width 3, 3 reps green at 8 g): table
    // WRITES stream their aggregate straight to parquet, so they carry
    // less concurrent execution-pool state than the release5 checkpoint
    // PINS (which landed at width 2 after widths 3/5 died
    // UNABLE_TO_ACQUIRE_MEMORY at 10×/8 g). The width includes the runs
    // where buildIndex is itself nested under a fixture-level Par
    // (model build ∥ stagings) — those are the runs the sweep measured.
    writes.head()
    Par.runUnit(writes.tail, maxThreads = 3)
    writeFormatMarker(spark, dir, shape)
  }

  /** GROW the model by an arriving batch — counts are additive, so growth
    * is one batch scan landing vocabulary-scale delta partitions; the
    * standing corpus is never rescanned, existing partitions never
    * rewritten. BatchId-keyed overwrite → a crash-replayed micro-batch
    * rewrites its own partition with identical data. Works for any
    * persisted shape (the marker declares it; an ML layout counts the
    * batch per-language, so the batch must carry `lang`). */
  def appendToLmIndex(batch: DataFrame, dir: String, ingestBatch: Long): Unit = {
    require(ingestBatch >= 0,
      s"ingest batch id $ingestBatch is negative — -1 is the seed partition")
    val shape = requireFormat(batch.sparkSession, dir)
    writeDeltas(
      tableSpecs(shape).zip(countTables(batch, shape)).map {
        case ((sub, keys), df) => (sub, keys, df)
      }, dir, ingestBatch)
  }

  /** TAKEDOWN: remove departing documents' contribution — one scan of the
    * purged rows, negated delta partitions (`ingest=-(2+purgeId)`,
    * the [[Curation.purgeFromDriftIndex]] id scheme). Validates BEFORE
    * committing that the subtraction can't drive any unigram OR bigram
    * count negative (the claimed rows were never counted in) — a failed
    * purge leaves the live layout byte-untouched; a passing one commits
    * both delta tables under the two-phase marker. */
  def purgeFromLmIndex(purgedRows: DataFrame, dir: String, purgeId: Long): Unit = {
    require(purgeId >= 0, s"purge id $purgeId is negative")
    val spark = purgedRows.sparkSession
    val shape = requireFormat(spark, dir)
    repairAll(spark, dir)
    // applied-purge ledger: a RETRIED purge (takedown orchestration
    // crashed after this family committed, re-run end to end) is a no-op
    // even if a compact/prune already folded its delta partition into the
    // seed — the ledger, committed atomically inside the delta marker, is
    // the record; the own-partition exclusion below is belt-and-braces
    // for the pre-ledger window within one commit.
    val (fsL, _) = fsOf(spark, dir)
    if (appliedPurgeIds(fsL, dir).contains(purgeId)) return
    // candidate deltas, eagerly pinned: the validation reads them and the
    // commit writes them — one computation for both
    val deltas = tableSpecs(shape).zip(countTables(purgedRows, shape)).map {
      case ((sub, keys), df) =>
        (sub, keys, df.select((keys.map(col) :+ (-col("c")).as("c")): _*)
          .localCheckpoint(true))
    }
    // Validate BEFORE committing anything (live ∪ candidate must stay
    // non-negative in EVERY table): unigram totals can balance while a
    // bigram goes negative (train "a b", purge "b a" — same unigram bag,
    // opposite orientation), and a silently-negative n-gram would be
    // dropped by readModel's c>0 filter while the never-purged one
    // survives — an inconsistent model instead of a loud error.
    // Failure leaves the live layout byte-untouched (no rollback window).
    // The live read EXCLUDES this purge id's own partition so a RETRIED
    // purge (an orchestration crashed after this family committed, then
    // re-ran end to end — Takedown's documented recovery) validates
    // against exactly the state its first attempt saw instead of
    // double-counting its own committed delta and throwing spuriously;
    // the ledger above makes the retry a no-op even when compact/prune
    // already folded that partition away.
    val own = -(2 + purgeId)
    val neg = deltas.view.map { case (sub, keys, delta) =>
      val hit = spark.read.parquet(s"$dir/$sub")
        .where(col("ingest") =!= own)
        .select((keys.map(col) :+ col("c")): _*)
        .unionAll(delta)
        .groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
        .where(col("c") < 0).limit(1).collect()
      (sub, hit)
    }.find(_._2.nonEmpty)
    neg.foreach { case (sub, hit) =>
      throw new IllegalArgumentException(
        s"purgeFromLmIndex: purging would drive $sub ${hit.head} negative " +
          s"— the claimed rows were never (all) counted into $dir; model " +
          "unchanged")
    }
    writeDeltas(deltas, dir, -(2 + purgeId), purgeId = Some(purgeId))
  }

  /** Fold accumulated ingest/purge delta partitions into re-summed seed
    * partitions — the append-side compaction verb. N-grams whose total
    * reached zero (fully departed) drop, matching [[readModel]]'s
    * read-time discipline, so probe results are identical before and
    * after. Two-phase commit per table via [[Purge.rewritePartitions]];
    * the format marker is untouched. */
  def compactLmIndex(spark: SparkSession, dir: String): Unit = {
    val shape = requireFormat(spark, dir)
    repairDelta(spark, dir)
    // The per-table folds commit independently (each is two-phase via
    // rewritePartitions): a crash between them leaves one table folded and
    // the other not — CONSISTENT, because folding preserves every n-gram's
    // total; the next compact simply finishes the other table(s).
    def fold(sub: String, keys: Seq[String]): Unit = {
      val root = s"$dir/$sub"
      Purge.repairPartitionRewrite(spark, root)
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(rp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("ingest=")).sorted
      if (parts.size <= 1) return
      val folded = byWordRange(
        spark.read.parquet(parts.map(p => s"$root/$p"): _*)
          .groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
          .where(col("c") > 0),
        keys)
      val repl: Seq[(String, Option[DataFrame])] =
        ("ingest=-1" -> Some(folded)) +:
          parts.filter(_ != "ingest=-1").map(p => p -> Option.empty[DataFrame])
      Purge.rewritePartitions(spark, root, repl)
    }
    tableSpecs(shape).foreach { case (sub, keys) => fold(sub, keys) }
  }

  /** PRUNE the model for serving (the KenLM-style min-count cut): fold
    * every delta partition and drop n-grams whose total is below
    * `minCount` — pruned unigrams score as OOV, pruned bigrams back off,
    * exactly as if they had never been seen. The scoring invariant
    * `c(w1,w2) > 0 ⇒ c(w1) > 0` survives the cut for free: counts are
    * corpus-shaped through every build/grow/purge (each delta is the
    * unigram and bigram bag of the SAME rows), so `c(w1,w2) ≤ c(w1)`
    * always and a bigram clearing the floor implies its left endpoint
    * does too. One fused fold+floor rewrite per table (seed SWAP +
    * delta DROPs in a single two-phase commit — never a separate
    * compact pass); bigrams commit FIRST so a crash between the two
    * table commits leaves pruned bigrams over unpruned unigrams, which
    * keeps every kept bigram's denominator alive (the reverse order
    * could null it). That half-applied window is additionally MARKED
    * (`_GRAFT_LM_PRUNE`, written before the first fold, cleared after
    * the second): [[repairAll]] finishes an interrupted prune on the
    * next read instead of serving mixed N/V semantics until someone
    * notices. Lossy by design — purges after a prune still validate
    * against the pruned counts, so only prune a model you won't need
    * to subtract pre-prune history from. */
  def pruneLmIndex(spark: SparkSession, dir: String, minCount: Long): Unit = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    requireFormat(spark, dir): Unit
    repairAll(spark, dir)
    val (fs, _) = fsOf(spark, dir)
    writeSmallFileAtomic(fs, new org.apache.hadoop.fs.Path(dir, pruneMarkerName),
      Seq(minCount.toString))
    pruneFolds(spark, dir, minCount)
    fs.delete(new org.apache.hadoop.fs.Path(dir, pruneMarkerName), false)
    ()
  }

  /** The per-table fold+floor rewrites of [[pruneLmIndex]], DEEPEST order
    * first (see the ordering argument there — a crash window must never
    * null a kept n-gram's denominator, and the denominator lives one
    * order down). Idempotent: re-folding an already-pruned table rewrites
    * the same content, so [[repairAll]] can safely re-run all of them to
    * finish an interrupted prune. */
  private def pruneFolds(spark: SparkSession, dir: String, minCount: Long): Unit = {
    val shape = requireFormat(spark, dir)
    def foldFloor(sub: String, keys: Seq[String]): Unit = {
      val root = s"$dir/$sub"
      Purge.repairPartitionRewrite(spark, root)
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(rp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("ingest=")).sorted
      val kept = byWordRange(
        spark.read.parquet(parts.map(p => s"$root/$p"): _*)
          .groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
          .where(col("c") >= minCount),
        keys)
      val repl: Seq[(String, Option[DataFrame])] =
        ("ingest=-1" -> Some(kept)) +:
          parts.filter(_ != "ingest=-1").map(p => p -> Option.empty[DataFrame])
      Purge.rewritePartitions(spark, root, repl)
    }
    tableSpecs(shape).reverse.foreach { case (sub, keys) =>
      foldFloor(sub, keys)
    }
  }

  /** Read the live model: sum counts across delta partitions, drop
    * zeroed n-grams (a never-seen and a fully-purged n-gram must read
    * identically). Vocabulary-scale work. `excludeIngestBatch`: skip one
    * ingest partition — the streaming loop's own-partition exclusion, so
    * a crash-replayed grown micro-batch never scores against counts it
    * appended itself. */
  def readModel(spark: SparkSession, dir: String,
      excludeIngestBatch: Option[Long] = None): (DataFrame, DataFrame) = {
    val shape = requireFormat(spark, dir)
    require(!shape.ml,
      s"LM model at $dir is the per-language layout — read it with " +
        "readModelMl / scoreAgainstLmMlIndex (different tokenizer)")
    repairAll(spark, dir)
    (liveTable(spark, dir, "unigrams", Seq("w"), excludeIngestBatch),
      liveTable(spark, dir, "bigrams", Seq("w1", "w2"), excludeIngestBatch))
  }

  /** Order-3 form of [[readModel]] (requires an `order=3` layout). */
  def readModel3(spark: SparkSession, dir: String,
      excludeIngestBatch: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    requireShape(spark, dir, Shape(3, ml = false))
    repairAll(spark, dir)
    (liveTable(spark, dir, "unigrams", Seq("w"), excludeIngestBatch),
      liveTable(spark, dir, "bigrams", Seq("w1", "w2"), excludeIngestBatch),
      liveTable(spark, dir, "trigrams", Seq("w1", "w2", "w3"),
        excludeIngestBatch))
  }

  /** Per-language form of [[readModel]] (requires a `tok=ml` layout —
    * any order: the lower-order tables of an `order=3` layout are the
    * same corpus-shaped counts, mirroring the plain form's rule):
    * tables carry the leading `lang` key. */
  def readModelMl(spark: SparkSession, dir: String,
      excludeIngestBatch: Option[Long] = None): (DataFrame, DataFrame) = {
    val got = requireFormat(spark, dir)
    require(got.ml,
      s"LM model at $dir is the plain-tokenizer layout — read it with " +
        "readModel / scoreAgainstLmIndex (different tokenizer)")
    repairAll(spark, dir)
    (liveTable(spark, dir, "unigrams", Seq("lang", "w"), excludeIngestBatch),
      liveTable(spark, dir, "bigrams", Seq("lang", "w1", "w2"),
        excludeIngestBatch))
  }

  /** Lang-keyed order-3 form of [[readModelMl]] (requires an `order=3
    * tok=ml` layout). */
  def readModelMl3(spark: SparkSession, dir: String,
      excludeIngestBatch: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    requireShape(spark, dir, Shape(3, ml = true))
    repairAll(spark, dir)
    (liveTable(spark, dir, "unigrams", Seq("lang", "w"), excludeIngestBatch),
      liveTable(spark, dir, "bigrams", Seq("lang", "w1", "w2"),
        excludeIngestBatch),
      liveTable(spark, dir, "trigrams", Seq("lang", "w1", "w2", "w3"),
        excludeIngestBatch))
  }

  private def liveTable(spark: SparkSession, dir: String, sub: String,
      keys: Seq[String], excludeIngestBatch: Option[Long]): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$sub")
    val visible = excludeIngestBatch match {
      case Some(id) => raw.where(col("ingest") =!= id)
      case None => raw
    }
    visible.groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
      .where(col("c") > 0)
  }

  /** Score a batch against the PERSISTED model — the per-arrival form:
    * one scan of the batch, vocabulary-scale reads of the model tables,
    * nothing training-corpus-scale anywhere. Scores at order 2 — valid
    * against an order-3 layout too (its lower-order tables are the same
    * corpus-shaped counts). */
  def scoreAgainstLmIndex(indexDir: String, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (uni, bi) = readModel(batch.sparkSession, indexDir, excludeIngestBatch)
    scoreWith(batch, uni, bi)
  }

  /** Order-3 scoring against a persisted `order=3` layout. */
  def scoreAgainstLm3Index(indexDir: String, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (uni, bi, tri) =
      readModel3(batch.sparkSession, indexDir, excludeIngestBatch)
    scoreWith3(batch, uni, bi, tri)
  }

  /** Per-language scoring against a persisted `tok=ml` layout — every
    * batch doc (doc_id, text, lang) scored under its own language's
    * standing model. */
  def scoreAgainstLmMlIndex(indexDir: String, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (uni, bi) =
      readModelMl(batch.sparkSession, indexDir, excludeIngestBatch)
    LangModelMl.scoreWithMl(batch, uni, bi)
  }

  /** Lang-keyed order-3 scoring against a persisted `order=3 tok=ml`
    * layout (r18). */
  def scoreAgainstLmMl3Index(indexDir: String, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (uni, bi, tri) =
      readModelMl3(batch.sparkSession, indexDir, excludeIngestBatch)
    LangModelMl.scoreWith3Ml(batch, uni, bi, tri)
  }

  /** Generic order-n scoring against a persisted layout of EXACTLY that
    * shape (r18) — reads all n live tables through the standard
    * repair/fold path and runs the generic recursion. */
  def scoreAgainstLmNIndex(indexDir: String, batch: DataFrame, n: Int,
      ml: Boolean, excludeIngestBatch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    requireShape(spark, indexDir, Shape(n, ml))
    repairAll(spark, indexDir)
    val tables = tableSpecs(Shape(n, ml)).map { case (sub, keys) =>
      liveTable(spark, indexDir, sub, keys, excludeIngestBatch)
    }
    scoreDocsN(batch, tables, n, ml)
  }

  // ---- LM session: standing-model cache for streaming loops (r19) --------

  /** Session-cached live model for a SINGLE-OWNER streaming loop — the
    * [[graft.operators.Retrieval.Bm25Session]] discipline applied to the
    * LM layout. The r18 loops called `readModel*` inside `foreachBatch`,
    * re-listing, re-REPAIRING and re-folding every count table from
    * parquet once per MICRO-BATCH (and the repair path could even rewrite
    * a crashed mutation's partitions from inside a documented "pure
    * observer" — r18 ADVICE); the session lists/repairs/loads once per
    * RUN and rolls forward in memory as the loop appends.
    *
    * Cache shape (measured in LmSessionProbe — the first cut re-folded
    * and re-CHECKPOINTED every table per append, which at order 5 cost
    * MORE than the parquet re-read it replaced): a checkpointed BASE
    * fold per table plus a pending list of per-batch count deltas
    * (batch-vocabulary-scale, checkpointed once each at append). Scoring
    * folds base ∪ pending lazily INSIDE the scoring job — the same
    * aggregate the dir-based path runs, minus the per-batch fs listing,
    * repair pass and parquet reads; with no pending deltas (the pure
    * observers: releaseMonitor) the base serves directly, zero per-batch
    * fold. Every `rebaseEvery` appends the pendings fold into a fresh
    * checkpointed base, bounding plan growth.
    *
    * Correctness contract (spec-pinned in SessionSpec):
    *   - visible counts == [[readModel]]/[[readModelMl]]'s live fold at
    *     every point (counts are additive; base ∪ pending re-aggregated
    *     per key with zeroed n-grams dropped);
    *   - [[LmSession.score]] dispatches on the marker shape (order ×
    *     tokenizer) to exactly the scorer that shape's non-session entry
    *     point uses; `excludeIngestBatch` drops the excluded batch's
    *     pending delta, or (disk-committed before this run — the crash
    *     replay) subtracts that partition's counts on demand, so a
    *     replayed micro-batch scores against exactly the state its
    *     failed attempt saw;
    *   - [[LmSession.append]] commits through [[appendToLmIndex]]
    *     (identical two-phase delta machinery), then pins the batch's
    *     counts as a pending delta — cache == disk after every batch.
    * The layout must be owned by this single loop while the session is
    * open (the `bm25Ingest` contract — no interleaved batch-API
    * mutations); `close()` drops the caches (checkpoint blocks are
    * GC-reclaimed). */
  final class LmSession private[operators] (spark: SparkSession, dir: String) {
    private val shape: Shape = requireFormat(spark, dir)
    repairAll(spark, dir)
    // pending-union width is order × pendings: rebase so the score plan
    // never folds more than ~8 cached frames per table
    private val rebaseEvery: Int = math.max(2, 16 / shape.order)
    /** The layout's n-gram order (marker-declared). */
    def order: Int = shape.order
    /** True iff the layout is the per-language `tok=ml` form. */
    def ml: Boolean = shape.ml
    private val specs = tableSpecs(shape)
    private def keysC(keys: Seq[String])(df: DataFrame): DataFrame =
      df.select((keys.map(col) :+ col("c")): _*)
    private def foldLive(df: DataFrame, keys: Seq[String]): DataFrame =
      keysC(keys)(df.groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
        .where(col("c") > 0))
    private def partitionIds(): Set[Long] = {
      val (fs, _) = fsOf(spark, dir)
      specs.flatMap { case (sub, _) =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
        if (!fs.exists(p)) Seq.empty[Long]
        else fs.listStatus(p).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("ingest="))
          .map(_.stripPrefix("ingest=").toLong)
      }.toSet
    }
    // ids folded into the checkpointed base (open-time partitions +
    // rebased pendings)
    private var baseIds: Set[Long] = partitionIds()
    // the per-table open-time folds are independent parquet reads —
    // overlap them (guide §2.6; order-5 layouts pay five folds at open).
    // Width 2: deep-order tables are corpus-scale (the release5 pin
    // lesson — unbounded overlap blew the 8 g pool at 10×).
    private var base: Seq[DataFrame] = Par.run(specs.map { case (sub, keys) =>
      () => foldLive(spark.read.parquet(s"$dir/$sub"), keys).localCheckpoint(true)
    }, maxThreads = 2)
    // per-append pending deltas, oldest first: (batchId, per-table counts)
    private var pending: Seq[(Long, Seq[DataFrame])] = Seq.empty
    private def visibleTables(exclude: Option[Long]): Seq[DataFrame] = {
      val pend = exclude match {
        case Some(id) => pending.filterNot(_._1 == id)
        case None => pending
      }
      val subtractBase = exclude.exists(baseIds.contains)
      if (pend.isEmpty && !subtractBase) base
      else specs.zipWithIndex.map { case ((sub, keys), i) =>
        val negOwn = exclude.toSeq.filter(baseIds.contains).map(id =>
          spark.read.parquet(s"$dir/$sub/ingest=$id")
            .select((keys.map(col) :+ (-col("c")).as("c")): _*))
        val all = (base(i) +: pend.map(p => keysC(keys)(p._2(i)))) ++ negOwn
        foldLive(all.reduce(_ unionAll _), keys)
      }
    }
    /** Score a batch against the cached live model at the layout's own
      * shape — row-identical to the shape's `scoreAgainst*Index` entry
      * point over the same layout. */
    def score(batch: DataFrame,
        excludeIngestBatch: Option[Long] = None): DataFrame = {
      val ts = visibleTables(excludeIngestBatch)
      (shape.ml, shape.order) match {
        case (false, 2) => scoreWith(batch, ts(0), ts(1))
        case (true, 2) => LangModelMl.scoreWithMl(batch, ts(0), ts(1))
        case (false, 3) => scoreWith3(batch, ts(0), ts(1), ts(2))
        case (true, 3) => LangModelMl.scoreWith3Ml(batch, ts(0), ts(1), ts(2))
        case (ml, n) => scoreDocsN(batch, ts, n, ml)
      }
    }
    /** Grow the persisted layout (identical commit machinery) and pin the
      * batch's counts as a pending cache delta. A replayed batch id
      * (already on disk or already pending) commits its byte-identical
      * partition rewrite and leaves the cache alone — it is already
      * counted. */
    def append(batch: DataFrame, batchId: Long): Unit = {
      appendToLmIndex(batch, dir, batchId)
      if (!baseIds.contains(batchId) && !pending.exists(_._1 == batchId)) {
        // batch-vocabulary-scale pin: the source batch frame is owned by
        // the loop and may be unpersisted/unreplayable after the body
        // returns, so the delta must be materialized now
        pending = pending :+ (batchId ->
          countTables(batch, shape).map(_.localCheckpoint(true)))
        if (pending.size >= rebaseEvery) rebase()
      }
    }
    private def rebase(): Unit = {
      base = specs.zipWithIndex.map { case ((_, keys), i) =>
        foldLive((base(i) +: pending.map(p => keysC(keys)(p._2(i))))
          .reduce(_ unionAll _), keys).localCheckpoint(true)
      }
      baseIds ++= pending.map(_._1)
      pending = Seq.empty
    }
    /** Drop every cached table (checkpoint blocks are GC-reclaimed). */
    def close(): Unit = { base = null; pending = null }
  }

  /** Open an [[LmSession]] over an existing LM layout (any shape). The
    * rebase cadence scales inversely with order: a pending delta is one
    * frame PER TABLE, so an order-5 layout's score-side union widens 2.5x
    * faster than order-2's — measured in LmSessionProbe, per-batch wall
    * grew ~0.15 s/batch at order 5 under the order-2 cadence. */
  def openLmSession(spark: SparkSession, dir: String): LmSession =
    new LmSession(spark, dir)

  // ---- oracle SQL builders ------------------------------------------------

  /** Token-stream CTE body over `corpusSql` (a parenthesized SELECT of
    * (doc_id, text)): (doc_id, pos, w, w1) with 1-based pos — the
    * engine-standard DuckDB list-index pattern, prev token by index
    * arithmetic. The join bound is [[oracleTokenBound]]; a doc exceeding
    * it raises a DuckDB `error()` (loud oracle failure, never a silent
    * truncation that reads as an engine bug). */
  def tokenStreamSql(corpusSql: String): String =
    s"""(SELECT doc_id, i.i AS pos, ts[CAST(i.i AS INT)] AS w,
       |        CASE WHEN i.i > 1 THEN ts[CAST(i.i - 1 AS INT)] END AS w1
       | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
       |       FROM $corpusSql)
       | JOIN range(1, ${oracleTokenBound + 1}) i(i)
       |   ON i.i <= CASE WHEN len(ts) > $oracleTokenBound
       |     THEN CAST(error('tokenStreamSql: doc exceeds the ' ||
       |       '$oracleTokenBound-token oracle bound') AS BIGINT)
       |     ELSE len(ts) END)""".stripMargin

  /** Full scoring SQL: train on `trainSql`, score `scoreSql` (both
    * parenthesized (doc_id, text) SELECTs) — replays [[ppl]] exactly.
    * `minCount` > 1 replays [[pruneLmIndex]]'s cut on both tables — a
    * bare count floor per table; the left-endpoint implication
    * `c(w1,w2) ≤ c(w1)` makes any endpoint join redundant (see
    * [[pruneLmIndex]]). Callers append their own ORDER BY / projection. */
  def pplSql(trainSql: String, scoreSql: String, minCount: Long = 1L): String =
    s"""WITH ttok AS (SELECT * FROM ${tokenStreamSql(trainSql)}),
       | uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1
       |         HAVING count(*) >= $minCount),
       | bi AS (SELECT w1, w AS w2, CAST(count(*) AS BIGINT) AS c
       |        FROM ttok WHERE w1 IS NOT NULL GROUP BY 1, 2
       |        HAVING count(*) >= $minCount),
       | tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
       |                CAST(count(*) AS DOUBLE) AS v FROM uni),
       | stok AS (SELECT * FROM ${tokenStreamSql(scoreSql)}),
       | sc AS (SELECT s.doc_id,
       |   CASE WHEN s.w1 IS NULL
       |          THEN log10((coalesce(u2.c, 0) + 1.0) / (t.n + t.v))
       |        WHEN b.c IS NOT NULL
       |          THEN log10(b.c * 1.0 / u1.c)
       |        ELSE log10(${alpha} * ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |   END AS lp,
       |   CASE WHEN u2.c IS NULL THEN 1 ELSE 0 END AS oov,
       |   CASE WHEN s.w1 IS NOT NULL AND b.c IS NULL THEN 1 ELSE 0 END AS bko
       |  FROM stok s
       |  LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w
       |  LEFT JOIN uni u1 ON u1.w = s.w1
       |  LEFT JOIN uni u2 ON u2.w = s.w, tot t)
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(oov) AS BIGINT) AS n_oov,
       |        CAST(sum(bko) AS BIGINT) AS n_backoff,
       |        round(-sum(lp) / count(*), 6) AS xent
       | FROM sc GROUP BY doc_id""".stripMargin

  /** Oracle for [[gate]]: the ppl chain, the rounded cut, the per-lang
    * funnel. `batchLangSql` is a parenthesized (doc_id, text, lang)
    * SELECT (scoring tokenizes only doc_id/text from it). */
  def gateSql(trainSql: String, batchLangSql: String, maxXent: Double): String =
    s"""WITH scored AS (
       |  ${pplSql(trainSql, s"(SELECT doc_id, text FROM $batchLangSql b)")}
       | )
       | SELECT b.lang, CAST(count(*) AS BIGINT) AS n_in,
       |        CAST(sum(CASE WHEN s.xent IS NOT NULL AND s.xent <= $maxXent
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       | FROM $batchLangSql b LEFT JOIN scored s ON b.doc_id = s.doc_id
       | GROUP BY 1 ORDER BY 1""".stripMargin

  /** Generic order-n oracle (r18): the token stream with n−1 context
    * columns by index arithmetic, one CTE per gram order, and the
    * descending backoff CASE per available-context branch — replays
    * [[pplN]] (plain) / [[LangModelMl.pplNMl]] (lang-keyed) exactly.
    * `minCount` > 1 replays [[pruneLmIndex]]'s floor on EVERY gram
    * table (the corpus-shaped monotonicity `c(gram) ≤ c(its context)`
    * keeps every kept gram's denominator alive at any order — the
    * [[pruneLmIndex]] argument, order-generic). Callers append ORDER
    * BY / projection. */
  def pplNSqlGeneric(trainSql: String, scoreSql: String, n: Int,
      ml: Boolean, minCount: Long = 1L): String = {
    require(n >= 2 && n <= maxOrder, s"order $n outside [2, $maxOrder]")
    val keyCols = if (ml) "doc_id, lang" else "doc_id"
    val cls = if (ml) LangModelMl.mlTokenClassSql else "[a-z]+"
    val langKey = if (ml) "lang, " else ""
    def streamSql(corpusSql: String): String = {
      val ctx = (1 until n).map(k =>
        s"CASE WHEN i.i > $k THEN ts[CAST(i.i - $k AS INT)] END AS ctx$k")
        .mkString(",\n|        ")
      s"""(SELECT $keyCols, i.i AS pos, ts[CAST(i.i AS INT)] AS w,
         |        $ctx
         | FROM (SELECT $keyCols,
         |         regexp_extract_all(lower(text), '$cls') AS ts
         |       FROM $corpusSql)
         | JOIN range(1, ${oracleTokenBound + 1}) i(i)
         |   ON i.i <= CASE WHEN len(ts) > $oracleTokenBound
         |     THEN CAST(error('pplNSqlGeneric: doc exceeds the ' ||
         |       '$oracleTokenBound-token oracle bound') AS BIGINT)
         |     ELSE len(ts) END)""".stripMargin
    }
    val floor = if (minCount > 1) s" HAVING count(*) >= $minCount" else ""
    val gcte = (1 to n).map { k =>
      if (k == 1)
        s"""g1 AS (SELECT ${langKey}w, CAST(count(*) AS BIGINT) AS c
           |       FROM ttok GROUP BY ${if (ml) "1, 2" else "1"}$floor)""".stripMargin
      else {
        val sel = (1 until k).map(i => s"ctx${k - i} AS w$i").mkString(", ")
        val grp = (1 to (k + (if (ml) 1 else 0))).mkString(", ")
        s"""g$k AS (SELECT $langKey$sel, w AS w$k,
           |        CAST(count(*) AS BIGINT) AS c
           |        FROM ttok WHERE ctx${k - 1} IS NOT NULL GROUP BY $grp$floor)""".stripMargin
      }
    }.mkString(",\n| ")
    val tot =
      s"""tot AS (SELECT ${langKey}CAST(sum(c) AS DOUBLE) AS n,
         |        CAST(count(*) AS DOUBLE) AS v FROM g1${if (ml) " GROUP BY 1" else ""})""".stripMargin
    def onLang(a: String) = if (ml) s"$a.lang = s.lang AND " else ""
    val joins = new StringBuilder
    joins ++= s"  LEFT JOIN g1 uw ON ${onLang("uw")}uw.w = s.w\n"
    for (o <- 2 to n) {
      val gramOn = (1 until o).map(i => s"gj$o.w$i = s.ctx${o - i}")
        .mkString(" AND ") + s" AND gj$o.w$o = s.w"
      joins ++= s"|  LEFT JOIN g$o gj$o ON ${onLang(s"gj$o")}$gramOn\n"
      val ctxOn =
        if (o == 2) s"xj2.w = s.ctx1"
        else (1 until o).map(i => s"xj$o.w$i = s.ctx${o - i}")
          .mkString(" AND ")
      joins ++= s"|  LEFT JOIN g${o - 1} xj$o ON ${onLang(s"xj$o")}$ctxOn\n"
    }
    val totJoin = if (ml) s"|  LEFT JOIN tot t ON t.lang = s.lang"
                  else s"|  , tot t"
    val uniP = "(coalesce(uw.c, 0) + 1.0) / (t.n + t.v)"
    def fLit(k: Int): String =
      if (alphaPow(k) == 1.0) "" else s"${alphaPow(k)} * "
    // the discount multiplies the PARENTHESIZED ratio — f * (c/x), the
    // exact association the Spark kernel evaluates (lit(f) * ratio); the
    // unparenthesized f * c * 1.0 / x is ((f*c))/x, a different float
    // association that can differ in the last ulp and flip the rounded
    // score at an exact boundary (r18 ADVICE)
    def inner(m: Int): String =
      if (m == 0) s"log10($uniP)"
      else {
        val whens = ((m + 1) to 2 by -1).map { o =>
          s"WHEN gj$o.c IS NOT NULL THEN log10(${fLit(m + 1 - o)}(gj$o.c * 1.0 / xj$o.c))"
        }.mkString(" ")
        s"CASE $whens ELSE log10(${fLit(m)}($uniP)) END"
      }
    val lp = {
      val branches = (0 until (n - 1)).map(m =>
        s"WHEN s.ctx${m + 1} IS NULL THEN ${inner(m)}").mkString("\n|   ")
      s"""CASE $branches
         |   ELSE ${inner(n - 1)} END""".stripMargin
    }
    val bko = {
      val branches = (1 until (n - 1)).map(m =>
        s"WHEN s.ctx${m + 1} IS NULL THEN " +
          s"CASE WHEN gj${m + 1}.c IS NULL THEN 1 ELSE 0 END")
        .mkString("\n|   ")
      s"""CASE WHEN s.ctx1 IS NULL THEN 0
         |   $branches
         |   ELSE CASE WHEN gj$n.c IS NULL THEN 1 ELSE 0 END END""".stripMargin
    }
    val scKey = if (ml) "s.doc_id, s.lang" else "s.doc_id"
    val outKey = if (ml) "doc_id, lang" else "doc_id"
    s"""WITH ttok AS (SELECT * FROM ${streamSql(trainSql)}),
       | $gcte,
       | $tot,
       | stok AS (SELECT * FROM ${streamSql(scoreSql)}),
       | sc AS (SELECT $scKey,
       |   $lp AS lp,
       |   CASE WHEN uw.c IS NULL THEN 1 ELSE 0 END AS oov,
       |   $bko AS bko
       |  FROM stok s
       |$joins$totJoin)
       | SELECT $outKey, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(oov) AS BIGINT) AS n_oov,
       |        CAST(sum(bko) AS BIGINT) AS n_backoff,
       |        round(-sum(lp) / count(*), 6) AS xent
       | FROM sc GROUP BY $outKey""".stripMargin
  }

  /** Token-stream CTE body with two context tokens — the order-3 twin of
    * [[tokenStreamSql]] (same loud [[oracleTokenBound]] guard). */
  def tokenStream3Sql(corpusSql: String): String =
    s"""(SELECT doc_id, i.i AS pos, ts[CAST(i.i AS INT)] AS w,
       |        CASE WHEN i.i > 1 THEN ts[CAST(i.i - 1 AS INT)] END AS w1,
       |        CASE WHEN i.i > 2 THEN ts[CAST(i.i - 2 AS INT)] END AS w2b
       | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
       |       FROM $corpusSql)
       | JOIN range(1, ${oracleTokenBound + 1}) i(i)
       |   ON i.i <= CASE WHEN len(ts) > $oracleTokenBound
       |     THEN CAST(error('tokenStream3Sql: doc exceeds the ' ||
       |       '$oracleTokenBound-token oracle bound') AS BIGINT)
       |     ELSE len(ts) END)""".stripMargin

  /** Oracle replaying [[ppl3]] exactly: train the three count tables on
    * `trainSql`, score `scoreSql` through the order-3 backoff CASE.
    * `minCount` > 1 replays [[pruneLmIndex]]'s cut on all three tables
    * (the corpus-shaped count monotonicity `c(w1,w2,w3) ≤ c(w1,w2) ≤
    * c(w1)` keeps every kept n-gram's denominator alive — see
    * [[pruneLmIndex]]). Callers append their own ORDER BY / projection. */
  def ppl3Sql(trainSql: String, scoreSql: String, minCount: Long = 1L): String =
    s"""WITH ttok AS (SELECT * FROM ${tokenStream3Sql(trainSql)}),
       | uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1
       |         HAVING count(*) >= $minCount),
       | bi AS (SELECT w1, w AS w2, CAST(count(*) AS BIGINT) AS c
       |        FROM ttok WHERE w1 IS NOT NULL GROUP BY 1, 2
       |        HAVING count(*) >= $minCount),
       | tri AS (SELECT w2b AS w1, w1 AS w2, w AS w3,
       |                CAST(count(*) AS BIGINT) AS c
       |         FROM ttok WHERE w2b IS NOT NULL GROUP BY 1, 2, 3
       |         HAVING count(*) >= $minCount),
       | tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
       |                CAST(count(*) AS DOUBLE) AS v FROM uni),
       | stok AS (SELECT * FROM ${tokenStream3Sql(scoreSql)}),
       | sc AS (SELECT s.doc_id,
       |   CASE WHEN s.w1 IS NULL
       |          THEN log10((coalesce(u2.c, 0) + 1.0) / (t.n + t.v))
       |        WHEN s.w2b IS NULL AND b.c IS NOT NULL
       |          THEN log10(b.c * 1.0 / u1.c)
       |        WHEN s.w2b IS NULL
       |          THEN log10(${alpha} * ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |        WHEN tr.c IS NOT NULL
       |          THEN log10(tr.c * 1.0 / b12.c)
       |        WHEN b.c IS NOT NULL
       |          THEN log10(${alpha} * (b.c * 1.0 / u1.c))
       |        ELSE log10(${alpha * alpha} * ((coalesce(u2.c, 0) + 1.0) / (t.n + t.v)))
       |   END AS lp,
       |   CASE WHEN u2.c IS NULL THEN 1 ELSE 0 END AS oov,
       |   CASE WHEN s.w1 IS NOT NULL AND
       |             ((s.w2b IS NULL AND b.c IS NULL) OR
       |              (s.w2b IS NOT NULL AND tr.c IS NULL)) THEN 1 ELSE 0
       |   END AS bko
       |  FROM stok s
       |  LEFT JOIN tri tr ON tr.w1 = s.w2b AND tr.w2 = s.w1 AND tr.w3 = s.w
       |  LEFT JOIN bi b12 ON b12.w1 = s.w2b AND b12.w2 = s.w1
       |  LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w
       |  LEFT JOIN uni u1 ON u1.w = s.w1
       |  LEFT JOIN uni u2 ON u2.w = s.w, tot t)
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(oov) AS BIGINT) AS n_oov,
       |        CAST(sum(bko) AS BIGINT) AS n_backoff,
       |        round(-sum(lp) / count(*), 6) AS xent
       | FROM sc GROUP BY doc_id""".stripMargin
}
