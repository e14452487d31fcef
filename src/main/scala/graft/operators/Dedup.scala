package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id BIGINT, text STRING)`
  * corpus — the LLM-training-pipeline surface mandated by the north star
  * (`BASELINE.json:6`), built Spark-first (no reference precedent; the
  * reference's only dedup is the panel's last-wins key overwrite,
  * `LASERInputCheckMapper.java:66-69`).
  *
  * Cross-engine determinism: every hash a RESULT depends on derives from
  * `md5` of a UTF-8 string (either the hex form directly, or integer
  * arithmetic on a fixed prefix of it — see `MinhashP`), so the DuckDB
  * oracle reproduces the exact same signatures — no engine-private hash
  * (Spark's murmur3 `hash()`, xxhash64, or the `window_hash64` rolling
  * kernel) appears in any correctness-checked result. Engine-private
  * hashes are allowed as CANDIDATE pre-filters only, where a collision
  * adds verify work but cannot alter output
  * ([[exactSubstringSpans]] step 3).
  *
  * 100 TB notes per operator are on each method.
  */
object Dedup {

  /** Eagerly materialize `df` into checkpoint blocks.
    *
    * Default: `localCheckpoint` — executor-local, non-replicated blocks,
    * GC-reclaimable, no storage round-trip. Session conf
    * `graft.checkpointDir=<path>` switches every operator materialization
    * (and each connected-components round) to a RELIABLE checkpoint in that
    * directory: on a real cluster the blocks survive executor loss, which a
    * long-lived driver (incremental-dedup loops, multi-day sessions) needs —
    * the local mode loses the result partitions of a dead executor with no
    * lineage left to recompute them. Costs one write+read of the
    * (output-scale) result per materialization. Reliable checkpoint files
    * are reclaimed by the ContextCleaner only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; set it in
    * long-lived drivers or clean the directory between jobs.
    */
  private[graft] def checkpointed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.checkpointDir", "") match {
      case "" => df.localCheckpoint(true)
      case dir =>
        // setCheckpointDir creates a session-unique subdir; set once per
        // configured dir and reuse — re-setting per call would spray one
        // subdir per operator. Re-set only when the CONF changed (a driver
        // repointing graft.checkpointDir mid-session must not keep writing
        // to the old location).
        val sc = spark.sparkContext
        // getCheckpointDir is fully qualified (scheme + session subdir);
        // qualify the configured dir the same way before comparing.
        val p = new org.apache.hadoop.fs.Path(dir)
        val qualified = p.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(p).toString
        if (!sc.getCheckpointDir.exists(_.startsWith(qualified + "/")))
          sc.setCheckpointDir(dir)
        df.checkpoint(true)
    }
  }

  /** Eagerly materialize `result` into checkpoint blocks (`checkpointed`
    * above — local by default, reliable under `graft.checkpointDir`), then
    * release the persisted intermediates that fed it.
    *
    * This is the ownership contract for every operator here that persists an
    * intermediate: persisted blocks live in the session's cache manager until
    * explicitly unpersisted (the ContextCleaner never reclaims them while the
    * plan is registered), so a long-running driver that calls dedup operators
    * repeatedly — or a bench session running 110 queries back to back —
    * accumulates MEMORY_AND_DISK blocks until storage memory is contended and
    * every later query pays eviction/recompute cascades. Checkpoint blocks,
    * by contrast, are plain RDD blocks reclaimed by GC once the returned
    * DataFrame is dropped. Results here are output-scale (pairs, scores,
    * labels), orders of magnitude below the shingle/signature intermediates
    * being released.
    *
    * Session conf `graft.eagerRelease=false` opts out: the full LAZY plan is
    * returned and the intermediates stay persisted — ownership transfers to
    * the caller (used by `graft.Explain`, where an eager checkpoint would
    * reduce every plan dump to a checkpoint-RDD scan).
    *
    * 100 TB fault-tolerance trade-off: the default `localCheckpoint`
    * truncates lineage into NON-replicated executor-local blocks, so on a
    * real cluster losing an executor after the operator returns makes the
    * result partitions on that executor unrecoverable (a lazy plan would
    * just recompute). A long-lived cluster driver that needs recoverability
    * has two outs: `graft.checkpointDir=<reliable path>` (results survive
    * executor loss; one output-scale write+read per operator — cheap
    * relative to the chain that produced it) or `graft.eagerRelease=false`
    * (lazy plan, caller owns the caches).
    */
  private[operators] def materializeThenRelease(
      result: DataFrame, release: DataFrame*): DataFrame =
    if (!result.sparkSession.conf.get("graft.eagerRelease", "true").toBoolean) result
    else
      try checkpointed(result)
      finally release.foreach(_.unpersist(false))

  /** Exact dedup: keep the lowest `doc_id` per distinct text.
    *
    * Hash-groupBy on `md5(text)` rather than on the text itself so the
    * shuffle carries 32-byte keys, not document bodies; at 100 TB this is
    * one map-side-combined shuffle of (hash, id) pairs.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the operational mode of a continuously
    * ingested corpus: dedup a NEW batch internally (min doc_id per distinct
    * text) and against the existing keep-set, emitting only the rows that
    * extend it. `keeps` is hash-only (`h` = md5): 32 bytes/row however wide
    * the corpus grows.
    *
    * Scale: one map-side-combined aggregate over the batch + one anti-join
    * against the keep-set — broadcast when the keep-set fits, else a
    * hash-keyed shuffle; store BOTH sides bucketed by `h` and the anti-join
    * plans with zero exchanges (BucketedJoinSpec pattern).
    */
  def exactIncrement(keeps: DataFrame, batch: DataFrame): DataFrame =
    exactIncrementHashed(keeps,
      batch.select(md5(col("text")).as("h"), col("doc_id")))

  /** `exactIncrement` over a PRE-HASHED batch (`h`, `doc_id`) — the
    * storage-layout wiring for the zero-exchange claim above: when the
    * ingest job writes batches as (md5, doc_id) bucketed by `h` and the
    * keep-set is stored bucketed by `h` with the same bucket count, BOTH
    * the batch aggregate and the anti-join are satisfied by the bucketed
    * scans and the whole increment plans with ZERO exchanges
    * (BucketedJoinSpec locks the shape; EXPLAIN.md "Incremental-dedup
    * bucketed layout" has the 10× run timed against the shuffled form). */
  def exactIncrementHashed(keeps: DataFrame, batchHashed: DataFrame): DataFrame =
    batchHashed
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .join(keeps.select(col("h")), Seq("h"), "left_anti")

  /** (doc_id, shingle) pairs: word `n`-grams over whitespace tokens.
    * Documents shorter than `n` tokens contribute their whole text as the
    * single shingle (so they still get a signature).
    *
    * `dedup = true` (a full shuffle) is required only by SET consumers
    * (Jaccard sizes/intersections); MIN-based consumers (minhash) are
    * idempotent over duplicates and should pass `dedup = false` to skip
    * that shuffle entirely. */
  def shingles(docs: DataFrame, n: Int = 3, dedup: Boolean = true): DataFrame = {
    val raw = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode(when(size(col("w")) < n, array(concat_ws(" ", col("w"))))
          .otherwise(expr(s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))")))
          .as("shingle"))
    if (dedup) raw.distinct() else raw
  }

  /** The min-wise hash family shared verbatim with the DuckDB oracles:
    * ONE md5 per shingle reduced to a ~2³¹ universe (`h = first 15 hex
    * chars` as BIGINT, mod p), then per-seed universal hashes
    * `(a_s·h + b_s) mod p` over the Mersenne prime p = 2³¹−1 — the
    * construction Spark MLlib's MinHashLSH ships (one base hash, k affine
    * maps). The (a_s, b_s) constants are md5-derived per seed (`minhashAB`
    * below). Bounds make the arithmetic exact in BOTH engines with no
    * 64-bit overflow: the 15-hex-char prefix is < 2⁶⁰ (BIGINT-safe to
    * parse), the reduced h is < p < 2³¹, and a_s ≤ 2²⁸ keeps every product
    * under 2⁵⁹ (DuckDB BIGINT overflow would ERROR, not wrap). The wide
    * base matters at corpus scale: an earlier 28-bit base (7 hex chars,
    * no reduction) meant billions of distinct shingles over a 2²⁸ universe
    * — base-hash collisions survive EVERY affine permutation, biasing
    * Jaccard-by-minhash upward and inflating LSH candidate sets.
    *
    * Why not md5-per-seed: the signature aggregation reads every
    * (doc, shingle) row and is the dominant CPU kernel of the minhash
    * chain at corpus scale — one digest plus numHashes integer ops per row
    * beats numHashes digests per row ~numHashes-fold, and integer mins
    * beat lexicographic hex-string mins besides. */
  private[graft] val MinhashP = 2147483647L
  /** Per-seed (a, b), derived once from md5 of the seed so consecutive
    * seeds share NO arithmetic structure. Structured multipliers are not a
    * theoretical nicety: a first cut used a_s = K·(s+1) mod p, making seed
    * 1's permutation exactly "double seed 0's value mod p" — which
    * preserves enough order that a band's two mins were usually attained
    * by the same shingle, and the band key degenerated toward ONE
    * permutation (measured: 109 candidate pairs vs 49 under independent
    * seeds on the sf0.01 planted corpus — 2.2× false positives). */
  private[graft] val minhashAB: IndexedSeq[(Long, Long)] = (0 until 64).map { s =>
    def h7(tag: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$s:$tag".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 7), 16)
    (h7("a") + 1L, h7("b")) // a ∈ [1, 2²⁸], b ∈ [0, 2²⁸)
  }
  private[graft] def minhashA(s: Int): Long = minhashAB(s)._1
  private[graft] def minhashB(s: Int): Long = minhashAB(s)._2
  /** Base hash of the min-wise family (doc above `MinhashP`): 15-hex-char
    * md5 prefix reduced mod p — a ~2³¹ effective universe. The DuckDB twin
    * is `('0x' || substr(md5(shingle), 1, 15))::BIGINT % p`. */
  private[graft] def shingleBaseHash: org.apache.spark.sql.Column =
    conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long") % MinhashP

  /** MinHash signatures: for seed s in [0, numHashes), the signature element
    * is `min((a_s·baseHash(shingle) + b_s) mod p)` — the universal family above,
    * computed identically by both engines on integers.
    *
    * Plan: shingle explode → one md5 per shingle row → per-(doc, seed)
    * partial min (map-side combine) → one shuffle keyed (doc_id, seed). At
    * 100 TB the shuffle volume is O(docs × numHashes × 8B), independent of
    * corpus text size.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 8, n: Int = 3): DataFrame = {
    require(numHashes <= 64, s"numHashes $numHashes > 64: minhashAB precomputes 64 seed constants")
    val seeds = array((0 until numHashes).map(s => struct(
      lit(s).as("seed"), lit(minhashA(s)).as("a"), lit(minhashB(s)).as("b"))): _*)
    shingles(docs, n, dedup = false) // min is duplicate-insensitive
      .select(col("doc_id"), shingleBaseHash.as("h"))
      .select(col("doc_id"), col("h").as("bh"), explode(seeds).as("s"))
      .groupBy(col("doc_id"), col("s.seed").as("seed"))
      .agg(min((col("bh") * col("s.a") + col("s.b")) % MinhashP).as("h"))
  }

  /** LSH banding: group signature elements into bands of `bandSize` seeds,
    * bucket docs on (band, concatenated band signature), and emit candidate
    * pairs (doc_a < doc_b) that share ≥ 1 bucket.
    *
    * Scale: the pair join is per-bucket; a pathological bucket of k docs
    * emits k² pairs, so buckets above `maxBucket` are dropped (at 100 TB a
    * giant bucket means near-identical boilerplate — cap + route to a
    * dedicated clustering pass rather than exploding the join).
    */
  def lshCandidatePairs(
      docs: DataFrame,
      numHashes: Int = 8,
      bandSize: Int = 2,
      n: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    // dedup = false: the signature mins are duplicate-insensitive, so the
    // standalone LSH path skips the distinct shuffle entirely.
    lshCandidatePairsFromShingles(shingles(docs, n, dedup = false),
      numHashes, bandSize, maxBucket)

  /** `lshCandidatePairs` over a pre-computed (ideally persisted) shingle
    * set — lets one shingle scan feed both LSH and the Jaccard scorer. */
  def lshCandidatePairsFromShingles(
      sh: DataFrame,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    bucketPairs(cappedBands(docRows(sh, numHashes, keys = false),
      numHashes, bandSize, maxBucket))

  /** The per-doc near-dup row `(doc_id, ks, h0..h{numHashes-1})` of a
    * `(doc_id, shingle)` frame, in ONE aggregate: `ks` is the doc's set of
    * 60-bit hashed shingle keys ([[hashedShingleKey]]) and `h*` are its
    * minhash mins over the base hash `sk mod p` (family doc above
    * `MinhashP`). Both ignore duplicate shingles, so `sh` may carry them
    * (`shingles(dedup = false)` skips the distinct shuffle). Every
    * near-dup consumer reads this row: banding ([[bands]]), the overlap
    * kernel ([[overlap]]) and the index writer ([[writeIndexRows]]).
    * `keys = false` leaves out `ks` for consumers that only band.
    *
    * The row counts distinct KEYS, so two shingles of one doc that share a
    * key count once (p ≈ n²/2⁶¹ per doc); the DuckDB oracles join on the
    * same key and count shingles, and differ only there. */
  private def docRows(sh: DataFrame, numHashes: Int,
      keys: Boolean = true): DataFrame = {
    require(numHashes <= 64, s"numHashes $numHashes > 64: minhashAB precomputes 64 seed constants")
    val mins = (0 until numHashes).map(s =>
      min((col("bh") * minhashA(s) + minhashB(s)) % MinhashP).as(s"h$s"))
    val aggs = (if (keys) Seq(collect_set(col("sk")).as("ks")) else Nil) ++ mins
    sh.select(col("doc_id"), hashedShingleKey.as("sk"))
      .select(col("doc_id"), col("sk"), (col("sk") % MinhashP).as("bh"))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[docRows]] of a `(doc_id, text)` frame: one shingle scan. */
  private def docRowsOf(docs: DataFrame, n: Int, numHashes: Int,
      keys: Boolean = true): DataFrame =
    docRows(shingles(docs.select(col("doc_id"), col("text")), n, dedup = false),
      numHashes, keys)

  /** Band rows (doc_id, band, sig) of per-doc rows carrying
    * `h0..h{numHashes-1}`: one narrow explode, no aggregate. UNCAPPED —
    * the persisted index stores these raw (the cap is applied at probe
    * time over the whole stored union, see `crossNearDupIndexed`), so row
    * volume is exactly docs × bands regardless of boilerplate density. */
  private def bands(rows: DataFrame, numHashes: Int, bandSize: Int): DataFrame = {
    val bandCols = (0 until numHashes / bandSize).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws("|", (0 until bandSize).map(i => col(s"h${b * bandSize + i}")): _*).as("sig"))
    }
    rows
      .select(col("doc_id"), explode(array(bandCols: _*)).as("k"))
      .select(col("doc_id"), col("k.band"), col("k.sig"))
  }

  /** Banded buckets with oversized buckets dropped — the blocking key
    * shared by the self-join candidate generator ([[bucketPairs]]) and the
    * cross-corpus one ([[crossCandidates]]). */
  private def cappedBands(rows: DataFrame, numHashes: Int, bandSize: Int,
      maxBucket: Int): DataFrame =
    capBuckets(bands(rows, numHashes, bandSize), maxBucket)

  /** Drop oversized buckets via a broadcast anti-join against the tiny
    * OVERSIZED list (the count aggregate is map-side combined; only
    * pathological boilerplate buckets exceed the cap), so the bucket rows
    * themselves never shuffle — vs a Window.partitionBy(band, sig) count,
    * which sort-shuffles every row. Counts DISTINCT docs per bucket so the
    * cap is idempotent under duplicate rows (a replayed index append). */
  private def capBuckets(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val tooBig = buckets.groupBy(col("band"), col("sig"))
      .agg(countDistinct(col("doc_id")).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    buckets.join(broadcast(tooBig), Seq("band", "sig"), "left_anti")
  }

  /** Candidate pairs (doc_a < doc_b) sharing ≥ 1 capped bucket. */
  private def bucketPairs(capped: DataFrame): DataFrame =
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** THE overlap kernel. Each pair (columns `a`, `b`) meets both docs'
    * [[docRows]] (aliased `ra`, `rb`) and yields
    * `n_inter = |ka ∩ kb|`, `n_a = |ka|` and `n_b = |kb|` (BIGINT); Jaccard
    * ([[jaccardOf]]) and containment ([[containmentOf]]) are projections
    * of these counts. Every doc has a row, so a pair that shares no key
    * scores 0 without a spine join. */
  private def overlap(pairs: DataFrame, rowsA: DataFrame, rowsB: DataFrame,
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    withRows(pairs, rowsA, rowsB, a, b)
      .select(col(a), col(b),
        size(array_intersect(col("ra.ks"), col("rb.ks"))).cast("long").as("n_inter"),
        size(col("ra.ks")).cast("long").as("n_a"),
        size(col("rb.ks")).cast("long").as("n_b"))

  /** `pairs` joined to each side's per-doc row, aliased `ra` and `rb`. */
  private def withRows(pairs: DataFrame, rowsA: DataFrame, rowsB: DataFrame,
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    pairs.join(rowsA.as("ra"), col(a) === col("ra.doc_id"))
      .join(rowsB.as("rb"), col(b) === col("rb.doc_id"))

  /** Unrounded Jaccard of [[overlap]]'s counts. */
  private def jaccardRatio: org.apache.spark.sql.Column =
    col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))

  /** Jaccard of [[overlap]]'s counts, rounded to 6 decimals. */
  private def jaccardOf: org.apache.spark.sql.Column = round(jaccardRatio, 6)

  /** Both containment directions of [[overlap]]'s counts. */
  private def containmentOf: Seq[org.apache.spark.sql.Column] = Seq(
    round(col("n_inter") / col("n_a"), 6).as("cont_a"),
    round(col("n_inter") / col("n_b"), 6).as("cont_b"))

  /** Number of the `numHashes` minhash mins on which `ra` and `rb` agree —
    * an unbiased Jaccard estimate, read from the rows [[withRows]] joins. */
  private def agreement(numHashes: Int): org.apache.spark.sql.Column =
    (0 until numHashes)
      .map(s => when(col(s"ra.h$s") === col(s"rb.h$s"), 1).otherwise(0))
      .reduce(_ + _)

  /** Cross-corpus near-dedup — "dedupe today's batch against the standing
    * corpus", the operational counterpart of `nearDupScores` the same way
    * `exactIncrement` is the operational counterpart of `exact` (and the
    * Jaccard-threshold analogue of `contaminationHits`, which matches on
    * ANY shared n-gram rather than overall similarity). Emits
    * (batch_id, corpus_id, jaccard) for every LSH-candidate cross pair
    * scoring ≥ `threshold`; the caller drops or routes the matched batch
    * docs. Doc-id spaces of the two sides are independent — sides never
    * mix, so no disjointness requirement.
    *
    * Scale: each side reduces to its per-doc rows ([[docRows]]: one
    * shingle scan into one aggregate carrying the key set and the minhash
    * mins); candidates come from ONE equi-join of the two sides' banded
    * buckets on (band, sig), batch-side broadcast when the batch is small
    * (AQE decides from runtime sizes). Within-side pairs are never
    * generated — vs running `nearDupScores` over corpus ∪ batch, which
    * would re-pair the standing corpus against itself every increment.
    * Both sides' oversized buckets are dropped (boilerplate cap, same
    * argument as `lshCandidatePairs`: a giant bucket means near-identical
    * boilerplate — cap + route to a dedicated pass rather than exploding
    * the join). Candidate pairs score through the [[overlap]] kernel on
    * key sets; the corpus rows are semi-pruned to candidate docs first, so
    * only those meet the pair spine. */
  def crossNearDup(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.5,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // each side's row feeds both its buckets and the kernel
    // (persist-and-release, the operator-owned-cache contract)
    val rowsC = docRowsOf(corpus, n, numHashes).persist(sl)
    val rowsB = docRowsOf(batch, n, numHashes).persist(sl)
    // the candidate set feeds the corpus prune and the pair spine
    val cand = crossCandidates(
      cappedBands(rowsB, numHashes, bandSize, maxBucket),
      cappedBands(rowsC, numHashes, bandSize, maxBucket)).persist(sl)
    val candC = rowsC.join(cand.select(col("corpus_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    materializeThenRelease(crossScores(cand, rowsB, candC, threshold),
      rowsC, rowsB, cand)
  }

  /** The 8-byte hashed-shingle key (15-hex md5 prefix as BIGINT): the
    * element type of every key set and of the index's `shingle_keys`.
    * The DuckDB oracles join on the identical hash
    * (`('0x' || substr(md5(shingle), 1, 15))::BIGINT`). */
  private def hashedShingleKey: org.apache.spark.sql.Column =
    conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long")

  /** Cross-side candidate pairs: the two sides' capped band buckets joined
    * on (band, sig) — never within a side. */
  private def crossCandidates(bucketsB: DataFrame, bucketsC: DataFrame): DataFrame =
    bucketsB.as("b")
      .join(bucketsC.as("c"),
        col("b.band") === col("c.band") && col("b.sig") === col("c.sig"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()

  /** Scoring tail of the cross-dedup forms: every candidate cross pair
    * through the [[overlap]] kernel, thresholded on the rounded Jaccard.
    * `rowsC` must hold each candidate corpus doc's FULL key set. */
  private def crossScores(cand: DataFrame, rowsB: DataFrame, rowsC: DataFrame,
      threshold: Double): DataFrame =
    overlap(cand, rowsB, rowsC, "batch_id", "corpus_id")
      .select(col("batch_id"), col("corpus_id"), jaccardOf.as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Key-set rows (doc_id, ks) of an index's candidate corpus docs: the
    * stored `shingle_keys` semi-pruned to the candidates and aggregated
    * back to sets (a replayed append's duplicate rows collapse in it). */
  private def indexKeySets(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame =
    spark.read.schema("doc_id LONG, sk LONG").parquet(s"$dir/shingle_keys")
      .join(cand.select(col("corpus_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sk")).as("ks"))

  /** Build the PERSISTED form of the standing-corpus side of `crossNearDup`
    * — the "index once, probe per batch" layout a production ingest stream
    * needs (recomputing the corpus LSH chain per arriving batch, as
    * `crossNearDup` does, re-reads every corpus byte every increment).
    * Writes three datasets under `dir`:
    *   - `shingle_keys` (doc_id, sk)        — hashed distinct shingles
    *   - `buckets`      (doc_id, band, sig) — UNCAPPED banded minhash
    *                    buckets (exactly docs × bands rows; the cap is a
    *                    probe-time decision over the stored union, so no
    *                    increment-local cap is ever baked into the layout)
    *   - `manifest`     one JSON row pinning the LSH family (n, hashes,
    *                    band size, cap); probes READ the family from it, so
    *                    a probe can never run with a drifted family.
    * Rebuild = overwrite; see `appendToCrossNearDupIndex` for growth. */
  def buildCrossNearDupIndex(
      corpus: DataFrame,
      dir: String,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeIndexSide(corpus, dir, n, numHashes, bandSize, overwrite = true)
    Seq((n, numHashes, bandSize, maxBucket))
      .toDF("n", "num_hashes", "band_size", "max_bucket")
      .coalesce(1).write.mode("overwrite").json(s"$dir/manifest")
  }

  /** Grow an existing index with NEW docs' rows — no global rebuild: band
    * buckets and shingle keys are per-doc, so corpus growth is an append
    * of the new docs' rows under the index's own manifest (the family is
    * read from it, never passed). The bucket cap stays exact however the
    * index was grown, because buckets are stored uncapped and probes cap
    * over the stored union at read time (`crossNearDupIndexed`) — grown,
    * rebuilt, and in-memory forms agree in every case, including buckets
    * that creep past the cap across increments and increments that are
    * individually oversized. The two dataset writes are separate jobs
    * (plain parquet has no cross-dataset transaction); the write order
    * and probe-side row dedup make a failure harmless and a retry
    * convergent — see `writeIndexSide`. */
  def appendToCrossNearDupIndex(newDocs: DataFrame, dir: String): Unit = {
    val m = readIndexManifest(newDocs.sparkSession, dir)
    writeIndexSide(newDocs, dir, m.n, m.numHashes, m.bandSize, overwrite = false)
  }

  private final case class IndexManifest(
      n: Int, numHashes: Int, bandSize: Int, maxBucket: Int)

  private def readIndexManifest(spark: SparkSession, dir: String): IndexManifest = {
    val m = spark.read.json(s"$dir/manifest").collect()(0)
    IndexManifest(m.getAs[Long]("n").toInt, m.getAs[Long]("num_hashes").toInt,
      m.getAs[Long]("band_size").toInt, m.getAs[Long]("max_bucket").toInt)
  }

  private def writeIndexSide(docs: DataFrame, dir: String, n: Int,
      numHashes: Int, bandSize: Int, overwrite: Boolean): Unit = {
    val rows = docRowsOf(docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text")), n, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeIndexRows(rows, bands(rows, numHashes, bandSize), dir,
      if (overwrite) "overwrite" else "append")
    finally { rows.unpersist(false); () }
  }

  /** THE index-row writer, shared by the build/append verbs and
    * [[CrossIndexSession.append]]: `shingle_keys` gets `explode(ks)` of the
    * per-doc rows, `buckets` the rows' UNCAPPED bands (probes cap over the
    * stored union, so the cap is exact however the index was grown — no
    * increment-local cap decision is ever baked in). Write order is
    * crash-shaped: shingle_keys first, buckets second. A failure between
    * the two jobs leaves docs with keys but no buckets — invisible to
    * probes (they can never become candidates) — never the reverse, where
    * bucket rows without keys would silently drop real matches at the
    * scoring join. A retried append re-writes both; probes dedup rows
    * (key sets, distinct-doc bucket counts, distinct candidate pairs), so
    * the replay converges instead of corrupting scores. */
  private def writeIndexRows(rows: DataFrame, buckets: DataFrame, dir: String,
      mode: String): Unit = {
    rows.select(col("doc_id"), explode(col("ks")).as("sk"))
      .write.mode(mode).parquet(s"$dir/shingle_keys")
    buckets.write.mode(mode).parquet(s"$dir/buckets")
  }

  /** PURGE a doc-id set from a [[buildCrossNearDupIndex]] layout — the
    * takedown verb of the LSH-index ladder ([[Purge]] module overview),
    * with the BM25-style LOGICAL/PHYSICAL split: this call is the cheap
    * logical half — the ids land in the index's `purged/` tombstone set
    * (append-only parquet; duplicates collapse at read, a replayed purge
    * converges) and every probe masks them from that point on. The mask
    * applies to the BUCKETS before the read-time cap, so the cap
    * re-derives over the SURVIVING union — probes behave exactly as an
    * index built without the docs, including cap boundaries (PurgeSpec +
    * the dd_purge_indexed oracle pin probe identity at both stages).
    * [[compactCrossNearDupIndex]] later makes it physical. O(purge-set)
    * cost here — the legal deadline rides the cheap commit, the big I/O
    * is deferred, exactly the BM25 discipline. */
  def purgeFromCrossNearDupIndex(spark: SparkSession, dir: String,
      docIds: DataFrame): Unit =
    // cast: crossIndexPurged and compactCrossNearDupIndex read `purged/`
    // with a fixed `doc_id LONG` schema — an int32 caller id appended
    // as-is would make every later probe/compaction misread the tombstones
    docIds.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .write.mode("append").parquet(s"$dir/purged")

  /** The `purged/` tombstone set of a cross-near-dup index (empty when
    * no logical purge is outstanding). */
  private def crossIndexPurged(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/purged")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema("doc_id LONG").parquet(p.toString).distinct()
    else spark.range(0).select(col("id").as("doc_id"))
  }

  /** The PHYSICAL half of the cross-index takedown: rewrite both per-doc
    * datasets (`shingle_keys`, `buckets`) minus the accumulated
    * tombstones under [[Purge.rewritePartitions]]' two-phase commit
    * (staged writes consume the lazy anti-join plans BEFORE any live dir
    * is touched, then both swap under one marker), then clear `purged/`
    * LAST — a crash between leaves the tombstones masking already-absent
    * rows (a no-op) and a rerun just clears them. The manifest — pure
    * family parameters — is untouched. Cost class, stated plainly: this
    * layout stores per-doc rows UNPARTITIONED (append-grown), so the
    * rewrite is O(index) — which is why it is the DEFERRED half.
    * Owner-only, like every two-phase rewrite. */
  def compactCrossNearDupIndex(spark: SparkSession, dir: String): Unit = {
    Purge.repairPartitionRewrite(spark, dir)
    val purged = crossIndexPurged(spark, dir).localCheckpoint(true)
    if (purged.isEmpty) return
    val ids = broadcast(purged)
    def remaining(name: String) =
      spark.read.parquet(s"$dir/$name").join(ids, Seq("doc_id"), "left_anti")
    Purge.rewritePartitions(spark, dir, Seq(
      "shingle_keys" -> Some(remaining("shingle_keys")),
      "buckets" -> Some(remaining("buckets"))))
    val p = new org.apache.hadoop.fs.Path(s"$dir/purged")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** PURGE docs from ONE ingest partition of a [[buildExactWindowIndex]]
    * layout: the window index stores DISTINCT window hashes with no doc
    * attribution (8 bytes/window is the point), so removal cannot be an
    * anti-join — a purged doc's window may also occur in surviving text
    * and must stay. The exact purge is a RECOMPUTE of the touched
    * partition from the batch's SURVIVING docs (the caller knows each
    * doc's ingest partition — the takedown pipeline is deleting the same
    * docs from the corpus store): windows unique to purged docs vanish,
    * shared windows persist via the partitions whose docs still carry
    * them, and the result equals an index built without the docs up to
    * cross-partition duplicate rows, which every probe collapses
    * (duplicate-safety is the index's standing contract). A keyed
    * overwrite — replaying the same purge converges. For a purge that
    * cannot be attributed to partitions, [[buildExactWindowIndex]] over
    * the surviving corpus IS the documented re-compaction path. */
  def purgeFromExactWindowIndex(survivors: DataFrame, dir: String,
      ingestBatch: Long): Unit = {
    val spark = survivors.sparkSession
    graft.functions.GraftFunctions.ensure(spark)
    val conf = spark.sessionState.newHadoopConf()
    val part = new org.apache.hadoop.fs.Path(
      s"$dir/windows/ingest_batch=$ingestBatch")
    require(part.getFileSystem(conf).exists(part),
      s"no ingest partition $ingestBatch under $dir/windows — the purge " +
        "rewrites an EXISTING batch's contribution from its survivors")
    val l = spark.read.json(s"$dir/manifest").collect()(0).getAs[Long]("l").toInt
    distinctWindowKeys(survivors, l)
      .write.mode("overwrite").parquet(part.toString)
  }

  /** `crossNearDup` against a prebuilt index (`buildCrossNearDupIndex`):
    * identical result contract, but the corpus side is LOADED, not
    * recomputed — per-batch cost is the batch's own LSH chain plus joins
    * that touch only candidate corpus docs' rows. The LSH family comes
    * from the index manifest, so the batch side is always banded with the
    * family the index was built with. Explicit read schemas keep empty
    * index datasets (corpus with no docs) well-defined. */
  def crossNearDupIndexed(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val m = readIndexManifest(spark, dir)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Logical-purge mask (r15): tombstoned ids leave the bucket stream
    // BEFORE the cap, so the cap re-derives over the SURVIVING union —
    // identical cap boundaries to an index built without the docs. The
    // anti-join is against a broadcast of the (takedown-scale) tombstone
    // set — empty, a no-op build side, on a purge-free index. Candidates
    // inherit the mask, so the shingle-key side needs none.
    val purged = crossIndexPurged(spark, dir)
    def mask(df: DataFrame): DataFrame =
      df.join(broadcast(purged), Seq("doc_id"), "left_anti")
    // Cap over the stored UNION at read time (buckets are stored
    // uncapped): exactly the cap a full rebuild over the grown corpus
    // would apply, whatever increments produced the rows. One narrow
    // map-side-combined aggregate over a 3-column table the candidate
    // join scans anyway.
    val bucketsC = capBuckets(
      mask(spark.read.schema("doc_id LONG, band LONG, sig STRING")
        .parquet(s"$dir/buckets")), m.maxBucket)
    val rowsB = docRowsOf(batch, m.n, m.numHashes).persist(sl)
    val cand = crossCandidates(
      cappedBands(rowsB, m.numHashes, m.bandSize, m.maxBucket), bucketsC)
      .persist(sl)
    // only candidate corpus docs' keys load, the same prune the in-memory
    // form applies to its corpus rows
    materializeThenRelease(
      crossScores(cand, rowsB, indexKeySets(spark, dir, cand), threshold),
      rowsB, cand)
  }

  /** Per-batch artifacts of [[CrossIndexSession.scoreBatch]]: the fused
    * edge set (eagerly checkpointed, output-scale) plus the batch's
    * checkpointed per-doc rows and their uncapped bands, so
    * [[CrossIndexSession.append]] writes the index rows without
    * re-shingling the batch. */
  final class BatchScore private[Dedup] (
      val edges: DataFrame,
      private[Dedup] val rows: DataFrame,
      private[Dedup] val buckets: DataFrame)

  /** Owner-side SESSION over a [[buildCrossNearDupIndex]] layout — the
    * fused hot path of [[graft.streaming.Streams.curationLoop]]. One
    * instance per loop RUN; the loop is the layout's only writer while it
    * runs (the standing owner-only contract), which is what makes the two
    * cross-batch caches sound:
    *
    *   - the index MANIFEST is read once per session (the per-batch
    *     `spark.read.json` + collect was a schema-inference job the loop
    *     paid every micro-batch);
    *   - the STANDING BUCKET side is read from parquet once, kept
    *     persisted (MEMORY_AND_DISK — spills, never recomputes through
    *     the remote scan), and EXTENDED in place with each appended
    *     batch's own bucket rows — so per-batch probe cost stops
    *     re-scanning the standing parquet entirely: at corpus scale the
    *     bucket side is docs × bands narrow rows, and re-reading it per
    *     micro-batch was the loop's standing-state-scale I/O. Every
    *     consumer tolerates duplicate rows (the layout's standing
    *     contract: `capBuckets` counts distinct docs, candidate pairs are
    *     `distinct`), so foreachBatch retries and crash replays converge
    *     on the cache exactly as they do on the parquet side. Every
    *     `cacheRebaseEvery` extensions the union tree collapses into one
    *     checkpoint (amortized O(standing/cacheRebaseEvery) per batch), so
    *     a long-running stream's plan depth stays bounded.
    *
    * [[scoreBatch]] additionally FUSES the loop's two scorers — cross-
    * vs-index ([[crossNearDupIndexed]]) and within-batch
    * ([[nearDupScores]] ≥ threshold) — onto ONE per-doc batch row
    * ([[docRows]] beside the text hash, built over every batch doc). Both
    * candidate generators band that row, both scorers run the [[overlap]]
    * kernel, the within-batch half runs the dedup-first body
    * ([[dedupCtx]], [[dedupFirstOn]]) that `nearDupScores` runs, and
    * [[append]] writes the row through the index writer
    * ([[writeIndexRows]], same rows and crash discipline as
    * `writeIndexSide`). Edge-set identity with the unfused pair is
    * pinned by DedupSpec's fused-equals-unfused case, StreamingSpec's
    * batch-pipeline-convergence asserts and the dd_curation_stream /
    * dd_purge_stream oracles; cap semantics are preserved exactly (batch
    * side caps over batch rows, rep side caps over REP rows post-filter,
    * standing side caps over the stored union after the purge mask —
    * each from the same uncapped rows the unfused operators cap).
    *
    * The purge tombstone set is re-read per batch (takedown-scale, one
    * tiny broadcast): only bucket ROWS are cached, so even a
    * contract-violating concurrent logical purge is honored at the next
    * micro-batch.
    *
    * [[close]] releases every cache this session owns;
    * [[graft.streaming.Streams.curationLoop]] wires it to the query-
    * termination listener so loop caches never outlive the loop. */
  final class CrossIndexSession private[graft] (
      spark: SparkSession, dir: String, cacheRebaseEvery: Int = 32) {
    private val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // lazy: opening a session must not touch the FS before the loop's
    // first batch (curationLoop constructs the session at stream setup)
    private lazy val m = readIndexManifest(spark, dir)
    private var standing: DataFrame = null
    private var base: Option[DataFrame] = None // persisted read under `standing`
    private var extensions = 0
    private var oversized: DataFrame = null // (band, sig) over-cap list, tiny
    private var knownIds: DataFrame = null // distinct indexed doc ids

    private def standingBuckets(): DataFrame = {
      if (standing == null) {
        standing = spark.read.schema("doc_id LONG, band LONG, sig STRING")
          .parquet(s"$dir/buckets").persist(sl)
        base = Some(standing)
      }
      standing
    }

    /** The DISTINCT doc-id set of the index — the id-collision guard's
      * probe side. Reading it from `shingle_keys` per batch scans a
      * per-SHINGLE-row column (the index's biggest table); the cache is
      * 8 bytes per DOC, loaded once and extended with each append's ids.
      * Exactness rides the loop's write order: the guard always runs
      * BEFORE the batch's own append, and a crash after the labels
      * snapshot marks the retry a replay (guard skipped), so the cache
      * can never lag parquet where the guard looks. */
    def indexedIds(): DataFrame = {
      if (knownIds == null)
        // eager checkpoint (not persist): extensions and rebases then
        // never need unpersist bookkeeping — dropped checkpoints are
        // GC-reclaimed
        knownIds = checkpointed(spark.read.schema("doc_id LONG, sk LONG")
          .parquet(s"$dir/shingle_keys")
          .select(col("doc_id")).distinct())
      knownIds
    }

    /** The over-cap bucket list, maintained TOUCHED-ONLY across the loop
      * run: `capBuckets`' read-time aggregate over the whole stored union
      * was the last standing-state-scale stage the loop paid per
      * micro-batch. Counts are monotone while the loop runs (the layout
      * only ever APPENDS, and the purge mask is frozen by the owner-only
      * contract), so the oversize set can only GROW, and it can only grow
      * at keys the arriving batch touches — one full aggregate at session
      * init, then per-batch deltas over batch-touched keys only
      * ([[append]]). Equality with the per-batch recompute: a key first
      * exceeds the cap either at init or at the batch that pushed it over
      * — that batch touches it by definition, so the delta catches it;
      * monotonicity keeps every member valid. Retry-exact: the standing
      * side of a delta count excludes the batch's own ids, so a replayed
      * fold can't double-count. */
    private def oversizedBuckets(masked: DataFrame): DataFrame = {
      if (oversized == null)
        oversized = checkpointed(
          masked.groupBy(col("band"), col("sig"))
            .agg(countDistinct(col("doc_id")).as("n"))
            .where(col("n") > m.maxBucket)
            .select(col("band"), col("sig")))
      oversized
    }

    /** Fused cross + within scoring of one micro-batch: returns the edge
      * set `crossNearDupIndexed(batch) ∪ (nearDupScores(batch) ≥
      * threshold)` as canonical (doc_a, doc_b) rows, eagerly checkpointed.
      * The batch's index rows ride along for [[append]].
      *
      * Batch-scale frames — the per-doc row, the cross candidates and the
      * text-hash groups — are eager checkpoints, so every later reference
      * is a plain RDD scan, not a cache query stage nested in the edge
      * plan. */
    def scoreBatch(batch: DataFrame, threshold: Double): BatchScore = {
      // cast once at the boundary (the writeIndexSide discipline): the
      // index and the loop's label graph are LONG-keyed
      val b = batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // the per-doc batch row (doc_id, ks, h0.., th) over EVERY batch doc
      // (the append needs them all)
      val docs = checkpointed(docRowsOf(b, m.n, m.numHashes)
        .join(b.select(col("doc_id"), md5(col("text")).as("th")), "doc_id"))
      val allBuckets = bands(docs, m.numHashes, m.bandSize)

      // ---- cross pairs: batch vs the cached standing side under
      // crossNearDupIndexed's masked read-time cap
      val purged = crossIndexPurged(spark, dir)
      val masked = standingBuckets()
        .join(broadcast(purged), Seq("doc_id"), "left_anti")
      // the cap rides the session's touched-only oversize list — the
      // same broadcast anti-join shape capBuckets ends in, without its
      // per-batch full-union aggregate
      val bucketsC = masked.join(broadcast(oversizedBuckets(masked)),
        Seq("band", "sig"), "left_anti")
      val cand = checkpointed(
        crossCandidates(capBuckets(allBuckets, m.maxBucket), bucketsC))
      val crossEdges = crossScores(cand, docs, indexKeySets(spark, dir, cand), threshold)
        .select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b"))

      // ---- within-batch pairs: the dedup-first body over the batch row.
      // Rep pairs already name reps only, so the kernel reads the whole
      // checkpointed row rather than its rep-filtered view.
      val ctx = dedupCtx(docs.select(col("doc_id"), col("th")),
        m.numHashes, m.bandSize, m.maxBucket, checkpointed)(
        reps => docs.join(reps, Seq("doc_id"), "left_semi"))
      val within = dedupFirstOn(ctx.copy(rows = docs), "jaccard")
        .where(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"))
      new BatchScore(checkpointed(crossEdges.unionAll(within)), docs, allBuckets)
    }

    /** Write the scored batch's index rows through [[writeIndexRows]]
      * (keys first, buckets second; probes dedup, a replayed append
      * converges), then extend the standing-bucket cache in place with the
      * rows just written. */
    def append(score: BatchScore): Unit = {
      // materialized apart from the per-doc batch row: the session keeps
      // these narrow rows until the next rebase, never the key sets
      val buckets = checkpointed(score.buckets)
      writeIndexRows(score.rows, buckets, dir, "append")
      // touched-only oversize delta (see oversizedBuckets): count the
      // batch's keys on both sides — standing counts semi-pruned to the
      // broadcast touched-key set and excluding the batch's own ids (an
      // in-session retry converges), batch counts batch-scale — and fold
      // keys whose union count crosses the cap into the monotone list.
      // BEFORE the cache extension, so the standing side is pre-batch.
      val purged = crossIndexPurged(spark, dir)
      val batchCounts = checkpointed(buckets
        .groupBy(col("band"), col("sig"))
        .agg(countDistinct(col("doc_id")).as("nb")))
      // every doc has exactly one band-0 row: the batch's distinct ids
      // without an aggregate
      val batchIds = buckets.where(col("band") === 0L).select(col("doc_id"))
      val maskedPre = standingBuckets()
        .join(broadcast(purged), Seq("doc_id"), "left_anti")
      val ns = maskedPre
        .join(broadcast(batchCounts.select(col("band"), col("sig"))),
          Seq("band", "sig"), "left_semi")
        .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
        .groupBy(col("band"), col("sig"))
        .agg(countDistinct(col("doc_id")).as("ns"))
      val newOver = batchCounts
        .join(ns, Seq("band", "sig"), "left")
        .na.fill(0L, Seq("ns"))
        .where(col("nb") + col("ns") > m.maxBucket)
        .select(col("band"), col("sig"))
      // fold only when a key actually crossed (cap crossings are
      // boilerplate-rare; the common batch skips the list rewrite)
      if (!newOver.isEmpty)
        oversized = checkpointed(
          oversizedBuckets(maskedPre).unionAll(newOver).distinct())
      // guard-side id cache rides the same fold
      if (knownIds != null) knownIds = knownIds.unionAll(batchIds)
      standing = standing.unionAll(buckets)
      extensions += 1
      if (extensions % cacheRebaseEvery == 0) {
        // collapse the union trees: one O(standing) materialization per
        // `cacheRebaseEvery` batches keeps plan depth and leaf count flat
        val rebased = standing.localCheckpoint(true)
        base.foreach(_.unpersist(false))
        base = None // checkpoint blocks are GC-reclaimed once dropped
        standing = rebased
        if (knownIds != null) knownIds = knownIds.localCheckpoint(true)
      }
      ()
    }

    /** Release every cache this session owns (loop-termination hook). */
    def close(): Unit = {
      base.foreach(_.unpersist(false))
      base = None
      standing = null
      oversized = null // checkpoint blocks are GC-reclaimed once dropped
      knownIds = null
    }
  }

  /** Open a [[CrossIndexSession]] over an existing index layout. */
  def openCrossIndexSession(spark: SparkSession, dir: String): CrossIndexSession =
    new CrossIndexSession(spark, dir)

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (`pairs(doc_a, doc_b)`): |A ∩ B| / |A ∪ B| over the docs' shingle-key
    * sets.
    *
    * Scale: only candidate pairs (from LSH) are scored — the full O(n²)
    * similarity matrix never materializes (see [[pairOverlapStats]]).
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3): DataFrame =
    // the key sets ignore duplicate shingles: no distinct shuffle
    ngramJaccardFromShingles(shingles(docs, n, dedup = false), pairs)

  /** `ngramJaccard` over a pre-computed shingle set. */
  def ngramJaccardFromShingles(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairOverlapStats(sh, pairs)
      .select(col("doc_a"), col("doc_b"), jaccardOf.as("jaccard"))

  /** Asymmetric containment over a shingle set: `n_inter / n_a` ≈ 1 means
    * doc_a's shingles are (almost) a subset of doc_b's — the signal for
    * quote inclusion / boilerplate subsumption that symmetric Jaccard
    * misses (a short doc fully contained in a long one scores low Jaccard
    * but containment 1.0). Same candidate-only cost model as the Jaccard
    * scorer — one shared stats pass (`pairOverlapStats`). */
  def containmentFromShingles(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairOverlapStats(sh, pairs)
      .select(col("doc_a") +: col("doc_b") +: containmentOf: _*)

  /** Per-candidate-pair overlap statistics `(doc_a, doc_b, n_inter, n_a,
    * n_b)` — the [[overlap]] kernel over the candidate docs' key sets. The
    * shingle table is pruned to candidate docs and aggregated into
    * [[docRows]] (keys only), so the cost is O(candidate shingles), not
    * O(corpus), and no join is keyed on a shingle or its key.
    */
  def pairOverlapStats(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Cache ownership: persist the pair set only if the CALLER hasn't — a
    // caller that persisted `pairs` to score one candidate set with several
    // scorers keeps its cache (we must not unpersist it out from under the
    // second scorer).
    val callerOwned = pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerOwned) pairs else pairs.persist(sl)
    val candDocs = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    val rows = docRows(sh.join(candDocs, Seq("doc_id"), "left_semi"), 0).persist(sl)
    val stats = overlap(p, rows, rows)
    if (callerOwned) materializeThenRelease(stats, rows)
    else materializeThenRelease(stats, p, rows)
  }

  /** Dedup-FIRST near-dup scoring — the production composition: exact-dedup
    * the corpus down to one representative per distinct text, run the whole
    * shingle → LSH → Jaccard chain at REPRESENTATIVE scale, then expand
    * scores back to doc pairs (equal-text pairs score 1.0 by identity, no
    * band or shingle work at all).
    *
    * Emits the same (candidate pair, jaccard) set as the doc-level chain —
    * identical texts share every band, so text-level candidacy ⇔ doc-level
    * candidacy (the only divergence is `maxBucket`, which the doc-level
    * chain trips EARLIER on duplicate-inflated buckets; dedup-first is
    * strictly no-worse on recall).
    *
    * Scale: every super-linear stage (shingle distinct, 8× minhash md5,
    * band self-join, intersection joins) runs on distinct texts — in a
    * corpus where the average text has k copies that is a k× input cut and
    * a k²× candidate-join cut; the doc-pair expansion joins are linear in
    * the OUTPUT size, which is the floor for this operator's contract.
    * (Measured on the 10×-docs probe, k≈10: 19.4 s → ~6 s.)
    */
  def nearDupScores(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    dedupFirst(docs, n, numHashes, bandSize, maxBucket, mode = "jaccard")

  /** EXACT near-dup ground truth — EVERY pair with n-gram Jaccard ≥
    * `minJaccard`, found by the shared-key self-join (a pair with J > 0
    * must share a shingle key, so the set is complete) and scored by the
    * [[overlap]] kernel on the same per-doc key sets the LSH chain scores,
    * so "truth" and "found" share one key space and can never diverge on
    * a hash collision.
    *
    * The measuring stick, not the operator (the dedup-side analogue of
    * `sim_recall`'s brute baseline — production dedup runs the LSH
    * operators; this quantifies what their banding loses). EXACT but not
    * naive: prefix filtering (see body) keeps the candidate join off the
    * hot keys, so the cost is O(Σ_prefix-key docs²) — still worst-case
    * quadratic on a corpus of mutual near-dups (that is what "complete
    * truth" costs), but no longer blown up by corpus-wide boilerplate
    * shingles. */
  def exactNearDupTruth(docs: DataFrame, minJaccard: Double,
      n: Int = 3): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1]: $minJaccard")
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rows = docRowsOf(docs, n, numHashes = 0).persist(sl)
    val sk = rows.select(col("doc_id"), size(col("ks")).as("n_sh"),
      explode(col("ks")).as("sk"))
    // PREFIX FILTERING (AllPairs/PPJoin, Bayardo 2007 / Xiao 2008) — the
    // candidate join only needs each doc's first |X| − ⌈t·|X|⌉ + 1
    // keys under a GLOBAL rarest-first canonical order (df ASC, sk ASC):
    // a pair with J ≥ t has |A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉ common
    // keys, and if none fell in both prefixes the commons would all sit
    // in a suffix shorter than that — contradiction, so the prefix join is
    // COMPLETE for J ≥ t. Rarest-first puts the hot keys at the END of
    // every doc's order, so the corpus-wide boilerplate shingles that make
    // the naive self-join quadratic never enter the candidate join at
    // all; exact scoring then runs the kernel on candidates only.
    val dfc = sk.groupBy(col("sk")).agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("sk"))
    val prefix = sk.join(dfc, "sk")
      .withColumn("rnk", row_number().over(byDoc))
      .where(col("rnk") <=
        col("n_sh") - ceil(lit(minJaccard) * col("n_sh")) + 1)
      .select(col("doc_id"), col("sk"))
      .persist(sl)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Threshold on the UNROUNDED ratio (round only the emitted column):
    // the prefix-filter completeness theorem holds for true J >= t, so
    // filtering on a 6-decimal rounding would make boundary membership
    // candidate-set-dependent for thresholds not representable in 6
    // decimals (a true-J >= t pair could round below t and drop; a
    // just-below pair that rounds up would be included only if it
    // happened to survive the prefix join).
    val out = overlap(cand, rows, rows)
      .where(jaccardRatio >= minJaccard)
      .select(col("doc_a"), col("doc_b"), jaccardOf.as("jaccard"))
    materializeThenRelease(out, rows, prefix)
  }

  /** Candidate pairs only, dedup-first: the pair set of `lshCandidatePairs`
    * at distinct-text cost (same equivalence argument as `nearDupScores`,
    * minus the Jaccard measurement). Feed to pair scorers with their own
    * metric (`editSimilarity`, embedding kernels). */
  def lshCandidatePairsDedup(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    dedupFirst(docs, n, numHashes, bandSize, maxBucket, mode = "none")

  /** Containment scoring at dedup-first cost. Containment is ASYMMETRIC
    * (cont_a = n_inter/n_a), so the expansion back to doc pairs must track
    * orientation: a rep-level score (ra, rb) expands to member pair
    * (ia, ib) re-canonicalized as (least, greatest) — when the member order
    * flips relative to the rep order, (cont_a, cont_b) swap with it.
    * Within-group pairs are identity: equal texts ⇒ n_inter = n_a = n_b ⇒
    * containment exactly (1.0, 1.0), no shingle work. */
  def containmentDedup(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame =
    dedupFirst(docs, n, numHashes, bandSize, maxBucket, mode = "containment")

  /** [[containmentDedup]] with the `editSimilarityGated` recipe in front
    * of the overlap kernel — the dup-dense-corpus composition for a
    * THRESHOLDED containment contract: candidate pairs must agree on
    * ≥ `minAgree` of the `numHashes` seed minima (an unbiased Jaccard
    * estimate, read from the same rep rows that carry the key sets — no
    * second aggregate, no shingle or text I/O), and survivors score
    * through the kernel with a `max(cont_a, cont_b) ≥ minCont` output
    * floor. The agreement floor filters the rep pair spine before the
    * kernel joins the key sets, so no intersection runs on a pair it
    * drops, and the output floor shrinks the member-pair expansion joins.
    *
    * Contract boundary, stated plainly: seed agreement estimates
    * JACCARD, and a small document contained in a much larger one has
    * high containment but LOW Jaccard (n_inter/n_union ≈ n_a/n_b) — an
    * extreme-asymmetry pair can fail the agreement floor despite
    * clearing `minCont`. At `minAgree = 4` the floor encodes "estimated
    * Jaccard ≥ 0.5", the near-dup regime; callers hunting subset
    * inclusion across very different sizes should use the ungated
    * [[containmentDedup]] (or `minAgree` low enough for their size
    * ratio). DedupSpec pins the identity (gated == ungated ∩ floor) at
    * fixture scale; EXPLAIN.md "Containment gate A/B" has the sf0.1 cost
    * A/B. */
  def containmentDedupGated(
      docs: DataFrame,
      minCont: Double = 0.5,
      minAgree: Int = 4,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    require(minCont <= 1.0, s"minCont $minCont > 1.0: no pair can pass")
    require(minAgree >= 0 && minAgree <= numHashes,
      s"minAgree $minAgree outside [0, $numHashes]")
    val ctx = dedupPrelude(docs, n, numHashes, bandSize, maxBucket)
    val agreed = withRows(ctx.repPairs, ctx.rows, ctx.rows)
      .where(agreement(numHashes) >= minAgree)
      .select(col("doc_a"), col("doc_b"))
    val repOut = overlap(agreed, ctx.rows, ctx.rows)
      .select(col("doc_a") +: col("doc_b") +: containmentOf: _*)
      .where(greatest(col("cont_a"), col("cont_b")) >= minCont)
    materializeThenRelease(
      expand(ctx, repOut, containmentCarry, containmentIdentity),
      ctx.keyed, ctx.rows)
  }

  /** The dedup-first state every rep-level consumer shares: `keyed`
    * (doc_id, th), `rep` (th, rep) for the groups within the cap,
    * `capped` (doc_id, th) without the mega-groups, the REP rows `rows`
    * ([[docRows]]) and their LSH candidate pairs `repPairs`. */
  private final case class DedupCtx(keyed: DataFrame, rep: DataFrame,
      capped: DataFrame, rows: DataFrame, repPairs: DataFrame)

  /** Rep selection, mega-group cap, banding and the band self-join over
    * `keyed` (doc_id, th) — the one dedup-first body that
    * [[dedupPrelude]] (corpus operators) and
    * [[CrossIndexSession.scoreBatch]] (micro-batch) share. `pin`
    * materializes the text-hash groups; `repRows` builds the per-doc rows
    * of the rep ids it is given.
    *
    * One text-hash aggregate serves BOTH the cap and rep selection: the
    * group min is the min over capped rows exactly because the cap drops
    * whole groups. Pathological-boilerplate guard, mirrored from the
    * banded chain's bucket cap: text groups above `maxBucket` copies emit
    * NO pairs — not within their group (a 1M-copy text must not emit 10¹²
    * pairs) and not via expansion (each cross pair would multiply k×).
    * `exact` already reports such a group as one (keep_id, n_copies) row;
    * pair-wise treatment of mega-groups belongs to a dedicated clustering
    * pass. A mega-group's rep must not enter the LSH graph at all: its
    * member docs are all excluded from `capped`, so any pair or CC edge it
    * touched would score/bridge/label docs that never appear in the
    * output — a mega-group rep winning a component's min would mint a
    * `cluster_id` that is not a `doc_id` of any emitted row, breaking the
    * keep = (doc_id == cluster_id) convention. The rep rows' buckets cap
    * over REP rows only. */
  private def dedupCtx(keyed: DataFrame, numHashes: Int, bandSize: Int,
      maxBucket: Int, pin: DataFrame => DataFrame)(
      repRows: DataFrame => DataFrame): DedupCtx = {
    val g = pin(keyed.groupBy(col("th"))
      .agg(count(lit(1)).as("k"), min(col("doc_id")).as("rep")))
    val bigGroups = g.where(col("k") > maxBucket).select(col("th"))
    val capped = keyed.join(broadcast(bigGroups), Seq("th"), "left_anti")
    val rep = g.where(col("k") <= maxBucket).select(col("th"), col("rep"))
    val rows = repRows(rep.select(col("rep").as("doc_id")))
    DedupCtx(keyed, rep, capped, rows,
      bucketPairs(cappedBands(rows, numHashes, bandSize, maxBucket)))
  }

  /** [[dedupCtx]] over a corpus: one `(doc_id, th)` scan feeds rep
    * selection, both expansion joins and the within-group self-join, and
    * the rep rows come from one shingle scan of the reps only (the k× cut
    * of a k-copy corpus). Callers release `keyed` and `rows`. */
  private def dedupPrelude(docs: DataFrame, n: Int, numHashes: Int,
      bandSize: Int, maxBucket: Int, keys: Boolean = true): DedupCtx = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("th")).persist(sl)
    dedupCtx(keyed, numHashes, bandSize, maxBucket, identity) { reps =>
      docRowsOf(docs.join(reps, Seq("doc_id"), "left_semi"), n, numHashes, keys)
        .persist(sl)
    }
  }

  /** Expand rep-level scores `repOut(doc_a, doc_b, …)` to member doc
    * pairs: map rep ids back to text hashes, expand each text pair to
    * every member doc pair (re-canonicalized as (least, greatest) — member
    * ids need not sort the way rep ids do; `carry` may read `ia`/`ib` to
    * swap asymmetric columns), then add every within-group pair with the
    * identity scores `within` (equal texts ⇒ equal key sets). */
  private def expand(ctx: DedupCtx, repOut: DataFrame,
      carry: Seq[org.apache.spark.sql.Column],
      within: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val cross = repOut
      .join(ctx.rep.select(col("rep").as("doc_a"), col("th").as("tha")), "doc_a")
      .join(ctx.rep.select(col("rep").as("doc_b"), col("th").as("thb")), "doc_b")
      .join(ctx.capped.select(col("th").as("tha"), col("doc_id").as("ia")), "tha")
      .join(ctx.capped.select(col("th").as("thb"), col("doc_id").as("ib")), "thb")
      .select(least(col("ia"), col("ib")).as("doc_a") +:
        greatest(col("ia"), col("ib")).as("doc_b") +: carry: _*)
    val equal = ctx.capped.as("x")
      .join(ctx.capped.as("y"),
        col("x.th") === col("y.th") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +:
        within: _*)
    cross.unionAll(equal)
  }

  /** Containment carried through [[expand]]: when the member order flips
    * relative to the rep order the asymmetric pair swaps with it. */
  private def containmentCarry: Seq[org.apache.spark.sql.Column] = {
    val flipped = col("ia") > col("ib")
    Seq(when(flipped, col("cont_b")).otherwise(col("cont_a")).as("cont_a"),
      when(flipped, col("cont_a")).otherwise(col("cont_b")).as("cont_b"))
  }

  private def containmentIdentity: Seq[org.apache.spark.sql.Column] =
    Seq(lit(1.0).as("cont_a"), lit(1.0).as("cont_b"))

  /** The dedup-first tail over a [[dedupCtx]]: score the rep pairs with
    * the [[overlap]] kernel (`mode` jaccard or containment; `none` keeps
    * the bare pairs) and [[expand]] them to doc pairs. */
  private def dedupFirstOn(ctx: DedupCtx, mode: String): DataFrame = {
    def scored(cols: Seq[org.apache.spark.sql.Column]) =
      overlap(ctx.repPairs, ctx.rows, ctx.rows)
        .select(col("doc_a") +: col("doc_b") +: cols: _*)
    mode match {
      case "jaccard" => expand(ctx, scored(Seq(jaccardOf.as("jaccard"))),
        Seq(col("jaccard")), Seq(lit(1.0).as("jaccard")))
      case "containment" => expand(ctx, scored(containmentOf),
        containmentCarry, containmentIdentity)
      case "none" => expand(ctx, ctx.repPairs, Nil, Nil)
      case other => throw new IllegalArgumentException(s"dedupFirst mode: $other")
    }
  }

  private def dedupFirst(docs: DataFrame, n: Int, numHashes: Int,
      bandSize: Int, maxBucket: Int, mode: String): DataFrame = {
    val ctx = dedupPrelude(docs, n, numHashes, bandSize, maxBucket,
      keys = mode != "none")
    materializeThenRelease(dedupFirstOn(ctx, mode), ctx.keyed, ctx.rows)
  }

  /** Benchmark decontamination: corpus docs sharing ≥ 1 word n-gram with an
    * eval/benchmark set, with the count of distinct shared shingles — the
    * standard training-data hygiene pass (eval questions leaking into the
    * training corpus inflate benchmark scores).
    *
    * Scale: the eval side is benchmark-scale (thousands of docs), so its
    * distinct shingle set broadcasts; the corpus shingle stream is
    * semi-joined against it with NO shuffle of corpus data, and the per-doc
    * hit count is map-side combined. One corpus scan total; corpus size
    * never multiplies anything.
    */
  def contaminationHits(corpus: DataFrame, evalSet: DataFrame, n: Int = 3): DataFrame =
    shingles(corpus, n) // distinct (doc_id, shingle)
      // eval side: dedup = false — the only consumer is the shingle-level
      // distinct below, so the per-(doc, shingle) distinct shuffle that
      // shingles(dedup = true) would add first is pure waste.
      .join(shingles(evalSet, n, dedup = false).select(col("shingle")).distinct(),
        Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))

  /** Substring-level decontamination: corpus docs containing a VERBATIM
    * passage (≥ k + w − 1 chars, the winnowing detection floor) from the
    * eval/benchmark set, with shared-fingerprint counts — the char-level
    * sibling of `contaminationHits` (word n-grams match ANY shared
    * shingle; this matches copied passages, robust to tokenization and
    * whitespace differences that shred word shingles at the edit points).
    *
    * Scale: fingerprinting both sides is per-row projection work
    * (`winnowedFingerprints`); the eval set is benchmark-scale, so its
    * distinct fingerprints broadcast into a LeftSemi build side and the
    * corpus never shuffles — the exact `contaminationHits` plan shape. */
  def substringContamination(
      corpus: DataFrame, evalSet: DataFrame, k: Int = 32, w: Int = 16): DataFrame =
    winnowedFingerprints(corpus.select(col("doc_id"), col("text")), k, w)
      .join(winnowedFingerprints(evalSet.select(col("doc_id"), col("text")), k, w)
          .select(col("fp")).distinct(),
        Seq("fp"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"))

  /** SimHash (16-bit variant): for bit j, each token votes +1 if the high
    * bit of hex digit j of `md5(token)` is set, else −1; bit j of the
    * signature is 1 iff the integer vote sum is positive. Integer votes →
    * bit-exact across engines regardless of aggregation order.
    *
    * Scale: one token explode → ONE groupBy(doc_id) with 16 parallel
    * integer vote sums (map-side combined; no ×16 row blowup) → one
    * 16-term concat projection. Shuffle O(docs × 16) ints.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val votes = (0 until 16).map { j =>
      sum(when(substring(col("h"), j + 1, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"s$j")
    }
    val sig = concat((0 until 16).map(j =>
      when(col(s"s$j") > 0, lit("1")).otherwise(lit("0"))): _*)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** SimHash 64-bit signature as one BIGINT: bit j (j = 0 is the most
    * significant) takes hex digit `j/4` of `md5(token)`, bit `3 - j%4` of
    * that digit's value, as a ±1 vote per token occurrence; bit j of the
    * signature is 1 iff the integer vote sum is positive. Integer votes →
    * bit-exact across engines regardless of aggregation order.
    *
    * 64 bits (vs a 16-bit toy signature) is what makes Hamming-band
    * blocking sub-quadratic: the 4×16-bit band key space is 4×65536, so
    * blocking groups stay small instead of collapsing into ~n/16 buckets.
    *
    * Scale: one token explode → ONE groupBy(doc_id) carrying 64 parallel
    * integer vote sums (map-side combined; no ×64 row blowup, no
    * intermediate (doc, bit) stage) → one 64-term OR projection per doc;
    * shuffle O(docs × 64) ints, independent of corpus text size.
    */
  def simhash64(docs: DataFrame): DataFrame = {
    val votes = (0 until 64).map { j =>
      sum(when(expr(
        s"shiftright(CAST(conv(substring(h, ${j / 4 + 1}, 1), 16, 10) AS INT), ${3 - j % 4}) % 2 = 1"), 1)
        .otherwise(-1)).as(s"s$j")
    }
    val sigint = (0 until 64)
      .map(j => when(col(s"s$j") > 0, lit(1L << (63 - j))).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sigint.as("sigint"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming over 64-bit
    * signatures (`simhash64` output: `(doc_id, sigint)`).
    *
    * Scale: the self-join is blocked on the 4 16-bit bands of the
    * signature — by pigeonhole, any pair with < 4 mismatching bits agrees
    * exactly on at least one band, so the join key prunes the O(n²) space
    * with zero recall loss for maxHamming ≤ 3. The band key space is
    * 4×65536 (vs 4×16 for a 16-bit signature), so bucket sizes track true
    * near-dup density instead of forcing ~n²/16 candidates. The join is a
    * plain shuffle equi-join on (band, block) — no corpus broadcast; AQE
    * splits any residual hot bucket.
    *
    * Dedup WITHOUT a distinct shuffle: a pair matching in several bands
    * would be emitted once per band, but both signatures are in the join
    * row, so each row recomputes which band is the FIRST match and emits
    * only there — pure codegen'd arithmetic replacing a pair-set exchange.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "16-bit-band pigeonhole is only complete for maxHamming < 4")
    // Persist: both self-join sides read the SAME signature computation —
    // without it the whole corpus-scan + vote aggregation runs twice.
    val keyed = sigs
      .select(col("doc_id"), col("sigint"), explode(expr(
        "transform(sequence(0, 3), q -> named_struct('q', q, 'blk', shiftright(sigint, (3 - q) * 16) & 65535))")).as("k"))
      .select(col("doc_id"), col("sigint"), col("k.q"), col("k.blk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val xor = col("a.sigint").bitwiseXOR(col("b.sigint"))
    val firstMatch = (0 until 4).foldRight(lit(99): org.apache.spark.sql.Column) {
      (q, rest) => when(shiftright(xor, (3 - q) * 16).bitwiseAND(lit(65535L)) === 0, lit(q)).otherwise(rest)
    }
    val out = keyed.as("a")
      .join(keyed.as("b"),
        col("a.q") === col("b.q") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .where(col("a.q") === firstMatch)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
    materializeThenRelease(out, keyed)
  }

  /** Blocking-miss evaluation of the 16-bit-band pigeonhole blocking in
    * the LOOSENED Hamming regime (VERDICT r15 #6): [[simhashPairs]] /
    * [[simhashCrossPairs]] are COMPLETE for hamming ≤ 3 by pigeonhole
    * (4 bands, ≤ 3 flips → one band untouched); the realistic re-encode
    * regime (JPEG quality shift, PCM resample/retouch) lands at 4–8,
    * where completeness no longer holds — this operator MEASURES what
    * the banding misses there. `truth` = brute all-pairs hamming over
    * the signature table; `found` = the SAME banded candidate join the
    * production blockers run (sans the ≤ 3 gate), thresholded at each H.
    * found ⊆ truth always (banding only misses, never invents — the
    * hamming filter is exact), so precision is 1.0 by construction and
    * the row reports cumulative recall per H in [0, maxH].
    *
    * Scale, stated plainly: the truth side is O(n²) BY DESIGN — this is
    * the recall monitor (`exactNearDupTruth`'s posture on the signature
    * modality), run over an eval fixture or md5-bucket sample
    * (`dd_recall_sampled`'s sampling discipline applies verbatim: a
    * pair's hamming doesn't depend on other docs), never the production
    * path. No prefix trick exists for 64-bit signatures — byte-blocking
    * is complete only to H = 7 and nibble-blocking degenerates on a
    * 16-value alphabet — so the brute join is the honest truth. */
  def simhashBlockingRecall(sigs: DataFrame, maxH: Int = 8): DataFrame = {
    require(maxH >= 0 && maxH <= 64, s"maxH must be in [0, 64]: $maxH")
    val spark = sigs.sparkSession
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = sigs.select(col("doc_id"), col("sigint")).persist(sl)
    val xorAB = col("a.sigint").bitwiseXOR(col("b.sigint"))
    val truth = s.as("a")
      .join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(xorAB).as("hamming"))
      .where(col("hamming") <= maxH)
    // the production blocking verbatim (simhashPairs' keyed explode +
    // first-matching-band dedup), WITHOUT the completeness gate
    val keyed = s
      .select(col("doc_id"), col("sigint"), explode(expr(
        "transform(sequence(0, 3), q -> named_struct('q', q, 'blk', shiftright(sigint, (3 - q) * 16) & 65535))")).as("k"))
      .select(col("doc_id"), col("sigint"), col("k.q"), col("k.blk"))
      .persist(sl)
    val firstMatch = (0 until 4).foldRight(lit(99): org.apache.spark.sql.Column) {
      (q, rest) => when(shiftright(xorAB, (3 - q) * 16).bitwiseAND(lit(65535L)) === 0, lit(q)).otherwise(rest)
    }
    val blocked = keyed.as("a")
      .join(keyed.as("b"),
        col("a.q") === col("b.q") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .where(col("a.q") === firstMatch)
      .select(bit_count(xorAB).as("hamming"))
      .where(col("hamming") <= maxH)
    val hs = spark.range(0, maxH + 1L)
      .select(col("id").cast("long").as("max_hamming"))
    def cumulative(pairs: DataFrame, as: String): DataFrame = {
      val byH = pairs.groupBy(col("hamming")).agg(count(lit(1)).as("n"))
      hs.as("h")
        .join(byH.as("c"), col("c.hamming") <= col("h.max_hamming"), "left")
        .groupBy(col("h.max_hamming"))
        .agg(coalesce(sum(col("c.n")), lit(0L)).as(as))
    }
    val out = cumulative(truth.select(col("hamming")), "n_truth")
      .join(cumulative(blocked, "n_found"), Seq("max_hamming"))
      .select(col("max_hamming"), col("n_truth"), col("n_found"),
        round(col("n_found").cast("double") / col("n_truth"), 6).as("recall"))
      .orderBy(col("max_hamming"))
    materializeThenRelease(out, s, keyed)
  }

  /** CROSS-side Hamming pairs over 64-bit signatures: `(batch_id,
    * corpus_id, hamming)` for every (batch, standing) pair at distance
    * ≤ `maxHamming` — [[simhashPairs]]' 16-bit-band pigeonhole blocking
    * with the self-join replaced by a batch×standing equi-join on
    * (band, block), so within-side pairs are NEVER generated (the
    * standing corpus is not re-paired against itself per arriving
    * batch — [[crossNearDup]]'s operational contract, applied to the
    * signature modality). Pigeonhole completeness is the same: ≤ 3
    * differing bits cannot touch all 4 blocks, so every true pair
    * collides in ≥ 1 band. The per-pair first-matching-band arithmetic
    * replaces a distinct shuffle exactly as in [[simhashPairs]].
    * Both inputs are `(doc_id, sigint)`; signature tables are
    * hash-scale (8 bytes/doc), so AQE broadcasts the batch side when
    * it is small. */
  def simhashCrossPairs(standing: DataFrame, batch: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "16-bit-band pigeonhole is only complete for maxHamming < 4")
    def keyed(df: DataFrame) = df
      .select(col("doc_id"), col("sigint"), explode(expr(
        "transform(sequence(0, 3), q -> named_struct('q', q, 'blk', shiftright(sigint, (3 - q) * 16) & 65535))")).as("k"))
      .select(col("doc_id"), col("sigint"), col("k.q"), col("k.blk"))
    val xor = col("b.sigint").bitwiseXOR(col("c.sigint"))
    val firstMatch = (0 until 4).foldRight(lit(99): org.apache.spark.sql.Column) {
      (q, rest) => when(shiftright(xor, (3 - q) * 16).bitwiseAND(lit(65535L)) === 0, lit(q)).otherwise(rest)
    }
    keyed(batch).as("b")
      .join(keyed(standing).as("c"),
        col("b.q") === col("c.q") && col("b.blk") === col("c.blk"))
      .where(col("b.q") === firstMatch)
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"),
        bit_count(xor).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Winnowed character-k-gram fingerprints (doc_id, fp) — the robust
    * winnowing scheme (Schleimer et al., SIGMOD 2003, the MOSS algorithm):
    * hash every k-char gram, slide a w-gram window, keep each window's
    * MINIMUM hash, dedup. Guarantees: any shared substring of length
    * ≥ k + w − 1 yields ≥ 1 shared fingerprint (detection floor), and
    * fingerprint density is ~2/(w+1) of the gram count — the tunable
    * storage/recall dial. This is the CHARACTER-level complement to word
    * -shingle minhash: it finds verbatim copied PASSAGES (licenses,
    * boilerplate, quoted blocks) that word-level Jaccard under-scores in
    * otherwise-different documents — the scalable approximation of
    * suffix-array substring dedup (Lee et al. 2022).
    *
    * Plan shape: the ENTIRE per-doc computation — gram hashes, window
    * minima, dedup — is one projection of nested higher-order functions
    * (transform/slice/array_min/array_distinct) over the text column:
    * zero exchanges, codegen-friendly, embarrassingly parallel at any
    * scale. The only shuffle in any consumer is on the emitted
    * (doc_id, fp) rows. The gram hash is the engine-standard 15-hex md5
    * prefix as BIGINT, so the DuckDB oracle reproduces fingerprints
    * bit-for-bit. Docs shorter than k yield their whole text as the one
    * gram; windows shorter than w take the min of what exists (the
    * standard short-input degeneration, mirrored in SQL by the same
    * `greatest(1, …)` bounds). */
  def winnowedFingerprints(docs: DataFrame, k: Int = 32, w: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    docs.select(col("doc_id"),
      explode(call_function("winnow_fps", col("text"), lit(k), lit(w))).as("fp"))
  }

  /** Cross-doc substring-duplication pairs: documents sharing ≥ `minShared`
    * winnowed fingerprints, with the shared count — the detector for
    * copied passages across an otherwise-deduplicated corpus.
    *
    * Scale: DEDUP-FIRST, like every pair scorer here — fingerprinting,
    * the bucket join, and the shared-count aggregate all run at
    * REPRESENTATIVE scale (one doc per distinct text): equal texts share
    * IDENTICAL fingerprint sets by construction, so within-group member
    * pairs are identity (n_shared = the text's own fingerprint count,
    * emitted iff ≥ `minShared`) and cross pairs inherit their text
    * pair's count through the member expansion. In a k-copy corpus that
    * is a k² cut on the bucket join. Mega text groups (> `maxBucket`
    * copies) are excluded wholesale, mirroring `dedupPrelude`; the
    * dd_substring oracle replays these exact semantics (rep-counted
    * cap, uncapped within-group counts), so engine and oracle agree AT
    * the cap boundary, not just below it. The fp-bucket cap counts reps —
    * ecosystem boilerplate shared by > `maxBucket` DISTINCT texts is
    * capped + routed to a dedicated pass, never k² pairs. `minShared`
    * is applied at the aggregate, so one lucky hash collision never
    * pairs two documents. */
  def substringDupPairs(
      docs: DataFrame,
      k: Int = 32,
      w: Int = 16,
      minShared: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("th")).persist(sl)
    val bigGroups = keyed.groupBy(col("th")).agg(count(lit(1)).as("gk"))
      .where(col("gk") > maxBucket).select(col("th"))
    val capped = keyed.join(broadcast(bigGroups), Seq("th"), "left_anti")
    val rep = capped.groupBy(col("th")).agg(min(col("doc_id")).as("rep"))
    val repDocs = docs.join(rep.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val fps = winnowedFingerprints(repDocs.select(col("doc_id"), col("text")), k, w)
      .persist(sl)
    val tooBig = fps.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n"))
      .where(col("n") > maxBucket).select(col("fp"))
    val cappedFps = fps.join(broadcast(tooBig), Seq("fp"), "left_anti")
    val repPairs = cappedFps.as("a")
      .join(cappedFps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
    // Cross-text candidates expand to member pairs re-canonicalized as
    // (least, greatest); n_shared is symmetric, so no orientation carry.
    val cross = repPairs
      .join(rep.select(col("rep").as("doc_a"), col("th").as("tha")), "doc_a")
      .join(rep.select(col("rep").as("doc_b"), col("th").as("thb")), "doc_b")
      .join(capped.select(col("th").as("tha"), col("doc_id").as("ia")), "tha")
      .join(capped.select(col("th").as("thb"), col("doc_id").as("ib")), "thb")
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("n_shared"))
    // Within-group pairs: equal texts share their WHOLE fingerprint set —
    // n_shared is the rep's fp count (uncapped: a doc always shares its
    // own boilerplate with its own copies), gated by the same floor.
    val fpCount = fps.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("doc_id").as("rep"), col("n_shared"))
    val within = capped.as("x")
      .join(capped.as("y"),
        col("x.th") === col("y.th") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), col("x.th").as("th"))
      .join(rep.join(fpCount, Seq("rep")).select(col("th"), col("n_shared")), Seq("th"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
    materializeThenRelease(cross.unionAll(within), keyed, fps)
  }

  /** EXACT duplicated-substring spans (the ExactSubstr semantics of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — there via a suffix array): every
    * length-`L` character window that occurs at 2+ positions corpus-wide
    * is a duplicate; all its occurrences EXCEPT the globally first
    * (minimum `(doc_id, pos)`) are marked, and per document the marked
    * positions merge (overlap or adjacency) into maximal half-open spans
    * `[span_start, span_end)`, 1-based. The exact counterpart of the
    * winnowing pipeline ([[winnowedFingerprints]] /
    * [[substringDupPairs]]): winnowing SAMPLES fingerprints to find
    * near-dup document PAIRS cheaply; this finds every exactly-repeated
    * CHARACTER RANGE — the thing a training pipeline actually cuts
    * ([[removeSpans]]).
    *
    * Scale shape — every stage linear in corpus characters, no pair join
    * anywhere, so unlike the pair scorers NO mega-group cap is needed (a
    * window repeated a million times costs O(occurrences), never
    * O(occurrences²)); dedup-first: exact text copies short-circuit to a
    * whole-document span from md5-keyed metadata and the window pipeline
    * runs at DISTINCT-text scale (provably identical output — see the
    * inline note):
    *   1. one zero-exchange projection per doc computes the per-position
    *      window hash with the native `window_hash64` rolling kernel
    *      (O(len) per doc — the HOF substring spelling is O(len²), see
    *      the kernel's scaladoc and EXPLAIN.md "Round 11: exact-substring
    *      dedup") — 8 bytes per position
    *      leave the scan, not `L` chars, and the position table is never
    *      cached (it is ~24× the corpus; both consumers re-derive it
    *      from the columnar scan);
    *   2. hashes repeated ≥2× survive a map-side-combinable count (in
    *      natural corpora a small fraction of positions);
    *   3. only survivors rematerialize window TEXT (positions regroup
    *      per doc so each doc's text is read once more), and the final
    *      group-by is on the exact substring — an xxhash64 collision
    *      only lets a unique window into this stage, where its exact
    *      group has size 1 and drops. The result therefore contains no
    *      engine-private hash and is exact-match, not
    *      exact-modulo-hash (the file-header determinism contract);
    *   4. span merging is one `lag` window per doc — keyed on the
    *      `doc_id` the survivors already carry.
    */
  def exactSubstringSpans(docs: DataFrame, L: Int = 40): DataFrame = {
    require(L >= 2 && L <= 10000, s"window length $L out of range")
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    val base = docs.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= L)
    // Dedup-first (the engine-wide doctrine): an exact COPY of an earlier
    // text has every window already present in its representative
    // (min doc_id per distinct text), so its marked set is all positions
    // and its span is the whole document — emitted directly from the
    // md5-keyed metadata, zero window work. The window pipeline then runs
    // at DISTINCT-text scale. Semantics-preserving: the global
    // first-occurrence election is unchanged (a copy's (doc_id, pos) is
    // always ordered after its rep's identical (pos) instance), and a
    // window shared only between a rep and its own copies is correctly
    // NOT marked in the rep (its rep-scale count is 1, and full-corpus
    // semantics keep the globally-first instance — the rep's).
    val keyed = base.select(col("doc_id"),
      length(col("text")).cast("long").as("n"), md5(col("text")).as("th"))
    val rep = keyed.groupBy(col("th")).agg(min(col("doc_id")).as("rep"))
    val copySpans = keyed.join(rep, "th")
      .where(col("doc_id") =!= col("rep"))
      .select(col("doc_id"), lit(1L).as("span_start"),
        (col("n") + 1).as("span_end"))
    val d = base.join(rep.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // (doc_id, pos, h): pos is 1-based; window_hash64 element i covers
    // chars [i+1, i+1+L). The native one-pass roll, NOT
    // transform(sequence(...), p -> xxhash64(substring(text, p, L))) —
    // substring's per-call byte walk makes the HOF form O(len²) per doc
    // (the winnow_fps cliff: 5 KB docs 1.7 s → 50 KB 120 s).
    //
    // Deliberately NOT persisted: the all-positions table is ~24 bytes
    // per corpus CHARACTER (doc_id, pos, h) — 24× the corpus itself — so
    // caching it inverts the memory economics at any real scale
    // (the book-length probe OOM'd exactly here at 50 KB docs before this
    // was a recompute; EXPLAIN.md "Round 11: exact-substring dedup").
    // The projection is one O(len) rolling scan (~85 MB/s
    // measured), so each of its two consumers re-derives it from the
    // (columnar, compressed) parquet scan instead; the only
    // corpus-proportional state lives in disk-backed shuffles.
    def hashes: DataFrame = d
      .select(col("doc_id"), posexplode(expr(s"window_hash64(text, $L)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val dupH = hashes.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("h"))
    val survivors = hashes.join(dupH, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
    // char_windows extracts ALL survivor windows in one offset walk —
    // per-position substring would be O(len²) again on a fully-duplicated
    // doc, where every position survives the pre-filter
    val wins = survivors.join(d, "doc_id")
      .select(col("doc_id"), explode(expr(
        s"zip_with(ps, char_windows(text, ps, $L), " +
          "(p, w) -> struct(p AS pos, w AS win))")).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
    val groups = wins.groupBy(col("win"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("c") > 1)
      .select(col("win"), col("first"))
    val marked = wins.join(groups, "win")
      .where(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    materializeThenRelease(mergeSpans(marked, L).unionAll(copySpans))
  }

  /** Merge marked window positions (`(doc_id, pos)`, each covering chars
    * `[pos, pos+L)`) into maximal half-open spans per doc — the islands
    * merge both substring-span operators end on: one `lag` window keyed
    * on the `doc_id` the marked rows already carry. */
  private def mergeSpans(marked: DataFrame, L: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byDoc).isNull
          .or(col("pos") > lag(col("pos"), 1).over(byDoc) + L), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** EXACT substring DECONTAMINATION spans: every corpus position whose
    * length-`L` character window occurs VERBATIM anywhere in the eval
    * set is marked (every occurrence — contamination has no "first
    * keeps"), and marked positions merge into maximal per-doc spans that
    * [[removeSpans]] can cut. The exact sibling of
    * [[substringContamination]] (winnowing-sampled, pair-level) and of
    * [[exactSubstringSpans]] (within-corpus): this is the train/test
    * leakage surgery of Lee et al. 2021 §decontamination.
    *
    * Scale: the corpus side is the [[exactSubstringSpans]] shape (native
    * rolling hashes, nothing cached); the EVAL side is small by contract
    * (a benchmark suite, not a corpus), so its distinct window hashes
    * and window texts broadcast into a LeftSemi — the corpus never
    * shuffles by hash at all, only the (tiny) candidate survivor set
    * regroups. Dedup-first: spans depend only on the TEXT, so they are
    * computed once per distinct corpus text and expanded to every copy
    * by md5-key join. */
  def exactContaminationSpans(corpus: DataFrame, evalSet: DataFrame,
      L: Int = 40): DataFrame = {
    require(L >= 2 && L <= 10000, s"window length $L out of range")
    graft.functions.GraftFunctions.ensure(corpus.sparkSession)
    val c = corpus.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= L)
    val e = evalSet.select(col("text")).where(length(col("text")) >= L)
    // spans are a pure function of the text: compute at distinct-text
    // scale, expand to members at the end
    val keyed = c.select(col("doc_id"), md5(col("text")).as("th"))
    val rep = keyed.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
    val d = c.join(rep, Seq("doc_id"), "left_semi")
    val evalHashes = e
      .select(explode(expr(s"window_hash64(text, $L)")).as("h")).distinct()
    val cand = d
      .select(col("doc_id"), posexplode(expr(s"window_hash64(text, $L)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
      .join(broadcast(evalHashes), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
    // exact verify: candidate corpus windows against the eval set's
    // DISTINCT window texts (both sides extracted with one offset walk)
    val evalWins = e.select(explode(expr(
        s"char_windows(text, sequence(CAST(1 AS BIGINT), " +
          s"CAST(length(text) - ${L - 1} AS BIGINT)), $L)")).as("win"))
      .distinct()
    val marked = cand.join(d, "doc_id")
      .select(col("doc_id"), explode(expr(
        s"zip_with(ps, char_windows(text, ps, $L), " +
          "(p, w) -> struct(p AS pos, w AS win))")).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
      .join(broadcast(evalWins), Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // expand rep spans to every exact copy (same text ⇒ same spans)
    val members = keyed.withColumnRenamed("doc_id", "member")
      .join(rep, "th").select(col("doc_id"), col("member"))
    materializeThenRelease(expandSpans(mergeSpans(marked, L), members))
  }

  /** Per-position 60-bit md5 window keys of a doc set (`doc_id, pos, m`)
    * at DISTINCT-text scale, plus the machinery to expand rep results to
    * copies — the shared prelude of the cross-corpus exact-substring
    * forms. md5 equality is the engine's text-equality standard
    * (`exact` groups by md5(text); shingle keys use the same 15-hex
    * prefix), which is what lets a window INDEX store 8 bytes per
    * distinct window and probe batches without shipping window text. */
  private def batchWindowPrelude(batch: DataFrame, L: Int)
      : (DataFrame, DataFrame) = {
    val b = batch.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= L)
    val keyed = b.select(col("doc_id"), md5(col("text")).as("th"))
    val rep = keyed.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
    val d = b.join(rep, Seq("doc_id"), "left_semi")
    val wins = d
      .select(col("doc_id"), posexplode(expr(s"window_md5(text, $L)")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("m"))
    val members = keyed.withColumnRenamed("doc_id", "member")
      .join(rep, "th").select(col("doc_id"), col("member"))
    (wins, members)
  }

  /** Expand rep-scale spans to every exact copy (same text ⇒ same
    * spans). */
  private def expandSpans(spans: DataFrame, members: DataFrame): DataFrame =
    spans.join(members, "doc_id")
      .select(col("member").as("doc_id"), col("span_start"), col("span_end"))

  /** Cross-corpus EXACT duplicated-substring spans: every batch position
    * whose length-`L` window occurs ANYWHERE in the standing corpus is
    * marked (all occurrences — the standing corpus always wins), merged
    * into per-batch-doc spans ready for [[removeSpans]]. The incremental
    * counterpart of [[exactSubstringSpans]]: an arriving batch is cut
    * against what the corpus already contains, without re-examining
    * corpus-internal duplication.
    *
    * Scale: both sides are one `window_md5` projection; the corpus side
    * reduces to its DISTINCT window keys (8 bytes per distinct window —
    * exactly what [[buildExactWindowIndex]] persists, making this form ≡
    * the indexed probe by construction). The recompute form pays the
    * corpus-side distinct aggregate (one disk-backed shuffle of 8-byte
    * keys — unavoidable when no index exists); the INDEXED form is where
    * the corpus side never shuffles at all. The distinct also means a
    * mega-repeated corpus window cannot fan out batch rows. Dedup-first:
    * spans are a pure function of (batch text, corpus window set) —
    * computed per distinct batch text, expanded to copies. */
  def exactCrossDupSpans(standing: DataFrame, batch: DataFrame,
      L: Int = 40): DataFrame = {
    require(L >= 2 && L <= 10000, s"window length $L out of range")
    graft.functions.GraftFunctions.ensure(batch.sparkSession)
    val sWins = standing.select(col("text"))
      .where(length(col("text")) >= L)
      .select(explode(expr(s"window_md5(text, $L)")).as("m")).distinct()
    val (bWins, members) = batchWindowPrelude(batch, L)
    val marked = bWins.join(sWins, Seq("m"), "left_semi")
      .select(col("doc_id"), col("pos"))
    materializeThenRelease(expandSpans(mergeSpans(marked, L), members))
  }

  private def distinctWindowKeys(docs: DataFrame, L: Int): DataFrame =
    docs.select(col("text")).where(length(col("text")) >= L)
      .select(explode(expr(s"window_md5(text, $L)")).as("m")).distinct()

  /** Persist the standing corpus's DISTINCT window-key set — the
    * "index once, probe per batch" form of [[exactCrossDupSpans]]. The
    * index is one LONG column (8 bytes per distinct window before
    * parquet encoding — the suffix-array cost class, on disk, never in
    * memory); the manifest pins `L` so probes can never hash with a
    * different window length than the index.
    *
    * Layout: keys live under `windows/ingest_batch=<id>` partitions
    * (seed = -1), so every contribution is ATTRIBUTABLE: a probe can
    * exclude one ingest batch by partition filter (file-level pruning),
    * which is what makes the streaming loop's at-least-once replays
    * exact ([[graft.streaming.Streams]] `exactDedupIngest`: a replayed
    * micro-batch must not self-match the windows its failed attempt
    * already appended), and a replayed append an idempotent overwrite of
    * its own partition.
    *
    * Crash safety: the replacement index (windows AND manifest) builds
    * complete under `_stage`, and the swap deletes the LIVE MANIFEST
    * FIRST — from that point until the staged manifest's final rename,
    * every probe and append fails loudly on the missing manifest instead
    * of hashing with a stale `L` against new-`L` keys and silently
    * matching nothing. A crash before the manifest delete leaves the old
    * index fully live (the orphaned stage is discarded by the next
    * rebuild); re-running the rebuild completes the swap. */
  def buildExactWindowIndex(corpus: DataFrame, dir: String, L: Int = 40): Unit = {
    require(L >= 2 && L <= 10000, s"window length $L out of range")
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.ensure(spark)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(s"$dir/_stage"), true) // discard any crashed prior rebuild
    distinctWindowKeys(corpus, L)
      .write.mode("overwrite").parquet(s"$dir/_stage/windows/ingest_batch=-1")
    Seq(L).toDF("l").coalesce(1).write.mode("overwrite")
      .json(s"$dir/_stage/manifest")
    // swap: manifest OUT first (probes fail loudly from here), then the
    // windows root — a REBUILD over an appended index must drop every
    // ingest_batch=N partition, or "re-compact to reduce partitions/
    // duplication" would leave stale keys (possibly from a different L or
    // removed docs) marking spurious spans — then staged dirs IN, the
    // manifest's rename last (the index is valid again at that instant)
    fs.delete(p(s"$dir/manifest"), true)
    fs.delete(p(s"$dir/windows"), true)
    require(fs.rename(p(s"$dir/_stage/windows"), p(s"$dir/windows")),
      s"rename $dir/_stage/windows -> $dir/windows failed mid-swap")
    require(fs.rename(p(s"$dir/_stage/manifest"), p(s"$dir/manifest")),
      s"rename $dir/_stage/manifest -> $dir/manifest failed mid-swap")
    fs.delete(p(s"$dir/_stage"), true)
    ()
  }

  /** Grow the window index with an arriving batch's keys — a
    * per-partition write, no global rebuild. With an explicit
    * `ingestBatch` (the streaming loop passes its micro-batch id, >= 0)
    * the write OVERWRITES that partition — replay-idempotent; without
    * one, the next free id BELOW the build's seed `-1` is taken
    * (`-2, -3, …` — single-writer contract, like the keyed layout).
    * The two id spaces are DISJOINT BY CONSTRUCTION: a batch-API append
    * can never occupy an id a stream's micro-batch 0..N will claim, so a
    * stream attaching to a batch-grown index neither overwrites appended
    * keys nor excludes them from its replay probes (the probe excludes
    * only its OWN micro-batch id, which is always >= 0). Keys already
    * present elsewhere re-append as duplicate rows; probes are
    * duplicate-safe, so the stored union stays correct however the index
    * was grown. Re-compact with [[buildExactWindowIndex]] over the full
    * corpus when partition count or duplication matters. */
  def appendToExactWindowIndex(newDocs: DataFrame, dir: String,
      ingestBatch: Long = Long.MinValue): Unit = {
    require(ingestBatch == Long.MinValue || ingestBatch >= 0,
      s"explicit ingestBatch must be a stream micro-batch id >= 0, " +
        s"got $ingestBatch (negative ids are reserved: -1 = build seed, " +
        "<= -2 = auto-keyed batch appends)")
    val spark = newDocs.sparkSession
    graft.functions.GraftFunctions.ensure(spark)
    val l = spark.read.json(s"$dir/manifest").collect()(0)
      .getAs[Long]("l").toInt
    val key = if (ingestBatch >= 0) ingestBatch else {
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(s"$dir/windows")
      val fs = root.getFileSystem(conf)
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("ingest_batch="))
        .map(_.getPath.getName.stripPrefix("ingest_batch=").toLong)
        .foldLeft(-1L)(math.min) - 1
    }
    distinctWindowKeys(newDocs, l)
      .write.mode("overwrite").parquet(s"$dir/windows/ingest_batch=$key")
  }

  /** Owner-side SESSION over a [[buildExactWindowIndex]] layout for the
    * streaming loops (`exactDedupIngest` / `noveltyIngest`) — the
    * [[CrossIndexSession]] pattern on the exact-window ladder: while a
    * loop runs it is the layout's only writer, so the manifest is read
    * once (was a JSON-inference job per probe AND per append) and the
    * standing window-key set (8 bytes/window + its ingest_batch
    * attribution) is read once, kept persisted, and maintained in place
    * as batches land. The replay own-batch exclusion becomes a filter
    * over the cached attribution column, and [[append]] REPLACES cached
    * rows of its batch before unioning (parity with the keyed partition
    * overwrite — a retried batch converges); the union tree collapses
    * every `rebaseEvery` appends. The batch's distinct keys are computed
    * ONCE, serving both the partition write and the cache fold (the
    * dir-based append recomputed them from text). `close()` releases the
    * caches; the loops wire it to the query-termination listener.
    *
    * Size class, stated plainly: the window set is the SUFFIX-ARRAY cost
    * class (8 bytes per distinct window — the heaviest of the loop
    * session caches), so the cache trades the dir-based probe's
    * per-batch REMOTE re-scan for executor-storage residency
    * (MEMORY_AND_DISK — spills, never recomputes through the remote
    * scan). */
  final class WindowIndexSession private[operators] (
      spark: SparkSession, dir: String, rebaseEvery: Int = 32) {
    lazy val windowLength: Int = {
      graft.functions.GraftFunctions.ensure(spark)
      spark.read.json(s"$dir/manifest").collect()(0).getAs[Long]("l").toInt
    }
    private var windows: DataFrame = null // (m, ingest_batch)
    private var extensions = 0

    private def load(): DataFrame = {
      if (windows == null)
        // EAGER checkpoint, not lazy persist: a replayed batch's keyed
        // partition OVERWRITE deletes the files a lazy plan would still
        // reference (SessionSpec pins the retry), so the base must hold
        // its rows with no file lineage before any overwrite can land
        windows = spark.read.parquet(s"$dir/windows")
          .select(col("m"), col("ingest_batch").cast("long").as("ingest_batch"))
          .localCheckpoint(true)
      windows
    }

    /** The standing window keys, with a replayed batch's own partition
      * excluded exactly as the dir-based probes exclude it. */
    def standingWindows(excludeIngestBatch: Option[Long]): DataFrame = {
      val w = load()
      excludeIngestBatch.fold(w)(id => w.where(col("ingest_batch") =!= id))
        .select(col("m"))
    }

    /** `appendToExactWindowIndex` + cache fold in one pass: the batch's
      * distinct keys are eagerly checkpointed (they outlive the batch
      * caches backing them), written as the batch's own partition
      * (overwrite — replays converge), then folded into the cache with
      * same-batch rows replaced. */
    def append(newDocs: DataFrame, ingestBatch: Long): Unit = {
      require(ingestBatch >= 0,
        s"streaming ingest batch id must be >= 0, got $ingestBatch")
      val keys = distinctWindowKeys(newDocs, windowLength).localCheckpoint(true)
      keys.write.mode("overwrite")
        .parquet(s"$dir/windows/ingest_batch=$ingestBatch")
      windows = load().where(col("ingest_batch") =!= ingestBatch)
        .unionAll(keys.select(col("m"), lit(ingestBatch).as("ingest_batch")))
      extensions += 1
      if (extensions % rebaseEvery == 0)
        windows = windows.localCheckpoint(true) // bound plan depth
      ()
    }

    /** Drop every cache (checkpoint blocks are GC-reclaimed). */
    def close(): Unit = { windows = null }
  }

  /** Open a [[WindowIndexSession]] over an existing window index. */
  def openWindowIndexSession(spark: SparkSession, dir: String): WindowIndexSession =
    new WindowIndexSession(spark, dir)

  /** Fold the window index's accumulated `ingest_batch=` partitions back
    * into the seed partition (−1) WITHOUT rescanning any corpus — the
    * append-side compaction verb ([[buildExactWindowIndex]]'s scaladoc
    * previously pointed re-compaction at a full rebuild, which needs the
    * original corpus; this folds from the index itself). Keys distinct
    * across the fold, so cross-batch duplicate windows collapse too —
    * probes are duplicate-safe either way, so results are identical
    * before and after (spec-pinned). Two-phase commit via
    * [[Purge.rewritePartitions]]: staged fold, marker, base-swap +
    * batch-drops — crash-safe at every window. The manifest (`L`) is
    * untouched. Streaming caveat (Layout.compactKeyed's): compact only
    * while the owning stream is stopped and past its last checkpoint
    * commit — a crash-replay of a folded micro-batch would re-append
    * keys the base already holds AND, worse, could no longer exclude
    * its own contribution from its replay probe. */
  def compactExactWindowIndex(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/windows")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no window index at $dir — build it first")
    Purge.repairPartitionRewrite(spark, s"$dir/windows")
    val parts = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch=")).sorted
    if (parts.size <= 1) return // already a single base
    val folded = spark.read.parquet(parts.map(p => s"$dir/windows/$p"): _*)
      .distinct()
    val repl: Seq[(String, Option[DataFrame])] =
      ("ingest_batch=-1" -> Some(folded)) +:
        parts.filter(_ != "ingest_batch=-1").map(p => p -> Option.empty[DataFrame])
    Purge.rewritePartitions(spark, s"$dir/windows", repl)
  }

  /** Per-document window NOVELTY against the standing corpus: the
    * fraction of a batch doc's length-`L` character windows that do NOT
    * occur anywhere in the corpus — the dedup-aware value signal a
    * sampling stage filters on (novelty 0 = the doc is verbatim corpus
    * content; 1 = entirely new text). Same machinery and scale shape as
    * [[exactCrossDupSpans]] (corpus reduces to distinct window keys; the
    * batch side is one projection; dedup-first with copies inheriting
    * their rep's numbers), but the output is per-doc counts, not spans:
    * `(doc_id, n_windows, n_matched, novelty)`. Docs shorter than `L`
    * have no windows and are omitted (no window evidence either way). */
  def windowNovelty(standing: DataFrame, batch: DataFrame,
      L: Int = 40): DataFrame = {
    require(L >= 2 && L <= 10000, s"window length $L out of range")
    graft.functions.GraftFunctions.ensure(batch.sparkSession)
    val sWins = distinctWindowKeys(standing, L)
    val (bWins, members) = batchWindowPrelude(batch, L)
    // ONE pass over the batch windows: a left join against the DISTINCT
    // corpus keys cannot fan out, so both counts come from a single
    // aggregation (count(hit) counts non-nulls)
    val stats = bWins
      .join(sWins.withColumn("hit", lit(1)), Seq("m"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), count(col("hit")).as("n_matched"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_matched").cast("double") / col("n_windows"), 6))
    stats.join(members, "doc_id")
      .select(col("member").as("doc_id"), col("n_windows"),
        col("n_matched"), col("novelty"))
  }

  /** [[windowNovelty]] against a prebuilt [[buildExactWindowIndex]] index —
    * identical result contract, but the corpus side is the LOADED 8-byte
    * key scan, never recomputed. The index may hold DUPLICATE keys across
    * `ingest_batch` partitions (appends re-add known keys), and a novelty
    * COUNT — unlike the span probe — must not double-count a window that
    * matches twice, so the match join's output dedups on `(doc_id, pos)`
    * before counting: the distinct is batch-window-scale (bounded by the
    * batch's own windows × duplication), never index-scale. Join strategy
    * is [[exactCrossDupIndexed]]'s guarded broadcast — batch windows
    * broadcast under [[ExactIndexedBroadcastMaxChars]] total batch
    * chars, forced shuffle-hash above it — so the index only ever
    * STREAMS. `excludeIngestBatch` prunes one partition at file level
    * (the streaming loop excludes its own micro-batch id so a replay
    * never matches its failed attempt's append). */
  def windowNoveltyIndexed(spark: SparkSession, dir: String,
      batch: DataFrame, excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (sWins, l) = loadWindowIndex(spark, dir, excludeIngestBatch)
    windowNoveltyFrom(spark, sWins, l, batch)
  }

  /** [[windowNoveltyIndexed]] over a [[WindowIndexSession]]'s cached
    * standing window set — the streaming loop's form. */
  def windowNoveltySession(session: WindowIndexSession, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame =
    windowNoveltyFrom(batch.sparkSession,
      session.standingWindows(excludeIngestBatch), session.windowLength, batch)

  /** Shared (manifest, windows, exclusion) prelude of the dir-based
    * window-index probes. */
  private[graft] def loadWindowIndex(spark: SparkSession, dir: String,
      excludeIngestBatch: Option[Long]): (DataFrame, Int) = {
    val l = spark.read.json(s"$dir/manifest").collect()(0)
      .getAs[Long]("l").toInt
    val all = spark.read.parquet(s"$dir/windows")
    // partition filter — prunes the excluded ingest batch at file level
    val sWins = excludeIngestBatch
      .fold(all)(id => all.where(col("ingest_batch") =!= id))
      .select(col("m"))
    (sWins, l)
  }

  private[graft] def windowNoveltyFrom(spark: SparkSession, sWins: DataFrame,
      l: Int, batch: DataFrame,
      maxChars: Long = ExactIndexedBroadcastMaxChars): DataFrame = {
    graft.functions.GraftFunctions.ensure(spark)
    val (bWins, members) = batchWindowPrelude(batch, l)
    val matchedPos = probeWindows(sWins, bWins, batch, maxChars)
      .select(col("doc_id"), col("pos")).distinct()
    val matched = matchedPos.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
    val stats = bWins.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_matched").cast("double") / col("n_windows"), 6))
    stats.join(members, "doc_id")
      .select(col("member").as("doc_id"), col("n_windows"),
        col("n_matched"), col("novelty"))
  }

  /** [[exactCrossDupSpans]] against a prebuilt [[buildExactWindowIndex]]
    * index: identical result contract, but the corpus side is a LOADED
    * scan of 8-byte keys, not recomputed — per-batch cost is the batch's
    * own window projection plus ONE inner join in which the (small)
    * batch side broadcasts, so the index is only ever STREAMED: no
    * corpus-scale shuffle, no corpus-scale memory. Duplicate index rows
    * (appends re-adding known keys) duplicate marked positions, which
    * the islands merge collapses — bounded by the increment count and
    * harmless to the result.
    *
    * The broadcast is GUARDED, not assumed: the batch's window table is
    * ~24 bytes per batch character (far larger in the driver's hashed
    * relation), so a micro-batch beyond
    * [[ExactIndexedBroadcastMaxChars]] total characters
    * (≈ low-hundreds-of-MB hashed) falls back to a FORCED
    * shuffle-hash join on the window key, batch side as build — slower
    * (the index side shuffles once) but correct at any batch size, and
    * forced rather than stats-decided because the batch window table is
    * a computed relation whose size Catalyst may underestimate straight
    * back into a broadcast. The size check is one batch-scale
    * aggregate. */
  def exactCrossDupIndexed(spark: SparkSession, dir: String,
      batch: DataFrame, excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (sWins, l) = loadWindowIndex(spark, dir, excludeIngestBatch)
    exactCrossDupFrom(spark, sWins, l, batch)
  }

  /** [[exactCrossDupIndexed]] over a [[WindowIndexSession]]'s cached
    * standing window set — the streaming loop's form. */
  def exactCrossDupSession(session: WindowIndexSession, batch: DataFrame,
      excludeIngestBatch: Option[Long] = None): DataFrame =
    exactCrossDupFrom(batch.sparkSession,
      session.standingWindows(excludeIngestBatch), session.windowLength, batch)

  private[graft] def exactCrossDupFrom(spark: SparkSession, sWins: DataFrame,
      l: Int, batch: DataFrame,
      maxChars: Long = ExactIndexedBroadcastMaxChars): DataFrame = {
    graft.functions.GraftFunctions.ensure(spark)
    val (bWins, members) = batchWindowPrelude(batch, l)
    val marked = probeWindows(sWins, bWins, batch, maxChars)
      .select(col("doc_id"), col("pos"))
    materializeThenRelease(expandSpans(mergeSpans(marked, l), members))
  }

  /** Total batch characters above which the window-index probes stop
    * broadcasting the batch's window table (~24 bytes per character,
    * far more once hashed on the driver). */
  val ExactIndexedBroadcastMaxChars: Long = 4000000L

  /** The window-index probe join: inner join on the window key, batch
    * side broadcast when its total text fits `maxChars` — the index scan
    * streams through the broadcast hash map and never shuffles or
    * aggregates — and a forced shuffle-hash join (batch side still the
    * build side, now per-partition) above it, instead of blowing the
    * broadcast/driver limits. The size check is one batch-scale
    * aggregate. */
  private def probeWindows(sWins: DataFrame, bWins: DataFrame,
      batch: DataFrame, maxChars: Long): DataFrame = {
    val batchChars = batch
      .agg(coalesce(sum(length(col("text"))), lit(0L))).collect()(0).getLong(0)
    if (batchChars <= maxChars) sWins.join(broadcast(bWins), Seq("m"))
    else sWins.join(bWins.hint("shuffle_hash"), Seq("m"))
  }

  /** Cut [[exactSubstringSpans]]-style spans out of their documents:
    * every doc's kept text is the ordered concatenation of the gaps
    * between its (non-overlapping, sorted) spans; docs with no spans pass
    * through unchanged. One `doc_id` equi-join plus a per-row fold over
    * that doc's own span list (candidate-scale, collected per doc) — no
    * corpus-scale shuffle beyond the join.
    */
  def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val byDoc = spans
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e")))).as("sp"))
    docs.select(col("doc_id"), col("text"))
      .join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, col("text")).otherwise(expr(
          """aggregate(sp, named_struct('cur', CAST(1 AS BIGINT), 'acc', ''),
            |  (a, x) -> named_struct(
            |    'cur', x.e,
            |    'acc', concat(a.acc,
            |      substring(text, CAST(a.cur AS INT),
            |        CAST(x.s - a.cur AS INT)))),
            |  a -> concat(a.acc,
            |    substring(text, CAST(a.cur AS INT), length(text))))
            |""".stripMargin)).as("clean_text"))
  }

  /** Edit-distance scoring of candidate pairs (`pairs(doc_a, doc_b)`):
    * Levenshtein distance plus the normalized similarity
    * `1 - lev / max(len_a, len_b)` — the character-level complement to
    * shingle Jaccard (catches heavy in-place edits that shred n-grams).
    *
    * Scale: Levenshtein is O(|a|·|b|) PER PAIR, so this only ever runs on
    * the LSH candidate set, never all-pairs; the two text joins are plain
    * doc_id equi-joins (broadcast-able when the candidate set is small).
    * For book-length docs, score a bounded prefix or token-level distance
    * instead — per-pair quadratic cost is the operator's contract.
    *
    * Two layers keep the DP off the hot path in dup-dense corpora (where
    * LSH candidate sets explode combinatorially — k exact copies of a text
    * yield k² candidate pairs):
    *   1. the DP runs once per DISTINCT (text_a, text_b) pair — scores are
    *      computed over the md5-keyed distinct text-pair set and joined
    *      back to doc pairs (measured 50 s → ~7 s on the 10×-docs probe,
    *      where every text has ~10 key-shifted twins; a dup-free corpus
    *      pays only the no-op distinct);
    *   2. exact-equal texts short-circuit to distance 0 via an O(len)
    *      equality compare before the O(len²) DP.
    */
  def editSimilarity(docs: DataFrame, pairs: DataFrame): DataFrame =
    editSimilarity(docs, pairs, minSim = None)

  /** `editSimilarity` with an output floor: emits only pairs whose rounded
    * `edit_sim` is ≥ `minSim`, and — the point — prunes candidate pairs by
    * the LENGTH-DIFFERENCE lower bound on Levenshtein BEFORE any text join
    * or DP: `lev ≥ |len_a − len_b|`, so
    * `edit_sim ≤ 1 − |len_a − len_b| / max(len_a, len_b)`; when that bound
    * alone kills the floor the O(len²) DP never runs and the pair's text
    * bodies are never shuffled. Exact w.r.t. the floored contract: a
    * 1e-6 slack absorbs the 6-decimal output rounding, so no pair whose
    * ROUNDED similarity reaches the floor is ever bound-pruned. Lengths
    * ride the per-distinct-text side table (one int per distinct text) —
    * the gate costs two narrow hash-key joins, nothing text-sized. */
  def editSimilarity(
      docs: DataFrame, pairs: DataFrame, minSim: Option[Double]): DataFrame = {
    // Prune the corpus to candidate docs BEFORE anything carries text: the
    // candidate set is ≪ corpus, and the semi-join is broadcast-able.
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val cand = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text")).as("h"), col("text"))
    // Text bodies appear in exactly ONE exchange: the per-distinct-text
    // (hash, text) side table — O(distinct candidate texts) rows. The pair
    // skeleton, its distinct, and the score-back join all carry 32-byte
    // hashes only (in a dup-dense corpus the pair set is k²-inflated, so a
    // distinct carrying both bodies per pair was the chain's heaviest
    // exchange — the reason the near-dup kernel carries 8-byte shingle
    // keys, not shingle text). The plan stays LAZY — `keyed` feeds both the
    // distinct and the score-back join through Spark's exchange reuse, so
    // no persist/checkpoint barrier serializes the tail (a persisted cut
    // measured 12.3 s vs this version's 11.0 s on the dup-dense 10×
    // probe). Honest A/B at that probe's scale (50k docs, ~300 B texts):
    // the PRE-fix shape — bodies carried through the per-pair distinct —
    // measured 9.0 s, because 300 B bodies are barely larger than the
    // 2×32 B hash keys and this shape pays three extra small joins. The
    // hash-keyed shape is kept anyway: its text-exchange volume is
    // O(distinct candidate texts × body) vs O(candidate pairs × 2 bodies),
    // and real corpora sit on the far side of the crossover (bodies in the
    // KBs, pair sets k²-inflated by duplicates) where per-pair body
    // shipping is the blowup, not a rounding error.
    val texts = cand.select(col("h"), col("text")).dropDuplicates("h")
    val idHash = cand.select(col("doc_id"), col("h"))
    val keyed = pairs
      .join(idHash.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
      .join(idHash.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb"))
    val lev = when(col("ta") === col("tb"), lit(0L))
      .otherwise(levenshtein(col("ta"), col("tb")).cast("long"))
    val distinctPairs = keyed.select(col("ha"), col("hb")).distinct()
    // Length-bound gate (floored mode): lev ≥ |la − lb| ⇒ the pair cannot
    // reach the floor when 1 − |la − lb|/max(la, lb) < minSim − slack. Runs
    // on a (hash, len) side table — one int per distinct text — so pruned
    // pairs never touch text bodies, let alone the DP.
    val gated = minSim match {
      case None => distinctPairs
      case Some(t) =>
        val lens = texts.select(col("h"), length(col("text")).cast("long").as("len"))
        distinctPairs
          .join(lens.select(col("h").as("ha"), col("len").as("la")), "ha")
          .join(lens.select(col("h").as("hb"), col("len").as("lb")), "hb")
          .where(lit(1.0) - abs(col("la") - col("lb")).cast("double") /
            greatest(col("la"), col("lb")) >= lit(t - 1e-6))
          .select(col("ha"), col("hb"))
    }
    val withTexts = gated
      .join(texts.select(col("h").as("ha"), col("text").as("ta")), "ha")
      .join(texts.select(col("h").as("hb"), col("text").as("tb")), "hb")
    def project(df: DataFrame): DataFrame = df.select(col("ha"), col("hb"),
      lev.as("edit_dist"),
      round(lit(1.0) - lev.cast("double") /
        greatest(length(col("ta")), length(col("tb"))), 6).as("edit_sim"))
    // Floored mode: (1) spread the gated pair set across the session's
    // shuffle partitions BEFORE the DP projection — the pair set is tiny
    // relative to the cluster, AQE coalesces its exchanges to one
    // partition, and a serial DP stage wastes every other core; (2)
    // materialize the scores (one DP per pair, output-scale rows of four
    // scalars) and filter the STORED column — a lazy `where(edit_sim ≥ t)`
    // gets its aliased levenshtein pushed into the join as a residual
    // condition and re-evaluated per consumer. Measured on 2400-char
    // texts, 262 gated pairs: lazy-filtered 12.9 s, spread + stored
    // filter 0.9 s, kernel floor 0.2 s (EXPLAIN.md "Gate A/B on the
    // dup-dense corpus").
    val floored = minSim match {
      case None => project(withTexts)
      case Some(t) =>
        val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
        checkpointed(project(withTexts.repartition(parts)))
          .where(col("edit_sim") >= t)
    }
    keyed
      .join(floored, Seq("ha", "hb"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("edit_sim"))
  }

  /** Near-dup edit scoring with BOTH cheap pre-DP gates in front of the
    * quadratic kernel — the composition for dup-dense corpora, where the
    * LSH candidate set is k²-inflated by templates and the DP's
    * Θ(pairs × len²) is the chain's scale-killer:
    *   1. minhash AGREEMENT floor: candidate pairs must agree on
    *      ≥ `minAgree` of the `numHashes` seed minima. Seed agreement is
    *      an unbiased Jaccard estimator, and the values are already in
    *      hand from the banding aggregate — the floor is a sum of 8
    *      equality checks over two narrow joins, no shingle or text I/O.
    *      Template-collision pairs (true Jaccard ~0.1–0.3 sharing one
    *      lucky band) fail it; genuine near-dups pass overwhelmingly.
    *   2. the length-difference bound + `minSim` output floor
    *      (`editSimilarity` above) on the survivors.
    * One shingle scan feeds candidates and signatures alike. The emitted
    * contract: every LSH candidate pair with seed agreement ≥ `minAgree`
    * and rounded `edit_sim` ≥ `minSim` — mirrored verbatim by the
    * `dd_edit_gated` oracle. */
  def editSimilarityGated(
      docs: DataFrame,
      minSim: Double = 0.5,
      minAgree: Int = 4,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    require(minSim <= 1.0, s"minSim $minSim > 1.0: no pair can pass")
    // Dedup-FIRST, like every scorer in this file: the gate, the DP, and
    // the candidate joins all run at REPRESENTATIVE scale (one doc per
    // distinct text); member doc pairs expand afterward — within-group
    // pairs are identity (equal texts ⇒ edit_dist 0, sim 1.0 ≥ any legal
    // floor), cross pairs inherit their text pair's scores (edit metrics
    // are symmetric, so the (least, greatest) re-canonicalization carries
    // nothing, unlike containment's orientation swap). In a k-copy
    // dup-dense corpus that is a k² cut on every pair-level join — the
    // first cut of this operator was doc-level and paid it everywhere.
    val ctx = dedupPrelude(docs, n, numHashes, bandSize, maxBucket, keys = false)
    // Materialize the gated pair set before the scorer: `editSimilarity`
    // references its `pairs` argument from several plan branches (candidate
    // -doc prune, the keyed skeleton, the distinct), and a LAZY agreement
    // plan would replay the whole LSH + signature chain once per branch —
    // measured 73 s vs 3.4 s at sf0.1 for this exact operator, ~700
    // concurrent broadcast jobs thrashing 32 cores. The checkpoint is
    // output-scale (surviving rep pairs only).
    val agreed = checkpointed(withRows(ctx.repPairs, ctx.rows, ctx.rows)
      .where(agreement(numHashes) >= minAgree)
      .select(col("doc_a"), col("doc_b")))
    val repScores = editSimilarity(docs, agreed, Some(minSim))
    materializeThenRelease(
      expand(ctx, repScores, Seq(col("edit_dist"), col("edit_sim")),
        Seq(lit(0L).as("edit_dist"), lit(1.0).as("edit_sim"))),
      ctx.keyed, ctx.rows)
  }

  /** Connected components over an undirected near-dup pair graph
    * (`pairs(doc_a, doc_b)`): assigns every document appearing in ≥ 1 pair
    * its component's minimum doc_id as `cluster_id` — the step that turns
    * pairwise near-dup evidence into keep/purge lists (keep = the doc whose
    * id IS its cluster_id; purge = the rest).
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two map-side-combinable aggregations + joins, and the edge set
    * converges to per-component stars rooted at the minimum id in
    * O(log² n) rounds. Unlike naive min-label propagation (O(diameter)
    * rounds — a 1M-doc chain needs 1M rounds), this survives pathological
    * chain/path graphs, which is exactly what transitive near-dup evidence
    * produces (v1 ≈ v2 ≈ v3 … with v1 !≈ v3).
    *
    * Scale: per round the shuffle is O(edges); no driver materialization —
    * the driver sees only the per-round convergence probe (`isEmpty` on the
    * changed-edge set). Each round checkpoints (`checkpointed` — local by
    * default, reliable under `graft.checkpointDir`) so lineage is truncated
    * and plan depth stays constant across iterations.
    *
    * Hybrid local finish: each distributed round costs a fixed scheduler +
    * checkpoint round-trip, so once the (contracting) edge set fits one
    * task — `count ≤` [[CcLocalEdges]] (1M) — the remaining
    * rounds are replaced by a single-task union-find over the edges
    * (union-by-min + path compression: the component root is the min id
    * regardless of edge order, so the labels are deterministic and
    * identical to the distributed fixpoint). A 100 TB pair graph starts
    * far above the threshold and runs distributed rounds; the moment star
    * contraction brings it under, the driver stops paying per-round
    * latency. Memory bound: one task holds ≤ 2×threshold parent-map
    * entries (~100 MB at 1M) — the threshold is sized to one executor,
    * not the cluster.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, maxIter, CcLocalEdges)

  /** Edge count at or below which [[connectedComponents]] finishes in one
    * task's union-find instead of more distributed rounds. */
  val CcLocalEdges: Long = 1000000L

  /** [[connectedComponents]] with the local-finish threshold as a
    * parameter: `localMax = 0` runs pure distributed rounds (DedupSpec
    * pins both paths to the same labels). */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
      localMax: Long): DataFrame = {
    // Oriented canonical edges (u > v), self-loops dropped.
    var e = checkpointed(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    // One count job per round, not two: `e` is the previous round's `ss`,
    // whose count that round already paid for — carry it instead of
    // recounting checkpointed blocks (each count is a full scheduler
    // round-trip; at toy scale the fixed cost dominates these queries).
    var eCount = e.count()
    var converged = false
    var it = 0
    while (!converged && eCount > localMax && it < maxIter) {
      // Large-star: for every node u, attach each STRICTLY LARGER neighbor
      // to m = min(N(u) ∪ {u}). Both directions of every edge participate.
      val nbr = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mn = nbr.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = nbr.join(mn, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .distinct()
      // Small-star: for every node u, attach its smaller neighbors AND u
      // itself to m = min of the smaller neighborhood. (ls edges are
      // already oriented u > v.)
      val smn = ls.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ss = checkpointed(ls.join(smn, "u")
        .select(explode(array(
          struct(col("u").as("x"), col("mn").as("p")),
          struct(col("v").as("x"), col("mn").as("p")))).as("s"))
        .select(col("s.x").as("u"), col("s.p").as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
      // Exact fixpoint probe, count-gated: while the graph is still
      // contracting the counts almost always differ — the full set-equality
      // `except` (a shuffle) runs only on the rare equal-count rounds
      // (usually just the final one). Both sides are distinct sets, so
      // equal counts + empty one-direction except ⇒ set equality.
      val ssCount = ss.count()
      converged = eCount == ssCount && ss.except(e).isEmpty
      e = ss
      eCount = ssCount
      it += 1
    }
    if (converged)
      // Converged edges are (member, root) stars; roots label themselves.
      e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
        .unionAll(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
        .distinct()
    else if (eCount <= localMax) localUnionFind(e)
    else throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
  }

  /** Single-task union-find finish for a small (≤ [[CcLocalEdges]])
    * edge set — see `connectedComponents`. Union-by-min: the larger root is
    * always attached under the smaller, so every component's final root is
    * its minimum id independent of edge order (deterministic); path
    * compression keeps finds amortized near-constant. `coalesce(1)` (not
    * repartition) because the input is checkpointed — one task reads the
    * blocks with no shuffle write. Emits (doc_id, cluster_id) for every
    * node, roots labeling themselves — identical shape to the distributed
    * star output. */
  private def localUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (u, v) =>
          if (!parent.contains(u)) parent(u) = u
          if (!parent.contains(v)) parent(v) = v
          val ru = find(u); val rv = find(v)
          if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        }
        // Materialize keys before the final find pass: path compression
        // mutates the map, and LongMap iteration is not mutation-safe.
        parent.keys.toArray.iterator.map(x => (x, find(x)))
      }
      .toDF("doc_id", "cluster_id")
  }

  /** Cluster formation at dedup-first cost: the labeling of
    * `connectedComponents(doc-level pairs)` computed WITHOUT ever
    * materializing the k²-expanded pair graph. CC runs on REP-level
    * candidate pairs only (optionally Jaccard-gated there — scores are
    * text-level, so a rep-level gate equals a doc-level gate, and
    * within-group pairs score 1.0 ≥ any gate ≤ 1); members then inherit
    * their representative's label through the (doc_id, th, rep) star the
    * prelude already holds.
    *
    * Label equivalence: reps are group MINIMA, so a component's min doc id
    * IS its min rep id — member labels equal doc-level CC labels exactly.
    * Multi-member groups whose rep touches no cross pair still cluster
    * (their within-group clique connects them in the doc-level graph):
    * they self-label under their rep. Singleton docs with no pairs are
    * absent, matching doc-level CC output.
    *
    * Scale: CC edge count drops from Σk² (duplicate-inflated cliques) to
    * the rep-level candidate count; the member expansion is one join,
    * linear in output size. Dup-dense 10×-docs probe: `dd_cluster`
    * 7.8 s → (measured below), identical labels.
    */
  def clusterDedupFirst(
      docs: DataFrame,
      minJaccard: Option[Double] = None,
      n: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val ctx = dedupPrelude(docs, n, numHashes, bandSize, maxBucket,
      keys = minJaccard.isDefined)
    val gated = minJaccard match {
      case Some(t) => overlap(ctx.repPairs, ctx.rows, ctx.rows)
        .where(jaccardOf >= t).select(col("doc_a"), col("doc_b"))
      case None => ctx.repPairs
    }
    val ccRep = connectedComponents(gated)
      .select(col("doc_id").as("rep"), col("cluster_id"))
    // Multi-member groups self-label at their rep (the within-group clique
    // of the doc-level graph); min-merge with the CC labels so a rep that
    // is BOTH in a cross component and a multi-group takes the smaller.
    val multi = ctx.capped.groupBy(col("th")).agg(count(lit(1)).as("k"))
      .where(col("k") > 1).select(col("th"))
      .join(ctx.rep, "th")
      .select(col("rep"), col("rep").as("cluster_id"))
    val repLabel = ccRep.unionAll(multi)
      .groupBy(col("rep")).agg(min(col("cluster_id")).as("cluster_id"))
    val labeled = ctx.capped
      .join(ctx.rep, "th")
      .join(repLabel, "rep")
      .select(col("doc_id"), col("cluster_id"))
    materializeThenRelease(labeled, ctx.keyed, ctx.rows)
  }

  /** Quality-aware CANONICAL selection over a duplicate labeling — keep
    * the BEST member of each cluster, not the smallest id: published
    * corpus pipelines retain the highest-quality representative of a
    * near-dup cluster and drop the rest, so which member survives is a
    * quality decision, not an id accident. `labels(doc_id, cluster_id)`
    * is any labeling ([[connectedComponents]] / [[clusterDedupFirst]] /
    * [[incrementalClusters]] output); `scores(doc_id, score)` any
    * deterministic per-doc score (e.g. `TextAnalysis.lrQuality`). Returns
    * every labeled doc with `keep = 1` on the (score DESC, doc_id ASC)
    * argmax member — ties break on the rounded score then doc_id, so the
    * pick is deterministic on any engine.
    *
    * Scale: one labels⋈scores equi-join on doc_id plus one per-cluster
    * `row_number` window — partitioned by cluster_id, so window state is
    * one cluster's members (near-dup clusters are bounded groups, never
    * corpus-scale partitions). */
  def canonicalByQuality(labels: DataFrame, scores: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    // LEFT join + lazy raise_error, not an inner join: a labeled doc with
    // no score row would otherwise silently vanish — and could silently
    // change which member of its cluster survives (the tokenMixtureSample
    // unmatched-key lesson). The check rides the rows; no extra action.
    labels.join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        when(col("score").isNull, raise_error(concat(
            lit("canonicalByQuality: labeled doc "),
            col("doc_id").cast("string"),
            lit(" has no score row — score every labeled doc (a missing " +
              "score would silently change which cluster member survives)"))))
          .otherwise(col("score")).as("score"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        (col("rn") === 1).cast("int").as("keep"))
  }

  /** Embedding-cosine near-dup: pairs of vectors with cosine ≥ threshold.
    * Delegates to `Similarity.bucketedNearDup` — hyperplane-LSH blocking
    * (home bucket + Hamming-1 neighbor probes) then exact per-pair scoring,
    * fully distributed: no driver collect, no all-pairs join. The exact
    * O(n²) kernel survives as the explicit small-N utility
    * `Similarity.pairwiseCosine`.
    */
  def embeddingNearDup(embs: DataFrame, threshold: Double): DataFrame =
    Similarity.bucketedNearDup(embs, threshold)

  /** Semantic (embedding-space cluster) dedup — delegates to
    * `Similarity.semanticDedup`: IVF-cell clustering, then greedy
    * keep-first within cells at cosine ≥ threshold (the SemDeDup pattern;
    * see that method for the n²/nCells scale contract). */
  def semanticDedup(embs: DataFrame, threshold: Double,
      nCells: Int = 16): DataFrame =
    Similarity.semanticDedup(embs, threshold, nCells)

  /** Incremental cluster maintenance — fold a batch's NEW near-dup pairs
    * into an existing labeling without re-clustering untouched components:
    * the operational counterpart of `connectedComponents` the same way
    * `exactIncrement` is of `exact` and `crossNearDup` is of
    * `nearDupScores`. `labels(doc_id, cluster_id)` is a prior
    * `connectedComponents` (or this operator's own) output; `newPairs
    * (doc_a, doc_b)` is the increment's edge batch — e.g. `crossNearDup`
    * matches with batch/corpus ids as the endpoints.
    *
    * Exactness: the result equals a full `connectedComponents` over
    * (original pairs ∪ newPairs). Touched components are re-solved from
    * their (member, label) STAR edges — connectivity-equivalent to the
    * component's original edge set and sharing its min id — and any
    * component that merges must contain a new pair's endpoint, so
    * untouched labels pass through unchanged. Oracle-asserted: the
    * `dd_cluster_increment` oracle recomputes from scratch over the
    * unioned edge sets in SQL.
    *
    * Scale: a full recompute pays O(all edges) × CC rounds every
    * increment; this pays the new pairs plus star edges of TOUCHED
    * components only — O(touched members), and most components are cold
    * in a steady-state ingest. The labels table is never shuffled whole:
    * two semi/anti joins on cluster_id against the (small) affected-label
    * list and one on doc_id against the batch's endpoint set. Measured
    * (EXPLAIN.md "Cluster formation"): 2.8× over full CC at 32M standing
    * pairs, flat in standing-pair count — but BELOW [[CcLocalEdges]]
    * the full recompute is one local union-find task and wins; use this
    * operator in the large-graph regime it targets. */
  def incrementalClusters(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val l = labels.select(col("doc_id"), col("cluster_id")).persist(sl)
    val p = newPairs.select(col("doc_a"), col("doc_b")).persist(sl)
    val touched = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id"))).distinct()
    val affected = l.join(touched, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // Star edges of the affected components; a touched SINGLETON's star is
    // a self-loop (CC drops it), but the node re-enters through its own
    // new pair, so no member is lost.
    val touchedStars = l.join(affected, Seq("cluster_id"), "left_semi")
    val solved = connectedComponents(
      touchedStars.select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
        .unionAll(p))
    val untouched = l.join(affected, Seq("cluster_id"), "left_anti")
    materializeThenRelease(
      solved.unionAll(untouched.select(col("doc_id"), col("cluster_id"))), l, p)
  }

  /** Cross-corpus embedding near-dup: (batch, corpus) vector pairs with
    * cosine ≥ threshold — the vector analogue of `crossNearDup`, same
    * operational role (dedupe an arriving batch of embeddings against the
    * standing corpus without re-pairing the corpus). Delegates to
    * `Similarity.crossNearDup`. */
  def crossEmbedNearDup(corpus: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame =
    Similarity.crossNearDup(corpus, batch, threshold)
}
