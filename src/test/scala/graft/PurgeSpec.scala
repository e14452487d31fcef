package graft

import graft.operators.{Dedup, Multimodal, Purge, Retrieval, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The deletion/takedown lifecycle (r15): purged == rebuilt-without on
  * every persisted artifact family, plus the two-phase rewrite's crash
  * repair at every window. */
class PurgeSpec extends TestBase {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit = {
    def walk(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete(); ()
    }
    walk(new java.io.File(dir))
  }

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // ---- generic two-phase rewrite: crash repair at every window ---------

  test("rewritePartitions: swap, drop, and both crash windows repair") {
    val root = tmp("graft-purge-2pc")
    Seq((1L, 10L)).toDF("id", "v").write.parquet(s"$root/k=1")
    Seq((2L, 20L)).toDF("id", "v").write.parquet(s"$root/k=2")
    Seq((3L, 30L)).toDF("id", "v").write.parquet(s"$root/k=3")

    // normal path: swap k=1, drop k=2, leave k=3 untouched
    Purge.rewritePartitions(spark, root, Seq(
      "k=1" -> Some(Seq((9L, 90L)).toDF("id", "v")),
      "k=2" -> None))
    val after = spark.read.parquet(root)
      .select(col("id"), col("v"), col("k").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(after == Set((9L, 90L, 1L), (3L, 30L, 3L)))
    assert(!new java.io.File(s"$root/_graft_purging").exists())
    assert(!new java.io.File(s"$root/_graft_purge").exists())

    // crash window A: stage written, marker NOT committed → repair rolls
    // BACK (stage discarded, live layout untouched)
    Seq((7L, 70L)).toDF("id", "v").write
      .parquet(s"$root/_graft_purging/k=3")
    Purge.repairPartitionRewrite(spark, root)
    assert(!new java.io.File(s"$root/_graft_purging").exists())
    assert(spark.read.parquet(s"$root/k=3")
      .as[(Long, Long)].collect().toSet == Set((3L, 30L)))

    // crash window B: marker committed, swap not executed → repair rolls
    // FORWARD (staged partition installs, drop executes, marker clears)
    Seq((8L, 80L)).toDF("id", "v").write
      .parquet(s"$root/_graft_purging/k=3")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$root/_graft_purge"), "SWAP k=3\nDROP k=1")
    Purge.repairPartitionRewrite(spark, root)
    val healed = spark.read.parquet(root)
      .select(col("id"), col("v"), col("k").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(healed == Set((8L, 80L, 3L)))
    assert(!new java.io.File(s"$root/_graft_purge").exists())
    // and repair is idempotent on the healed layout
    Purge.repairPartitionRewrite(spark, root)
    assert(spark.read.parquet(root).count() == 1)
    rm(root)
  }

  // ---- BM25: logical purge, probe mask, compaction, registry -----------

  test("BM25 purge: purged == rebuilt-without at every stage; registry refuses re-ingest") {
    val all = docs(
      1L -> "spark window merge spark", 2L -> "window table join",
      3L -> "spark merge", 4L -> "table scan spark window",
      5L -> "merge window merge", 6L -> "spark spark spark")
    val survivors = all.where(!col("doc_id").isin(2L, 5L))
    val terms = Seq("spark", "window", "merge")

    val idx = tmp("graft-bm25-purge")
    Retrieval.buildBm25Index(all.where(col("doc_id") <= 4), idx)
    Retrieval.appendToBm25Index(all.where(col("doc_id") > 4), idx)
    val want = tmp("graft-bm25-want")
    Retrieval.buildBm25Index(survivors, want)
    def topk(dir: String) = Retrieval.bm25IndexedTopK(spark, dir, terms, 10)
      .as[(Long, Double)].collect().toSeq

    Retrieval.purgeFromBm25Index(spark, idx, Seq(2L, 5L).toDF("doc_id"))
    assert(topk(idx) == topk(want),
      "logical purge must score exactly as an index built without the docs")
    // physically still present until compaction (the masked rows)
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id").isin(2L, 5L)).count() > 0)

    // re-purging the same ids is idempotent (no double subtraction)
    Retrieval.purgeFromBm25Index(spark, idx, Seq(2L).toDF("doc_id"))
    assert(topk(idx) == topk(want))

    Retrieval.compactBm25Postings(spark, idx)
    assert(topk(idx) == topk(want), "compaction must not change any score")
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id").isin(2L, 5L)).count() == 0,
      "compaction must physically remove the purged rows")
    // rerunning compaction on a clean index is a no-op
    Retrieval.compactBm25Postings(spark, idx)
    assert(topk(idx) == topk(want))

    // the registry refuses re-ingesting a taken-down doc forever
    val ex = intercept[IllegalArgumentException] {
      Retrieval.appendToBm25Index(docs(2L -> "spark returns"), idx)
    }
    assert(ex.getMessage.contains("purged"), ex.getMessage)
    // ...but fresh ids still append fine, carrying the registry forward
    Retrieval.appendToBm25Index(docs(7L -> "window spark"), idx)
    val ex2 = intercept[IllegalArgumentException] {
      Retrieval.appendToBm25Index(docs(5L -> "merge again"), idx)
    }
    assert(ex2.getMessage.contains("purged"), ex2.getMessage)
    rm(idx); rm(want)
  }

  test("BM25 purge: replay of a partially-purged streaming batch converges") {
    val b0 = docs(1L -> "spark window", 2L -> "merge table")
    val b1 = docs(10L -> "spark merge", 11L -> "window window")
    val idx = tmp("graft-bm25-replay")
    Retrieval.buildBm25Index(b0, idx)
    Retrieval.appendToBm25Index(b1, idx, batchId = Some(0L))
    Retrieval.purgeFromBm25Index(spark, idx, Seq(10L).toDF("doc_id"))
    Retrieval.compactBm25Postings(spark, idx)
    // at-least-once: the stream resubmits the ORIGINAL batch 0 — the
    // registry subtraction must accept it and must not resurrect doc 10
    Retrieval.appendToBm25Index(b1, idx, batchId = Some(0L))
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id") === 10L).count() == 0,
      "a replay must never resurrect a purged doc's postings")
    val want = tmp("graft-bm25-replay-want")
    Retrieval.buildBm25Index(
      b0.unionAll(b1.where(col("doc_id") =!= 10L)), want)
    def topk(dir: String) = Retrieval.bm25IndexedTopK(spark, dir,
      Seq("spark", "window", "merge"), 10).as[(Long, Double)].collect().toSeq
    assert(topk(idx) == topk(want))
    rm(idx); rm(want)
  }

  test("BM25 purge: emptying an entire batch partition keeps probes readable") {
    val idx = tmp("graft-bm25-empty")
    Retrieval.buildBm25Index(docs(1L -> "spark window", 2L -> "merge"), idx)
    Retrieval.appendToBm25Index(docs(3L -> "spark table"), idx)
    // purge the WHOLE appended batch — its partition compacts to empty
    Retrieval.purgeFromBm25Index(spark, idx, Seq(3L).toDF("doc_id"))
    Retrieval.compactBm25Postings(spark, idx)
    val want = tmp("graft-bm25-empty-want")
    Retrieval.buildBm25Index(docs(1L -> "spark window", 2L -> "merge"), want)
    def topk(dir: String) = Retrieval.bm25IndexedTopK(spark, dir,
      Seq("spark", "merge"), 10).as[(Long, Double)].collect().toSeq
    assert(topk(idx) == topk(want))
    rm(idx); rm(want)
  }

  // ---- IVF / IVF-PQ: touched-cell rewrite only --------------------------

  private def embs(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (((i * 31 + j * 7) % 13) - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")

  test("IVF purge: index content == original minus ids; probes and pruning intact") {
    val e = embs(200)
    val idx = tmp("graft-ivf-purge")
    Similarity.buildIvfIndex(e, s"$idx/ivf", nCells = 8)
    val before = spark.read.parquet(s"$idx/ivf/data")
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val purged = Seq(3L, 17L, 42L, 101L)
    Similarity.purgeFromIvfIndex(spark, s"$idx/ivf",
      purged.toDF("vec_id"))
    val after = spark.read.parquet(s"$idx/ivf/data")
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(after == before -- purged,
      "purge must remove exactly the ids, preserving every cell assignment")
    // the probe's partition pruning still holds and never surfaces a
    // purged id
    val q = Seq.tabulate(8)(j => (j + 1).toDouble / 8)
    val got = Similarity.ivfTopKIndexed(spark, s"$idx/ivf", q, 10)
      .as[(Long, Double)].collect()
    assert(got.length == 10 && got.forall(r => !purged.contains(r._1)))
    // absent ids are a no-op
    Similarity.purgeFromIvfIndex(spark, s"$idx/ivf", Seq(99999L).toDF("vec_id"))
    assert(spark.read.parquet(s"$idx/ivf/data").count() == after.size.toLong)
    rm(idx)
  }

  test("IVF-PQ purge: codes minus ids; top-k == probe over surviving codes") {
    val e = embs(200)
    val idx = tmp("graft-ivfpq-purge")
    Similarity.buildIvfPqIndex(e, s"$idx/pq", nCells = 4)
    val purged = Seq(0L, 9L, 55L)
    // expected: the SAME index (same quantizers) without the purged rows —
    // rebuilt by filtering the codes table directly
    val expectCodes = spark.read.parquet(s"$idx/pq/codes")
      .where(!col("vec_id").isin(purged: _*))
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    Similarity.purgeFromIvfPqIndex(spark, s"$idx/pq", purged.toDF("vec_id"))
    val got = spark.read.parquet(s"$idx/pq/codes")
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(got == expectCodes)
    val q = Seq.tabulate(8)(j => (8 - j).toDouble / 8)
    val topk = Similarity.ivfPqTopK(
        e.where(!col("vec_id").isin(purged: _*)), s"$idx/pq", q, 5)
      .as[(Long, Double)].collect()
    assert(topk.length == 5 && topk.forall(r => !purged.contains(r._1)))
    rm(idx)
  }

  // ---- dHash: image takedown --------------------------------------------

  test("dHash purge: standing table == built-without; indexed cross probe agrees") {
    val media = Multimodal.syntheticImages((0L until 30L).toDF("doc_id"))
    val batch = Multimodal.syntheticImages((100L until 110L).toDF("doc_id"))
    val idx = tmp("graft-dhash-purge")
    Multimodal.buildDHashIndex(
      media.filter(col("doc_id") < 20), s"$idx/d")
    Multimodal.appendToDHashIndex(
      media.filter(col("doc_id") >= 20), s"$idx/d", ingestBatch = 0L)
    val purged = Seq(5L, 22L)
    Multimodal.purgeFromDHashIndex(spark, s"$idx/d", purged.toDF("doc_id"))
    val want = tmp("graft-dhash-want")
    Multimodal.buildDHashIndex(
      media.filter(!col("doc_id").isin(purged: _*)), s"$want/d")
    val gotHashes = Multimodal.standingDHashes(spark, s"$idx/d")
      .as[(Long, Long)].collect().toSet
    val wantHashes = Multimodal.standingDHashes(spark, s"$want/d")
      .as[(Long, Long)].collect().toSet
    assert(gotHashes == wantHashes,
      "purged hash table must equal one built without the docs")
    val gotX = Multimodal.crossNearDupImagesIndexed(spark, s"$idx/d", batch)
      .as[(Long, Long, Int)].collect().toSet
    val wantX = Multimodal.crossNearDupImagesIndexed(spark, s"$want/d", batch)
      .as[(Long, Long, Int)].collect().toSet
    assert(gotX == wantX)
    rm(idx); rm(want)
  }

  test("audio fp index: build/append/indexed-probe/purge mirror the dHash ladder") {
    def variants(rows: (Long, Long, Int, Int)*) =
      Multimodal.syntheticAudioVariants(
        rows.toDF("doc_id", "key", "gain", "retouch"))
    val standing = variants((0L until 20L).map(k => (k, k, 1, 0)): _*)
    val batch = variants((0L until 8L).map(k => (100L + k, k, 2, 0)): _*)
    val idx = tmp("graft-audiofp-purge")
    Multimodal.buildAudioFpIndex(
      standing.filter(col("doc_id") < 12), s"$idx/a")
    Multimodal.appendToAudioFpIndex(
      standing.filter(col("doc_id") >= 12), s"$idx/a", ingestBatch = 0L)
    // indexed probe == recompute probe
    val rec = Multimodal.crossNearDupAudio(standing, batch)
      .as[(Long, Long, Int)].collect().toSet
    val viaIdx = Multimodal.crossNearDupAudioIndexed(spark, s"$idx/a", batch)
      .as[(Long, Long, Int)].collect().toSet
    assert(viaIdx == rec && rec.nonEmpty, s"indexed $viaIdx vs recompute $rec")
    // purge: table == built-without, probe agrees
    Multimodal.purgeFromAudioFpIndex(spark, s"$idx/a", Seq(3L, 15L).toDF("doc_id"))
    Multimodal.buildAudioFpIndex(
      standing.filter(!col("doc_id").isin(3L, 15L)), s"$idx/b")
    assert(Multimodal.standingAudioFps(spark, s"$idx/a")
        .as[(Long, Long)].collect().toSet ==
      Multimodal.standingAudioFps(spark, s"$idx/b")
        .as[(Long, Long)].collect().toSet)
    rm(idx)
  }

  // ---- cross-near-dup LSH index & exact-window index --------------------

  test("cross-neardup index purge: probe == index built without the docs") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = d.where(col("doc_id") < 20)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val purged = d.where(col("doc_id") % 5 === 1).select(col("doc_id"))
    val idx = tmp("graft-xidx-purge")
    Dedup.buildCrossNearDupIndex(d, s"$idx/a")
    Dedup.buildCrossNearDupIndex(
      d.where(col("doc_id") % 5 =!= 1), s"$idx/b")
    def probe(dir: String) = Dedup.crossNearDupIndexed(spark, dir, batch, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // LOGICAL stage: tombstones mask probes identically to built-without
    // while the rows are physically still present
    Dedup.purgeFromCrossNearDupIndex(spark, s"$idx/a", purged)
    assert(probe(s"$idx/a") == probe(s"$idx/b"),
      "logically purged index must probe identically to one built without")
    assert(spark.read.parquet(s"$idx/a/shingle_keys")
      .join(purged, Seq("doc_id"), "left_semi").count() > 0,
      "logical purge must defer the physical rewrite")
    // re-purging is idempotent (append-only tombstones, distinct at read)
    Dedup.purgeFromCrossNearDupIndex(spark, s"$idx/a", purged.limit(3))
    assert(probe(s"$idx/a") == probe(s"$idx/b"))
    // an INT-typed caller id set is cast on write (r16 ADVICE): the
    // tombstone set's fixed LONG read schema must keep working after an
    // int32 append lands beside the long files
    Dedup.purgeFromCrossNearDupIndex(spark, s"$idx/a",
      purged.limit(2).select(col("doc_id").cast("int").as("doc_id")))
    assert(probe(s"$idx/a") == probe(s"$idx/b"),
      "an int32 purge append must not poison the tombstone reads")
    // PHYSICAL stage: compaction removes the rows and clears tombstones
    Dedup.compactCrossNearDupIndex(spark, s"$idx/a")
    assert(probe(s"$idx/a") == probe(s"$idx/b"),
      "compaction must not change any probe")
    assert(spark.read.parquet(s"$idx/a/shingle_keys")
      .join(purged, Seq("doc_id"), "left_semi").count() == 0)
    assert(spark.read.parquet(s"$idx/a/buckets")
      .join(purged, Seq("doc_id"), "left_semi").count() == 0)
    assert(!new java.io.File(s"$idx/a/purged").exists(),
      "compaction clears the tombstone set")
    // rerun on a clean index is a no-op
    Dedup.compactCrossNearDupIndex(spark, s"$idx/a")
    assert(probe(s"$idx/a") == probe(s"$idx/b"))
    rm(idx)
  }

  test("exact-window index purge: partition recompute == built-without; shared windows survive") {
    // docs 1 and 2 SHARE a 40-char window (identical prefix); doc 3 is
    // unique. Purging doc 2 must drop doc 2's unique windows but keep
    // the shared prefix window (doc 1 still carries that text).
    val shared = "s" * 60
    val docs = Seq(
      (1L, shared + " alpha " + ("a" * 50)),
      (2L, shared + " beta " + ("b" * 50)),
      (3L, "c" * 120)).toDF("doc_id", "text")
    val idx = tmp("graft-win-purge")
    Dedup.buildExactWindowIndex(docs, s"$idx/w")
    // purge doc 2: recompute the seed partition from its survivors
    Dedup.purgeFromExactWindowIndex(
      docs.where(col("doc_id") =!= 2L), s"$idx/w", ingestBatch = -1L)
    val want = tmp("graft-win-want")
    Dedup.buildExactWindowIndex(
      docs.where(col("doc_id") =!= 2L), s"$want/w")
    def keys(dir: String) = spark.read.schema("m LONG")
      .parquet(s"$dir/windows").select(col("m"))
      .as[Long].collect().toSet
    assert(keys(s"$idx/w") == keys(s"$want/w"),
      "purged window set must equal the built-without set")
    // a nonexistent partition is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.purgeFromExactWindowIndex(docs, s"$idx/w", ingestBatch = 7L)
    }
    assert(ex.getMessage.contains("ingest partition"), ex.getMessage)
    rm(idx); rm(want)
  }

  // ---- standing labels: component re-solve ------------------------------

  test("purgeFromClusters: cut-vertex split, leaf survival, untouched pass-through") {
    // component A: 1-2, 2-3 (2 is the bridge); component B: 10-11;
    // component C: 20-21, 21-22, 20-22 (triangle — removing 21 keeps 20-22)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
    def asMap(df: DataFrame) = df.as[(Long, Long)].collect().toMap

    // purge the bridge: component A splits into singletons (which drop —
    // no pair evidence left), B and C untouched
    val afterBridge = asMap(Purge.purgeFromClusters(labels, pairs,
      Seq(2L).toDF("doc_id")))
    assert(afterBridge == Map(10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $afterBridge")

    // purge a triangle member: the remaining edge keeps C together
    val afterLeaf = asMap(Purge.purgeFromClusters(labels, pairs,
      Seq(21L).toDF("doc_id")))
    assert(afterLeaf == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 22L -> 20L), s"got $afterLeaf")

    // equivalence: == from-scratch CC over pairs minus incident, for a
    // multi-doc purge across components
    val purge = Seq(3L, 11L).toDF("doc_id")
    val got = asMap(Purge.purgeFromClusters(labels, pairs, purge))
    val want = asMap(Dedup.connectedComponents(
      pairs.where(!col("doc_a").isin(3L, 11L) && !col("doc_b").isin(3L, 11L))))
    assert(got == want, s"got $got want $want")

    // purging an unlabeled doc is a no-op
    val noop = asMap(Purge.purgeFromClusters(labels, pairs,
      Seq(999L).toDF("doc_id")))
    assert(noop == asMap(labels))
  }

  test("purgeEverywhere accepts one ExactWindow target per touched ingest partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Takedown}
    val d = Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val seed = d.where(col("doc_id") < 60)
    val b0 = d.where(col("doc_id") >= 60 && col("doc_id") < 80)
    val b1 = d.where(col("doc_id") >= 80 && col("doc_id") < 100)
    val tmp = java.nio.file.Files.createTempDirectory("graft-purge-xw")
    val idx = s"$tmp/win"
    try {
      Dedup.buildExactWindowIndex(seed, idx)
      Dedup.appendToExactWindowIndex(b0, idx, ingestBatch = 0L)
      Dedup.appendToExactWindowIndex(b1, idx, ingestBatch = 1L)
      // the erasure cites docs from BOTH ingest batches — one target per
      // touched partition of the SAME index must not trip the dup check
      val ids = Seq(65L, 85L).toDF("doc_id")
      val audit = Takedown.purgeEverywhere(spark, ids, Seq(
        Takedown.ExactWindow(idx, 0L,
          survivors = b0.where(col("doc_id") =!= 65L)),
        Takedown.ExactWindow(idx, 1L,
          survivors = b1.where(col("doc_id") =!= 85L))))
      assert(audit.count() == 2)
      // the purged partitions equal built-without (key-set equality)
      val got = spark.read.parquet(s"$idx/windows")
        .select("m").distinct().collect().map(_.getLong(0)).toSet
      val tmp2 = java.nio.file.Files.createTempDirectory("graft-purge-xw2")
      Dedup.buildExactWindowIndex(seed, s"$tmp2/win")
      Dedup.appendToExactWindowIndex(b0.where(col("doc_id") =!= 65L),
        s"$tmp2/win", 0L)
      Dedup.appendToExactWindowIndex(b1.where(col("doc_id") =!= 85L),
        s"$tmp2/win", 1L)
      val want = spark.read.parquet(s"$tmp2/win/windows")
        .select("m").distinct().collect().map(_.getLong(0)).toSet
      assert(got == want)
      deleteRecursively(tmp2)
      // a genuinely duplicated standalone target still fails loudly
      val ex = intercept[IllegalArgumentException] {
        Takedown.purgeEverywhere(spark, ids, Seq(
          Takedown.ExactWindow(idx, 0L, survivors = b0),
          Takedown.ExactWindow(idx, 0L, survivors = b0)))
      }
      assert(ex.getMessage.contains("duplicate"))
    } finally deleteRecursively(tmp)
  }

  test("indexHealth: partition/row accounting, compact_due threshold, " +
      "loud failure on a wrong root") {
    import graft.operators.{LangModel, Purge}
    val root = java.nio.file.Files.createTempDirectory("graft-health-spec")
    try {
      val d = docs(1L -> "a b c", 2L -> "b c d")
      LangModel.buildLmIndex(d, s"$root/lm")
      LangModel.appendToLmIndex(docs(3L -> "c d e"), s"$root/lm", 0L)
      LangModel.appendToLmIndex(docs(4L -> "e f"), s"$root/lm", 1L)
      val h = Purge.indexHealth(spark, "lm_unigrams", s"$root/lm/unigrams",
          "ingest=", compactAfter = 2)
        .select("n_partitions", "n_delta_partitions", "n_rows_seed",
          "n_rows_delta", "compact_due")
        .as[(Long, Long, Long, Long, Int)].collect().head
      // seed distinct: a b c d = 4; delta 0: c d e = 3; delta 1: e f = 2
      assert(h == ((3L, 2L, 4L, 5L, 1)))
      val notDue = Purge.indexHealth(spark, "lm_unigrams",
          s"$root/lm/unigrams", "ingest=", compactAfter = 3)
        .select("compact_due").as[Int].collect().head
      assert(notDue == 0)
      intercept[IllegalArgumentException] {
        Purge.indexHealth(spark, "x", s"$root/lm/unigrams", "batch=", 2)
      }
      intercept[IllegalArgumentException] {
        Purge.indexHealth(spark, "x", s"$root/nope", "ingest=", 2)
      }
    } finally deleteRecursively(root)
  }

  test("indexHealth: a zero-padded partition value round-trips with " +
      "partition type inference left on; the session conf is never written") {
    import graft.operators.{LangModel, Purge}
    val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    assert(spark.conf.get(infKey) == "true")
    val root = java.nio.file.Files.createTempDirectory("graft-health-pad")
    try {
      LangModel.buildLmIndex(docs(1L -> "a b c"), s"$root/lm")
      LangModel.appendToLmIndex(docs(2L -> "c d"), s"$root/lm", 7L)
      // an `ingest=007`-style directory: inferred as an int it would
      // read back as `ingest=7`, a name no listed directory carries
      assert(new java.io.File(s"$root/lm/unigrams/ingest=7")
        .renameTo(new java.io.File(s"$root/lm/unigrams/ingest=007")))
      // a concurrent observer of the shared session: a conf bracket
      // inside indexHealth (the race with Verify's overlapped dumps)
      // shows up as a value other than "true"
      @volatile var stop = false
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val watcher = new Thread(() =>
        while (!stop) {
          seen.add(spark.conf.getOption(infKey).getOrElse("unset"))
          Thread.sleep(1)
        })
      watcher.start()
      val h = try (1 to 3).map(_ =>
          Purge.indexHealth(spark, "lm_unigrams", s"$root/lm/unigrams",
            "ingest=", compactAfter = 2)
            .select("n_partitions", "n_delta_partitions", "n_rows_seed",
              "n_rows_delta")
            .as[(Long, Long, Long, Long)].collect().head)
        finally { stop = true; watcher.join() }
      // seed: a b c = 3 rows; delta 007: c d = 2 rows
      assert(h.forall(_ == ((2L, 1L, 3L, 2L))))
      assert(seen.asScala.toSet == Set("true"),
        s"indexHealth wrote the session conf: saw ${seen.asScala.toSet}")
    } finally deleteRecursively(root)
  }

  test("discoverArtifacts: a keyed layout whose batch=0 is absent is " +
      "still recognized at its ROOT (any batch=* child bears the meta)") {
    import graft.operators.{Layout, Takedown}
    val root = java.nio.file.Files.createTempDirectory("graft-guard-keyed")
    try {
      val df = spark.range(0, 64).select(col("id").as("doc_id"),
        (col("id") % 8).cast("double").as("x"),
        (col("id") % 4).cast("double").as("y"))
      Layout.initKeyedLayout(df, Seq("x", "y"), s"$root/kl", files = 2)
      // r17 ADVICE: with batch=0 hardcoded, a layout whose first batch
      // was purged/compacted away (or whose ids start past 0) was
      // classified as one keyed_layout PER batch=N child at the wrong
      // path — spuriously failing the guard on a declared root. Simulate
      // by renaming the only batch partition away from id 0.
      val fs = new org.apache.hadoop.fs.Path(root.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/kl/batch=0"),
        new org.apache.hadoop.fs.Path(s"$root/kl/batch=5")))
      val found = Takedown.discoverArtifacts(spark, root.toString)
      assert(found == Seq("keyed_layout" -> s"$root/kl"))
    } finally deleteRecursively(root)
  }

  test("completeness guard: an undeclared standing artifact fails the " +
      "takedown loudly; declared-complete passes and purges") {
    import graft.operators.{LangModel, Takedown}
    val root = java.nio.file.Files.createTempDirectory("graft-guard")
    try {
      val d = docs(1L -> "a b c", 2L -> "b c d", 3L -> "c d e")
      LangModel.buildLmIndex(d, s"$root/lm")
      graft.operators.Curation.buildDriftIndex(
        d.withColumn("n", length(col("text"))),
        Seq("n" -> col("n")), s"$root/drift")
      // discovery sees both
      val found = Takedown.discoverArtifacts(spark, root.toString)
      assert(found.map(_._1).sorted == Seq("drift", "lm_model"))
      // drift declared nowhere → loud refusal BEFORE any purge, model
      // bytes untouched
      val lmOnly = Seq[Takedown.Target](Takedown.LmModel(s"$root/lm",
        purgedRows = d.where(col("doc_id") === 1L), purgeId = 0L))
      val before = LangModel.scoreAgainstLmNIndex(s"$root/lm",
          docs(9L -> "a b"), 2, ml = false)
        .collect().toSeq
      val ex = intercept[IllegalArgumentException] {
        Takedown.purgeEverywhere(spark, d.select(col("doc_id")),
          lmOnly, deploymentRoot = Some(root.toString))
      }
      assert(ex.getMessage.contains("drift"))
      assert(LangModel.scoreAgainstLmNIndex(s"$root/lm", docs(9L -> "a b"), 2,
          ml = false)
        .collect().toSeq == before)
      // declaring the drift index too → the guard passes and the
      // takedown runs
      val all = lmOnly :+ Takedown.Drift(s"$root/drift",
        Seq("n" -> col("n")),
        purgedRows = d.where(col("doc_id") === 1L)
          .withColumn("n", length(col("text"))), purgeId = 0L)
      val audit = Takedown.purgeEverywhere(spark,
        d.where(col("doc_id") === 1L).select(col("doc_id")),
        all, deploymentRoot = Some(root.toString))
      assert(audit.select("family").as[String].collect().sorted.toSeq ==
        Seq("drift", "lm_model"))
    } finally deleteRecursively(root)
  }

}
